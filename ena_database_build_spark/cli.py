"""Command-line entry point (reference parity: ``ena_dask_tskmgr``,
/root/reference/pyproject.toml:22-23 + ena_build/dask_tskmgr.py:79-257).

The reference CLI takes ENA directory roots, a Windows-INI database
config for the idmapping MySQL table, and an output directory, then
schedules Dask tasks.  Here the same surface wires the Spark lineage:

    read_embl_records -> build_all -> write_ena_tab

Scheduler knobs (``--scheduler-file``/``--n-workers``) become the Spark
master URL and shuffle-partition count; ``--local-scratch`` maps to
``spark.local.dir`` (set via SPARK_LOCAL_DIR, see session.py).  The
idmapping source is either a parquet path or a JDBC table, the latter
configured exactly like the reference: an INI file with a
``[database]`` section (operator S8 — driver-side config, SURVEY.md
§2.1).
"""

from __future__ import annotations

import argparse
import configparser
import sys

from ena_database_build_spark.plans.ena_pipeline import build_all
from ena_database_build_spark.session import get_spark
from ena_database_build_spark.sources.embl import read_embl_records
from ena_database_build_spark.sources.idmapping import (
    read_idmapping_jdbc,
    read_idmapping_parquet,
)
from ena_database_build_spark.sources.sinks import write_ena_tab


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    parser = argparse.ArgumentParser(
        prog="ena-spark-build",
        description="Process the ENA database with the Spark engine",
    )
    parser.add_argument(
        "--ena-paths",
        required=True,
        nargs="+",
        help="directory roots searched recursively for *.dat.gz EMBL files",
    )
    parser.add_argument(
        "--output-dir",
        "-out",
        required=True,
        help="output directory for the tab-separated ena table",
    )
    src = parser.add_mutually_exclusive_group(required=True)
    src.add_argument(
        "--idmapping-parquet",
        help="parquet path with (foreign_id, uniprot_id) columns",
    )
    src.add_argument(
        "--db-config",
        "-conf",
        help="Windows-INI file with a [database] section "
        "(user/password/host/port, like the reference's)",
    )
    parser.add_argument(
        "--db-name",
        "-dbn",
        help="database name for the JDBC idmapping source "
        "(required with --db-config)",
    )
    parser.add_argument(
        "--db-table", default="idmapping", help="idmapping table name"
    )
    parser.add_argument(
        "--master",
        default=None,
        help="Spark master URL (default: local[$SPARK_GRAFT_CPUS])",
    )
    parser.add_argument(
        "--shuffle-partitions",
        type=int,
        default=None,
        help="spark.sql.shuffle.partitions (default: scale-aware)",
    )
    parser.add_argument(
        "--no-division-filter",
        action="store_true",
        help="disable the F1 sequence/ division filename filter",
    )
    parser.add_argument(
        "--ingest-strategy",
        choices=["wholetext", "lines"],
        default="wholetext",
        help="wholetext: one blob row per file (default); lines: "
        "line-mode scan for corpora with pathologically large members",
    )
    parser.add_argument(
        "--partition-by-source-dir",
        action="store_true",
        help="shard the output per source dir (reference layout, P9)",
    )
    parser.add_argument(
        "--single-file",
        action="store_true",
        help="concat everything into one sorted file (small exports only)",
    )
    parser.add_argument(
        "--rejects-dir",
        default=None,
        help="also write the dead-letter channels (rejected records/blocks)",
    )
    parser.add_argument(
        "--broadcast-mapping",
        action="store_true",
        help="force-broadcast the idmapping relation (only when it is "
        "known small; default lets AQE decide)",
    )
    args = parser.parse_args(argv)
    if args.db_config and not args.db_name:
        parser.error("--db-name is required with --db-config")
    return args


def jdbc_url_from_ini(path: str, db_name: str) -> tuple[str, dict[str, str]]:
    """Reference S8 parity: read the [database] INI section and build a
    MySQL JDBC URL + credential options (dask_tskmgr.py:122-131)."""
    config = configparser.ConfigParser()
    try:
        config.read(path)
        params = config["database"]
    except (configparser.Error, KeyError) as err:
        sys.exit(f"Parsing --db-config file {path} failed:\n{err}")
    for param in ["user", "password", "host", "port"]:
        if param not in params:
            sys.exit(f"'{param}' is missing from the --db-config file.")
    url = f"jdbc:mysql://{params['host']}:{params['port']}/{db_name}"
    return url, {"user": params["user"], "password": params["password"]}


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv)
    spark = get_spark(
        "ena-database-build",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    records = read_embl_records(
        spark,
        args.ena_paths,
        apply_division_filter=not args.no_division_filter,
        strategy=args.ingest_strategy,
    )
    if args.idmapping_parquet:
        idmapping = read_idmapping_parquet(spark, args.idmapping_parquet)
    else:
        url, options = jdbc_url_from_ini(args.db_config, args.db_name)
        idmapping = read_idmapping_jdbc(spark, url, args.db_table, **options)

    result = build_all(records, idmapping, broadcast_mapping=args.broadcast_mapping)
    try:
        write_ena_tab(
            result.ena_tab,
            args.output_dir,
            partition_by_source_dir=args.partition_by_source_dir,
            single_file=args.single_file,
        )
        if args.rejects_dir:
            # dead-letter channels keep the source file column (unlike the
            # ena table, where it is provenance-only)
            for name, df in [
                ("records", result.rejected_records),
                ("blocks", result.rejected_blocks),
            ]:
                df.write.mode("overwrite").option("sep", "\t").option(
                    "header", "false"
                ).csv(f"{args.rejects_dir}/{name}")
    finally:
        result.unpersist()


if __name__ == "__main__":
    main()
