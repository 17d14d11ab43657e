"""CLI parity test: ``ena-spark-build`` (cli.main) runs the fixture
corpus end-to-end — parquet idmapping source, TSV output, dead-letter
channels — and the written table matches the reference golden."""

import csv
import gzip
from pathlib import Path

import pytest

from ena_database_build_spark import cli
from tests.fixtures.embl_fixtures import EXPECTED_ENA_TAB, FILES, IDMAPPING


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    root = tmp_path_factory.mktemp("cli_corpus")
    for rel, text in FILES.items():
        p = root / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        with gzip.open(p, "wt") as f:
            f.write(text)
    return root


@pytest.fixture(scope="module")
def idmapping_parquet(tmp_path_factory, spark):
    path = str(tmp_path_factory.mktemp("idmap") / "idmapping.parquet")
    spark.createDataFrame(
        IDMAPPING, "foreign_id string, uniprot_id string"
    ).write.parquet(path)
    return path


def _read_tsv_rows(out_dir: Path):
    rows = []
    for part in sorted(Path(out_dir).glob("part-*")):
        with open(part, newline="") as f:
            for rec in csv.reader(f, delimiter="\t"):
                rows.append(
                    (rec[0], rec[1], int(rec[2]), int(rec[3]), int(rec[4]),
                     int(rec[5]), int(rec[6]))
                )
    return sorted(rows)


def test_cli_end_to_end(spark, corpus, idmapping_parquet, tmp_path):
    out = tmp_path / "ena_out"
    rejects = tmp_path / "rejects"
    cli.main(
        [
            "--ena-paths", str(corpus),
            "--output-dir", str(out),
            "--idmapping-parquet", idmapping_parquet,
            "--rejects-dir", str(rejects),
            "--master", "local[4]",
            "--shuffle-partitions", "4",
        ]
    )
    assert _read_tsv_rows(out) == sorted(EXPECTED_ENA_TAB)
    reject_lines = []
    for part in sorted((rejects / "records").glob("part-*")):
        reject_lines += [
            ln for ln in part.read_text().splitlines() if ln.strip()
        ]
    reasons = sorted(ln.split("\t")[-1] for ln in reject_lines)
    assert "ill_formatted_id" in reasons
    assert "unknown_topology" in reasons
    assert "non_fungi_eukaryote" in reasons


def _storage_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(info.memSize() for info in infos)


def test_cli_releases_its_cache(spark, corpus, idmapping_parquet, tmp_path):
    before = _storage_bytes(spark)
    cli.main(
        [
            "--ena-paths", str(corpus),
            "--output-dir", str(tmp_path / "ena_out"),
            "--idmapping-parquet", idmapping_parquet,
            "--rejects-dir", str(tmp_path / "rejects"),
            "--master", "local[4]",
            "--shuffle-partitions", "4",
        ]
    )
    assert _storage_bytes(spark) == before


def test_cli_requires_idmapping_source(capsys):
    with pytest.raises(SystemExit):
        cli.parse_args(["--ena-paths", "/x", "--output-dir", "/y"])


def test_cli_db_config_requires_db_name(tmp_path):
    ini = tmp_path / "db.ini"
    ini.write_text("[database]\nuser=u\npassword=p\nhost=h\nport=3306\n")
    with pytest.raises(SystemExit):
        cli.parse_args(
            ["--ena-paths", "/x", "--output-dir", "/y", "--db-config", str(ini)]
        )
    url, opts = cli.jdbc_url_from_ini(str(ini), "efi")
    assert url == "jdbc:mysql://h:3306/efi"
    assert opts == {"user": "u", "password": "p"}
