"""Scale probe: one pathologically LARGE single EMBL member.

The wholetext ingest materializes a file as ONE row, so a huge member
is exactly the case where ``strategy="lines"`` must take over
(sources/embl.py).  This probe generates a single multi-megabyte
``.dat.gz`` (size via $SPARK_GRAFT_SCALE_PROBE_RECORDS, default 20k
records ~ 6 MB gzip'd / ~1.4M lines) and asserts the two strategies
produce row-identical pipeline output — the correctness half of the
fallback contract.  The memory half is structural: line mode never
builds a file-sized row (a line row is one line, a record row one
record's FT/ID/OC lines), which is the bounded-executor-memory argument
at 256 MB+ members; run with the env var cranked up for a full-size
soak.
"""

import gzip
import os

import pytest

from ena_database_build_spark.plans import ena_pipeline as P
from ena_database_build_spark.sources.embl import read_embl_lines, read_embl_records

N_RECORDS = int(os.environ.get("SPARK_GRAFT_SCALE_PROBE_RECORDS", "20000"))


@pytest.fixture(scope="module")
def big_corpus(tmp_path_factory):
    root = tmp_path_factory.mktemp("big_corpus")
    p = root / "wgs" / "public" / "big" / "BIG001.dat.gz"
    p.parent.mkdir(parents=True, exist_ok=True)
    lines = []
    for i in range(N_RECORDS):
        chr_len = 1000 + (i % 9000)
        topo = "circular" if i % 5 == 0 else "linear"
        lines.append(
            f"ID   BIG{i:08d}; SV 1; {topo}; genomic DNA; WGS; PRO; "
            f"{chr_len} BP."
        )
        lines.append("OC   Bacteria; lineage.")
        lines.append("FT   source          1..%d" % chr_len)
        # a couple of CDS blocks, one sometimes unparseable (F7)
        a, b = (i * 37) % 800 + 1, (i * 37) % 800 + 1 + (i % 120)
        lines.append(f"FT   CDS             join({a}..{b},{b + 10}..{b + 50})")
        lines.append(f'FT                   /protein_id="P{i % 1000}.1"')
        lines.append('FT                   /translation="MKV' + "A" * (i % 40) + '"')
        if i % 3 == 0:
            lines.append("FT   CDS             467")  # no range -> dropped
            lines.append(f'FT                   /protein_id="SKIP{i}.1"')
        if i % 4 == 0:
            lines.append(f"FT   CDS             complement({a + 2}..{b + 2})")
            lines.append(
                f'FT                   /db_xref="UniProtKB/TrEMBL:Q{i % 500}"'
            )
    with gzip.open(p, "wt") as f:
        f.write("\n".join(lines) + "\n")
    return root


@pytest.fixture(scope="module")
def idmapping_df(spark):
    return spark.createDataFrame(
        [(f"P{i}.1", f"U{i}") for i in range(0, 1000, 3)],
        "foreign_id string, uniprot_id string",
    )


def test_lines_fallback_identical_output(spark, big_corpus, idmapping_df):
    whole = P.build_ena_tab(
        read_embl_records(spark, str(big_corpus), strategy="wholetext"),
        idmapping_df,
    )
    lines = P.build_ena_tab(
        read_embl_records(spark, str(big_corpus), strategy="lines"),
        idmapping_df,
    )
    cols = P.ENA_TAB_COLUMNS
    w = sorted(tuple(r) for r in whole.select(cols).collect())
    l = sorted(tuple(r) for r in lines.select(cols).collect())
    # every 4th record carries a parsed-uniprot fallback locus (J3), so
    # at least that many rows must exist (records whose only protein id
    # found no mapping emit nothing, by design)
    assert len(w) >= N_RECORDS // 4
    assert w == l


def test_lines_mode_rows_are_lines_not_blobs(spark, big_corpus):
    df = read_embl_lines(spark, str(big_corpus), strategy="lines")
    from pyspark.sql import functions as F

    stats = df.agg(
        F.max(F.length("line")).alias("max_len"), F.count("*").alias("n")
    ).collect()[0]
    # bounded row width is the memory contract of the fallback
    assert stats["max_len"] < 10_000
    assert stats["n"] > N_RECORDS * 5


def test_lines_mode_record_rows_hold_one_record(spark, big_corpus):
    from pyspark.sql import functions as F

    df = read_embl_records(spark, str(big_corpus), strategy="lines")
    stats = df.agg(
        F.max(F.length("text")).alias("max_len"), F.count("*").alias("n")
    ).collect()[0]
    # a record row holds that record's FT/ID/OC lines, never the file
    assert stats["max_len"] < 10_000
    assert stats["n"] == N_RECORDS
