"""End-to-end pipeline test: fixture ``.dat.gz`` corpus -> ena_tab,
compared against the golden output of the *reference* implementation
(tests/fixtures/embl_fixtures.EXPECTED_ENA_TAB, regenerated via
tests/tools/gen_golden.py)."""

import gzip
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ena_database_build_spark.plans import ena_pipeline as P
from ena_database_build_spark.sources.embl import read_embl_lines, read_embl_records
from ena_database_build_spark.sources.sinks import write_ena_tab
from tests.fixtures.embl_fixtures import EXPECTED_ENA_TAB, FILES, IDMAPPING


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    root = tmp_path_factory.mktemp("ena_corpus")
    for rel, text in FILES.items():
        p = root / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        with gzip.open(p, "wt") as f:
            f.write(text)
    return root


@pytest.fixture(scope="module")
def idmapping_df(spark):
    return spark.createDataFrame(
        IDMAPPING, "foreign_id string, uniprot_id string"
    )


def _rows(df):
    return sorted(
        (
            r["ena_id"],
            r["uniprot_id"],
            r["locus_num"],
            r["chr_struct"],
            r["direction"],
            r["start"],
            r["end"],
        )
        for r in df.collect()
    )


def test_build_ena_tab_matches_reference_golden(spark, corpus, idmapping_df):
    records = read_embl_records(spark, str(corpus))
    tab = P.build_ena_tab(records, idmapping_df, broadcast_mapping=True)
    assert _rows(tab.select(P.ENA_TAB_COLUMNS)) == sorted(EXPECTED_ENA_TAB)


def test_dead_letter_channels(spark, corpus, idmapping_df):
    res = P.build_all(read_embl_records(spark, str(corpus)), idmapping_df)
    reasons = sorted(
        r["reject_reason"] for r in res.rejected_records.collect()
    )
    # EUK0001 (non-fungi eukaryote), HC710378 (XXX topology), BADLINE
    assert reasons == [
        "ill_formatted_id",
        "non_fungi_eukaryote",
        "unknown_topology",
    ]
    blocks = res.rejected_blocks.collect()
    assert len(blocks) == 1  # the `467` single-base CDS
    assert blocks[0]["reject_reason"] == "unparseable_cds_location"
    res.unpersist()


def test_locus_ordinals_skip_failed_blocks(spark, corpus, idmapping_df):
    lines = read_embl_lines(spark, str(corpus))
    loci = P.parse_loci(lines)
    rec3 = {
        r["locus_num"]: (r["start"], r["end"])
        for r in loci.where(F.col("ena_id") == "ABZA01000003").collect()
    }
    # `467` fails (no ordinal), `100..200` -> 1, join -> 2 (quirk §2.10.4)
    assert rec3 == {1: (100, 200), 2: (250, 400)}


def test_tsv_sink_roundtrip(spark, corpus, idmapping_df, tmp_path):
    tab = P.build_ena_tab(read_embl_records(spark, str(corpus)), idmapping_df)
    out = tmp_path / "ena_tab"
    write_ena_tab(tab, str(out), partition_by_source_dir=True)
    back = (
        spark.read.option("sep", "\t")
        .schema(
            "ena_id string, uniprot_id string, locus_num int, chr_struct int, "
            "direction int, start long, end long"
        )
        .csv(str(out))
    )
    assert _rows(back) == sorted(EXPECTED_ENA_TAB)
    # shard dirs follow the reference's source-dir naming (P9)
    shard_dirs = {p.name for p in Path(out).iterdir() if p.is_dir()}
    assert shard_dirs == {
        "source_dir=wgs-public-abz",
        "source_dir=wgs-public-edg",
        "source_dir=sequence-pro",
    }


def test_line_mode_ingest_equivalent(spark, corpus, idmapping_df):
    """The large-file fallback ingest (line mode) must produce the same
    ordered lines as wholetext mode, and its records the golden table."""
    whole = read_embl_lines(spark, str(corpus))
    lines = read_embl_lines(spark, str(corpus), strategy="lines")
    key = lambda r: (r["file"], r["line_no"], r["line"])  # noqa: E731
    # wholetext's split emits one phantom trailing '' per newline-
    # terminated file; it never survives the F2 prefix filter, so
    # compare the physical relations modulo empty lines
    nonempty = lambda df: df.where("line != ''")  # noqa: E731
    assert sorted(map(key, nonempty(whole).collect())) == sorted(
        map(key, nonempty(lines).collect())
    )
    records = read_embl_records(spark, str(corpus), strategy="lines")
    tab = P.build_ena_tab(records, idmapping_df, broadcast_mapping=True)
    assert _rows(tab.select(P.ENA_TAB_COLUMNS)) == sorted(EXPECTED_ENA_TAB)
