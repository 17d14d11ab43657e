"""Differential test: random synthetic corpus through BOTH the
reference implementation and this engine must produce identical rows.

This is the harness that caught the stable-sort tie divergence the
golden suites missed.  Skipped when the reference tree is absent
(standalone deployments)."""

from pathlib import Path

import pytest

REFERENCE = Path("/root/reference/ena_build")

pytestmark = pytest.mark.skipif(
    not REFERENCE.exists(), reason="reference implementation not available"
)


def test_random_corpus_matches_reference(spark, tmp_path):
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import bench_embl

    bench_embl.N_FILES, bench_embl.N_RECORDS = 6, 40
    root = tmp_path / "corpus"
    root.mkdir()
    pairs = bench_embl.gen_corpus(root)
    _, ref_rows = bench_embl.run_reference(root, pairs)

    from ena_database_build_spark.plans.ena_pipeline import build_ena_tab
    from ena_database_build_spark.sources.embl import read_embl_records

    idmap = spark.createDataFrame(pairs, "foreign_id string, uniprot_id string")
    tab = build_ena_tab(
        read_embl_records(spark, str(root)), idmap, broadcast_mapping=True
    ).drop("file")
    spark_rows = sorted(
        "\t".join(str(v) for v in r) for r in tab.collect()
    )
    assert spark_rows == ref_rows
