"""Ingest-strategy equivalence on adversarial EMBL corpora, plus the
plan shape of the record-grain build.

Both ingest strategies (``wholetext`` splits each file blob into
records; ``lines`` groups a line scan into records) must give the same
``ena.tab`` rows and dead-letter channels.  The expected rows are
literals: they were produced by the line-window segmentation this
record-grain design replaced, run over the same files.
"""

import gzip
import re

import pytest

from ena_database_build_spark.plans import ena_pipeline as P
from ena_database_build_spark.sources.embl import read_embl_records
from tests.fixtures.embl_adversarial import FILES, IDMAPPING

# (file name, ena_id, uniprot_id, locus_num, chr_struct, direction, start, end)
EXPECTED_ENA_TAB = [
    ("cr.dat.gz", "CR0001", "UA", 1, 1, 1, 10, 40),
    ("cr.dat.gz", "CR0002", "Q0CR02", 1, 0, 0, 90, 5),
    ("crlf.dat.gz", "CR0001", "UA", 1, 1, 1, 10, 40),
    ("crlf.dat.gz", "CR0002", "Q0CR02", 1, 0, 0, 90, 5),
    ("head_slash.dat.gz", "SLASH0001", "UF", 1, 1, 1, 100, 200),
    ("late_oc.dat.gz", "LATE0002", "UA", 1, 1, 1, 11, 91),
    ("no_eol.dat.gz", "EOL0001", "UB", 1, 1, 1, 5, 50),
    ("odd_ft.dat.gz", "ODD0001", "UA", 2, 1, 1, 60, 70),
    ("odd_ft.dat.gz", "ODD0001", "UE", 1, 1, 1, 1, 30),
    ("preamble.dat.gz", "PRE0001", "UC", 1, 1, 1, 1, 30),
    ("preamble_ft.dat.gz", "PREFT0001", "Q0PFT1", 1, 0, 1, 45, 3),
    ("unicode.dat.gz", "UNI0001", "Q0UNI1", 2, 1, 1, 40, 70),
    ("unicode.dat.gz", "UNI0001", "UH", 1, 1, 1, 1, 30),
    ("zero_cds.dat.gz", "ZERO0003", "UA", 1, 1, 1, 1, 9),
]
# (file name, record_idx, reject_reason)
EXPECTED_REJECTED_RECORDS = [("late_oc.dat.gz", 1, "non_fungi_eukaryote")]
# (file name, record_idx, block_idx): block_idx counts every feature
# start of the file, the ones before the first ID line included
EXPECTED_REJECTED_BLOCKS = [
    ("head_slash.dat.gz", 1, 2),
    ("preamble.dat.gz", 1, 4),
    ("preamble_ft.dat.gz", 1, 2),
]


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    root = tmp_path_factory.mktemp("adversarial")
    for rel, data in FILES.items():
        p = root / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        with gzip.open(p, "wb") as f:
            f.write(data)
    return root


@pytest.fixture(scope="module")
def idmapping_df(spark):
    return spark.createDataFrame(IDMAPPING, "foreign_id string, uniprot_id string")


def _name(path: str) -> str:
    return path.rsplit("/", 1)[1]


@pytest.mark.parametrize("strategy", ["wholetext", "lines"])
def test_strategy_channels_match_pinned_rows(spark, corpus, idmapping_df, strategy):
    res = P.build_all(read_embl_records(spark, str(corpus), strategy=strategy), idmapping_df)
    try:
        tab = sorted((_name(r[0]), *r[1:]) for r in res.ena_tab.collect())
        recs = sorted(
            (_name(r["file"]), r["record_idx"], r["reject_reason"])
            for r in res.rejected_records.collect()
        )
        blocks = sorted(
            (_name(r["file"]), r["record_idx"], r["block_idx"])
            for r in res.rejected_blocks.collect()
        )
    finally:
        res.unpersist()
    assert tab == EXPECTED_ENA_TAB
    assert recs == EXPECTED_REJECTED_RECORDS
    assert blocks == EXPECTED_REJECTED_BLOCKS


def test_strategies_number_records_alike(spark, corpus):
    def numbered(strategy):
        df = read_embl_records(spark, str(corpus), strategy=strategy)
        return sorted(
            (_name(r["file"]), r["record_idx"], r["text"].split("\n", 1)[0])
            for r in df.where("record_idx > 0").collect()
        )

    assert numbered("wholetext") == numbered("lines")


def _operators(plan: str, pattern: str) -> list[str]:
    return [ln for ln in plan.splitlines() if re.search(pattern, ln)]


def test_wholetext_build_plan_has_no_line_window_or_header_join(
    spark, corpus, idmapping_df
):
    res = P.build_all(read_embl_records(spark, str(corpus)), idmapping_df)
    plans = []
    try:
        for df in (res.ena_tab, res.rejected_records, res.rejected_blocks):
            df.write.format("noop").mode("overwrite").save()
            plans.append(df._jdf.queryExecution().executedPlan().toString())
    finally:
        res.unpersist()
    plan = "\n".join(plans)
    windows = _operators(plan, r"\bWindow\b")
    # one window remains: it numbers feature blocks across a file's
    # records, over record rows
    assert windows, plan
    spec = r"windowspecdefinition\(file#\d+, record_idx#\d+L? ASC"
    assert all(re.search(spec, w) for w in windows), windows
    # the only join left is J1, protein ids against the idmapping
    joins = _operators(plan, r"\w*Join\b|CartesianProduct")
    assert joins, plan
    assert all("foreign_id" in j and "record_idx" not in j for j in joins), joins
    # the record split never copies its file's blob into each record row
    carried = re.findall(
        r"posexplode\(split\(regexp_replace\(value#\d+.*?\), -1\)\), \[([^\]]*)\]",
        plan,
        re.S,
    )
    assert carried, plan
    assert not [c for c in carried if "value#" in c], carried
