"""Golden tests for the EMBL line and record-text expressions (P1, P2,
P4, F3).

Case data pinned by the reference suite tests/regex_test.py:6-56.
"""

from pyspark.sql import functions as F

from ena_database_build_spark.functions import embl as E


def _bools(spark, lines, col_fn):
    df = spark.createDataFrame(
        [(i, ln) for i, ln in enumerate(lines)], "i int, line string"
    )
    rows = df.select("i", col_fn(F.col("line")).alias("v")).collect()
    return [r["v"] for r in sorted(rows, key=lambda r: r["i"])]


def test_id_line_parse_values(spark):
    cases = [
        (
            "ID   CP002679; SV 1; circular; genomic DNA; STD; PRO; 1038839 BP.",
            ("CP002679", 0, 1038839, None),
        ),
        (
            "ID   BFMR01000110; SV 1; linear; genomic DNA; STD; PRO; 11440 BP.",
            ("BFMR01000110", 1, 11440, None),
        ),
        (
            "ID   HC710378; SV 1; XXX; protein; PRT; PRO; 409 BP.",
            ("", -1, 0, "unknown_topology"),
        ),
        ("FT   source          1..478325", ("", -1, 0, "ill_formatted_id")),
        (
            "ID   CP002679; SV 1; circular; genomic DNA; STD; PRO;",
            ("", -1, 0, "ill_formatted_id"),
        ),
    ]
    df = spark.createDataFrame(
        [(i, line) for i, (line, _) in enumerate(cases)], "i int, line string"
    )
    rows = {
        r["i"]: r["p"]
        for r in df.select("i", E.parse_id_line(F.col("line")).alias("p")).collect()
    }
    for i, (line, (ena_id, chr_struct, chr_len, reason)) in enumerate(cases):
        p = rows[i]
        assert (
            p["ena_id"],
            p["chr_struct"],
            p["chr_len"],
            p["reject_reason"],
        ) == (ena_id, chr_struct, chr_len, reason), line


FT_BLOCK_LINES = [
    "ID   ABZA01000001; SV 1; linear; genomic DNA; WGS; PRO; 478325 BP.",
    "XX",
    "FT   source          1..478325",
    'FT                   /organism="Wolbachia endosymbiont of Culex quinquefasciatus',
    'FT                   JHB"',
    'FT                   /db_xref="taxon:569881"',
    "FT   gene            <1..1701",
    'FT                   /locus_tag="C1A_288"',
    "FT   CDS             <1..1701",
]


def test_feature_start_goldens(spark):
    expected = [False, False, True, False, False, False, True, False, True]
    assert _bools(spark, FT_BLOCK_LINES, E.is_feature_start) == expected
    # the record-text split opens one block per feature start
    text = F.lit("\n".join(FT_BLOCK_LINES))
    n = spark.range(1).select(F.size(F.split(text, E.FEATURE_SPLIT)) - 1).first()[0]
    assert n == sum(expected)


XREF_LINES = [
    "FT   CDS             <1..1701",
    'FT                   /db_xref="InterPro:IPR023614"',
    'FT                   /db_xref="UniProtKB/TrEMBL:B6Y618"',
    'FT                   /protein_id="EEB56106.1"',
    "FT   CDS             complement(1822..1956)",
    'FT                   /locus_tag="C1A_289"',
    'FT                   /db_xref="UniProtKB/TrEMBL:B6Y619"',
    'FT                   /protein_id="EEB56107.1"',
    'FT                   /translation="MLKYNVSDDDGKMDPSVKHWDDTIYYANCHNFRTAVTGMTLLIV" ',
]


def _as_block_line(id_set):
    """Each golden line as the one line after a CDS head: its id set's
    single element, or None."""
    head = F.lit("FT   CDS             1..2\n")
    return lambda line: F.try_element_at(id_set(F.concat(head, line)), F.lit(1))


def test_xref_goldens(spark):
    uniprot = _bools(spark, XREF_LINES, _as_block_line(E.block_uniprot_ids))
    protein = _bools(spark, XREF_LINES, _as_block_line(E.block_protein_ids))
    assert uniprot == [None, None, "B6Y618", None, None, None, "B6Y619", None, None]
    assert protein == [
        None,
        None,
        None,
        "EEB56106.1",
        None,
        None,
        None,
        "EEB56107.1",
        None,
    ]


def test_fungi_gate(spark):
    cases = [
        ("OC   Eukaryota; Fungi; Dikarya; Ascomycota;", False),
        ("OC   Eukaryota; Metazoa; Chordata;", True),
        ("OC   Bacteria; Pseudomonadota;", False),
        ("OC   Viruses; Duplodnaviria;", False),
        # gate requires " Fungi" with leading space on the same line
        ("OC   Eukaryota; NotFungi;", True),
    ]
    got = _bools(spark, [c[0] for c in cases], E.is_drop_taxonomy_line)
    assert got == [c[1] for c in cases]
    # the same gate over a record's text, the OC line after its ID line
    id_line = F.lit("ID   X; SV 1; linear; genomic DNA; STD; PRO; 9 BP.\n")
    voided = _bools(
        spark,
        [c[0] for c in cases],
        lambda line: E.is_voided_record(F.concat(id_line, line)),
    )
    assert voided == [c[1] for c in cases]
