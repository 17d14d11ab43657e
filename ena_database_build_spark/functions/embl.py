"""EMBL flat-file line and record-text expressions (operators F1-F7,
P1-P2, P4-P9).

Each function takes/returns Columns so Catalyst can push the cheap
prefix predicates to the scan and keep every regex inside whole-stage
codegen.  Patterns are behavior-pinned against the reference's compiled
regexes (ena_build/parse_embl.py:16-47) and their golden tests
(tests/regex_test.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# P1 — ID line: (ena_id, topology, length_bp)  (parse_embl.py:16)
ID_LINE_PATTERN = r"^ID\s+(\w+);\s\w+\s\w+;\s(\w+);.*;\s(\d+)\sBP"
# P4 — start of any feature block (parse_embl.py:47)
FT_START_PATTERN = r"^FT\s\s\s[a-zA-Z0-9-]"
# F1 — taxonomic-division filename filter for sequence/ dirs
# (dask_tasks.py:78-85)
SEQUENCE_DIVISION_PATTERN = r"_(ENV|PRO|FUN|PHG)_"
# P9 — output-partition naming from the directory layout
# (dask_tasks.py:138-148)
SOURCE_DIR_PATTERN = r"(wgs)/(\w*)/(\w*)|(sequence)/(\w*)"


# --- F2: line-family prefix filter (parse_embl.py:488-489) -----------------

def is_interesting_line(line: Column) -> Column:
    """Keep only ``FT   `` / ``ID   `` / ``OC   `` lines — the cheap
    pre-filter that runs before any regex (predicate-pushdown analog)."""
    return (
        line.startswith("FT   ")
        | line.startswith("ID   ")
        | line.startswith("OC   ")
    )


# --- P1 + F4/F5: ID-line parsing with permissive-skip ----------------------

def is_id_line(line: Column) -> Column:
    return line.startswith("ID   ")


def parse_id_line(line: Column) -> Column:
    """P1 -> STRUCT<ena_id STRING, chr_struct INT, chr_len LONG>.

    Reproduces ``process_id_line`` (parse_embl.py:309-361) including the
    dead-letter encoding: regex miss or unknown topology =>
    ``ena_id=''``, ``chr_struct=-1``, ``chr_len=0``.  Topology encoding is
    1=linear / 0=circular per the code (SURVEY.md §2.10.1).
    """
    ena_id = F.regexp_extract(line, ID_LINE_PATTERN, 1)
    topo = F.regexp_extract(line, ID_LINE_PATTERN, 2)
    chr_len = F.regexp_extract(line, ID_LINE_PATTERN, 3)
    matched = ena_id != ""
    known_topo = topo.isin("linear", "circular")
    ok = matched & known_topo
    return F.struct(
        F.when(ok, ena_id).otherwise(F.lit("")).alias("ena_id"),
        F.when(ok, F.when(topo == "linear", 1).otherwise(0))
        .otherwise(F.lit(-1))
        .cast("int")
        .alias("chr_struct"),
        F.when(ok, chr_len.cast("long")).otherwise(F.lit(0)).alias("chr_len"),
        # dead-letter discriminator for the _rejected channel
        F.when(~matched, F.lit("ill_formatted_id"))
        .when(~known_topo, F.lit("unknown_topology"))
        .alias("reject_reason"),
    )


# --- F3: Fungi gate on OC lines (parse_embl.py:527-529) --------------------

def is_drop_taxonomy_line(line: Column) -> Column:
    """True on an ``OC`` line naming Eukaryota without `` Fungi`` on the
    same line — such a line voids the whole active record."""
    return (
        line.startswith("OC   ")
        & line.contains("Eukaryota")
        & ~line.contains(" Fungi")
    )


# --- P4/P5/P6: feature-block structure -------------------------------------

def is_feature_start(line: Column) -> Column:
    return line.rlike(FT_START_PATTERN)


def is_cds_head(line: Column) -> Column:
    return line.startswith("FT   CDS ")


def is_qualifier_continuation(line: Column) -> Column:
    return line.startswith("FT    ")


# --- G1/G2 over text: records and feature blocks ---------------------------
# A record's text is its lines joined by "\n".  Boundaries are matched on
# an explicit "\n", never on (?m) anchors or ".": Java ends a line at
# U+0085 and U+2028 there, while the line split (\r\n, \r, \n) does not.

RECORD_SPLIT = r"\n(?=ID   )"
FEATURE_SPLIT = r"\n(?=FT   [a-zA-Z0-9-])"
# P2 — xref qualifiers (parse_embl.py:21-23), one pattern per
# alternative, each anchored on an FT qualifier-continuation line: the
# reference's ``^FT\s+`` on a line that starts with ``FT    `` (P6)
_CONTINUATION = r"\nFT    [ \t\x0B\f]*"
PROTEIN_ID_IN_BLOCK = _CONTINUATION + r'/protein_id="([a-zA-Z0-9\.]+)"'
UNIPROT_XREF_IN_BLOCK = _CONTINUATION + r'/db_xref="UniProtKB/[a-zA-Z0-9-]+:(\w+)"'


def first_line(text: Column) -> Column:
    return F.substring_index(text, "\n", 1)


def starts_with_feature(text: Column) -> Column:
    return text.rlike(r"^FT   [a-zA-Z0-9-]")


def is_voided_record(text: Column) -> Column:
    """F3 over a record's text: some ``OC`` line names Eukaryota without
    `` Fungi`` on that same line (:func:`is_drop_taxonomy_line`)."""
    return text.rlike(r"(?:^|\n)(?=OC   )(?![^\n]* Fungi)[^\n]*Eukaryota")


def block_candidate_text(block: Column) -> Column:
    """P6: a feature block's head line plus its ``FT    `` continuation
    lines, joined by "\\n"; any other line inside the block is skipped,
    like the state machine's fall-through (parse_embl.py:564)."""
    return F.concat_ws(
        "\n",
        first_line(block),
        F.regexp_extract_all(block, F.lit(r"\n(FT    [^\n]*)"), 1),
    )


def block_protein_ids(candidate_text: Column) -> Column:
    """P2 ``protein_id`` set of a block's candidate text."""
    return F.array_distinct(
        F.regexp_extract_all(candidate_text, F.lit(PROTEIN_ID_IN_BLOCK), 1)
    )


def block_uniprot_ids(candidate_text: Column) -> Column:
    """P2 UniProtKB ``db_xref`` set of a block's candidate text."""
    return F.array_distinct(
        F.regexp_extract_all(candidate_text, F.lit(UNIPROT_XREF_IN_BLOCK), 1)
    )


# --- P7/P8: CDS location string ---------------------------------------------

def location_string(block_text: Column) -> Column:
    """P7: isolate the location descriptor of a CDS block's candidate
    text — cut at the first ``/`` (qualifiers), strip ``FT ``/``CDS ``/
    newlines/spaces (parse_embl.py:129-132)."""
    out = F.substring_index(block_text, "/", 1)
    for sub in ["FT ", "CDS ", "\n", " "]:
        out = F.replace(out, F.lit(sub), F.lit(""))
    return out


def cds_location_string(block_lines: Column) -> Column:
    """P7 over ARRAY<STRING> of a CDS block's lines (in order)."""
    return location_string(F.concat_ws("\n", block_lines))


def strand_direction(loc_str: Column) -> Column:
    """P8: 0 if the location string mentions ``complement`` else 1
    (parse_embl.py:147)."""
    return F.when(loc_str.contains("complement"), 0).otherwise(1).cast("int")


# --- F1/P9: path-derived predicates and partition names --------------------

def matches_sequence_division(file_path: Column) -> Column:
    """F1: when ``sequence`` appears in the *directory* path, keep only
    files whose name carries an uppercase ``_(ENV|PRO|FUN|PHG)_``
    division tag — case-sensitive, exactly like the reference
    (dask_tasks.py:82-85)."""
    dir_part = F.regexp_replace(file_path, r"/[^/]*$", "")
    name_part = F.substring_index(file_path, "/", -1)
    return ~dir_part.contains("sequence") | name_part.rlike(
        SEQUENCE_DIVISION_PATTERN
    )


def source_dir_name(file_path: Column) -> Column:
    """P9: ``wgs/public/wds/x.dat.gz`` -> ``wgs-public-wds``;
    ``sequence/con/y.dat.gz`` -> ``sequence-con`` (dask_tasks.py:138-148)."""
    wgs = F.concat_ws(
        "-",
        F.regexp_extract(file_path, SOURCE_DIR_PATTERN, 1),
        F.regexp_extract(file_path, SOURCE_DIR_PATTERN, 2),
        F.regexp_extract(file_path, SOURCE_DIR_PATTERN, 3),
    )
    seq = F.concat_ws(
        "-",
        F.regexp_extract(file_path, SOURCE_DIR_PATTERN, 4),
        F.regexp_extract(file_path, SOURCE_DIR_PATTERN, 5),
    )
    return F.when(F.regexp_extract(file_path, SOURCE_DIR_PATTERN, 1) != "", wgs).otherwise(seq)


def file_stem(file_path: Column) -> Column:
    return F.regexp_extract(file_path, r"/(\w*)\.dat\.gz", 1)
