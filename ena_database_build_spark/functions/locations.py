"""CDS location-descriptor expressions (operators P3, O5, A3, A4).

Pure Catalyst column expressions — no UDFs — so the whole location
pipeline stays inside whole-stage codegen and scales linearly with rows.

Semantics pinned against the reference:

* range extraction: only ``x..y`` / ``x..>y`` forms contribute ranges;
  single-base (``467``), site (``102.110``) and between-base (``123^124``)
  forms are dropped (reference ena_build/parse_embl.py:40-43, goldens
  tests/regex_test.py:59-95).
* linear span: min/max over the flattened range endpoints
  (ena_build/parse_embl.py:392-396).
* circular span: sort ranges by start, compute inter-range gaps and the
  wrap-around gap; the *first* inner gap strictly greater than every gap
  before it and the wrap gap marks the origin-crossing point, in which
  case ``end < start`` is a legal output (ena_build/parse_embl.py:397-441;
  26 goldens at tests/location_parsing_test.py:17-119).  Ties go to the
  wrap gap (strict ``>`` — quirk SURVEY.md §2.10.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Full-match form of the reference pattern r"(\d+)\.\.\>?(\d+)"
# (ena_build/parse_embl.py:43).  Spark's regexp_extract_all pulls a single
# group, so we match the whole token and split endpoints afterwards.
_RANGE_PATTERN = r"(\d+\.\.\>?\d+)"


def location_ranges(loc_str: Column) -> Column:
    """P3: extract all ``x..y`` ranges -> ARRAY<STRUCT<start LONG, end LONG>>.

    Overlap semantics match ``re.findall`` (non-overlapping, left to
    right).  ``1..>888`` yields (1, 888) — the partial marker ``>`` is
    ignored (reference tests/regex_test.py:66,81).
    """
    matches = F.regexp_extract_all(loc_str, F.lit(_RANGE_PATTERN), 1)
    return F.transform(
        matches,
        lambda m: F.struct(
            F.substring_index(m, "..", 1).cast("long").alias("start"),
            F.replace(F.substring_index(m, "..", -1), F.lit(">"), F.lit(""))
            .cast("long")
            .alias("end"),
        ),
    )


def has_range(loc_str: Column) -> Column:
    """F7 drop predicate: TRUE iff the location string yields at least
    one ``x..y`` range — definitionally ``size(location_ranges(s)) >
    0``, expressed as ``rlike`` on the SAME pattern so consumers that
    only gate on parseability never pay the full extract-all +
    struct-build (2.2x at sf0.1; equivalence pinned by test)."""
    return loc_str.rlike(_RANGE_PATTERN)


def explode_ranges(df, loc_col: Column, *keep_cols: str):
    """Relational (exploded) form of ``location_ranges``: one output
    row per ``x..y`` range with LONG ``range_start``/``range_end``
    columns after the ``keep_cols``.

    Same regex, same non-overlapping left-to-right semantics, same
    partial-marker (``>``) stripping as ``location_ranges`` — but the
    endpoint split runs AFTER the explode as plain codegen'd column
    expressions instead of inside an interpreted ``transform`` lambda
    (measured 1.7x faster at sf0.1).  Use this when the consumer
    explodes anyway; keep the array form where per-record aggregation
    (``resolved_span``) wants the ranges bound to one row map-side."""
    matches = F.regexp_extract_all(loc_col, F.lit(_RANGE_PATTERN), 1)
    return df.select(*keep_cols, F.explode(matches).alias("_m")).select(
        *keep_cols,
        F.substring_index("_m", "..", 1).cast("long").alias("range_start"),
        F.replace(F.substring_index("_m", "..", -1), F.lit(">"), F.lit(""))
        .cast("long")
        .alias("range_end"),
    )


def resolved_span(ranges: Column, chr_struct: Column, chr_len: Column) -> Column:
    """A3+A4: resolve ranges to a single STRUCT<start LONG, end LONG>.

    ``chr_struct`` follows the reference encoding 1=linear, 0=circular
    (the *code's* behavior, not the docstring's — SURVEY.md §2.10.1); any
    nonzero value takes the linear path, mirroring Python truthiness of
    the reference's ``if linear_chromosome:`` branch
    (ena_build/parse_embl.py:392).

    Returns NULL for an empty/null ranges array (callers drop those rows
    first — operator F7).
    """
    # The reference sorts by start with a *stable* sort
    # (parse_embl.py:401), so equal-start ranges keep their original
    # order — observable in the circular gap analysis.  Reproduce by
    # sorting (start, original_index, end) structs.
    ordered = F.array_sort(
        F.transform(
            ranges,
            lambda x, i: F.struct(
                x["start"].alias("start"), i.alias("idx"), x["end"].alias("end")
            ),
        )
    )
    # bind the sorted array to one lambda variable: every use below then
    # reads it instead of rebuilding (and re-sorting) the expression
    span = F.transform(
        F.array(ordered), lambda r: _span(r, chr_struct, chr_len.cast("long"))
    )[0]
    return F.when(ranges.isNull() | (F.size(ranges) == 0), F.lit(None)).otherwise(span)


def _span(r: Column, chr_struct: Column, chr_len: Column) -> Column:
    n = F.size(r)
    starts, ends = r["start"], r["end"]

    # Linear: min/max over every endpoint of the *flattened* tuple list —
    # not first-start/last-end — so malformed descending ranges behave
    # exactly like the reference's min()/max() (parse_embl.py:395-396).
    lin_start = F.least(F.array_min(starts), F.array_min(ends))
    lin_end = F.greatest(F.array_max(starts), F.array_max(ends))

    # Circular: gaps[j] = r[j+1].start - r[j].end - 1 for consecutive
    # sorted ranges (1-based element_at).
    gaps = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda j: (
            F.element_at(r, (j + 1).cast("int"))["start"]
            - F.element_at(r, j.cast("int"))["end"]
            - F.lit(1)
        ).cast("long"),
    )
    wrap_gap = (chr_len - F.element_at(r, n)["end"]) + (
        F.element_at(r, F.lit(1))["start"] - F.lit(1)
    )
    max_inner = F.array_max(gaps)
    # First index (1-based) whose gap equals the max — matches the
    # reference's strict-> scan keeping the first occurrence of the
    # maximum (parse_embl.py:420-427).
    gap_idx = F.array_position(gaps, max_inner).cast("int")

    wrap_like = (n == F.lit(1)) | max_inner.isNull() | (max_inner <= wrap_gap)
    circ_start = F.when(wrap_like, F.element_at(r, F.lit(1))["start"]).otherwise(
        F.element_at(r, gap_idx + 1)["start"]
    )
    circ_end = F.when(wrap_like, F.element_at(r, n)["end"]).otherwise(
        F.element_at(r, gap_idx)["end"]
    )

    linear = chr_struct.cast("int") != F.lit(0)
    return F.struct(
        F.when(linear, lin_start).otherwise(circ_start).cast("long").alias("start"),
        F.when(linear, lin_end).otherwise(circ_end).cast("long").alias("end"),
    )


def resolved_span_relational(
    ranges_df: DataFrame,
    key_cols: list[str],
    chr_struct_col: str = "chr_struct",
    start_col: str = "start",
    end_col: str = "end",
    chr_len: Column | int = 1000,
) -> DataFrame:
    """A3+A4 over *exploded* range rows — the scale path.

    Input: one row per range ``(key..., chr_struct, start, end)``.
    Output: one row per key ``(key..., chr_struct, start_pos, end_pos)``
    with identical semantics to :func:`resolved_span` except for
    equal-start ties: DataFrame rows carry no document order, so ties
    sort by ``(start, end)`` here, while :func:`resolved_span`
    preserves the in-array order (the reference's stable sort).  Pass
    ranges through the array form when tie order is semantic.

    Where :func:`resolved_span` folds an in-row array (right when a
    record holds a handful of ranges, as EMBL CDS blocks do), this form
    sorts ranges with one hash-partitioned window and aggregates — no
    per-row array materialization, so a pathological record with
    millions of ranges streams through instead of blowing a row buffer.
    The window and both group-bys share the same partitioning key, so
    the plan carries ONE shuffle of the range rows.
    """
    chr_len = F.lit(chr_len) if isinstance(chr_len, int) else chr_len
    s, e = F.col(start_col).cast("long"), F.col(end_col).cast("long")
    w = Window.partitionBy(*key_cols).orderBy(start_col, end_col)
    w_all = Window.partitionBy(*key_cols).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # one window pass (shared partitioning) carries both the running
    # frame (rn/lag) and the whole-partition max gap, so the pick row
    # is identifiable per-row and ONE aggregation finishes the job —
    # no join-back, no second shuffle.
    sorted_df = ranges_df.select(
        *key_cols,
        F.col(chr_struct_col),
        s.alias("_s"),
        e.alias("_e"),
        F.row_number().over(w).alias("_rn"),
        F.lag(e).over(w).alias("_prev_e"),
        (s - F.lag(e).over(w) - 1).alias("_gap"),
        F.max(s - F.lag(e).over(w) - 1).over(w_all).alias("_max_inner_w"),
    )
    is_pick = F.col("_gap") == F.col("_max_inner_w")
    # min-by-rn among pick rows via min of a (rn, s, prev_e) struct —
    # the strict-> tie rule keeps the FIRST occurrence of the max gap
    pick_struct = F.min(
        F.when(
            is_pick,
            F.struct("_rn", F.col("_s").alias("_ps"), F.col("_prev_e").alias("_pe")),
        )
    )
    joined = sorted_df.groupBy(*key_cols).agg(
        F.max(chr_struct_col).alias(chr_struct_col),
        F.count("*").alias("_n"),
        F.min(F.least(F.col("_s"), F.col("_e"))).alias("_flat_min"),
        F.max(F.greatest(F.col("_s"), F.col("_e"))).alias("_flat_max"),
        F.min("_s").alias("_first_s"),
        F.max_by("_e", "_rn").alias("_last_e"),
        F.max("_gap").alias("_max_inner"),
        (chr_len - F.max_by("_e", "_rn") + F.min("_s") - 1).alias("_wrap_gap"),
        pick_struct["_ps"].alias("_pick_s"),
        pick_struct["_pe"].alias("_pick_prev_e"),
    )
    linear = F.col(chr_struct_col).cast("int") != 0
    wrap_like = (
        (F.col("_n") == 1)
        | F.col("_max_inner").isNull()
        | (F.col("_max_inner") <= F.col("_wrap_gap"))
    )
    return joined.select(
        *key_cols,
        F.col(chr_struct_col),
        F.when(linear, F.col("_flat_min"))
        .when(wrap_like, F.col("_first_s"))
        .otherwise(F.col("_pick_s"))
        .alias("start_pos"),
        F.when(linear, F.col("_flat_max"))
        .when(wrap_like, F.col("_last_e"))
        .otherwise(F.col("_pick_prev_e"))
        .alias("end_pos"),
    )
