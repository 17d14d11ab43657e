"""The end-to-end ENA build pipeline as one lazy DataFrame lineage.

Reference semantics (ena_build/parse_embl.py:444-570 +
mysql_database.py:50-134) re-expressed Spark-first:

    record frame (one row per record's text)
        ─ segment_records: header P1/F3-F6 + CDS blocks P5/P6/P7, in-row
                                        │
        live records ─ F7 in-row ─ G4 ordinals (posexplode) ─ A3/A4 span
                                        │
        explode protein_ids ⋈ idmapping (J1) ─ A-collect
                                        │
        J3 fallback-coalesce ─ O1 explode ─ O2 project → ena_tab

Blocks stay nested in their record's row, so no join brings headers and
blocks back together.  Pinned quirks (SURVEY.md §2.10): 1=linear
encoding, strict-> circular gap tie-break, end<start legal, ordinals
skip failed blocks, lenient range regex, same-line Fungi gate,
mapping-hit-wins fallback, **no** global dedup of output rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ena_database_build_spark.functions import embl as E
from ena_database_build_spark.functions.locations import (
    has_range,
    location_ranges,
    resolved_span,
)
from ena_database_build_spark.operators import segmentation as S

ENA_TAB_COLUMNS = [
    "ena_id",
    "uniprot_id",
    "locus_num",
    "chr_struct",
    "direction",
    "start",
    "end",
]


@dataclass
class EnaBuildResult:
    """All channels of the pipeline (each still lazy) and the persisted
    segmentation they read; call :meth:`unpersist` when done."""

    segmented: DataFrame
    records: DataFrame
    loci: DataFrame
    ena_tab: DataFrame
    rejected_records: DataFrame
    rejected_blocks: DataFrame

    def unpersist(self) -> None:
        self.segmented.unpersist(blocking=True)


def parse_loci(
    embl_lines: DataFrame | None = None, segmented: DataFrame | None = None
) -> DataFrame:
    """Segmented records -> loci with resolved spans and per-locus id
    sets.  Pass ``segmented`` (see ``segmentation.segment_records``), or
    an ordered line frame to segment."""
    if segmented is None:
        segmented = S.segment_lines(embl_lines)
    live = segmented.where(
        F.col("reject_reason").isNull() & (F.col("ena_id") != "")
    )
    # F7: blocks with no x..y range are dropped *before* the ordinals
    # (G4, quirk §2.10.4) and contribute no xrefs at all
    good = F.filter("blocks", lambda b: has_range(b["loc_str"]))
    loci = live.select(
        "file",
        "record_idx",
        "ena_id",
        "chr_struct",
        "chr_len",
        F.posexplode(good).alias("pos", "b"),
    )
    ranges = location_ranges(F.col("b.loc_str"))
    return loci.select(
        "file",
        "record_idx",
        "ena_id",
        "chr_struct",
        "chr_len",
        (F.col("pos") + 1).alias("locus_num"),
        E.strand_direction(F.col("b.loc_str")).alias("direction"),
        resolved_span(ranges, F.col("chr_struct"), F.col("chr_len")).alias("span"),
        F.col("b.uniprot_ids").alias("uniprot_ids"),
        F.col("b.protein_ids").alias("protein_ids"),
    ).select(
        "file",
        "record_idx",
        "ena_id",
        "chr_struct",
        "chr_len",
        "locus_num",
        "direction",
        F.col("span.start").alias("start"),
        F.col("span.end").alias("end"),
        "uniprot_ids",
        "protein_ids",
    )


def resolve_uniprot_ids(
    loci: DataFrame, idmapping: DataFrame, broadcast_mapping: bool = False
) -> DataFrame:
    """J1 + J2 + J3: reverse-map protein ids, falling back to parsed ids.

    * J1 — explode the per-locus ``protein_ids`` set and inner-join the
      deduplicated idmapping on ``foreign_id`` (replaces the per-record
      ``IN (...)`` round-trip, mysql_database.py:92-93).
    * J2 — the anti-join/no-match bookkeeping vanishes: unmatched ids
      simply produce no join rows (the reference's ``not in no_match``
      check is provably redundant — SURVEY.md §2.6 J2).
    * J3 — a locus whose protein ids found *any* mapping uses exactly the
      mapped ids (duplicates across protein ids preserved, the reference
      emits one row per list element — parse_embl.py:236-255); otherwise
      it falls back to its parsed ``uniprot_ids``; loci with neither emit
      nothing.
    """
    mapping = idmapping.dropDuplicates(["foreign_id", "uniprot_id"])
    if broadcast_mapping:
        mapping = F.broadcast(mapping)

    locus_key = ["file", "record_idx", "locus_num"]
    other_cols = [c for c in loci.columns if c not in locus_key]

    # Single consumption of `loci`: explode the protein-id set
    # (explode_outer keeps protein-less loci alive for the fallback),
    # join the mapping, and fold back to locus grain.  The group-by
    # keys extend the pipeline's file-prefixed partitioning, so with a
    # broadcast mapping this whole step adds ZERO exchanges.
    exploded = loci.select(
        *loci.columns, F.explode_outer("protein_ids").alias("foreign_id")
    )
    joined = exploded.join(
        mapping.withColumnRenamed("uniprot_id", "_mapped_id"), "foreign_id", "left"
    )
    # any_value, not first: every exploded row of a locus carries
    # identical non-key values, so ANY value is the right one — encode
    # that invariant structurally instead of leaning on first()'s
    # row-order-dependent determinism surviving future refactors.
    regrouped = joined.groupBy(*locus_key).agg(
        *[F.any_value(c).alias(c) for c in other_cols],
        F.collect_list("_mapped_id").alias("mapped_uniprot_ids"),
    )
    resolved = regrouped.withColumn(
        "resolved_uniprot_ids",
        F.when(
            F.size("mapped_uniprot_ids") > 0, F.col("mapped_uniprot_ids")
        ).otherwise(F.col("uniprot_ids")),
    )
    return resolved.where(F.size("resolved_uniprot_ids") > 0)


def build_ena_tab(
    records: DataFrame, idmapping: DataFrame, broadcast_mapping: bool = False
) -> DataFrame:
    """Full pipeline: record frame (``sources.embl.read_embl_records``)
    + idmapping -> the 7-column table.

    Output grain: one row per (locus, resolved uniprot id list element);
    duplicates across overlapping input files are preserved (quirk
    §2.10.8 — the reference never dedups globally).
    """
    loci = parse_loci(segmented=S.segment_records(records))
    return _project_ena_tab(resolve_uniprot_ids(loci, idmapping, broadcast_mapping))


def _project_ena_tab(resolved: DataFrame) -> DataFrame:
    """O1+O2: one output row per resolved uniprot id, reference column
    order (parse_embl.py:255)."""
    return resolved.select(
        "file",
        "ena_id",
        F.explode("resolved_uniprot_ids").alias("uniprot_id"),
        "locus_num",
        "chr_struct",
        "direction",
        "start",
        "end",
    ).select("file", *ENA_TAB_COLUMNS)


def build_all(
    records: DataFrame, idmapping: DataFrame, broadcast_mapping: bool = False
) -> EnaBuildResult:
    """Run the pipeline and expose dead-letter channels (SURVEY.md §4.3:
    the reference print-and-skips malformed rows; we surface them as
    filterable DataFrames instead).

    The segmentation (parsed headers plus CDS blocks, never raw text) is
    persisted because the channels are consumed as separate actions;
    ``result.unpersist()`` releases it.
    """
    segmented = S.segment_records(records).persist()
    loci = parse_loci(segmented=segmented)
    ena_tab = _project_ena_tab(resolve_uniprot_ids(loci, idmapping, broadcast_mapping))
    headers = S.extract_records(segmented)
    rejected_records = headers.where(F.col("reject_reason").isNotNull()).select(
        "file", "record_idx", "reject_reason"
    )
    rejected_blocks = (
        S.extract_cds_blocks(segmented)
        .where(~has_range(F.col("loc_str")))
        .select(
            "file",
            "record_idx",
            "block_idx",
            F.lit("unparseable_cds_location").alias("reject_reason"),
        )
    )
    return EnaBuildResult(
        segmented, headers, loci, ena_tab, rejected_records, rejected_blocks
    )
