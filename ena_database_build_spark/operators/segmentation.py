"""Record-grain segmentation (operators G1-G4).

The reference parses each EMBL file with a single-pass state machine
(ena_build/parse_embl.py:444-570): an ``ID`` line opens a record (G1),
a feature-start line closes the previous feature block and opens the
next (G2).  Here both boundaries are text splits, not running counts
over lines:

* a record frame holds one row per record, ``file, record_idx, text``,
  where ``text`` is the record's lines joined by "\\n" (the wholetext
  ingest splits each file blob at ``ID`` lines; :func:`records_from_lines`
  builds the same frame from a line scan);
* :func:`segment_records` parses every record in its own row: the ID
  header, the Fungi gate and the CDS blocks, each block split off at
  feature starts and reduced to its location string and id sets.

Nothing is aggregated and nothing is joined: blocks stay nested in their
record's row and inherit its header.  The one window runs over record
rows, to number feature blocks across the whole file (``block_idx``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ena_database_build_spark.functions import embl as E

HEADER_COLUMNS = ["ena_id", "chr_struct", "chr_len", "reject_reason", "fungi_dropped"]


def records_from_lines(lines: DataFrame, order: str = "line_no") -> DataFrame:
    """G1 over a line scan: ``file, <order>, line`` -> the record frame.

    One running count of ``ID`` lines numbers the records, then one
    ordered group per record joins its ``FT``/``ID``/``OC`` lines, the
    only ones any parser step reads.  Lines before a file's first ``ID``
    form record 0, which is kept only for its feature starts.
    """
    w = (
        Window.partitionBy("file")
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    line = F.col("line")
    numbered = lines.where(E.is_interesting_line(line)).select(
        "file",
        order,
        "line",
        F.sum(E.is_id_line(line).cast("long")).over(w).alias("record_idx"),
    )
    return numbered.groupBy("file", "record_idx").agg(
        F.concat_ws(
            "\n", F.array_sort(F.collect_list(F.struct(order, "line")))["line"]
        ).alias("text")
    )


def segment_records(records: DataFrame) -> DataFrame:
    """G1-G3 per record row: the record frame -> one row per record
    (``record_idx`` >= 1) with its parsed header and CDS blocks.

    Output: ``file, record_idx, ena_id, chr_struct, chr_len,
    reject_reason, fungi_dropped, block_offset, blocks``.

    * header (P1, F4, F5) from the record's first line;
    * ``fungi_dropped`` (F3): any OC line of the record names Eukaryota
      without `` Fungi`` (parse_embl.py:527-535), which also sets
      ``reject_reason``;
    * ``blocks``: ARRAY<STRUCT<block_no, loc_str, protein_ids,
      uniprot_ids>> of the CDS blocks in order (P5, parse_embl.py:557),
      ``block_no`` being the block's feature ordinal in the record;
    * ``block_offset``: feature starts earlier in the file, record 0
      included, so ``block_offset + block_no`` is the file's running
      feature count (G2's ``block_idx``).
    """
    text = F.col("text")
    header = E.parse_id_line(E.first_line(text))
    split = records.select(
        "file",
        "record_idx",
        header.alias("h"),
        E.is_voided_record(text).alias("fungi_dropped"),
        # chunk 0 is the record's head (its ID line up to the first
        # feature start); chunk i >= 1 is feature block i.  Only record 0
        # of a line scan can open on a feature line, which is then
        # chunk 0 and counts as one more feature (_lead).
        E.starts_with_feature(text).cast("int").alias("_lead"),
        F.split(text, E.FEATURE_SPLIT).alias("_chunks"),
    )
    cds = F.filter(
        F.transform("_chunks", lambda c, i: F.struct(i.alias("block_no"), c.alias("t"))),
        lambda b: (b["block_no"] > 0) & E.is_cds_head(b["t"]),
    )
    # the candidate text drops everything but the head and FT
    # continuation lines, so the sequence that ends a record's last
    # block is never copied past this point
    cds = F.transform(
        cds,
        lambda b: F.struct(
            b["block_no"].alias("block_no"), E.block_candidate_text(b["t"]).alias("t")
        ),
    )
    cds = F.transform(
        cds,
        lambda b: F.struct(
            b["block_no"].alias("block_no"),
            E.location_string(b["t"]).alias("loc_str"),
            E.block_protein_ids(b["t"]).alias("protein_ids"),
            E.block_uniprot_ids(b["t"]).alias("uniprot_ids"),
        ),
    )
    earlier = (
        Window.partitionBy("file")
        .orderBy("record_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_features = F.size("_chunks") - 1 + F.col("_lead")
    return (
        split.select(
            "file",
            "record_idx",
            F.col("h.ena_id").alias("ena_id"),
            F.col("h.chr_struct").alias("chr_struct"),
            F.col("h.chr_len").alias("chr_len"),
            F.when(F.col("fungi_dropped"), F.lit("non_fungi_eukaryote"))
            .otherwise(F.col("h.reject_reason"))
            .alias("reject_reason"),
            "fungi_dropped",
            n_features.alias("_n_features"),
            cds.alias("blocks"),
        )
        .select(
            "*",
            F.coalesce(F.sum("_n_features").over(earlier), F.lit(0)).alias(
                "block_offset"
            ),
        )
        .where(F.col("record_idx") > 0)
        .drop("_n_features")
    )


def segment_lines(embl_lines: DataFrame) -> DataFrame:
    """G1-G3 over an ordered line frame ``file, line_no, line``."""
    return segment_records(records_from_lines(embl_lines))


def extract_records(segmented: DataFrame) -> DataFrame:
    """One row per record: ``file, record_idx`` plus the header columns
    (``reject_reason`` feeds the dead-letter channel)."""
    return segmented.select("file", "record_idx", *HEADER_COLUMNS)


def extract_cds_blocks(segmented: DataFrame) -> DataFrame:
    """One row per CDS block, carrying its record's header:
    ``file, record_idx, <header>, block_idx, block_no, loc_str,
    protein_ids, uniprot_ids``."""
    return segmented.select(
        "file", "record_idx", *HEADER_COLUMNS, "block_offset", F.inline("blocks")
    ).select(
        "file",
        "record_idx",
        *HEADER_COLUMNS,
        (F.col("block_offset") + F.col("block_no")).alias("block_idx"),
        "block_no",
        "loc_str",
        "protein_ids",
        "uniprot_ids",
    )
