"""Ordered ingest of gzipped EMBL flat files (operators S1-S3, F1, X2).

The reference walks the directory tree with dynamically scheduled Dask
tasks (ena_build/dask_tasks.py:16-87) and streams each ``*.dat.gz`` line
by line (ena_build/parse_embl.py:482-484).  In Spark the walk is the
driver's parallel ``InMemoryFileIndex`` (``recursiveFileLookup``), the
suffix filter is ``pathGlobFilter`` (prunes at *listing* time — files
are never opened), and gzip decoding is the built-in codec.

:func:`read_embl_records` is the pipeline's entry point: one row per
record, ``file, record_idx, text``.  By default it reads each file as one
``wholetext`` blob (gzip is non-splittable anyway, so this costs no
parallelism versus line mode), normalises newlines and splits the blob
at ``ID`` lines, with ``posexplode`` numbering the records.  One file is
one unit of parallelism, exactly the reference's granularity;
``repartition`` spreads millions of small files evenly across executors.
:func:`read_embl_lines` gives the same files as ordered lines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ena_database_build_spark.functions import embl as E
from ena_database_build_spark.operators.segmentation import records_from_lines

EMBL_GLOB = "*.dat.gz"


def read_embl_lines(
    spark: SparkSession,
    paths: list[str] | str,
    apply_division_filter: bool = True,
    target_partitions: int | None = None,
    strategy: str = "wholetext",
) -> DataFrame:
    """Read EMBL flat files under ``paths`` into the ordered-line schema
    ``file STRING, line_no LONG, line STRING``.

    ``apply_division_filter`` reproduces F1: in ``sequence/`` trees only
    ``_(ENV|PRO|FUN|PHG)_`` division files are kept
    (ena_build/dask_tasks.py:78-85).

    ``strategy``:

    * ``"wholetext"`` (default) — one blob row per file, exploded after
      a blob-level repartition; downstream windows/group-bys then need
      no line-level exchange.  Right for the reference corpus shape
      ("millions of relatively small gzip'd files", reference
      README.md:48); a single file must fit in one row buffer.
    * ``"lines"`` — plain line-mode text scan for corpora with
      pathologically large members: gzip is non-splittable so each
      file's lines arrive in read order within its partition;
      ``monotonically_increasing_id`` pins that order into ``line_no``.
    """
    raw = _scan(spark, paths, strategy, apply_division_filter, target_partitions)
    if strategy == "lines":
        w = Window.partitionBy("file").orderBy("_mid")
        return raw.select(
            "file",
            (F.row_number().over(w) - 1).cast("long").alias("line_no"),
            F.col("value").alias("line"),
        )
    # universal-newline split — the reference reads with text-mode
    # gzip.open (newline=None), so \r\n and \r collapse to \n
    return raw.select(
        "file",
        F.posexplode(F.split(F.col("value"), "\r\n|\r|\n")).alias(
            "line_no", "line"
        ),
    )


def read_embl_records(
    spark: SparkSession,
    paths: list[str] | str,
    apply_division_filter: bool = True,
    strategy: str = "wholetext",
) -> DataFrame:
    """Read EMBL flat files under ``paths`` into the record frame
    ``file STRING, record_idx, text STRING`` (``segmentation``'s input).

    Record ``k`` >= 1 is the text from the file's ``k``-th ``ID`` line up
    to the next one; record 0, when present, holds the lines before the
    first ``ID`` line.  ``apply_division_filter`` and ``strategy`` as for
    :func:`read_embl_lines`; with ``"lines"`` a record's text keeps only
    its ``FT``/``ID``/``OC`` lines, so one record's worth of those lines
    bounds a row, not a whole file.
    """
    raw = _scan(spark, paths, strategy, apply_division_filter)
    if strategy == "lines":
        return records_from_lines(raw.withColumnRenamed("value", "line"), "_mid")
    # the same line breaks as read_embl_lines' universal-newline split
    text = F.regexp_replace("value", "\r\n?", "\n")
    # a blob that opens on an ID line has no record 0 chunk; flag that
    # before the explode, so no record row carries its file's blob
    flagged = raw.select(
        "file", "value", F.col("value").startswith("ID   ").cast("int").alias("_first")
    )
    return flagged.select(
        "file", "_first", F.posexplode(F.split(text, E.RECORD_SPLIT)).alias("_pos", "text")
    ).select("file", (F.col("_pos") + F.col("_first")).alias("record_idx"), "text")


def _scan(spark, paths, strategy, apply_division_filter, target_partitions=None):
    """``file, value``: one row per whole file (``"wholetext"``), or one
    per line plus ``_mid`` pinning read order (``"lines"``)."""
    if strategy not in ("wholetext", "lines"):
        raise ValueError(f"unknown ingest strategy: {strategy!r}")
    wholetext = strategy == "wholetext"
    # One listing/reader config, so both strategies ingest the SAME file
    # set.  The *.dat.gz glob is also what makes line mode's ordering
    # hold: gzip is non-splittable, so one file is one read split and
    # _mid is monotone per file (a splittable member would interleave
    # its splits).  NB: wholetext must be the reader kwarg — the string
    # option key is not picked up by the text source in Spark 4.x.
    raw = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", EMBL_GLOB)
        .text([paths] if isinstance(paths, str) else paths, wholetext=wholetext)
        .select(
            F.input_file_name().alias("file"),
            "value",
            *([] if wholetext else [F.monotonically_increasing_id().alias("_mid")]),
        )
    )
    if apply_division_filter:
        # a regex on the path string: once per file for blobs, once per
        # line in line mode
        raw = raw.where(E.matches_sequence_division(F.col("file")))
    if wholetext and target_partitions is None:
        # Spread the whole-file blobs before splitting them: the shuffle
        # moves one row per file, and hashpartitioning(file) satisfies
        # every later clustering requirement (the record-grain window
        # keys on file), so no other exchange of file data follows.
        target_partitions = spark.sparkContext.defaultParallelism * 2
    if target_partitions:
        # line mode: clusters by file, so the per-file window adds no
        # exchange
        raw = raw.repartition(target_partitions, "file")
    return raw
