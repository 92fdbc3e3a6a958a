"""Structured Streaming sync — the `dlt sync` daemon analog.

The reference schedules the batch loader under cron with a global
single-flight mutex (cmd/dlt/commands/sync.go:91-148).  Here the batch
runner's per-batch core (``runner.prepare_batch``: normalize → cascade →
LWW dedup → MoR delta, then ``commit_delta``) runs once per epoch under
Structured Streaming's file source:

- ``Trigger.AvailableNow`` drains everything currently in the log and
  stops — the supervised-catch-up semantics of `dlt sync`'s cron tick;
  a processing-time trigger gives the always-on daemon.
- Exactly-once is double-layered: Spark's streaming checkpoint tracks
  which files each epoch consumed, and the lakehouse manifest keyed by
  (job_id, epoch) makes a replayed epoch a no-op even if the checkpoint
  is lost — the engine's own guarantee does not depend on the
  checkpoint dir surviving.
- Event-time watermarks are unnecessary: CDC order lives in
  ``commit_seq`` and the MoR resolve is convergent under any arrival
  order (SURVEY §2.9 — the log position is the only clock).

Cross-epoch tie-break note: within an epoch, dedup_lww orders ties by
(commit_seq, op-priority D>U>I, row hash); across epochs the storage
resolve orders by (commit_seq, tombstone-rank, row_id).  The two agree
except for a same-seq U-vs-I conflict split across epochs, which the
log contract (one op per (doc_id, commit_seq)) rules out.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import LongType, StructField, StructType

from dlt_spark.adapters import get_adapter
from dlt_spark.lakehouse import LakehouseTable
from dlt_spark.plans.runner import (
    check_cascade_mode, prefetch_deletes, prepare_batch,
)
from dlt_spark.schemas import CHANGE_EVENT_SCHEMA

# NB: StructType.add mutates in place — always copy.
_STREAM_SCHEMA = StructType(
    list(CHANGE_EVENT_SCHEMA.fields) + [StructField("seq_part", LongType(), True)]
)


def run_stream_sync(
    spark: SparkSession,
    log_path: str,
    table_path: str,
    checkpoint_path: str,
    job_id: str = "stream",
    n_buckets: int = 64,
    use_arrow_udf: bool = False,
    schema: str = "tokens",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    timeout_secs: float | None = None,
    cascade_mode: str = "eager",
) -> LakehouseTable:
    """Drain the change log into the table via Structured Streaming.

    With ``available_now=True`` (default) processes everything present
    and returns; otherwise runs until ``timeout_secs``.  ``schema``
    selects the SchemaAdapter (same switch as the batch runner); epochs
    are file-grained so cascade adapters (which must observe the prior
    commit) are safe here too — foreachBatch epochs are strictly serial.
    ``cascade_mode`` mirrors the batch runner: "markers" records
    equality-delete markers per epoch instead of eager child tombstones
    (same opt-in CDC-out trade-off; see runner.run_incremental).
    """
    check_cascade_mode(cascade_mode)
    adapter = get_adapter(schema)
    table = LakehouseTable.create(
        spark, table_path, n_buckets=n_buckets,
        # same bucket transform as the batch runner: cascade adapters
        # bucket child rows by PARENT so their candidate lookups prune
        bucket_expr=getattr(adapter, "bucket_expr", "doc_id"),
    )

    reader = spark.readStream.schema(_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    events = reader.parquet(log_path).drop("seq_part")

    def _apply(batch_df, epoch_id: int) -> None:
        t = LakehouseTable.load(spark, table_path)
        if t.is_applied(job_id, epoch_id):
            return  # checkpoint replay of an already-committed epoch
        prepared = prepare_batch(
            batch_df, adapter, t, job_id, epoch_id,
            prefetch_deletes(batch_df, adapter, t),
            cascade_mode=cascade_mode, use_arrow_udf=use_arrow_udf,
        )
        t.commit_delta(prepared, job_id, epoch_id)

    writer = events.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = writer.start()
        q.awaitTermination(timeout_secs)
        q.stop()
    return LakehouseTable.load(spark, table_path)
