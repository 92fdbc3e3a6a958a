"""SparkSession factory with scale-oriented defaults.

Replaces the reference's hand-tuned concurrency/memory knobs
(utils/config_template.yml:59-81 — csv_worker_count, channel_size,
max_ram_gb) with Spark's own machinery: AQE, adaptive shuffle-partition
coalescing, skew-join splitting, and Arrow for the pandas-UDF path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults sized for the sandbox (local[32], 128 GiB). On a real cluster
# these are overridden via spark-submit --conf; nothing here is
# local-mode-specific.
_BASE_CONF: dict[str, str] = {
    # AQE: runtime re-planning — coalesce small shuffle partitions,
    # split skewed ones (SURVEY §2.7 X4: the reference has no skew
    # handling at all; one huge bundle stalls a worker).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow is mandatory: BASELINE.json requires vectorized pandas/Arrow
    # UDFs only — no per-row Python anywhere.  Batch size swept over
    # 250..200k on the all-evolved normalizer path (bench/arrow_sweep.py,
    # BENCH/BASELINE.md): 2000 peaks at 63k ev/s — 2.9× the 200k setting
    # (pipelining: small batches keep every worker fed) and 17% over the
    # previous 10k default; below 1000 the per-batch IPC overhead bites.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2000",
    # Shuffle parallelism: plenty of partitions, then let AQE coalesce
    # to ~16 MB targets.  Measured on the bench pipeline: 128/16m beats
    # 32/64m at BOTH local[8] and local[32] (smaller reduce tasks keep
    # every core fed and shorten straggler tails).
    "spark.sql.shuffle.partitions": "128",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
    # Scan parallelism: Spark's actual split size is
    # min(maxPartitionBytes, totalBytes / minPartitionNum) with
    # minPartitionNum defaulting to the core count — so small scans
    # ALWAYS split down to ~totalBytes/cores and stay parallel
    # regardless of this cap; the cap only binds on scans larger than
    # cores × cap.  Round-6 measurement on the 3.4 GB MoR base scan
    # (local[32], tmpfs): 16m 1.94 s / 32m 1.77 / 64m 1.60 / 128m 2.69
    # (128m under-fills the cores: 27 tasks < 32) — and an interleaved
    # full-replay A/B shows 64m ≥ 16m there too (medians 14.5 vs
    # 16.6 s).  64m is also the right direction at cluster scale
    # (guide §6: bigger sequential splits cut task overhead and map
    # count feeding shuffles); the earlier 16m setting predates the
    # openCostInBytes=1m change that made the min-parallelism floor
    # effective.
    "spark.sql.files.maxPartitionBytes": "64m",
    "spark.sql.files.openCostInBytes": "1m",
    # Table reads pass exact data-file paths taken from a snapshot, so
    # the distributed listing job Spark starts above 32 paths is wasted
    # (change-log opens list seq_part directories on the driver too).
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1000000",
    # Timestamps in the change log are UTC by definition
    # (reference stamps RFC3339 UTC at loader/service.go:144).
    "spark.sql.session.timeZone": "UTC",
    # JSON expression optimization rewrites each from_json(...).field
    # access into a SEPARATE single-field parse.  That pruning pays
    # when a query touches one field of a wide payload; this engine's
    # two from_json sites consume EVERY field (the 3-field exploded
    # payload becomes 3 Jackson passes per row; the v3 normalize schema
    # has a single field, so pruning is a no-op there) — measured on
    # the exploded ingest pipeline: off 1.02 s vs on 1.13 s per 394k
    # events (round 6).  Off is a strict win for this workload shape;
    # a user adding a wide-payload single-field query can re-enable via
    # extra_conf.
    "spark.sql.optimizer.enableJsonExpressionOptimization": "false",
    # DataFrame debugging off: with it on, PySpark 4.1 wraps every
    # Column/functions call to capture its Python call site — an active
    # session lookup, a conf read and a JVM origin set/clear, each a
    # driver→JVM round trip.  Measured on perfbench cascade_sync ticks
    # (2k events, 4-vCPU VM, local[4], median of 6): together with
    # Arrow-built delete parents and one-expression bucket filters,
    # Py4J calls per tick fell 2,729 → 1,121.  What it gives up:
    # analysis-error messages no longer carry the DataFrame query
    # context (the Python line that built the failing expression).
    # Re-enable through get_spark(extra_conf={"spark.python.sql.
    # dataFrameDebugging.enabled": "true"}); PySpark reads the flag
    # once per process, from the first active session.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Shuffle/broadcast/spill codec: measured per core count — zstd wins
    # at low parallelism (bandwidth-bound: 13.8s vs lz4 15.8s at
    # local[8]) but loses badly once cores saturate (22.2s vs 15.6s at
    # local[32], where its CPU cost competes with the query).  lz4 (the
    # Spark default) is the right call at the target operating point;
    # tune per cluster via extra_conf.
    "spark.ui.enabled": "false",
    # Measured: an 8g heap beats 20g/48g here (page cache + GC locality);
    # on a real cluster executor memory is sized per node as usual.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


# Rows (or events) per reduce partition for ``partitions_for_rows``.
ROWS_PER_PARTITION = 16_000


def partitions_for_rows(rows: int, floor: int, ceiling: int) -> int:
    """Reduce-partition count for an exchange over ``rows`` rows: about
    ROWS_PER_PARTITION rows per partition, doubled up from ``floor``
    (a power-of-two multiple of the floor keeps reduce waves dividing
    the cores evenly) and capped at ``ceiling``."""
    p = max(1, floor)
    while p < rows // ROWS_PER_PARTITION + 1 and p < ceiling:
        p *= 2
    return min(p, ceiling)


def _default_local_dir() -> str | None:
    """Shuffle/spill scratch on tmpfs when available: in local mode all
    N task threads funnel spills through ONE disk — measured, that
    alone flattened local[32] to local[8] throughput.  A real cluster
    has per-node disks, so tmpfs is the faithful stand-in.  Override
    with SPARK_GRAFT_LOCAL_DIR (set it to a disk path to opt out)."""
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env:
        return env
    if os.path.isdir("/dev/shm"):
        d = f"/dev/shm/dlt-scratch-{os.getuid()}"
        os.makedirs(d, exist_ok=True)
        return d
    return None


def driver_memory_for(batch_width: int) -> str:
    """Batch-width-aware local heap rule (VERDICT r3 next-#8) — the two
    measured anchors from the amortization curve (BENCH/BASELINE.md):

    - ≤ ~400k events/batch (the 8-batch driver bench shape): 8 GB and
      24 GB are indistinguishable inside noise, and 8 GB beats larger
      heaps slightly (page-cache locality) → stay at 8 GB;
    - 787k events/batch: 8 GB is GC-bound (GCLocker retry warnings,
      269k ev/s) while 24 GB reaches 410k ev/s → scale linearly with
      the batch working set above the knee, ~24 GB per 787k-event
      batch, capped at 48 GB (the box has 128; leave room for the page
      cache that the 8-vs-20 GB measurement showed matters).

    On a real cluster executor memory is sized per node as usual and
    this helper is irrelevant; locally it removes the hand-set
    SPARK_GRAFT_DRIVER_MEM at the big-batch operating point (that env
    var still wins when set)."""
    if batch_width <= 400_000:
        return "8g"
    gb = min(48, max(8, -(-24 * batch_width // 787_000)))
    return f"{gb}g"


def get_spark(
    app_name: str = "dlt_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
    batch_width: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox;
    on a cluster, leave it unset and let spark-submit decide.
    ``batch_width`` (events per ingest batch, when the caller knows it)
    sizes the local driver heap via ``driver_memory_for`` unless
    SPARK_GRAFT_DRIVER_MEM explicitly overrides.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_BASE_CONF)
    if batch_width is not None and "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        conf["spark.driver.memory"] = driver_memory_for(batch_width)
    local_dir = _default_local_dir()
    if local_dir:
        conf["spark.local.dir"] = local_dir
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
