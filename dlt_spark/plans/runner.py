"""The incremental runner — the Spark analog of the reference's loader
lifecycle (loader/service.go:18-105, SURVEY §3.1):

  watermark resolution → batch plan by commit_seq range → per batch:
  range scan → normalize → LWW dedup → MERGE → manifest commit.

The reference's pipeline machinery (collector goroutine, bounded
channels, worker pools, memory governor — loader/service.go:82-97,
utils/tools.go:16-49) does not exist here: each batch is ONE Spark
logical plan; Catalyst/AQE choose the physical strategy, and the driver
loop owns only batch sequencing, exactly like `dlt load`'s outer loop.

Batch ids are ``lo // batch_width`` — a pure function of log position,
so a replayed/resumed run produces the same (job_id, batch_id) keys and
the manifest replay-guard holds across process restarts.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dlt_spark.adapters import cascade_tombstone_rows, get_adapter
from dlt_spark.config import MAX_INFLIGHT
from dlt_spark.lakehouse import LakehouseTable
from dlt_spark.operators.dedup import dedup_lww
from dlt_spark.session import partitions_for_rows
from dlt_spark.sources.changelog import open_change_log, slice_change_log


@dataclass
class RunResult:
    job_id: str
    batches_planned: int
    batches_applied: int
    batches_skipped: int  # already in manifest (replay no-ops)
    events_read: int
    events_applied: int
    deletes_applied: int
    wall_secs: float
    manifests: list[dict] = field(default_factory=list)

    @property
    def events_per_sec(self) -> float:
        return self.events_read / self.wall_secs if self.wall_secs > 0 else 0.0


def plan_batches(seq_from: int, seq_to: int, batch_width: int) -> list[tuple[int, int, int]]:
    """[(batch_id, lo, hi_inclusive)] — aligned to batch_width boundaries
    so equal commit_seq values always land in the same batch (ties must
    be resolved by one LWW pass, SURVEY §7 hard-part #2) and replays
    regenerate identical batch ids."""
    out = []
    lo = (seq_from // batch_width) * batch_width
    while lo <= seq_to:
        hi = lo + batch_width - 1
        out.append((lo // batch_width, max(lo, seq_from), min(hi, seq_to)))
        lo = hi + 1
    return out


def _delete_rows(events: DataFrame, n_buckets: int) -> DataFrame:
    """Parent deletes of a raw events slice as (p, del_seq, del_source,
    b) rows, duplicate deliveries included — ``b`` is the parent's
    bucket residue."""
    return events.where(F.col("op") == "D").select(
        F.col("doc_id").alias("p"),
        F.col("commit_seq").alias("del_seq"),
        F.col("source").alias("del_source"),
        F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int").alias("b"),
    )


def _parent_deletes(events: DataFrame, n_buckets: int) -> DataFrame:
    """The distinct ``_delete_rows`` of a raw events slice."""
    return _delete_rows(events, n_buckets).distinct()


def prefetch_deletes(events: DataFrame, adapter, table: LakehouseTable):
    """Delete prefetch for one batch's log slice, run inside that
    batch's prepare whatever the run's shape: a single cap-guarded
    collect decides small-vs-mass directly, with no count job.  Returns
    the collected parent-delete rows, deduplicated on the driver; above
    the adapter's ``MAX_PRUNED_PARENTS`` delete rows the lazy
    ``_parent_deletes`` DataFrame of ``events`` instead (a mass purge
    never materializes driver-side); None when the adapter does not
    cascade or the slice has no deletes.

    The collect is shuffle-free: a ``distinct()`` before the limit is an
    exchange, i.e. two jobs under AQE.  The cap therefore counts the
    delete rows actually collected, duplicate deliveries included —
    the driver memory it exists to bound."""
    if not getattr(adapter, "cascade_deletes", False):
        return None
    cap = getattr(adapter, "MAX_PRUNED_PARENTS", 65_536)
    rows = _delete_rows(events, table.n_buckets).limit(cap + 1).collect()
    if len(rows) > cap:
        return _parent_deletes(events, table.n_buckets)
    return list(dict.fromkeys(rows)) or None


def run_incremental(
    spark: SparkSession,
    log_path: str,
    table_path: str,
    job_id: str = "dlt",
    seq_from: int | None = None,
    seq_to: int | None = None,
    batch_width: int = 1_000_000,
    n_buckets: int = 64,
    force: bool = False,
    use_arrow_udf: bool = False,
    schema: str = "tokens",
    # pipelining depth swept at the sf0.1 bench point (3.15M events, 8
    # batches, local[32]; within-session, interleaved, median of 3 with
    # tmpfs kept flat): 3→131k, 4→166k, 5→138k, 6→109k ev/s.  Across
    # fresh sessions 3-vs-4 is inside environment noise (±15%); 5+ is
    # reliably worse (queued preparations contend with the in-flight
    # batch's own stages).
    max_inflight: int = MAX_INFLIGHT,
    log_part_width: int = 100_000,
    stop_requested=None,
    verbose: bool = False,
    # "eager" (default): cascade deletes tombstone every child at ingest
    # — the CDC-out feed carries them.  "markers" (OPT-IN): record
    # equality-delete markers instead; the candidate join moves to read
    # time (and to materialize_markers), delete batches ingest at plain
    # speed, but changes_between no longer carries cascade-deleted
    # children — only for consumers without CDC-out.
    cascade_mode: str = "eager",
) -> RunResult:
    """One catch-up run (the `dlt load` analog, SURVEY §3.1/§3.3).

    - ``seq_from``/``seq_to`` bound the replay (``--from/--to-bundle-id``);
      unset ``seq_from`` resumes from the manifest watermark + 1 (P2).
    - ``force=True`` re-applies a range even below the watermark — safe
      here (idempotent MERGE + manifest guard), unlike the reference
      where --force duplicates rows (loader/service.go:30-36).
    - ``schema`` selects the SchemaAdapter (the reference's config-string
      schema switch, loader/setup.go:68-78); an adapter object is also
      accepted.
    - ``stop_requested`` (callable → bool): graceful-shutdown probe
      checked at each batch boundary — the reference's SIGINT handling
      finishes the in-flight work then exits (cmd/dlt/commands/
      load.go:62-86); here a stop leaves the table at a committed batch
      boundary and the next run resumes from the watermark.  A probe
      that raises instead crashes the run between commits (the
      crash-resume tests, SURVEY §5).

    The runner never folds: the commit path is the one fold trigger
    (every ``max_deltas``-th L0 commit folds, see
    ``LakehouseTable.commit_delta``).  A run of 8 batches into a fresh
    table at the default cap ends drained; a run of 9-15 ends with the
    commits past the 8th pending in L0, the state a tick-fed table is
    always in.  Reads stay exact either way: they resolve L0.
    """
    if cascade_mode not in ("eager", "markers"):
        raise ValueError(
            f"cascade_mode must be 'eager' or 'markers', got {cascade_mode!r}"
        )
    adapter = get_adapter(schema)
    table = LakehouseTable.create(
        spark, table_path, n_buckets=n_buckets,
        bucket_expr=getattr(adapter, "bucket_expr", "doc_id"),
    )
    if seq_from is None:
        seq_from = table.watermark() + 1 if not force else 0
    if seq_to is None:
        # End of log unknown: full-dataset open, then one max() job.
        # UNFILTERED on purpose (round 6): max(commit_seq) over rows
        # >= seq_from equals the global max whenever that max clears
        # seq_from, and is the empty case otherwise — and the
        # filter-free aggregate qualifies for parquet aggregate
        # pushdown (session conf), so the job reads FOOTER STATS
        # instead of the commit_seq column of the whole log.
        log_df = open_change_log(spark, log_path)
        row = log_df.agg(F.max("commit_seq").alias("m")).collect()[0]
        if row["m"] is None or (not force and int(row["m"]) < seq_from):
            return RunResult(job_id, 0, 0, 0, 0, 0, 0, 0.0)
        seq_to = int(row["m"])
    else:
        # Bounds known (steady ticks / explicit replays): open only the
        # seq_part dirs the run can touch — O(window) discovery.  The
        # cascade gap windows reach down to (watermark, batch-start), so
        # the lower bound is min(seq_from, watermark + 1), never bare
        # seq_from (a forced/overlap replay may start above the gap).
        lo_bound = min(seq_from, table.watermark() + 1)
        log_df = open_change_log(
            spark, log_path, seq_from=max(0, lo_bound), seq_to=seq_to,
            part_width=log_part_width,
        )
    if seq_from > seq_to:
        return RunResult(job_id, 0, 0, 0, 0, 0, 0, 0.0)

    batches = plan_batches(seq_from, seq_to, batch_width)
    # Scale-adaptive shuffle parallelism (guide §2.2/§2.4 + round-6
    # measurement): derive the reduce-partition count from the batch
    # input size instead of running every batch at the configured
    # ceiling.  A 50 MB steady-tick batch at 128 partitions pays ~0.15 s
    # of AQE coalescing + task-wave latency per query; sized to ~16k
    # events per partition (partitions_for_rows), snapped to a
    # power-of-two multiple of defaultParallelism//4 so reduce waves
    # divide the cores evenly
    # (measured: 48 partitions on 32 cores is SLOWER than both 32 and
    # 128 — a 1.5-wave straggler tail), it runs at 8 (ticks) / 32 (the
    # 394k-event driver batches).  The CONFIGURED value stays the
    # ceiling, so cluster operators keep control at scale (a TB-scale
    # batch estimate simply saturates the ceiling and nothing changes);
    # AQE stays on for skew/coalesce inside whatever count is chosen.
    # Restored in the finally below — the derivation is per run, not a
    # session mutation.
    _shuf_prev = int(spark.conf.get("spark.sql.shuffle.partitions"))
    _p = partitions_for_rows(
        min(batch_width, seq_to - seq_from + 1),
        spark.sparkContext.defaultParallelism // 4,
        _shuf_prev,
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(_p))
    try:
        t0 = time.monotonic()
        applied = skipped = ev_read = ev_applied = dels = 0
        manifests: list[dict] = []

        def _prepare(batch_id: int, lo: int, hi: int, _attempts: int = 2) -> tuple:
            """Bounded retry (SURVEY §2.7 X5 — replaces the reference's
            unbounded 1s·2^k loop, utils/tools.go:66-75): Spark already
            retries tasks; this covers whole-job failures.  The job is
            idempotent (fresh delta dir per attempt; orphans vacuum away),
            so a retry is safe by construction."""
            last: Exception | None = None
            for attempt in range(_attempts):
                try:
                    return _prepare_once(batch_id, lo, hi)
                except Exception as e:  # noqa: BLE001 — rethrown after retries
                    last = e
                    if attempt + 1 < _attempts:
                        time.sleep(1.0 * (attempt + 1))
            raise last  # type: ignore[misc]

        def _prepare_once(batch_id: int, lo: int, hi: int) -> tuple:
            """The per-batch ingest core: delete prefetch → normalize →
            cascade deletes → LWW dedup → delta write.  Touches no table
            state.  Returns (prepared, cascade): the prepared delta for
            ``table.commit_delta``, and for an eager delete batch the
            (watermark, parent deletes) phase B needs, else None.  The
            parent deletes are ``prefetch_deletes`` of the batch's own
            slice: collected (p, del_seq, del_source, b) rows, or the
            same columns as a DataFrame (too many to collect).

            Delete batches don't barrier: blanket tombstones are
            LWW-idempotent, so the lookup reads stale table state and
            the gap is settled by phase B at commit."""
            # TWO-PHASE cascade (VERDICT r3 next-#2).  Phase A (here):
            # expand_deletes unions tombstones for the table snapshot +
            # this batch's own children into the batch — riding the
            # already-running dedup+write job.  Phase B (gap pool):
            # tombstones for the (watermark, batch-start) gap, built
            # from the in-flight batches' prepared delta FILES and
            # merged into this batch's atomic commit — the gap is never
            # re-normalized.  Capture the committed watermark FIRST (a
            # commit landing between this read and the snapshot-backed
            # scan inside expand_deletes only widens the overlap, never
            # opens a gap — blanket tombstones are LWW-idempotent,
            # double-cover is free).  A/B'd alternatives (4-round
            # interleaved medians, sf0.1 all-delete bulk shape): r3's
            # gap-re-normalize-per-prepare 15.5s; this form 14.0s;
            # fully-detached side job for ALL tombstones 17.2s (a third
            # standalone job per batch loses to riding the main write);
            # unioning phase-A tombstones AFTER dedup_lww in the same
            # write job 15.0s (skipping the shuffle writes candidate
            # multiplicity raw — the dedup collapse pays for itself).
            wm0 = table.watermark()
            events = slice_change_log(log_df, lo, hi, log_part_width)
            del_rows = prefetch_deletes(events, adapter, table)
            eager = del_rows is not None and cascade_mode == "eager"
            normalized = adapter.normalize(events, use_arrow_udf=use_arrow_udf)
            markers_delta = None
            if eager:
                normalized = adapter.expand_deletes(
                    normalized, table, del_rows=del_rows,
                    # concurrent-prepare shape iff the gap is non-empty —
                    # the materialization A/B in expand_deletes
                    materialize=wm0 + 1 <= lo - 1,
                )
            elif del_rows is not None:
                # Equality-delete markers (opt-in): ONE tiny parquet write
                # of (parent, del_seq, source) rides the batch's atomic
                # commit; no candidate scan, no tombstone rows, no phase B.
                markers_delta = table.prepare_markers(del_rows)
            # Hot keys need no spreading step: dedup_lww's map-side partial
            # aggregate collapses a key to one row per map task before its
            # shuffle (SURVEY §2.7 X4).
            prepared = table.prepare_delta(
                dedup_lww(normalized, with_counts=True), job_id, batch_id
            )
            if markers_delta is not None:
                prepared["markers_delta"] = markers_delta
            return prepared, ((wm0, del_rows) if eager else None)

        def _gap_tombstones(batch_id: int, lo: int, hi: int):
            """Phase B of the two-phase cascade delete, run in the
            SEPARATE gap pool: a slim tombstone delta for children in the
            (wm, lo) gap — the batches that were still in flight when
            phase A captured its table snapshot (phase A's expand_deletes
            covers the table + the batch's own children inside the main
            prepare).  Waits first on the batch's own prepare future for
            its cascade context (watermark, parent deletes), then on the
            gap batches' prepare futures (their PREPARES, not commits).
            Gap-pool tasks wait only on MAIN-pool futures, and main-pool
            tasks never wait on anything — so the wait graph is bipartite
            and acyclic (no deadlock at any pool size), and the side jobs
            of different delete batches run concurrently instead of
            chaining through prepare futures.

            The finished prepares' delta FILES are the candidate source —
            already normalized, exploded and LWW-deduped — so phase B is a
            projected parquet scan of ≲ max_inflight batches + one join
            against the delete parents + one small delta write, never a
            re-normalize.  (The r3 design re-normalized the gap inside
            each pipelined prepare; with deletes in every batch that cost
            >2.4× plain ingest.)  Reading a prepared-but-uncommitted delta
            is safe because this batch COMMITS only after those batches do
            (ordered commits), so its tombstones never outlive their
            sources.  The log-slice fallback below covers only a range not
            prepared by this run (force/overlap replays); a failed gap
            prepare fails this task too, and the batch never commits,
            because its commit re-raises that earlier failure first.
            Returns a prepared-delta dict that commit merges into
            the batch's atomic commit unit, or None — without a Spark job
            — when the batch has no eager deletes or the gap is empty.
            Tombstones skip LWW entirely (shuffle-free): duplicates settle
            at read-resolve by (_commit_seq, D-rank, _row_id)."""
            cascade = futs[batch_id].result()[1]
            if cascade is None:
                return None
            wm, del_rows = cascade
            if wm + 1 > lo - 1:
                return None
            reused: list[str] = []
            pend_ranges: list[tuple[int, int]] = []
            for b in range((wm + 1) // batch_width, batch_id):
                b_lo = max(wm + 1, b * batch_width)
                b_hi = min(lo - 1, (b + 1) * batch_width - 1)
                if b_hi < b_lo:
                    continue
                f = futs.get(b)
                if f is not None:  # blocks on phase A only
                    reused.extend(table._abs(f.result()[0]["files"]))
                elif pend_ranges and pend_ranges[-1][1] + 1 == b_lo:
                    pend_ranges[-1] = (pend_ranges[-1][0], b_hi)
                else:
                    pend_ranges.append((b_lo, b_hi))
            parts = []
            if reused:
                d = spark.read.parquet(*reused)
                parts.append(
                    d.where(~F.col("_deleted")).select(
                        "doc_id", "kind", "array_index", "parent_doc_id",
                        F.col("_commit_seq").alias("child_seq"),
                    )
                )
            for g_lo, g_hi in pend_ranges:
                parts.append(
                    adapter.normalize(
                        slice_change_log(log_df, g_lo, g_hi, log_part_width),
                        use_arrow_udf=use_arrow_udf,
                    )
                    .where(F.col("op") != "D")
                    .select(
                        "doc_id", "kind", "array_index", "parent_doc_id",
                        F.col("commit_seq").alias("child_seq"),
                    )
                )
            if not parts:
                return None
            cand = parts[0]
            for p in parts[1:]:
                cand = cand.unionByName(p)
            # delete parents of THIS batch as prefetched: collected rows
            # (broadcast, no log re-scan) or a mass delete's DataFrame
            # over the raw log slice (a shuffle join).  The counts column
            # keeps exact events_read semantics without an LWW pass here.
            tombs = cascade_tombstone_rows(cand, del_rows).withColumn(
                "_n_events", F.lit(1).cast("long")
            )
            # coalesce keeps the slim delta at a few files instead of one
            # per gap-scan partition
            return table.prepare_delta(tombs.coalesce(4), job_id, batch_id)

        # Pipelined execution (the Spark analog of the reference's staged
        # collector→workers→sink pipeline, loader/service.go:82-97): delta
        # PREPARATION for up to ``max_inflight`` batches runs concurrently —
        # MoR delta writes are independent — while snapshot COMMITS stay
        # strictly in batch order (exactly-once and watermark monotonicity
        # live in the commit).  This hides per-batch driver latency behind
        # the next batches' distributed compute.
        work = [
            (batch_id, lo, hi)
            for batch_id, lo, hi in batches
            if force or not table.is_applied(job_id, batch_id)
        ]
        skipped = len(batches) - len(work)
        # which batches delete is known only inside their prepares, so an
        # eager cascade run gives every batch a gap task
        gap_tasks = (cascade_mode == "eager"
                     and getattr(adapter, "cascade_deletes", False))

        from concurrent.futures import ThreadPoolExecutor

        def _commit_one(batch_id: int, lo: int, hi: int, prepared: dict) -> None:
            nonlocal applied, ev_read, ev_applied, dels
            gf = gap_futs.get(batch_id)
            if gf is not None:
                supp = gf.result()
                if supp is not None:
                    prepared = LakehouseTable.merge_prepared(prepared, supp)
            m = table.commit_delta(
                prepared, job_id, batch_id, seq_from=lo, seq_to=hi, force=force
            )
            manifests.append(m)
            applied += 1
            ev_read += m["events_read"]
            ev_applied += m["events_applied"]
            dels += m["deletes_applied"]
            if verbose:
                print(
                    f"[{job_id}] batch {batch_id} seq[{lo},{hi}] "
                    f"read={m['events_read']} applied={m['events_applied']} "
                    f"snapshot=v{m['snapshot_version']}"
                )

        # futs is CLOSED OVER by _gap_tombstones, so the dict must exist
        # before the first submit — fill it incrementally, never via a
        # comprehension assigned after.  Phase-B (gap) tasks live in
        # their OWN pool (see _gap_tombstones for the wait graph).
        futs: dict = {}
        gap_futs: dict = {}
        with ThreadPoolExecutor(max_workers=max(1, max_inflight)) as pool, \
                ThreadPoolExecutor(max_workers=max(2, max_inflight)) as gap_pool:
            # Each task carries the caller's job tags and local
            # properties (job group, description) into its pool thread,
            # so cancelJobGroup stops the batch's write jobs and the UI
            # attributes them.  One wrap per task: a wrap's property
            # copy is shared by every thread that runs it, and Spark
            # records each running query's execution id in it.
            def inherit(f):
                return inheritable_thread_target(spark)(f)

            for b, lo, hi in work:
                futs[b] = pool.submit(inherit(_prepare), b, lo, hi)
                if gap_tasks:
                    gap_futs[b] = gap_pool.submit(
                        inherit(_gap_tombstones), b, lo, hi
                    )
            try:
                for batch_id, lo, hi in work:
                    if stop_requested is not None and stop_requested():
                        break  # graceful: last commit is the resume point
                    _commit_one(batch_id, lo, hi, futs[batch_id].result()[0])
            finally:
                for f in futs.values():
                    f.cancel()
                for f in gap_futs.values():
                    f.cancel()

        wall = time.monotonic() - t0
        return RunResult(
            job_id,
            len(batches),
            applied,
            skipped,
            ev_read,
            ev_applied,
            dels,
            wall,
            manifests,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(_shuf_prev))
