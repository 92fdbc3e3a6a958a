"""Multi-connection sync daemon — the reference's gocron scheduler
(cmd/dlt/commands/sync.go:91-148): ONE process drives every configured
connection, each on its own schedule (a fixed interval or a 5-field
cron expression), with a GLOBAL single-flight guard so at most one
load runs at a time (the reference wraps each job in a shared mutex;
here the tick loop is single-threaded, which is the same guarantee
with less machinery — Spark-level parallelism lives INSIDE a run via
the runner's pipelined prepares, not across connections).

A connection that is due while another run is in progress simply runs
next (single-flight means deferred, never skipped-forever: due-ness is
re-evaluated every tick).  Per-connection job_id = the connection name,
so each table's manifest watermark/replay-guard is independent and the
daemon is crash-safe: on restart every connection resumes from its own
watermark.

Cron support is the standard 5-field subset (minute hour day-of-month
month day-of-week; ``*``, ``*/n``, ``a-b``, lists), evaluated at
minute granularity in local time — each matching minute fires at most
once, and a matching minute that ELAPSES while a long single-flight
run holds the loop is fired late (one coalesced catch-up run for the
whole missed span), so cron schedules get the same deferred-never-
skipped guarantee as interval schedules.  An ``interval_secs``
schedule needs no wall-clock alignment and is what the tests use.

Every run — the daemon's and the CLI's ``load`` — is ``run_connection``
of one (source, destination, connection) triple.  The CLI's ``sync`` is
this daemon over a one-connection config.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import SparkSession

from dlt_spark import storage
from dlt_spark.config import (
    Config,
    ConnectionCfg,
    DestinationCfg,
    SourceCfg,
    all_connections,
    get_connection_details,
)
from dlt_spark.events import EventLog
from dlt_spark.plans.runner import RunResult, run_incremental


def _cron_field_matches(spec: str, value: int) -> bool:
    for part in spec.split(","):
        if part == "*":
            return True
        if part.startswith("*/"):
            if value % int(part[2:]) == 0:
                return True
        elif "-" in part:
            lo, hi = part.split("-", 1)
            if int(lo) <= value <= int(hi):
                return True
        elif part.isdigit() and int(part) == value:
            return True
    return False


def cron_matches(expr: str, t: time.struct_time) -> bool:
    """True when the 5-field ``expr`` matches the local minute ``t``.
    day-of-month and day-of-week combine with OR when both are
    restricted (the POSIX cron rule)."""
    fields = expr.split()
    if len(fields) != 5:
        raise ValueError(f"cron expression needs 5 fields: {expr!r}")
    minute, hour, dom, month, dow = fields
    if not (
        _cron_field_matches(minute, t.tm_min)
        and _cron_field_matches(hour, t.tm_hour)
        and _cron_field_matches(month, t.tm_mon)
    ):
        return False
    dom_ok = _cron_field_matches(dom, t.tm_mday)
    dow_ok = _cron_field_matches(dow, (t.tm_wday + 1) % 7)  # cron: 0=Sun
    if dom != "*" and dow != "*":
        return dom_ok or dow_ok
    return dom_ok and dow_ok


def cron_due(cron: str, st: "_ConnState", now: float) -> bool:
    """Whether a cron-scheduled connection is due at wall-clock ``now``.

    Evaluates EVERY minute elapsed since the last evaluation, not just
    the current one: a long single-flight run that spans a matching
    minute defers the fire (one coalesced catch-up via mark_cron_ran)
    instead of skipping it forever.  Backlog capped at one day so a
    resumed laptop doesn't replay a week.  Mutates ``st.last_cron_check``
    past non-matching minutes (pure bookkeeping; a match is consumed by
    mark_cron_ran after the run completes)."""
    minute = int(now // 60)
    if st.last_cron_check is None:
        st.last_cron_check = minute - 1
    start = max(st.last_cron_check + 1, minute - 1440)
    for m in range(start, minute + 1):
        if cron_matches(cron, time.localtime(m * 60)):
            return True
    st.last_cron_check = minute
    return False


def mark_cron_ran(st: "_ConnState", now: float) -> None:
    """Consume the whole elapsed span (coalesced catch-up): every
    matching minute up to ``now`` fired via the run that just ended."""
    st.last_cron_check = int(now // 60)


def run_connection(
    spark: SparkSession, src: SourceCfg, dst: DestinationCfg,
    conn: ConnectionCfg, **run_kw,
) -> tuple[RunResult, str]:
    """One run of a connection, ``job_id`` = its name: resolve the log
    and table through the storage providers (their Hadoop conf lands on
    the session) and map the triple onto ``run_incremental``.
    ``run_kw`` carries further ``run_incremental`` keywords (a replay's
    bounds, ``force``, the stop probe).  Returns the run's result and
    the resolved table path."""
    table = storage.resolve(dst.table, spark)
    res = run_incremental(
        spark, storage.resolve(src.log, spark), table, job_id=conn.name,
        batch_width=conn.batch_width, n_buckets=dst.n_buckets,
        use_arrow_udf=conn.use_arrow_udf, schema=src.schema,
        log_part_width=src.log_part_width, max_inflight=conn.max_inflight,
        cascade_mode=conn.cascade_mode, **run_kw,
    )
    return res, table


@dataclass
class _ConnState:
    next_due: float = 0.0  # monotonic seconds (interval schedule)
    last_cron_check: int | None = None  # last epoch-minute EVALUATED
    runs: int = 0
    events_read: int = 0


def run_sync_daemon(
    spark: SparkSession,
    cfg: Config,
    connection_names: list[str] | None = None,
    stop_requested=None,
    max_runs_per_connection: int = 0,
    tick_secs: float = 0.25,
    events_file: str | None = None,
    metrics_dir: str | None = None,
    metrics_server=None,
    on_round=None,
) -> dict[str, dict]:
    """Drive every (or the named) connection until stopped.

    - ``stop_requested`` (callable → bool) is checked between runs AND
      passed into each run, so a signal stops at a committed batch
      boundary (same contract as single-connection sync).
    - ``max_runs_per_connection`` > 0 exits once every connection has
      run that many times (tests / bounded catch-ups).
    - ``metrics_dir``: one textfile-collector .prom file per connection
      (``<dir>/<name>.prom``) — per-connection counters, one scrape dir.
    - ``metrics_server``: a started ``metrics.MetricsHTTPServer``; the
      daemon registers one writer per connection on it, so ``GET
      /metrics`` serves live counters (utils/prometheus.go analog).
      Composes with ``metrics_dir`` (same writers publish both ways).
    - ``on_round`` (callable(name, RunResult, table path)): per-run
      hook (the CLI prints a JSON line from it; ``sync`` also records
      its metrics file).

    Returns per-connection summary counters.
    """
    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.metrics import MetricsWriter

    conns = all_connections(cfg)
    if connection_names:
        missing = set(connection_names) - {c.name for c in conns}
        if missing:
            raise KeyError(f"unknown connection(s): {sorted(missing)}")
        conns = [c for c in conns if c.name in connection_names]

    state: dict[str, _ConnState] = {c.name: _ConnState() for c in conns}
    metrics: dict[str, MetricsWriter] = {}
    if metrics_dir or metrics_server is not None:
        import os

        metrics = {
            c.name: MetricsWriter(
                os.path.join(metrics_dir, f"{c.name}.prom")
                if metrics_dir else None,
                job_id=c.name,
            )
            for c in conns
        }
        if metrics_server is not None:
            for w in metrics.values():
                metrics_server.register(w)
    ev = EventLog(events_file)

    def _due(conn, st: _ConnState) -> bool:
        if conn.cron:
            return cron_due(conn.cron, st, time.time())
        return time.monotonic() >= st.next_due

    def _mark_ran(conn, st: _ConnState) -> None:
        if conn.cron:
            mark_cron_ran(st, time.time())
        else:
            st.next_due = time.monotonic() + float(conn.interval_secs)

    ev.sync_started(
        "daemon", ",".join(c.name for c in conns), None, None,
        connections=len(conns),
    )
    while True:
        if stop_requested is not None and stop_requested():
            break
        ran_any = False
        for conn in conns:
            st = state[conn.name]
            if max_runs_per_connection and st.runs >= max_runs_per_connection:
                continue
            if not _due(conn, st):
                continue
            # SINGLE-FLIGHT: this loop is the only place runs start, and
            # it runs them serially — the reference's global mutex.
            res, table = run_connection(
                spark, *get_connection_details(cfg, conn.name),
                stop_requested=stop_requested,
            )
            _mark_ran(conn, st)
            st.runs += 1
            st.events_read += res.events_read
            ran_any = True
            every = conn.maintain_every_runs
            if every and st.runs % every == 0:
                # Scheduled maintenance tick (still single-flight: runs
                # inside the serial loop) — the same sequence as the
                # `maintain` CLI, see LakehouseTable.maintain.
                LakehouseTable.load(spark, table).maintain()
            if res.batches_applied:
                ev.sync_finished(res, connection=conn.name, round=st.runs)
            if conn.name in metrics:
                metrics[conn.name].record_run(
                    res, LakehouseTable.load(spark, table)
                )
            if on_round is not None:
                on_round(conn.name, res, table)
        if max_runs_per_connection and all(
            s.runs >= max_runs_per_connection for s in state.values()
        ):
            break
        if not ran_any:
            time.sleep(tick_secs)
    return {
        n: {"runs": s.runs, "events_read": s.events_read}
        for n, s in state.items()
    }
