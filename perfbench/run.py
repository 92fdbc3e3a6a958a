"""CDC engine benchmark: one command, one named workload, one seed.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run it from the repository root.  It starts one Spark session at
``local[<cpus>]`` and generates the workload's change log from the seed
(``gen.py``).  It drives the engine only through ``run_incremental`` and
``LakehouseTable.load``/``read``/``changes_between``, and leaves every
engine setting at its default: it passes only the schema, the sequence
range, ``batch_width`` and ``log_part_width``.  It then checks the final
table against an independent DuckDB fold of the log (``gate.py``) and
prints every metric by name and unit.  The last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
exit code is 1 when the gate finds a mismatch or an operation fails.

Workloads, and why each exists:

- ``backfill``: a catch-up replay into a fresh table of a Zipf-skewed,
  duplicated (5%), out-of-order tokens log whose payloads are v1/v2/v3
  at .6/.25/.15.  It is bound by data volume: normalize, the dedup
  exchange, pipelined delta writes and the early and final L0->L1 folds.
  It runs no cascade.  After the replay the converged table is read and
  its change feed consumed once untimed, to warm the read paths on a
  table of that shape, then read ``READS_AFTER_REPLAY`` times, each read
  followed by ``CHANGES_PER_READ`` change-feed reads.
- ``cascade_sync``: the deployment shape on the ``exploded_cascade``
  schema.  A preloaded table takes one-batch ticks with about 10% parent
  deletes each, and every tick is followed by one ``read()`` and one
  ``changes_between`` for that tick's commit.  Per-tick fixed costs, the
  fold stall every ``max_deltas``-th tick, the read path, the CDC-out
  feed and the cascade machinery (delete prefetch, ``expand_deletes``,
  the gap pool) dominate.  ``backfill`` bypasses the cascade, so its
  prediction for a cascade-only change is "no change".

``--seconds`` bounds the timed section: units (one replay, or one round
of ``ROUND_TICKS`` ticks) repeat until it has elapsed, up to the
workload's ``max_units``.  With ``--trace 1`` the timed section runs
three times on identical input: untraced, traced (the layer functions
wrapped by ``spans.py``), untraced again.  The run then prints the
per-layer metrics, the per-layer self times, and the tracing overhead:
traced minus the mean of the two untraced passes.

Working files live under ``.perfbench_work/`` in the current directory
and are removed when the run ends, also when it fails; the traced run
writes its spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))

# The timed ticks of cascade_sync.  The preload commits PRELOAD_BATCHES
# L0 deltas and the warm-up one more, so with the default L0 commit cap
# (LakehouseTable max_deltas = 8) the commit-path fold lands on the
# second timed tick.  Every run times the same mix: one plain tick, the
# fold tick, and four plain ticks after the fold, so the tick and read
# medians rest on a table that has been through a fold, the state a
# long-running table is in.
ROUND_TICKS = 6
PRELOAD_BATCHES = 5

# backfill reads its converged table this many times and consumes its
# change feed CHANGES_PER_READ times after each read, so their medians
# do not rest on a few samples per run.
READS_AFTER_REPLAY = 3
CHANGES_PER_READ = 3

# Sized so that a run takes about a minute on a 4-core host, where the
# JVM start, the cold first replay and the warm-up already take ~20 s.
WORKLOADS = {
    "backfill": dict(
        events=40_000, keys=5_000, zipf_s=1.0, tok_range=(32, 160),
        batches=8, max_units=3,
    ),
    "cascade_sync": dict(
        tick_events=2_000, zipf_s=0.6, tok_range=(4, 16), max_units=1,
    ),
}

E2E = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "tick_p50_s": "s",
    "read_p50_s": "s",
    "changes_p50_s": "s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "changelog.open_s": "s",
    "changelog.open_calls": "count",
    "normalize.plan_s": "s",
    "dedup.plan_s": "s",
    "dedup.collapse_ratio": "ratio",
    "lakehouse.prepare_delta_s": "s",
    "lakehouse.commit_delta_s": "s",
    "lakehouse.commit_delta_max_s": "s",
    "lakehouse.fold_s": "s",
    "lakehouse.fold_pending_calls": "count",
    "lakehouse.bytes_written": "bytes",
    "lakehouse.files_written": "count",
    "lakehouse.write_amp": "ratio",
    "lakehouse.read_plan_s": "s",
    "lakehouse.read_input_files": "count",
    "lakehouse.changes_plan_s": "s",
    "adapters.expand_deletes_calls": "count",
    "lakehouse.prepare_markers_calls": "count",
    "cascade.tombstones": "count",
    "runner.run_s": "s",
    "runner.self_s": "s",
    "runner.commit_wait_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
}


# ----------------------------------------------------------------------
# host contamination record (a diagnostic, never a gate)
# ----------------------------------------------------------------------
def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class HostSample:
    """/proc/stat steal share and load average around a timed section."""

    def __init__(self):
        self.cpu0, self.load0 = _cpu_times(), _loadavg()

    def done(self) -> dict:
        d = [b - a for a, b in zip(self.cpu0, _cpu_times())]
        total = sum(d[:8]) or 1
        return {
            "steal_pct": round(100.0 * d[7] / total, 2),
            "busy_pct": round(100.0 * (total - d[3] - d[4]) / total, 1),
            "load1_start": self.load0,
            "load1_end": _loadavg(),
        }


# ----------------------------------------------------------------------
# run context and helpers
# ----------------------------------------------------------------------
class Ctx:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.cfg = WORKLOADS[args.workload]
        self.log = os.path.join(work, "log")
        self.attempted = 0
        self.failed = 0
        self.diag: dict = {}
        self.tracer = None
        self.spark = None

    def op(self, fn) -> float:
        """Run one counted operation; return its wall time.  A failure
        is counted and re-raised (the run's state is then unknown)."""
        self.attempted += 1
        t0 = time.monotonic()
        try:
            fn()
        except Exception:
            self.failed += 1
            raise
        return time.monotonic() - t0

    def run_span(self):
        if self.tracer is not None and self.tracer.enabled:
            return self.tracer.run_span("runner.run")
        return nullcontext()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _parquet_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def _log_bytes(log: str, lo: int, hi: int, part_width: int) -> int:
    """Bytes of the log partitions a run over [lo, hi] opens."""
    total = 0
    for p in range(lo // part_width, hi // part_width + 1):
        d = os.path.join(log, f"seq_part={p}")
        if os.path.isdir(d):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
    return total


def _run(ctx: Ctx, tbl: str, lo: int, hi: int, **shape) -> dict:
    """One timed ``run_incremental`` call and its sample counters."""
    from dlt_spark.plans.runner import run_incremental

    res = {}

    def call():
        with ctx.run_span():
            res["r"] = run_incremental(ctx.spark, ctx.log, tbl, seq_from=lo, seq_to=hi,
                                       **shape)

    wall = ctx.op(call)
    r = res["r"]
    return {"run": [wall], "events": r.events_read, "applied": r.events_applied,
            "deletes": r.deletes_applied,
            "log_bytes": _log_bytes(ctx.log, lo, hi, shape["log_part_width"])}


def _read_and_changes(ctx: Ctx, tbl: str, v0: int, v1: int, changes: int = 1) -> dict:
    """Timed: open + ``read()`` to a noop sink, then the change feed of
    commits (v0, v1] to a noop sink, ``changes`` times."""
    from dlt_spark.lakehouse import LakehouseTable

    held = {}

    def read():
        held["t"] = LakehouseTable.load(ctx.spark, tbl)
        held["df"] = held["t"].read()
        _noop(held["df"])

    t_read = ctx.op(read)
    t_chg = [ctx.op(lambda: _noop(held["t"].changes_between(v0, v1)))
             for _ in range(changes)]
    return {"read": [t_read], "changes": t_chg,
            "input_files": [len(held["df"].inputFiles())]}


def _merge(samples: list[dict]) -> dict:
    out: dict = {}
    for s in samples:
        for k, v in s.items():
            if isinstance(v, list):
                out.setdefault(k, []).extend(v)
            elif isinstance(v, dict):
                out.setdefault(k, {}).update(v)
            else:
                out[k] = out.get(k, 0) + v
    return out


# ----------------------------------------------------------------------
# workloads: __init__ builds the input (the fixture), warmup() runs
# untimed, unit() runs one timed unit and returns its samples, reset()
# restores the post-warm-up state so a later pass repeats the same work
# ----------------------------------------------------------------------
class Backfill:
    def __init__(self, ctx: Ctx):
        import gen

        self.ctx, c = ctx, ctx.cfg
        self.seq_hi = c["events"] - 1
        self.shape = dict(batch_width=c["events"] // c["batches"],
                          log_part_width=c["events"] // c["batches"] // 2)
        ev = gen.tokens_events(ctx.args.seed, 0, c["events"], c["keys"],
                               zipf_s=c["zipf_s"], tok_range=c["tok_range"])
        gen.write_log(ev, ctx.log, self.shape["log_part_width"], ctx.args.seed)
        self.table = None

    def warmup(self) -> None:
        """Untimed replay of the log's first batch with a read and a
        change-feed read.  The first L0->L1 fold of the process stays in
        the timed replay: a catch-up job is a fresh process, so its users
        pay that cold start too."""
        from dlt_spark.plans.runner import run_incremental

        tbl = os.path.join(self.ctx.work, "warmup")
        run_incremental(self.ctx.spark, self.ctx.log, tbl, seq_from=0,
                        seq_to=self.shape["batch_width"] - 1, **self.shape)
        _read_and_changes(self.ctx, tbl, 0, 1)
        shutil.rmtree(tbl)

    def reset(self) -> None:
        pass  # every unit replays into a fresh table

    def unit(self, i: int) -> dict:
        from dlt_spark.lakehouse import LakehouseTable

        ctx = self.ctx
        if self.table is not None:  # keep only the newest (gated) table
            shutil.rmtree(self.table)
        self.table = os.path.join(ctx.work, f"table{i}")
        out = _run(ctx, self.table, 0, self.seq_hi, **self.shape)
        v1 = LakehouseTable.load(ctx.spark, self.table).version
        _read_and_changes(ctx, self.table, 0, v1)  # untimed warm-up
        out.update(_merge([_read_and_changes(ctx, self.table, 0, v1, CHANGES_PER_READ)
                           for _ in range(READS_AFTER_REPLAY)]))
        out["written"] = _parquet_files(self.table)
        return out


class CascadeSync:
    """Preloaded table + one-batch ticks, each followed by a read and a
    change-feed read of that tick's commit."""

    schema = "exploded_cascade"

    def __init__(self, ctx: Ctx):
        import gen
        import pyarrow as pa

        from dlt_spark.plans.runner import run_incremental

        self.ctx, c = ctx, ctx.cfg
        seed, self.tick = ctx.args.seed, c["tick_events"]
        # the preload is whole ticks wide, so tick batch ids stay aligned
        self.pre = PRELOAD_BATCHES * self.tick
        n_ticks = 1 + ROUND_TICKS * c["max_units"]
        # every parent once, then ticks over the same parent key space
        preload = gen.exploded_events(seed, 0, self.pre, self.pre, zipf_s=None,
                                      delete_frac=0.0, update_frac=0.0,
                                      tok_range=c["tok_range"])
        ticks = gen.exploded_events(seed, self.pre, self.tick * n_ticks, self.pre,
                                    zipf_s=c["zipf_s"], tok_range=c["tok_range"],
                                    stream=1)
        self.shape = dict(schema=self.schema, batch_width=self.tick,
                          log_part_width=self.tick)
        gen.write_log(pa.concat_tables([preload, ticks]), ctx.log, self.tick, seed)
        self.table = os.path.join(ctx.work, "table")
        self.saved = os.path.join(ctx.work, "table.warm")
        self.next_tick = 0
        self.seq_hi = self.pre - 1
        t0 = time.monotonic()
        run_incremental(ctx.spark, ctx.log, self.table, seq_from=0, seq_to=self.seq_hi,
                        **self.shape)
        ctx.diag["preload_s"] = round(time.monotonic() - t0, 3)

    def warmup(self) -> None:
        """One untimed tick with its read and change feed."""
        self._tick()
        shutil.copytree(self.table, self.saved)
        self.warm = (self.next_tick, self.seq_hi)

    def reset(self) -> None:
        shutil.rmtree(self.table)
        shutil.copytree(self.saved, self.table)
        self.next_tick, self.seq_hi = self.warm

    def _tick(self) -> dict:
        from dlt_spark.lakehouse import LakehouseTable

        ctx = self.ctx
        lo = self.pre + self.tick * self.next_tick
        hi = lo + self.tick - 1
        v0 = LakehouseTable.load(ctx.spark, self.table).version
        out = _run(ctx, self.table, lo, hi, **self.shape)
        self.next_tick += 1
        self.seq_hi = hi
        v1 = LakehouseTable.load(ctx.spark, self.table).version
        out.update(_read_and_changes(ctx, self.table, v0, v1))
        return out

    def unit(self, i: int) -> dict:
        before = _parquet_files(self.table)
        out = _merge([self._tick() for _ in range(ROUND_TICKS)])
        out["written"] = {p: n for p, n in _parquet_files(self.table).items()
                          if p not in before}
        return out


# ----------------------------------------------------------------------
# timed passes and metrics
# ----------------------------------------------------------------------
def timed_pass(ctx: Ctx, wl, units: int | None = None) -> tuple[dict, int]:
    """Run units until ``--seconds`` elapse (or exactly ``units``)."""
    limit = ctx.cfg["max_units"] if units is None else units
    samples, t0 = [], time.monotonic()
    while len(samples) < limit:
        samples.append(wl.unit(len(samples)))
        if units is None and time.monotonic() - t0 >= ctx.args.seconds:
            break
    return _merge(samples), len(samples)


def e2e_metrics(ctx: Ctx, s: dict) -> dict:
    return {
        "setup_s": ctx.diag["setup_s"],
        "events_per_s": s["events"] / sum(s["run"]),
        "tick_p50_s": statistics.median(s["run"]),
        "read_p50_s": statistics.median(s["read"]),
        "changes_p50_s": statistics.median(s["changes"]),
    }


def per_layer_metrics(ctx: Ctx, s: dict, spark_counts: dict) -> dict:
    tr = ctx.tracer
    bytes_written = sum(s["written"].values())
    return {
        "session.get_spark_s": ctx.diag["setup_s"],
        "session.jvm_peak_rss_mb": _jvm_hwm_mb(ctx.spark),
        "changelog.open_s": tr.total("changelog.open"),
        "changelog.open_calls": tr.count("changelog.open"),
        "normalize.plan_s": tr.total("normalize"),
        "dedup.plan_s": tr.total("dedup"),
        "dedup.collapse_ratio": s["applied"] / max(1, s["events"]),
        "lakehouse.prepare_delta_s": tr.total("lakehouse.prepare_delta"),
        "lakehouse.commit_delta_s": tr.total("lakehouse.commit_delta"),
        "lakehouse.commit_delta_max_s": tr.longest("lakehouse.commit_delta"),
        "lakehouse.fold_s": tr.total("lakehouse.fold"),
        "lakehouse.fold_pending_calls": tr.count("lakehouse.fold_pending"),
        "lakehouse.bytes_written": bytes_written,
        "lakehouse.files_written": len(s["written"]),
        "lakehouse.write_amp": bytes_written / max(1, s["log_bytes"]),
        "lakehouse.read_plan_s": tr.median("lakehouse.read"),
        "lakehouse.read_input_files": statistics.median(s["input_files"]),
        "lakehouse.changes_plan_s": tr.median("lakehouse.changes"),
        "adapters.expand_deletes_calls": tr.count("adapters.expand_deletes"),
        "lakehouse.prepare_markers_calls": tr.count("lakehouse.prepare_markers"),
        "cascade.tombstones": s["deletes"],
        "runner.run_s": tr.total("runner.run"),
        "runner.self_s": tr.self_times().get("runner.run", (0, 0.0, 0.0))[2],
        "runner.commit_wait_s": tr.commit_wait(),
        **spark_counts,
    }


def _spark_jobs(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _spark_counts(spark, jobs: set[int]) -> dict:
    """Jobs, completed tasks and failed tasks of ``jobs`` (the status
    tracker works with the UI off)."""
    st = spark.sparkContext.statusTracker()
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = failed = 0
    for sid in stages:
        si = st.getStageInfo(sid)
        if si is not None:
            tasks += si.numCompletedTasks
            failed += si.numFailedTasks
    return {"spark.jobs": len(jobs), "spark.tasks": tasks, "spark.failed_tasks": failed}


def _jvm_hwm_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the gateway JVM."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


def run_gate(ctx: Ctx, wl) -> list[str]:
    from gate import Gate

    from dlt_spark.lakehouse import LakehouseTable

    t0 = time.monotonic()
    g = Gate(ctx.log, wl.seq_hi, cascade=isinstance(wl, CascadeSync))
    t = LakehouseTable.load(ctx.spark, wl.table)
    problems = g.compare(t.read(columns=["doc_id", "_commit_seq", "n_tok", "tokens"]).toArrow())
    ctx.diag["gate_live_rows"] = g.live_rows
    ctx.diag["gate_s"] = round(time.monotonic() - t0, 3)
    return problems


# ----------------------------------------------------------------------
# session lifetime
# ----------------------------------------------------------------------
def _start_spark(ctx: Ctx) -> None:
    from dlt_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    span = ctx.tracer.span("session.get_spark") if ctx.tracer is not None else nullcontext()
    t0 = time.monotonic()
    with span:
        spark = get_spark("perfbench", master=f"local[{cpus}]")
    ctx.diag["setup_s"] = time.monotonic() - t0
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit (it exits
    when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


# ----------------------------------------------------------------------
# main
# ----------------------------------------------------------------------
def _measure(ctx: Ctx, wl) -> tuple[dict, dict]:
    """The untimed warm-up, then the timed pass(es).  Returns the
    metrics to report and their units."""
    t0 = time.monotonic()
    wl.warmup()
    ctx.diag["warmup_s"] = round(time.monotonic() - t0, 3)
    ctx.attempted = ctx.failed = 0

    host = HostSample()
    s, units = timed_pass(ctx, wl)
    ctx.diag["host"] = host.done()
    ctx.diag["units"] = units
    ctx.diag["samples_s"] = {k: [round(x, 3) for x in s[k]] for k in ("run", "read", "changes")}
    e2e = e2e_metrics(ctx, s)
    if ctx.tracer is None:
        return e2e, E2E

    tr = ctx.tracer
    wl.reset()
    jobs0 = _spark_jobs(ctx.spark)
    host = HostSample()
    tr.enabled = True
    s, _ = timed_pass(ctx, wl, units)
    tr.enabled = False
    ctx.diag["host_traced"] = host.done()
    layers = per_layer_metrics(ctx, s, _spark_counts(ctx.spark, _spark_jobs(ctx.spark) - jobs0))
    traced = e2e_metrics(ctx, s)
    wl.reset()
    s, _ = timed_pass(ctx, wl, units)
    again = e2e_metrics(ctx, s)

    print("trace: per-layer spans (calls, total s, self s)")
    for name, (calls, tot, self_s) in sorted(tr.self_times().items()):
        print(f"  span {name:32s} {calls:6d} {tot:10.4f} {self_s:10.4f}")
    print("trace: overhead = traced - mean(untraced before, untraced after); it is"
          " unresolved unless the traced pass is worse than both untraced passes")
    for name, unit in E2E.items():
        if name == "setup_s":
            continue
        base = (e2e[name] + again[name]) / 2
        d = traced[name] - base
        worse = (traced[name] < min(e2e[name], again[name]) if name == "events_per_s"
                 else traced[name] > max(e2e[name], again[name]))
        print(f"  overhead {name} = {d:+.6g} {unit} ({100.0 * d / base:+.2f}%"
              f"{'' if worse else ', unresolved'}; untraced {e2e[name]:.6g}"
              f" then {again[name]:.6g}, traced {traced[name]:.6g})")
    out = os.path.join(os.getcwd(), ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"spans-{ctx.args.workload}-{ctx.args.seed}.json"), "w") as f:
        json.dump(tr.spans, f)
    return layers, PER_LAYER


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dlt_spark", "plans", "runner.py")):
        print("perfbench: run from the repository root (dlt_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # every scratch file of Python, the JVM and Spark stays in the work dir
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = \
        os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    ctx = Ctx(args, work)
    if args.trace:
        from spans import Tracer

        ctx.tracer = Tracer()
        for name in ctx.tracer.install():
            print(f"trace: {name} not found; its spans and metrics read 0")
    problems: list[str] = []
    metrics: dict = {}
    units: dict = E2E if not args.trace else PER_LAYER
    try:
        _start_spark(ctx)
        t0 = time.monotonic()
        wl = Backfill(ctx) if args.workload == "backfill" else CascadeSync(ctx)
        ctx.diag["fixture_s"] = round(time.monotonic() - t0, 3)
        metrics, units = _measure(ctx, wl)
        problems = run_gate(ctx, wl)
    except Exception:
        traceback.print_exc()
        problems.append("run raised; see traceback")
    finally:
        try:
            if ctx.spark is not None:
                _stop_spark(ctx.spark)
        finally:
            if ctx.tracer is not None:
                ctx.tracer.uninstall()
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass

    for k, v in ctx.diag.items():
        print(f"diag {k} = {v}")
    print(f"diag error_rate = {ctx.failed / max(1, ctx.attempted):.6g} "
          f"({ctx.failed}/{ctx.attempted} operations failed)")
    for p in problems:
        print(f"GATE FAILED: {p}")
    out = {}
    for name, value in metrics.items():
        print(f"metric {name} = {value:.6g} {units[name]}")
        out[name] = {"value": value, "unit": units[name]}
    correct = not problems and ctx.failed == 0 and len(out) == len(units)
    print(json.dumps({"correct": correct, "attempted": max(1, ctx.attempted),
                      "failed": ctx.failed, "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
