"""The driver side of one steady cascade tick: which driver→JVM paths a
one-batch ``exploded_cascade`` tick takes, and what it costs to plan.

A tick of a few thousand events is dominated by fixed costs on the
Spark driver's Python/JVM boundary, so these tests lock the boundary itself:
no pickled-rows DataFrame (it starts Python workers when it executes),
a Py4J round-trip budget for building one tick's plan and the read
that follows it, and the caller's job group on every job the tick
starts."""

from __future__ import annotations

import contextlib
import threading

import py4j.clientserver
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from dlt_spark.adapters import get_adapter
from dlt_spark.lakehouse import LakehouseTable
from dlt_spark.operators.dedup import dedup_lww
from dlt_spark.plans.runner import _parent_deletes, run_incremental
from dlt_spark.schemas import MANIFEST_SCHEMA
from dlt_spark.sources.changelog import (
    open_change_log,
    slice_change_log,
    write_change_log,
)
from dlt_spark.sources.generator import generate_change_log

_PART = 500
_BATCH = 750
_BUCKETS = 32


@pytest.fixture()
def cascade_table(spark, tmp_path):
    """(log, table path): an exploded change log of 3,000 events with
    ~10% deletes, and a table that has applied its first two batches,
    so the next one-batch tick (seq 1500-2249) has parent deletes whose
    children are stored."""
    ev = generate_change_log(spark, 3_000, n_keys=150, seed=91,
                             version_mix=(1.0, 0.0, 0.0))
    exp = ev.withColumn(
        "payload",
        F.when(F.col("op") != "D", F.to_json(F.struct(
            F.slice(F.col("tokens"), 1, 3).alias("block"),
            F.array(F.slice(F.col("tokens"), 4, 4)).alias("txs"),
        ))),
    ).withColumn("tokens", F.lit(None).cast("array<int>"))
    log = str(tmp_path / "log")
    write_change_log(exp, log, part_width=_PART)
    tbl = str(tmp_path / "tbl")
    run_incremental(spark, log, tbl, schema="exploded_cascade",
                    seq_from=0, seq_to=1_499, batch_width=_BATCH,
                    n_buckets=_BUCKETS, log_part_width=_PART)
    return log, tbl


def _tick(spark, log, tbl):
    return run_incremental(spark, log, tbl, schema="exploded_cascade",
                           seq_from=1_500, seq_to=2_249, batch_width=_BATCH,
                           n_buckets=_BUCKETS, log_part_width=_PART)


def test_cascade_tick_builds_no_pickled_rows_frame(spark, cascade_table,
                                                   monkeypatch):
    """The collected delete parents reach the broadcast side through
    Arrow (a JVM LocalTableScan), not ``_createFromLocal``: a
    pickled-rows frame opens the write job with a Python-worker stage
    that only unpickles them."""
    log, tbl = cascade_table

    def refuse(*a, **kw):
        raise AssertionError("a tick built a pickled-rows DataFrame")

    monkeypatch.setattr(SparkSession, "_createFromLocal", refuse)
    res = _tick(spark, log, tbl)
    assert res.batches_applied == 1 and res.deletes_applied > 0
    # the manifest tail and an empty log window take the same path
    t = LakehouseTable.load(spark, tbl)
    assert t.manifests_df().count() == 3
    assert open_change_log(spark, log, 10**9, 10**9 + 1, _PART).count() == 0


def test_empty_frames_start_no_tasks(spark, cascade_table):
    """A file-less table read and an empty log window plan zero
    partitions: no task, hence no Python worker, when they execute."""
    log, tbl = cascade_table
    t = LakehouseTable.load(spark, tbl)
    for df in (t._raw([]), open_change_log(spark, log, 10**9, 10**9, _PART)):
        rdd = df._jdf.queryExecution().executedPlan().execute()
        assert rdd.getNumPartitions() == 0
        assert "PythonRDD" not in rdd.toDebugString()
    assert t._raw([]).schema.fieldNames()[-1] == "_bucket"
    assert t.manifests_df().schema == MANIFEST_SCHEMA


@contextlib.contextmanager
def _py4j_calls():
    """Count this thread's driver→JVM round trips
    (``ClientServerConnection.send_command`` calls) inside the block."""
    counted = {"calls": 0}
    me = threading.get_ident()
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        # py4j's finalizer thread releases garbage-collected JVM
        # references ("m" commands) at GC-dependent times: not counted
        if threading.get_ident() == me and not command.startswith("m\n"):
            counted["calls"] += 1
        return send(self, command)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(py4j.clientserver.ClientServerConnection, "send_command",
                   counting)
        yield counted


def test_tick_plan_build_py4j_budget(spark, cascade_table):
    """Driver→JVM round trips to BUILD, without executing, one tick's
    plan: normalize, the cascade expansion with collected parents, and
    the LWW dedup.  The bound is ~1.25x the 689 counted when it was set.
    Before that, the same plan took 1,779: call-site capture on every
    Column call, one literal Column per pruned bucket and a pickled-rows
    broadcast side (PySpark 4.1.2)."""
    log, tbl = cascade_table
    table = LakehouseTable.load(spark, tbl)
    events = slice_change_log(
        open_change_log(spark, log, 1_500, 2_249, _PART), 1_500, 2_249, _PART
    )
    del_rows = _parent_deletes(events, table.n_buckets).collect()
    assert len({r["b"] for r in del_rows}) > 4  # a real bucket prune set
    adapter = get_adapter("exploded_cascade")

    with _py4j_calls() as n:
        normalized = adapter.normalize(events)
        out = dedup_lww(
            adapter.expand_deletes(normalized, table, del_rows=del_rows),
            with_counts=True,
        )
    assert "doc_id" in out.columns
    assert n["calls"] <= 860, f"{n['calls']} Py4J round trips to plan one tick"


def test_read_plan_build_py4j_budget(spark, cascade_table):
    """Driver→JVM round trips to BUILD, without executing, one read() of
    the tick-fed table: the LWW resolve of its pending L0 deltas behind
    the exchange sized from their rows.  The projection, the LWW struct
    and the tombstone filter are SQL strings; the bound is ~1.25x the
    71 counted when it was set.  Before that, the same plan took 183: a
    Column per projected column and per LWW struct field, and a JVM
    parse per evolved column's type (PySpark 4.1.2)."""
    _, tbl = cascade_table
    table = LakehouseTable.load(spark, tbl)
    assert table._pending()[0] and not table._snap["buckets"]
    with _py4j_calls() as n:
        df = table.read()
    assert "doc_id" in df.columns
    assert n["calls"] <= 90, f"{n['calls']} Py4J round trips to plan one read"


def test_tick_jobs_carry_the_callers_job_group(spark, cascade_table):
    """Every Spark job of a one-batch tick, including the write jobs
    the prepare pool runs, is in the job group the caller set, so
    ``cancelJobGroup`` reaches them and the UI attributes them."""
    log, tbl = cascade_table
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("one-tick", "a one-batch cascade tick")
    try:
        res = _tick(spark, log, tbl)
    finally:
        sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()
    assert res.batches_applied == 1 and res.deletes_applied > 0
    grouped = set(tracker.getJobIdsForGroup("one-tick"))
    ungrouped = set(tracker.getJobIdsForGroup(None)) - before
    assert grouped
    assert not ungrouped, f"jobs {sorted(ungrouped)} ran outside the group"
