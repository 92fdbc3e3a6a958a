"""CLI wiring: `maintain` runs the daemon's maintenance sequence,
named-connection / flag settings reach run_incremental, and `sync` runs
through the sync daemon."""

from __future__ import annotations

import json
import signal

import pytest
from pyspark.sql import functions as F

from dlt_spark.cli import main
from dlt_spark.config import MAX_INFLIGHT, ConnectionCfg
from dlt_spark.lakehouse import LakehouseTable
from dlt_spark.plans.runner import RunResult, run_incremental
from dlt_spark.sources.changelog import write_change_log
from dlt_spark.sources.generator import generate_change_log


def _exploded_cascade_log(spark, path):
    ev = generate_change_log(spark, 1_200, n_keys=80, seed=21,
                             version_mix=(1.0, 0.0, 0.0))
    exp = ev.withColumn(
        "payload",
        F.when(F.col("op") != "D", F.to_json(F.struct(
            F.slice(F.col("tokens"), 1, 3).alias("block"),
            F.array(F.slice(F.col("tokens"), 4, 4)).alias("txs"),
        ))),
    ).withColumn("tokens", F.lit(None).cast("array<int>"))
    write_change_log(exp, path, part_width=300)


def test_cli_maintain_materializes_markers(spark, tmp_path, capsys):
    """CLI `maintain` on a markers-mode table converges it: no pending
    markers afterwards, and the state equals an eager-mode load."""
    log = str(tmp_path / "log")
    _exploded_cascade_log(spark, log)
    kw = dict(schema="exploded_cascade", batch_width=300, n_buckets=8,
              log_part_width=300)
    tbl, eager = str(tmp_path / "tbl"), str(tmp_path / "eager")
    run_incremental(spark, log, tbl, cascade_mode="markers", **kw)
    assert LakehouseTable.load(spark, tbl)._snap["markers"]
    run_incremental(spark, log, eager, **kw)

    assert main(["maintain", "--table", tbl, "--grace-secs", "0"]) == 0
    assert LakehouseTable.load(spark, tbl)._snap["markers"] == []

    def state(p):
        return sorted(
            (r["doc_id"], r["_commit_seq"], tuple(r["tokens"] or []))
            for r in LakehouseTable.load(spark, p).read().collect()
        )

    assert state(tbl) == state(eager)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["parents_materialized"] > 0 and out["compacted"] is True


@pytest.fixture
def captured_runs(monkeypatch):
    """Replace the run_incremental that scheduler.run_connection calls
    with a recorder of its kwargs; restore the signal handlers `sync`
    installs."""
    import dlt_spark.scheduler as scheduler

    calls = []

    def fake(spark, log, table, **kw):
        calls.append(kw)
        return RunResult(kw.get("job_id", "dlt"), 0, 0, 0, 0, 0, 0, 0.0)

    monkeypatch.setattr(scheduler, "run_incremental", fake)
    handlers = {s: signal.getsignal(s) for s in (signal.SIGINT, signal.SIGTERM)}
    yield calls
    for s, h in handlers.items():
        signal.signal(s, h)


def test_cli_connection_settings_reach_run_incremental(
    spark, tmp_path, captured_runs
):
    cfg = tmp_path / "dlt.json"
    cfg.write_text(json.dumps({
        "sources": [{"name": "s", "log": str(tmp_path / "log")}],
        "destinations": [{"name": "d", "table": str(tmp_path / "tbl")}],
        "connections": [{"name": "c", "source": "s", "destination": "d",
                         "max_inflight": 2, "cascade_mode": "markers"}],
    }))
    conn = ["--config", str(cfg), "--connection", "c"]
    assert main(["load", *conn]) == 0
    assert main(["sync", *conn, "--max-rounds", "1"]) == 0
    assert len(captured_runs) == 2
    assert main(["sync-daemon", *conn, "--max-rounds", "1"]) == 0
    for kw in captured_runs:
        assert kw["max_inflight"] == 2
        assert kw["cascade_mode"] == "markers"
    # load and sync run under --job-id, the daemon under the name
    assert [kw["job_id"] for kw in captured_runs] == ["dlt", "dlt", "c"]

    captured_runs.clear()
    paths = ["--log", str(tmp_path / "log"), "--table", str(tmp_path / "tbl")]
    assert main(["sync", *paths, "--max-inflight", "3",
                 "--max-rounds", "1"]) == 0
    assert main(["sync", *paths, "--max-rounds", "1"]) == 0
    assert [kw["max_inflight"] for kw in captured_runs] == [3, MAX_INFLIGHT]
    assert all(kw["cascade_mode"] == "eager" for kw in captured_runs)


def test_cli_sync_restores_signal_handlers(spark, tmp_path, captured_runs):
    """`sync` installs its graceful-stop handlers only for the loop: an
    in-process caller gets its own SIGINT/SIGTERM handlers back."""
    before = {s: signal.getsignal(s) for s in (signal.SIGINT, signal.SIGTERM)}
    assert main(["sync", "--log", str(tmp_path / "log"),
                 "--table", str(tmp_path / "tbl"), "--max-rounds", "1"]) == 0
    assert len(captured_runs) == 1
    after = {s: signal.getsignal(s) for s in (signal.SIGINT, signal.SIGTERM)}
    assert after == before


def test_cli_sync_rounds_metrics_and_events(spark, tmp_path, capsys):
    """`sync` over a real log runs its rounds through the sync daemon:
    one JSON line per round, the metrics file counts the rounds, and
    the events file holds the daemon's Sync Started and the first
    round's Sync Finished."""
    log, tbl = str(tmp_path / "log"), str(tmp_path / "tbl")
    write_change_log(generate_change_log(spark, 400, n_keys=50, seed=3),
                     log, part_width=200)
    metrics, events = str(tmp_path / "dlt.prom"), str(tmp_path / "ev.jsonl")
    assert main(["sync", "--log", log, "--table", tbl, "--batch-width", "200",
                 "--n-buckets", "4", "--log-part-width", "200",
                 "--max-rounds", "2", "--interval-secs", "0",
                 "--metrics-file", metrics, "--events-file", events]) == 0
    lines = [json.loads(line)
             for line in capsys.readouterr().out.strip().splitlines()]
    assert [r["round"] for r in lines] == [0, 1]
    assert lines[0]["batches_applied"] == 2
    assert lines[1]["batches_applied"] == 0
    assert 'dlt_rounds_total{job_id="dlt"} 2' in open(metrics).read()
    evs = [json.loads(line)["event"] for line in open(events)]
    assert evs == ["Sync Started", "Sync Finished"]


def test_cli_verify_counts_spilled_batches(spark, tmp_path, monkeypatch, capsys):
    """`verify` checks every batch of the job, including those whose
    manifest rows spilled out of the snapshot to sidecars."""
    import dlt_spark.lakehouse as lakehouse

    monkeypatch.setattr(lakehouse, "MANIFEST_TAIL", 3)
    log, tbl = str(tmp_path / "log"), str(tmp_path / "tbl")
    write_change_log(generate_change_log(spark, 800, n_keys=60, seed=5),
                     log, part_width=100)
    res = run_incremental(spark, log, tbl, batch_width=100, n_buckets=4,
                          log_part_width=100)
    assert res.batches_applied == 8
    assert LakehouseTable.load(spark, tbl)._snap["manifest_spill"]

    assert main(["verify", "--table", tbl]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["ok"] + out["failed"] + out["window_closed"] == 8


def test_one_max_inflight_default():
    import inspect

    assert ConnectionCfg("c", "s", "d").max_inflight == MAX_INFLIGHT
    default = inspect.signature(run_incremental).parameters["max_inflight"]
    assert default.default == MAX_INFLIGHT
