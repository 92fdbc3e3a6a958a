"""Multi-connection sync daemon (VERDICT r3 next-#6): one process,
per-connection schedule, global single-flight, per-connection
events/metrics — the reference's gocron scheduler analog
(cmd/dlt/commands/sync.go:91-148)."""

from __future__ import annotations

import json
import os
import time

from dlt_spark.config import (
    Config,
    ConnectionCfg,
    DestinationCfg,
    SourceCfg,
)
from dlt_spark.scheduler import cron_matches, run_sync_daemon

from tests.growing_log import cascade_log, growing_log_daemon


def test_cron_matches_fields():
    t = time.struct_time((2026, 8, 17, 14, 30, 0, 6, 229, -1))  # Sun 14:30
    assert cron_matches("* * * * *", t)
    assert cron_matches("30 14 * * *", t)
    assert cron_matches("*/15 * * * *", t)
    assert not cron_matches("31 14 * * *", t)
    assert cron_matches("30 14 17 8 *", t)
    assert cron_matches("* * * * 0", t)      # Sunday
    assert not cron_matches("* * * * 1", t)  # Monday
    # POSIX rule: restricted dom OR restricted dow
    assert cron_matches("30 14 1 * 0", t)    # wrong dom, right dow
    import pytest
    with pytest.raises(ValueError):
        cron_matches("* * *", t)


def test_daemon_two_connections_converge(spark, tmp_path):
    """Two connections with different logs/tables/schedules in ONE
    daemon loop: both converge to their logs' final state, watermarks
    advance independently, per-connection metrics and events land."""
    from pyspark.sql import functions as F

    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.operators.dedup import dedup_lww
    from dlt_spark.functions.normalize import normalize_events
    from dlt_spark.sources.changelog import write_change_log
    from dlt_spark.sources.generator import generate_change_log

    logs, tables = {}, {}
    for name, seed, n in (("a", 7, 1_500), ("b", 8, 2_200)):
        log = str(tmp_path / f"log_{name}")
        write_change_log(
            generate_change_log(spark, n, n_keys=150, seed=seed),
            log, part_width=500,
        )
        logs[name], tables[name] = log, str(tmp_path / f"tbl_{name}")

    cfg = Config(
        sources=[
            SourceCfg(name="sa", log=logs["a"], log_part_width=500),
            SourceCfg(name="sb", log=logs["b"], log_part_width=500),
        ],
        destinations=[
            DestinationCfg(name="da", table=tables["a"], n_buckets=8),
            DestinationCfg(name="db", table=tables["b"], n_buckets=8),
        ],
        connections=[
            ConnectionCfg(name="ca", source="sa", destination="da",
                          batch_width=500, interval_secs=0.0),
            ConnectionCfg(name="cb", source="sb", destination="db",
                          batch_width=1_000, interval_secs=0.0),
        ],
    )
    events_file = str(tmp_path / "events.jsonl")
    metrics_dir = str(tmp_path / "metrics")
    summary = run_sync_daemon(
        spark, cfg, max_runs_per_connection=2,
        events_file=events_file, metrics_dir=metrics_dir,
    )
    assert summary["ca"]["runs"] == 2 and summary["cb"]["runs"] == 2
    # run 1 caught up (log rows incl. ~5% duplicate deliveries);
    # run 2 found nothing new, so the totals equal run 1's reads
    assert 1_500 <= summary["ca"]["events_read"] <= 1_650
    assert 2_200 <= summary["cb"]["events_read"] <= 2_420

    # both tables converge to the LWW fold of their own log
    for name, n in (("a", 1_500), ("b", 2_200)):
        t = LakehouseTable.load(spark, tables[name])
        got = sorted(
            (r["doc_id"], r["_commit_seq"])
            for r in t.read().select("doc_id", "_commit_seq").collect()
        )
        ev = spark.read.parquet(os.path.join(logs[name], "*"))
        want = sorted(
            (r["doc_id"], r["commit_seq"])
            for r in dedup_lww(normalize_events(ev))
            .where("op != 'D'")
            .select("doc_id", "commit_seq").collect()
        )
        assert got == want, f"connection {name} diverged"

    # per-connection artifacts
    for cn in ("ca", "cb"):
        prom = open(os.path.join(metrics_dir, f"{cn}.prom")).read()
        assert f'job_id="{cn}"' in prom
        assert "dlt_events_read_total" in prom
    evs = [json.loads(l) for l in open(events_file)]
    finished = [e for e in evs if e["event"] == "Sync Finished"]
    assert {e["properties"]["connection"] for e in finished} == {"ca", "cb"}


def test_driver_memory_rule():
    """session.driver_memory_for encodes the amortization-curve anchors
    (VERDICT r3 next-#8): 8g at/below the bench shape, ~24g per
    787k-event batch above, capped at 48g."""
    from dlt_spark.session import driver_memory_for

    assert driver_memory_for(100_000) == "8g"
    assert driver_memory_for(394_000) == "8g"
    assert driver_memory_for(400_000) == "8g"
    assert driver_memory_for(787_000) == "24g"
    g = int(driver_memory_for(1_574_000)[:-1])
    assert 47 <= g <= 48  # linear, then the cap
    assert driver_memory_for(10_000_000) == "48g"


def test_daemon_cron_connection_fires_and_stop(spark, tmp_path):
    """A cron='* * * * *' connection fires at most once per wall-clock
    minute: the first daemon pass runs it, a second pass inside the
    same minute does not; stop_requested exits the loop."""
    from dlt_spark.sources.changelog import write_change_log
    from dlt_spark.sources.generator import generate_change_log

    log = str(tmp_path / "log")
    write_change_log(generate_change_log(spark, 400, n_keys=50, seed=9),
                     log, part_width=200)
    cfg = Config(
        sources=[SourceCfg(name="s", log=log, log_part_width=200)],
        destinations=[DestinationCfg(name="d", table=str(tmp_path / "t"),
                                     n_buckets=4)],
        connections=[ConnectionCfg(name="c", source="s", destination="d",
                                   batch_width=200, cron="* * * * *")],
    )
    ran = []
    stop = {"n": 0}

    def on_round(name, res, table):
        ran.append(res.events_read)
        stop["n"] += 1  # stop after the first run completes

    summary = run_sync_daemon(
        spark, cfg, stop_requested=lambda: stop["n"] > 0,
        tick_secs=0.01, on_round=on_round,
    )
    # exactly one run: the cron minute fired once, then stop() hit
    assert summary["c"]["runs"] == 1 and len(ran) == 1
    assert ran[0] >= 400


def test_cron_due_missed_minute_fires_late():
    """ADVICE r4: due-ness used to be evaluated only against the
    CURRENT minute, so a matching minute that elapsed while a long
    single-flight run held the loop was skipped entirely (for an
    hourly cron: skipped for an hour).  cron_due must scan every
    minute since the last evaluation and fire late, coalesced."""
    from dlt_spark.scheduler import _ConnState, cron_due, mark_cron_ran

    M = 29_641_000  # arbitrary epoch-minute base
    m0 = time.localtime(M * 60).tm_min
    target = (m0 + 1) % 60  # the cron minute = epoch minute M+1
    cron = f"{target} * * * *"
    st = _ConnState()

    assert not cron_due(cron, st, M * 60)          # M doesn't match
    # a run keeps the loop busy across M+1 (the match) to M+3
    assert cron_due(cron, st, (M + 3) * 60 + 5)    # fired LATE, not lost
    mark_cron_ran(st, (M + 3) * 60 + 9)
    assert not cron_due(cron, st, (M + 3) * 60 + 30)  # consumed
    assert not cron_due(cron, st, (M + 4) * 60)       # nothing new
    # next hour's matching minute fires again
    assert cron_due(cron, st, (M + 61) * 60 + 1)
    mark_cron_ran(st, (M + 61) * 60 + 2)

    # two matched minutes in one busy span coalesce into ONE fire
    assert cron_due(cron, st, (M + 185) * 60)      # spans M+121, M+181
    mark_cron_ran(st, (M + 185) * 60)
    assert not cron_due(cron, st, (M + 185) * 60 + 30)

    # backlog capped at one day: a week-stale state scans 1440 minutes
    st2 = _ConnState()
    st2.last_cron_check = M - 7 * 1440
    assert cron_due(cron, st2, M * 60)  # still finds a match inside the day


def test_metrics_http_server_serves_exposition(spark, tmp_path):
    """Optional /metrics scrape endpoint (utils/prometheus.go:34-68
    analog): the daemon registers one writer per connection; GET
    /metrics returns every connection's current counters in the
    Prometheus text format; other paths 404."""
    import urllib.request

    from dlt_spark.metrics import MetricsHTTPServer
    from dlt_spark.sources.changelog import write_change_log
    from dlt_spark.sources.generator import generate_change_log

    log = str(tmp_path / "log")
    write_change_log(generate_change_log(spark, 400, n_keys=50, seed=9),
                     log, part_width=200)
    cfg = Config(
        sources=[SourceCfg(name="s", log=log, log_part_width=200)],
        destinations=[DestinationCfg(name="d", table=str(tmp_path / "t"),
                                     n_buckets=4)],
        connections=[ConnectionCfg(name="c", source="s", destination="d",
                                   batch_width=200, interval_secs=0.0)],
    )
    server = MetricsHTTPServer(port=0)
    port = server.start()
    try:
        run_sync_daemon(spark, cfg, max_runs_per_connection=1,
                        metrics_server=server)
        body = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/metrics", timeout=5
        ).read().decode()
        assert 'dlt_events_read_total{job_id="c"}' in body
        assert "dlt_watermark" in body and "# TYPE" in body
        import pytest as _pytest
        import urllib.error

        with _pytest.raises(urllib.error.HTTPError):
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/nope", timeout=5)
    finally:
        server.stop()


def test_daemon_scheduled_maintenance_with_markers(spark, tmp_path):
    """maintain_every_runs: every N completed runs the daemon
    materializes cascade markers, compacts, expires and vacuums that
    connection's table inside the single-flight loop — the periodic
    convergence a marker-mode connection needs.  After the bounded
    catch-up: zero pending markers, folded L0, state equal to an
    eager-mode twin."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental
    from dlt_spark.schemas import CHANGE_EVENT_SCHEMA
    from dlt_spark.sources.changelog import write_change_log
    from dlt_spark.sources.generator import generate_change_log

    n = 1_200
    ev = generate_change_log(spark, n, n_keys=80, seed=21,
                             version_mix=(1.0, 0.0, 0.0))
    exp = ev.withColumn(
        "payload",
        F.when(F.col("op") != "D", F.to_json(F.struct(
            F.slice(F.col("tokens"), 1, 3).alias("block"),
            F.array(F.slice(F.col("tokens"), 4, 4)).alias("txs"),
        ))),
    ).withColumn("tokens", F.lit(None).cast("array<int>"))
    log = str(tmp_path / "log")
    write_change_log(exp, log, part_width=300)
    tbl = str(tmp_path / "tbl")

    cfg = Config(
        sources=[SourceCfg(name="s", log=log, schema="exploded_cascade",
                           log_part_width=300)],
        destinations=[DestinationCfg(name="d", table=tbl, n_buckets=8)],
        connections=[ConnectionCfg(name="c", source="s", destination="d",
                                   batch_width=300, interval_secs=0.0,
                                   cascade_mode="markers",
                                   maintain_every_runs=1)],
    )
    summary = run_sync_daemon(spark, cfg, max_runs_per_connection=1)
    assert summary["c"]["runs"] == 1

    t = LakehouseTable.load(spark, tbl)
    assert t._snap["markers"] == []          # materialized by the tick
    assert t._snap["deltas"] == []           # compacted by the tick

    eager = str(tmp_path / "eager")
    run_incremental(spark, log, eager, schema="exploded_cascade",
                    batch_width=300, n_buckets=8, log_part_width=300)

    def state(p):
        return sorted(
            (r["doc_id"], r["_commit_seq"], tuple(r["tokens"] or []))
            for r in LakehouseTable.load(spark, p).read().collect()
        )

    assert state(tbl) == state(eager)


def test_daemon_matches_bulk_runner_under_cascade(spark, tmp_path):
    """One run per log part through the daemon and one pipelined bulk
    run_incremental over the whole exploded_cascade log (parent deletes
    in most batches) yield the same live state AND the same CDC-out
    feed, cascade-deleted children included: the bulk run's phase-B gap
    tombstones cover what the daemon's serial runs find in the
    committed table.  Within a batch no parent has an event after its
    delete, so the un-deduped gap tombstones coincide with the deduped
    ones."""
    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental

    ops = [  # (doc_id, op, payload) at commit_seq = list index
        ("a", "I", '{"block": [1], "txs": [[10], [11]]}'),
        ("b", "I", '{"block": [2], "txs": [[20]], "events": [[200]]}'),
        ("c", "I", '{"block": [3], "txs": [[30], [31], [32]]}'),
        ("a", "U", '{"block": [4], "txs": [[12]]}'),
        ("d", "I", '{"block": [5], "txs": [[50]]}'),
        ("b", "D", None),
        ("c", "U", '{"block": [6], "txs": [[33]]}'),
        ("a", "D", None),
        ("a", "I", '{"block": [7], "txs": [[70]]}'),
        ("b", "I", '{"block": [8], "events": [[80], [81]]}'),
        ("d", "U", '{"block": [9], "txs": [[51], [52]]}'),
        ("c", "D", None),
        ("e", "I", '{"block": [1], "txs": [[1]]}'),
        ("a", "D", None),
        ("c", "I", '{"block": [2]}'),
        ("b", "U", '{"block": [3], "events": [[82]]}'),
        ("f", "I", '{"block": [4], "txs": [[4], [5]]}'),
        ("f", "D", None),
        ("d", "D", None),
        ("e", "U", '{"block": [5], "txs": [[6], [7]]}'),
        ("d", "I", '{"block": [6]}'),
        ("e", "D", None),
        ("a", "I", '{"block": [8], "txs": [[9]]}'),
        ("c", "U", '{"block": [9], "txs": [[90]]}'),
    ]
    staged = str(tmp_path / "staged")
    cascade_log(spark, staged, ops, part_width=4, first_seq=0)
    bulk = str(tmp_path / "bulk")
    run_incremental(spark, staged, bulk, schema="exploded_cascade",
                    batch_width=4, n_buckets=8, log_part_width=4)
    _, dt = growing_log_daemon(spark, staged, tmp_path,
                                schema="exploded_cascade", part_width=4,
                                batch_width=4)

    def live(t):
        return sorted(
            (r["doc_id"], r["_commit_seq"], tuple(r["tokens"] or []))
            for r in t.read().collect()
        )

    def feed(t):
        return {
            (r["doc_id"], r["_commit_seq"], r["_deleted"])
            for r in t.changes_between(0, t.version)
            .select("doc_id", "_commit_seq", "_deleted").collect()
        }

    bt = LakehouseTable.load(spark, bulk)
    assert len(bt._snap["manifests"]) == len(dt._snap["manifests"]) == 6
    assert live(dt) == live(bt)
    assert feed(dt) == feed(bt)
    # children committed in an earlier batch are cascaded into the feed
    assert {("b/tx/0", 5, True), ("a/tx/1", 13, True)} <= feed(bt)
