"""Streaming sync and the CDC-out tail.  A log that grows while the sync
daemon runs converges to the same table as a fold of the whole log and is
exactly-once across a restart (the manifest watermark is the checkpoint);
streaming/changes.py streams the table's committed change windows to a
downstream consumer."""

from __future__ import annotations

import pytest

from dlt_spark.scheduler import run_sync_daemon
from dlt_spark.sources.changelog import write_change_log
from dlt_spark.sources.generator import generate_change_log

from tests.growing_log import cascade_log, growing_log_daemon
from tests.oracle import assert_table_matches, fold_expected_state

N_EVENTS = 3_000


@pytest.fixture(scope="module")
def stream_log(spark, tmp_path_factory):
    """3,000 events in 6 log parts of 500."""
    path = str(tmp_path_factory.mktemp("slog") / "events")
    df = generate_change_log(
        spark, N_EVENTS, n_keys=300, seed=7, dup_frac=0.05,
        version_mix=(0.5, 0.3, 0.2),
    )
    write_change_log(df, path, part_width=500)
    return path


def test_stream_sync_converges(spark, stream_log, tmp_path):
    """The daemon tails a log that grows by two parts per run, in
    multi-batch runs, and converges to the pure-pandas fold of the whole
    log."""
    _, table = growing_log_daemon(spark, stream_log, tmp_path, per_run=2,
                                  n_buckets=16)
    expected = fold_expected_state(
        spark.read.parquet(stream_log).drop("seq_part").toPandas()
    )
    actual = table.read().select(
        "doc_id", "tokens", "n_tok", "source", "_commit_seq"
    ).toPandas()
    assert_table_matches(actual, expected)
    assert len(table._snap["manifests"]) == 6  # 3 runs of 2 batches


def test_stream_sync_restart_noop(spark, stream_log, tmp_path):
    """A restarted daemon over the same table finds nothing new to
    consume: 0 events read, table version unchanged."""
    cfg, table = growing_log_daemon(spark, stream_log, tmp_path, per_run=6,
                                    n_buckets=16)
    v = table.version
    summary = run_sync_daemon(spark, cfg, max_runs_per_connection=1)
    assert summary["c"] == {"runs": 1, "events_read": 0}
    assert table.refresh().version == v


CASCADE_OPS = [  # (doc_id, op, payload) at commit_seq 1-4
    ("p", "I", '{"block": [1], "txs": [[10], [20]]}'),
    ("q", "I", '{"block": [5], "txs": [[50]]}'),
    ("p", "D", None),
    ("p", "I", '{"block": [9], "txs": [[11]]}'),
]
CASCADE_STATE = {"p/block/0": (9,), "p/tx/0": (11,),
                 "q/block/0": (5,), "q/tx/0": (50,)}


def _cascade_sync(spark, tmp_path, mode):
    """exploded_cascade through the daemon, one part and one batch per
    run (seq 1 | 2-3 | 4): p's delete arrives in a later run than p's
    children, so the lookup runs against the committed table."""
    staged = str(tmp_path / "staged")
    cascade_log(spark, staged, CASCADE_OPS, part_width=2, first_seq=1)
    _, table = growing_log_daemon(
        spark, staged, tmp_path, schema="exploded_cascade",
        part_width=2, batch_width=2, cascade_mode=mode,
    )
    # parent-bucketed, so the lookup prunes like the batch runner's
    assert table.bucket_expr == "substring_index(doc_id, '/', 1)"
    assert len(table._snap["manifests"]) == 3
    return table


def _state(table):
    return {
        r["doc_id"]: tuple(r["tokens"] or []) for r in table.read().collect()
    }


def test_stream_sync_cascade_deletes(spark, tmp_path):
    """Eager mode tombstones the deleted parent's committed children."""
    table = _cascade_sync(spark, tmp_path, "eager")
    assert _state(table) == CASCADE_STATE
    assert table._snap["markers"] == []


def test_stream_sync_cascade_markers_mode(spark, tmp_path):
    """Markers mode records the delete as a marker delta riding the run's
    commit, reads the same live state, and materialize_markers converges
    it to physical tombstones."""
    table = _cascade_sync(spark, tmp_path, "markers")
    assert table._snap["markers"], "marker mode recorded none"
    assert _state(table) == CASCADE_STATE
    table.materialize_markers()
    assert table._snap["markers"] == []
    assert _state(table) == CASCADE_STATE


def test_stream_changes_tails_committed_windows(spark, tmp_path):
    """CDC-out tail (streaming/changes.py): windows align to committed
    snapshot versions, a resumed tail continues from the returned
    checkpoint with no overlap and no loss, and the union of windows
    equals the batch changes_between over the same range."""
    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental
    from dlt_spark.streaming.changes import stream_changes

    log = str(tmp_path / "log")
    tbl = str(tmp_path / "tbl")
    write_change_log(
        generate_change_log(spark, 2_000, n_keys=150, seed=12),
        log, part_width=500,
    )

    def key(df):
        return {
            (r["doc_id"], r["_commit_seq"], r["_deleted"])
            for r in df.select("doc_id", "_commit_seq", "_deleted").collect()
        }

    windows: list[set] = []

    def on_batch(df, lo, hi):
        windows.append(key(df))

    # first half committed, then tailed from version 0
    run_incremental(spark, log, tbl, seq_to=999, batch_width=500,
                    n_buckets=8, log_part_width=500)
    ckpt = stream_changes(spark, tbl, on_batch, from_version=0,
                          max_windows=1, poll_secs=0.05)
    # second half committed, tail RESUMES from the checkpoint
    run_incremental(spark, log, tbl, batch_width=500,
                    n_buckets=8, log_part_width=500)
    ckpt2 = stream_changes(spark, tbl, on_batch, from_version=ckpt,
                           max_windows=1, poll_secs=0.05)

    t = LakehouseTable.load(spark, tbl)
    assert ckpt2 == t.version
    assert len(windows) == 2
    assert not (windows[0] & windows[1]), "windows overlapped"
    assert windows[0] | windows[1] == key(t.changes_between(0, t.version))
    # the feed carries tombstones (deletes visible to downstream)
    assert any(d for _, _, d in windows[0] | windows[1])
