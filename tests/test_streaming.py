"""Streaming sync (Trigger.AvailableNow) converges to the same final
table as the batch runner and is exactly-once across a restart."""

from __future__ import annotations

import pytest

from dlt_spark.sources.changelog import write_change_log
from dlt_spark.sources.generator import generate_change_log
from dlt_spark.streaming.sync import run_stream_sync

from tests.oracle import assert_table_matches, fold_expected_state

N_EVENTS = 3_000


@pytest.fixture(scope="module")
def stream_log(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("slog") / "events")
    df = generate_change_log(
        spark, N_EVENTS, n_keys=300, seed=7, dup_frac=0.05,
        version_mix=(0.5, 0.3, 0.2),
    )
    write_change_log(df, path, part_width=500)
    return path


def test_stream_sync_converges(spark, stream_log, tmp_path):
    table = run_stream_sync(
        spark,
        stream_log,
        str(tmp_path / "tbl"),
        str(tmp_path / "ckpt"),
        n_buckets=16,
        max_files_per_trigger=4,  # force multiple epochs
    )
    expected = fold_expected_state(
        spark.read.parquet(stream_log).drop("seq_part").toPandas()
    )
    actual = table.read().select(
        "doc_id", "tokens", "n_tok", "source", "_commit_seq"
    ).toPandas()
    assert_table_matches(actual, expected)
    assert len(table._snap["manifests"]) > 1  # really ran multiple epochs


def test_stream_sync_restart_noop(spark, stream_log, tmp_path):
    """Second AvailableNow run over the same checkpoint: nothing new to
    consume, table version unchanged."""
    tbl, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ckpt")
    t1 = run_stream_sync(spark, stream_log, tbl, ckpt, n_buckets=16)
    v1 = t1.version
    t2 = run_stream_sync(spark, stream_log, tbl, ckpt, n_buckets=16)
    assert t2.version == v1


def test_stream_sync_cascade_deletes(spark, tmp_path):
    """exploded_cascade through the STREAMING path: foreachBatch epochs
    are strictly serial, so the cascade's gap slice is empty by
    construction and the lookup sees every prior epoch's children; the
    stream table is parent-bucketed (bucket_expr) so the lookup prunes
    exactly like the batch runner's."""
    from pyspark.sql import Row

    from dlt_spark.schemas import CHANGE_EVENT_SCHEMA
    from dlt_spark.sources.changelog import write_change_log

    rows = [
        Row(commit_seq=1, doc_id="p", op="I", tokens=None,
            payload='{"block": [1], "txs": [[10], [20]]}',
            payload_version=1, source="s", extracted_at=None),
        Row(commit_seq=2, doc_id="q", op="I", tokens=None,
            payload='{"block": [5], "txs": [[50]]}',
            payload_version=1, source="s", extracted_at=None),
        Row(commit_seq=3, doc_id="p", op="D", tokens=None,
            payload=None, payload_version=1, source="s", extracted_at=None),
        Row(commit_seq=4, doc_id="p", op="I", tokens=None,
            payload='{"block": [9], "txs": [[11]]}',
            payload_version=1, source="s", extracted_at=None),
    ]
    log = str(tmp_path / "log")
    # part_width=2 → two files → with maxFilesPerTrigger=1 the delete
    # lands in a LATER epoch than p's original children (table lookup)
    write_change_log(
        spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA), log, part_width=2
    )
    table = run_stream_sync(
        spark, log, str(tmp_path / "tbl"), str(tmp_path / "ckpt"),
        schema="exploded_cascade", n_buckets=8, max_files_per_trigger=1,
    )
    assert table.bucket_expr == "substring_index(doc_id, '/', 1)"
    out = {r["doc_id"]: r for r in table.read().collect()}
    assert set(out) == {"p/block/0", "p/tx/0", "q/block/0", "q/tx/0"}
    assert list(out["p/block/0"]["tokens"]) == [9]
    assert list(out["p/tx/0"]["tokens"]) == [11]
    assert list(out["q/tx/0"]["tokens"]) == [50]


def test_stream_changes_tails_committed_windows(spark, tmp_path):
    """CDC-out tail (streaming/changes.py): windows align to committed
    snapshot versions, a resumed tail continues from the returned
    checkpoint with no overlap and no loss, and the union of windows
    equals the batch changes_between over the same range."""
    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental
    from dlt_spark.sources.changelog import write_change_log
    from dlt_spark.sources.generator import generate_change_log
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


def test_stream_sync_cascade_markers_mode(spark, tmp_path):
    """Marker mode through the STREAMING path mirrors the batch runner:
    each epoch's parent deletes land as one marker delta riding the
    epoch's atomic commit, the live state matches eager mode, and
    materialize_markers converges the table to physical tombstones."""
    from pyspark.sql import Row

    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.schemas import CHANGE_EVENT_SCHEMA
    from dlt_spark.sources.changelog import write_change_log

    rows = [
        Row(commit_seq=1, doc_id="p", op="I", tokens=None,
            payload='{"block": [1], "txs": [[10], [20]]}',
            payload_version=1, source="s", extracted_at=None),
        Row(commit_seq=2, doc_id="q", op="I", tokens=None,
            payload='{"block": [5], "txs": [[50]]}',
            payload_version=1, source="s", extracted_at=None),
        Row(commit_seq=3, doc_id="p", op="D", tokens=None,
            payload=None, payload_version=1, source="s", extracted_at=None),
        Row(commit_seq=4, doc_id="p", op="I", tokens=None,
            payload='{"block": [9], "txs": [[11]]}',
            payload_version=1, source="s", extracted_at=None),
    ]
    log = str(tmp_path / "log")
    write_change_log(
        spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA), log, part_width=2
    )
    table = run_stream_sync(
        spark, log, str(tmp_path / "tbl"), str(tmp_path / "ckpt"),
        schema="exploded_cascade", n_buckets=8, max_files_per_trigger=1,
        cascade_mode="markers",
    )
    assert table._snap["markers"], "streaming marker mode recorded none"

    def state(t):
        return {
            r["doc_id"]: tuple(r["tokens"] or []) for r in t.read().collect()
        }

    expected = {"p/block/0": (9,), "p/tx/0": (11,),
                "q/block/0": (5,), "q/tx/0": (50,)}
    assert state(table) == expected
    table.materialize_markers()
    assert table._snap["markers"] == []
    assert state(table) == expected


def test_stream_sync_matches_runner_under_cascade(spark, tmp_path):
    """Streaming sync and the batch runner share one per-batch ingest
    core: over one exploded_cascade log with parent deletes, one log file
    per runner batch and one file per epoch, eager mode yields the same
    live state AND the same CDC-out feed (cascade-deleted children
    included).  Within a batch no parent has an event after its delete,
    so the runner's un-deduped phase-B gap tombstones coincide with the
    epoch's deduped ones."""
    import os
    import time

    from pyspark.sql import Row

    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental
    from dlt_spark.schemas import CHANGE_EVENT_SCHEMA

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
    rows = [
        Row(commit_seq=i, doc_id=d, op=op, tokens=None, payload=pl,
            payload_version=1, source="s", extracted_at=None)
        for i, (d, op, pl) in enumerate(ops)
    ]
    log = str(tmp_path / "log")
    write_change_log(
        spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA), log, part_width=4
    )
    # the file source orders epochs by modification time: make it the
    # seq order so epoch k is runner batch k
    now = time.time()
    for p in sorted(os.listdir(log)):
        if p.startswith("seq_part="):
            k = int(p.split("=", 1)[1])
            for f in os.listdir(os.path.join(log, p)):
                os.utime(os.path.join(log, p, f), (now + k, now + k))

    run_incremental(spark, log, str(tmp_path / "batch"),
                    schema="exploded_cascade", batch_width=4, n_buckets=8,
                    log_part_width=4)
    run_stream_sync(spark, log, str(tmp_path / "stream"),
                    str(tmp_path / "ckpt"), schema="exploded_cascade",
                    n_buckets=8, max_files_per_trigger=1)

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

    bt = LakehouseTable.load(spark, str(tmp_path / "batch"))
    st = LakehouseTable.load(spark, str(tmp_path / "stream"))
    assert len(st._snap["manifests"]) == 6  # one epoch per runner batch
    assert live(st) == live(bt)
    assert feed(st) == feed(bt)
    # children committed in an earlier batch are cascaded into the feed
    assert {("b/tx/0", 5, True), ("a/tx/1", 13, True)} <= feed(bt)
