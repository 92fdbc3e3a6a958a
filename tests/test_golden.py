"""End-to-end golden test (SURVEY §5): replay-to-convergence.

Synthesize a deterministic change log (hot keys, I/U/D mix, duplicate
delivery, out-of-order seqs, mixed payload versions), run the engine in
batches, and assert row-by-row token-array equality against the pure
pandas fold oracle.  Then replay the same range with --force and assert
zero diff (exactly-once).
"""

from __future__ import annotations

import pytest

from dlt_spark.plans.runner import run_incremental
from dlt_spark.lakehouse import LakehouseTable
from dlt_spark.sources.changelog import write_change_log
from dlt_spark.sources.generator import generate_change_log

from tests.oracle import assert_table_matches, fold_expected_state

N_EVENTS = 5_000


@pytest.fixture(scope="module")
def log_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("log") / "events")
    df = generate_change_log(
        spark,
        n_events=N_EVENTS,
        n_keys=400,
        seed=42,
        dup_frac=0.06,
        version_mix=(0.6, 0.25, 0.15),
    )
    write_change_log(df, path, part_width=1_000)
    return path


@pytest.fixture(scope="module")
def expected(spark, log_path):
    events = spark.read.parquet(log_path).drop("seq_part").toPandas()
    return fold_expected_state(events)


def _run(spark, log_path, table_path, **kw):
    return run_incremental(
        spark,
        log_path,
        table_path,
        batch_width=1_000,
        n_buckets=16,
        log_part_width=1_000,
        **kw,
    )


def test_replay_to_convergence(spark, log_path, expected, tmp_path):
    table_path = str(tmp_path / "target")
    res = _run(spark, log_path, table_path)
    assert res.batches_applied == res.batches_planned == N_EVENTS // 1_000
    assert res.events_read >= N_EVENTS  # duplicates included

    table = LakehouseTable.load(spark, table_path)
    actual = table.read().select(
        "doc_id", "tokens", "n_tok", "source", "_commit_seq"
    ).toPandas()
    assert_table_matches(actual, expected)


def test_idempotent_replay_noop(spark, log_path, expected, tmp_path):
    """Running the same range twice converges; second run no-ops via the
    manifest guard (closes SURVEY §2.5 M4's at-least-once hole)."""
    table_path = str(tmp_path / "target")
    _run(spark, log_path, table_path)
    v1 = LakehouseTable.load(spark, table_path).version

    res2 = _run(spark, log_path, table_path, seq_from=0, seq_to=N_EVENTS - 1)
    assert res2.batches_skipped == res2.batches_planned
    assert res2.batches_applied == 0
    assert LakehouseTable.load(spark, table_path).version == v1


def test_forced_replay_converges(spark, log_path, expected, tmp_path):
    """--force re-MERGEs every batch; the row-level seq guard makes the
    replay converge instead of duplicating (unlike the reference,
    loader/service.go:30-36)."""
    table_path = str(tmp_path / "target")
    _run(spark, log_path, table_path)
    res = _run(
        spark, log_path, table_path, seq_from=0, seq_to=N_EVENTS - 1, force=True
    )
    assert res.batches_applied == res.batches_planned

    table = LakehouseTable.load(spark, table_path)
    actual = table.read().select(
        "doc_id", "tokens", "n_tok", "source", "_commit_seq"
    ).toPandas()
    assert_table_matches(actual, expected)


def test_forced_partial_replay_no_resurrection(spark, log_path, expected, tmp_path):
    """Regression: forced replay of only an OLD range must not resurrect
    rows deleted by later events.  Requires tombstone retention — with
    physical deletes the row-level guard loses the delete's seq and the
    old insert re-applies.  (Found by live CLI probing, round 1.)"""
    table_path = str(tmp_path / "target")
    _run(spark, log_path, table_path)
    res = _run(
        spark, log_path, table_path, seq_from=0, seq_to=N_EVENTS // 2 - 1, force=True
    )
    assert res.batches_applied == res.batches_planned == (N_EVENTS // 2 + 999) // 1_000

    table = LakehouseTable.load(spark, table_path)
    actual = table.read().select(
        "doc_id", "tokens", "n_tok", "source", "_commit_seq"
    ).toPandas()
    assert_table_matches(actual, expected)


def test_batch_integrity_hash(spark, log_path, expected, tmp_path):
    """S2 parity: each manifest's content hash re-verifies against the
    batch's stored delta files; after compaction the window closes
    (None), it never returns a false True."""
    table_path = str(tmp_path / "target")
    _run(spark, log_path, table_path)
    table = LakehouseTable.load(spark, table_path)
    for m in table._snap["manifests"]:
        assert table.verify_batch(m["job_id"], m["batch_id"]) is True
    table.compact()
    table.vacuum()
    results = {
        table.verify_batch(m["job_id"], m["batch_id"])
        for m in table._snap["manifests"]
    }
    assert results <= {None, True}
    assert table.verify_batch("nope", 0) is False


def test_purge_tombstones(spark, log_path, expected, tmp_path):
    """purge_tombstones drops only tombstones at/below the horizon and
    leaves the live table untouched."""
    table_path = str(tmp_path / "target")
    _run(spark, log_path, table_path)
    table = LakehouseTable.load(spark, table_path)
    tombs = table.read(include_deleted=True).where("_deleted").count()
    assert tombs > 0
    purged = table.purge_tombstones(horizon_seq=N_EVENTS)
    assert purged == tombs
    assert table.read(include_deleted=True).where("_deleted").count() == 0
    actual = table.read().select(
        "doc_id", "tokens", "n_tok", "source", "_commit_seq"
    ).toPandas()
    assert_table_matches(actual, expected)


def test_crash_resume(spark, log_path, expected, tmp_path, crash_after):
    """Kill between batches, restart from the manifest watermark, end
    state identical and no duplicate manifest rows (SURVEY §5)."""
    table_path = str(tmp_path / "target")
    with pytest.raises(RuntimeError, match="injected crash"):
        _run(spark, log_path, table_path, stop_requested=crash_after(2))

    table = LakehouseTable.load(spark, table_path)
    assert table.watermark() == 2 * 1_000 - 1

    res = _run(spark, log_path, table_path)  # resume from watermark
    assert res.batches_applied == N_EVENTS // 1_000 - 2

    table = table.refresh()
    manifest_keys = [
        (m["job_id"], m["batch_id"]) for m in table._snap["manifests"]
    ]
    assert len(manifest_keys) == len(set(manifest_keys))
    actual = table.read().select(
        "doc_id", "tokens", "n_tok", "source", "_commit_seq"
    ).toPandas()
    assert_table_matches(actual, expected)


def test_arrow_udf_path_matches(spark, log_path, expected, tmp_path):
    """The pandas/Arrow-UDF normalizer path produces the identical final
    table to the Catalyst-native path."""
    table_path = str(tmp_path / "target")
    _run(spark, log_path, table_path, use_arrow_udf=True)
    actual = (
        LakehouseTable.load(spark, table_path)
        .read()
        .select("doc_id", "tokens", "n_tok", "source", "_commit_seq")
        .toPandas()
    )
    assert_table_matches(actual, expected)
