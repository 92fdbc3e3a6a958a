"""Lakehouse-level tests: optimistic-concurrency conflict, compaction
invariants, vacuum safety."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dlt_spark.lakehouse import LakehouseTable
from dlt_spark.operators.dedup import dedup_lww
from dlt_spark.schemas import CHANGE_EVENT_SCHEMA
from dlt_spark.sources.generator import generate_change_log


def _updates(spark, lo, hi, seed=5):
    df = generate_change_log(spark, 2_000, n_keys=200, seed=seed).where(
        F.col("commit_seq").between(lo, hi)
    )
    from dlt_spark.functions.normalize import normalize_events

    return dedup_lww(normalize_events(df), with_counts=True)


def test_concurrent_commit_conflict(spark, tmp_path):
    """Two writers race the same snapshot version: exactly one wins the
    create-exclusive publish; with retries disabled the loser gets the
    conflict error and can refresh+retry by hand."""
    path = str(tmp_path / "t")
    a = LakehouseTable.create(spark, path, n_buckets=8)
    b = LakehouseTable.load(spark, path)  # second handle, same version

    pa = a.prepare_delta(_updates(spark, 0, 499), "jobA", 0)
    pb = b.prepare_delta(_updates(spark, 500, 999), "jobB", 0)

    a.commit_delta(pa, "jobA", 0, 0, 499)
    with pytest.raises(RuntimeError, match="snapshot conflict"):
        b.commit_delta(pb, "jobB", 0, 500, 999, conflict_retries=0)

    # loser refreshes and retries — both commits land, no data lost
    b = b.refresh()
    b.commit_delta(pb, "jobB", 0, 500, 999)
    t = LakehouseTable.load(spark, path)
    assert t.version == 2
    assert t.is_applied("jobA", 0) and t.is_applied("jobB", 0)


def test_concurrent_commit_auto_retry(spark, tmp_path):
    """Default commit_delta retries a snapshot conflict hands-free: two
    stale handles commit concurrently-prepared deltas; both land exactly
    once with no manual refresh (VERDICT r1 next-#9)."""
    path = str(tmp_path / "t")
    a = LakehouseTable.create(spark, path, n_buckets=8)
    b = LakehouseTable.load(spark, path)  # stale second handle

    pa = a.prepare_delta(_updates(spark, 0, 499), "jobA", 0)
    pb = b.prepare_delta(_updates(spark, 500, 999), "jobB", 0)

    a.commit_delta(pa, "jobA", 0, 0, 499)
    b.commit_delta(pb, "jobB", 0, 500, 999)  # conflicts once, retries

    t = LakehouseTable.load(spark, path)
    assert t.version == 2
    assert t.is_applied("jobA", 0) and t.is_applied("jobB", 0)
    # replay of either batch is a no-op (exactly-once survives the race)
    m = t.merge(_updates(spark, 500, 999), "jobB", 0)
    assert t.version == 2 and m["events_applied"] > 0


def test_tiered_read_plan_no_base_shuffle(spark, tmp_path):
    """VERDICT r1 next-#1: with a materialized base and pending deltas,
    read() must not shuffle the base — tier 2 broadcasts the pending key
    set and splits base into anti/semi streams (BroadcastHashJoin only;
    the only exchange is the O(pending) resolve of touched ∪ pending).
    Result must equal the full resolve."""
    path = str(tmp_path / "t")
    t = LakehouseTable.create(spark, path, n_buckets=8, max_deltas=8)
    t.merge(_updates(spark, 0, 999), "j", 0, 0, 999)
    t.compact()  # base materialized
    t.merge(_updates(spark, 1000, 1499), "j", 1, 1000, 1499)
    t.merge(_updates(spark, 1500, 1999), "j", 2, 1500, 1999)
    assert len(t._snap["deltas"]) == 2 and t._snap["buckets"]
    assert t._snap["base_rows"] and t._snap["base_rows"] > 0

    df = t.read(tier=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2  # anti + semi

    # value parity with the unconditional full resolve (tier 3)
    pend_files, pend_rows = t._pending()
    assert pend_rows is not None and pend_rows > 0
    base_files = [p for ps in t._snap["buckets"].values() for p in ps]
    full = t._resolve(t._raw(t._abs(base_files + pend_files))).where("NOT _deleted")
    a = {tuple(r) for r in df.select("doc_id", "_commit_seq").collect()}
    b = {tuple(r) for r in full.select("doc_id", "_commit_seq").collect()}
    assert a == b and a
    # cost model: base ≈ pending here, so the DEFAULT choice is the
    # plain resolve (merge tiers only pay off when base ≫ pending)
    dplan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in dplan
    # only tiers 2 and 3 exist to force
    for bad in (0, 1, 4):
        with pytest.raises(ValueError, match="read tier"):
            t.read(tier=bad)


def test_read_resolve_exchange_sized_from_snapshot_rows(spark, tmp_path, monkeypatch):
    """Every resolve read() plans runs one doc_id Exchange sized from the
    pinned snapshot's rows (partitions_for_rows, floored at
    defaultParallelism, capped at the configured shuffle partitions),
    then one Sort under the partial + final aggregate, and returns the
    rows of the unsized _resolve over the same files.  Three shapes: no
    base (pending rows), tier 3 (base + pending rows) and tier 2 (about
    2 × pending rows: touched ∪ pending; only its broadcast key set's
    distinct plans other doc_id Exchanges).  ROWS_PER_PARTITION is
    shrunk so these small tables size above the floor; the configured
    count is 64, not the 8 the test session pins."""
    import re

    import dlt_spark.session as session
    from dlt_spark.session import partitions_for_rows

    monkeypatch.setattr(session, "ROWS_PER_PARTITION", 40)
    dp = spark.sparkContext.defaultParallelism
    sizes = []

    def check(t, tier, rows):
        df = t.read(tier=tier)
        plan = df._jdf.queryExecution().executedPlan().toString()
        want = partitions_for_rows(rows, dp, 64)
        ex = re.findall(
            r"Exchange hashpartitioning\(doc_id#\d+, (\d+)\), (\w+)", plan)
        sized = [int(n) for n, how in ex if how == "REPARTITION_BY_NUM"]
        assert sized == [want], (tier, want, plan)
        # tier 2's key-set distinct plans its own doc_id Exchange(s)
        assert (len(ex) > 1) == (tier == 2), plan
        assert len(re.findall(r"\bSort \[", plan)) == 1, plan
        assert "partial_max_by" in plan, plan
        files = t._pending()[0] + [
            p for ps in t._snap["buckets"].values() for p in ps]
        full = t._resolve(t._raw(t._abs(files))).where("NOT _deleted")
        assert sorted(df.collect()) == sorted(full.select(*df.columns).collect())
        sizes.append(want)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try:
        t = LakehouseTable.create(spark, str(tmp_path / "t"), n_buckets=8,
                                  max_deltas=8)
        for b in range(3):
            t.merge(_updates(spark, b * 500, b * 500 + 499), "j", b)
        t = t.refresh()
        assert not t._snap["buckets"]
        check(t, None, t._pending()[1])
        t.compact()
        t.merge(_updates(spark, 1500, 1999), "j", 3)
        t = t.refresh()
        base_rows, pend_rows = t._snap["base_rows"], t._pending()[1]
        assert base_rows and pend_rows
        check(t, None, base_rows + pend_rows)
        check(t, 2, 2 * pend_rows)
        assert dp < max(sizes) and max(sizes) < 64
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_compaction_preserves_state_and_prunes_files(spark, tmp_path):
    path = str(tmp_path / "t")
    t = LakehouseTable.create(spark, path, n_buckets=8, max_deltas=100)
    for i in range(3):
        u = _updates(spark, i * 600, i * 600 + 599)
        t.merge(u, "j", i, i * 600, i * 600 + 599)
    before = t.read(include_deleted=True).orderBy("doc_id").collect()
    assert t._snap["deltas"]  # uncompacted
    t.compact()
    assert not t._snap["deltas"]
    after = t.read(include_deleted=True).orderBy("doc_id").collect()
    assert before == after
    assert t.vacuum() == 0  # grace window protects young files (ADVICE.md)
    # superseded delta files are NOT orphans: older retained snapshots
    # still reference them, so vacuum leaves them (time travel stays
    # valid) and expire_snapshots — pure metadata diff — reclaims them
    assert t.vacuum(grace_secs=0) == 0
    stats = t.expire_snapshots(retain_last=1)
    assert stats["files_removed"] > 0 and stats["snapshots_expired"] > 0
    assert t.read(include_deleted=True).orderBy("doc_id").collect() == after


def test_time_travel_history_and_changes(spark, tmp_path):
    """Iceberg-parity metadata surface: VERSION AS OF reads, history(),
    and the incremental change feed between snapshots (CDC-out)."""
    path = str(tmp_path / "t")
    t = LakehouseTable.create(spark, path, n_buckets=8, max_deltas=100)
    t.merge(_updates(spark, 0, 499), "j", 0, 0, 499)
    v1 = t.version
    rows_v1 = t.read().count()
    t.merge(_updates(spark, 500, 999), "j", 1, 500, 999)
    t.merge(_updates(spark, 1000, 1499), "j", 2, 1000, 1499)
    v3 = t.version

    # time travel: the v1 handle still reads exactly the v1 state
    old = LakehouseTable.load(spark, path, version=v1)
    assert old.version == v1 and old.read().count() == rows_v1
    assert LakehouseTable.load(spark, path).read().count() >= rows_v1
    import pytest as _pt
    with _pt.raises(FileNotFoundError, match="snapshot v999"):
        LakehouseTable.load(spark, path, version=999)

    # history: one row per retained snapshot, versions ascending
    h = t.history()
    assert [r["version"] for r in h] == list(range(0, v3 + 1))
    assert h[-1]["batch_id"] == 2
    # limit selects the NEWEST N; a negative limit is an error, not a
    # silent drop of the |N| oldest (ADVICE r5)
    assert [r["version"] for r in t.history(limit=2)] == [v3 - 1, v3]
    with _pt.raises(ValueError, match="history limit"):
        t.history(limit=-1)
    # a prepared dict carrying both marker mutations is rejected
    # loudly instead of mis-merged (ADVICE r5)
    with _pt.raises(ValueError, match="mutually exclusive"):
        t.commit_delta(
            {"files": [], "stats": None, "has_counts": False, "extras": [],
             "markers_delta": {"files": ["x"], "rows": 1},
             "clear_markers": ["y"]},
            "j", 99,
        )

    # incremental feed v1 -> v3 = exactly batches 1 and 2's raw rows
    ch = t.changes_between(v1, v3)
    m1 = t._find_manifest("j", 1)
    m2 = t._find_manifest("j", 2)
    assert ch.count() == m1["events_applied"] + m2["events_applied"]
    seqs = ch.agg(F.min("_commit_seq"), F.max("_commit_seq")).collect()[0]
    assert seqs[0] >= 500 and seqs[1] <= 1499
    assert "_deleted" in ch.columns  # tombstones ride the feed

    # window closes after compaction + snapshot expiry
    t.compact()
    t.expire_snapshots(retain_last=1)
    with _pt.raises(FileNotFoundError, match="incremental window closed"):
        t.changes_between(v1, v3).count()
    # expired version is gone with a CLEAR error, not a mid-scan
    # parquet FileNotFound (ADVICE.md: expiry couples file removal
    # with snapshot removal)
    with _pt.raises(FileNotFoundError, match=f"snapshot v{v1}"):
        LakehouseTable.load(spark, path, version=v1)


def test_expire_snapshots_never_lists_data_dir(spark, tmp_path, monkeypatch):
    """The scale contract for maintenance (VERDICT r2 #4): reclaiming
    superseded files is a snapshot-metadata diff — no os.walk/listdir of
    the data directory (object-store safe)."""
    import os as _os
    import dlt_spark.lakehouse as lh

    path = str(tmp_path / "t")
    t = LakehouseTable.create(spark, path, n_buckets=8, max_deltas=100)
    for i in range(3):
        t.merge(_updates(spark, i * 600, i * 600 + 599), "j", i, i * 600, i * 600 + 599)
    t.compact()
    before = t.read().count()

    data_top = _os.path.join(path, "data")
    real_walk, real_listdir = _os.walk, _os.listdir

    def guarded_walk(top, *a, **k):
        assert not str(top).startswith(data_top), "expire listed the data dir"
        return real_walk(top, *a, **k)

    def guarded_listdir(p):
        assert not str(p).startswith(data_top), "expire listed the data dir"
        return real_listdir(p)

    monkeypatch.setattr(lh.os, "walk", guarded_walk)
    monkeypatch.setattr(lh.os, "listdir", guarded_listdir)
    stats = t.expire_snapshots(retain_last=1)
    assert stats["files_removed"] > 0
    monkeypatch.undo()
    assert t.read().count() == before
    # time travel to retained (latest) version still works
    assert LakehouseTable.load(spark, path, version=t.version).read().count() == before


def test_forced_reapply_of_spilled_manifest_supersedes(spark, tmp_path, monkeypatch):
    """ADVICE.md (medium): a forced re-apply of a batch whose manifest
    row already spilled to an immutable parquet sidecar must not leave a
    duplicate (job_id, batch_id) row — the stale spilled row is recorded
    as superseded and filtered out of manifests_df()/changes_between()."""
    import dlt_spark.lakehouse as lh

    monkeypatch.setattr(lh, "MANIFEST_TAIL", 3)  # spill after >6 rows
    path = str(tmp_path / "t")
    t = LakehouseTable.create(spark, path, n_buckets=4, max_deltas=100)
    for i in range(8):
        t.merge(_updates(spark, i * 200, i * 200 + 199), "j", i, i * 200, i * 200 + 199)
    assert t._snap["manifest_spill"], "precondition: spill happened"
    assert not any(
        m["job_id"] == "j" and m["batch_id"] == 0 for m in t._snap["manifests"]
    ), "precondition: batch 0's row lives only in the sidecar"

    old_row = t._find_manifest("j", 0)
    m = t.merge(_updates(spark, 0, 199), "j", 0, 0, 199, force=True)
    rows = [
        r
        for r in t.manifests_df().collect()
        if r["job_id"] == "j" and r["batch_id"] == 0
    ]
    assert len(rows) == 1, f"duplicate manifest rows after force: {rows}"
    assert rows[0]["snapshot_version"] == m["snapshot_version"] > old_row["snapshot_version"]
    # _find_manifest resolves to the replacement, not the stale row
    assert t._find_manifest("j", 0)["snapshot_version"] == m["snapshot_version"]
    # the supersession survives reload
    t2 = LakehouseTable.load(spark, path)
    assert t2._find_manifest("j", 0)["snapshot_version"] == m["snapshot_version"]


def test_scan_raw_lww_fold_equals_read(spark, tmp_path):
    """scan_raw returns the UNRESOLVED multiset (every stored version);
    folding it through the same LWW rule must reproduce read() exactly —
    the equivalence the resolve-free cascade lookup and any other
    LWW-idempotent consumer lean on.  Checked with pending deltas
    present (multiple versions per key across base/L1/L0), full table
    and bucket-pruned."""
    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental
    from dlt_spark.sources.changelog import write_change_log
    from dlt_spark.sources.generator import generate_change_log

    log = str(tmp_path / "log")
    tbl = str(tmp_path / "tbl")
    write_change_log(
        generate_change_log(spark, 6_000, n_keys=400, seed=11),
        log, part_width=1_000,
    )
    run_incremental(spark, log, tbl, batch_width=1_000, n_buckets=8,
                    log_part_width=1_000)
    t = LakehouseTable.load(spark, tbl)
    assert t._snap["deltas"], "need pending L0 for a meaningful check"

    def key(df):
        return sorted(
            (r["doc_id"], r["_commit_seq"], tuple(r["tokens"] or []))
            for r in df.collect()
        )

    for buckets in (None, [1, 5]):
        raw = t.scan_raw(buckets=buckets)
        folded = t._resolve(raw).where("NOT _deleted")
        assert key(folded) == key(t.read(buckets=buckets))
    # raw really is a multiset: more rows than resolved keys
    assert t.scan_raw().count() > t.read(include_deleted=True).count()


def test_read_pins_one_snapshot_across_concurrent_fold(spark, tmp_path):
    """ADVICE r3 (high): read()/scan_raw() used to dereference
    self._snap several times (buckets, then l1/deltas via _pending);
    a fold/compaction commit swapping the snapshot between those reads
    produced a torn view — base files from the OLD snap, deltas from
    the NEW (already-folded, empty) one — silently dropping every row
    that had been pending.  Simulate exactly that interleaving with a
    snapshot sequence that advances on every attribute access: the
    pinned read must return the complete pre-fold state."""
    path = str(tmp_path / "t")
    t = LakehouseTable.create(spark, path, n_buckets=8)
    t.merge(_updates(spark, 0, 499), "job", 0)
    t.merge(_updates(spark, 500, 999), "job", 1)
    stale = LakehouseTable.load(spark, path)
    old_snap = stale._snap
    assert old_snap["deltas"], "need pending L0 for the race to matter"
    expected = sorted(
        (r["doc_id"], r["_commit_seq"])
        for r in stale.read().select("doc_id", "_commit_seq").collect()
    )

    folder = LakehouseTable.load(spark, path)
    folder.compact()  # moves all pending → base, swaps the snapshot
    new_snap = folder._snap
    assert not new_snap["deltas"] and not new_snap.get("l1")

    class TornSnap(LakehouseTable):
        # property shadows the instance attribute: each access returns
        # the next snapshot in the scripted sequence (old, then new —
        # i.e. the fold lands right after the first dereference)
        @property
        def _snap(self):
            i = min(self._snap_i, len(self._snap_seq) - 1)
            self._snap_i += 1
            return self._snap_seq[i]

        @_snap.setter
        def _snap(self, v):  # pragma: no cover - load() assigns it
            pass

    stale.__class__ = TornSnap
    stale._snap_seq = [old_snap, new_snap]

    for method in ("read", "scan_raw"):
        stale._snap_i = 0
        df = getattr(stale, method)()
        if method == "scan_raw":
            df = stale._resolve(df).where("NOT _deleted")
        got = sorted(
            (r["doc_id"], r["_commit_seq"])
            for r in df.select("doc_id", "_commit_seq").collect()
        )
        assert got == expected, f"{method} tore across the fold"
        assert stale._snap_i > 1, "sequence never advanced - test inert"


def test_compact_pins_one_snapshot_vs_concurrent_fold(spark, tmp_path):
    """VERDICT r4 #4: compact() used to dereference self._snap twice
    (_pending, then buckets/version) — a concurrent commit swapping the
    snapshot in between could fold a MIX of two snapshots and publish
    it as if nothing happened.  With the snapshot pinned once, the same
    interleaving must surface as a SnapshotConflict at publish (the
    version CAS), never as a silently-torn base."""
    from dlt_spark.lakehouse import SnapshotConflict

    path = str(tmp_path / "t")
    t = LakehouseTable.create(spark, path, n_buckets=8)
    t.merge(_updates(spark, 0, 499), "job", 0)
    t.merge(_updates(spark, 500, 999), "job", 1)
    stale = LakehouseTable.load(spark, path)
    old_snap = stale._snap
    assert old_snap["deltas"], "need pending L0 for the race to matter"

    folder = LakehouseTable.load(spark, path)
    folder.compact()  # the concurrent fold: publishes version v+1
    new_snap = folder._snap

    class TornSnap(LakehouseTable):
        @property
        def _snap(self):
            i = min(self._snap_i, len(self._snap_seq) - 1)
            self._snap_i += 1
            return self._snap_seq[i]

        @_snap.setter
        def _snap(self, v):  # pragma: no cover
            pass

    stale.__class__ = TornSnap
    stale._snap_seq = [old_snap, new_snap]
    stale._snap_i = 0
    # pinned compact works entirely off old_snap and tries to publish
    # old_version+1 — already taken by the concurrent fold → conflict.
    # (The un-pinned code read the NEW version on its later dereference
    # and published v+2 with no error.)
    with pytest.raises(SnapshotConflict):
        stale.compact()


def test_manifest_spill_version_index_prunes_files(spark, tmp_path):
    """VERDICT r4 next-#6: each manifest spill sidecar records its
    [v_min, v_max] snapshot-version range, and a changes_between window
    seek opens ONLY the sidecars intersecting the window — O(window)
    driver metadata on a 10^4-commit table, not O(commits).  Synthesize
    10_000 commits' manifests through the real spill machinery and
    assert the windowed scan's input files collapse."""
    import os as _os

    t = LakehouseTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    # one real delta file every manifest can reference
    t.merge(_updates(spark, 0, 49), "seed", 0)
    delta_files = t._snap["deltas"][0]["files"]

    def mk(v):
        return {
            "job_id": "job", "batch_id": v, "seq_from": v * 10,
            "seq_to": v * 10 + 9, "events_read": 10, "events_applied": 10,
            "deletes_applied": 0, "min_doc_id": "a", "max_doc_id": "z",
            "committed_at": "2026-08-17T00:00:00+00:00",
            "snapshot_version": v, "data_hash": v,
            "delta_files": list(delta_files),
        }

    # feed 10_000 manifests through the real spill path in commit-order
    tail, spill = [], list(t._snap["manifest_spill"])
    for v in range(1, 10_001):
        tail.append(mk(v))
        t._snap["manifest_spill"] = spill
        tail, spill = t._spill_manifests(tail)
    t._snap["manifests"] = tail
    t._snap["manifest_spill"] = spill

    assert len(spill) > 100  # ~150 sidecars at tail=64
    assert all(e["v_min"] <= e["v_max"] for e in spill)

    all_files = set(t.manifests_df().inputFiles())
    win_files = set(t.manifests_df(9_900, 10_000).inputFiles())
    assert len(all_files) > 100
    assert len(win_files) <= 3, f"window opened {len(win_files)} sidecars"

    # the windowed feed itself is correct: exactly the window's commits
    ch = t.changes_between(9_990, 10_000)
    assert ch.count() == 10 * t._snap["deltas"][0]["rows"]


def test_fold_pending_state_equivalent_and_bounded(spark, tmp_path):
    """The commit-path fold of the pending L0 commits, inside the
    commit that brings L0 to max_deltas: state equals a non-folding
    twin's, L0 empties (here into base: the table has no base to
    outweigh the fold), and lineage (watermark, manifests, applied
    ranges) and the snapshot count match the twin's — the fold rides
    the batch's own snapshot swap."""
    t = LakehouseTable.create(spark, str(tmp_path / "t"), n_buckets=8, max_deltas=4)
    twin = LakehouseTable.create(spark, str(tmp_path / "twin"), n_buckets=8,
                                 max_deltas=100)
    for b in range(4):
        for tbl in (t, twin):
            tbl.merge(_updates(spark, b * 500, b * 500 + 499), "job", b)
    t, twin = t.refresh(), twin.refresh()
    assert len(twin._snap["deltas"]) == 4

    assert t._snap["deltas"] == []
    assert t._snap["l1"] == {} and t._snap["buckets"]

    def state(tbl):
        return sorted(
            tuple(r) for r in tbl.read().select("doc_id", "_commit_seq").collect()
        )

    assert state(t) == state(twin)
    assert t.watermark() == twin.watermark()
    assert len(t._snap["manifests"]) == len(twin._snap["manifests"])
    assert t.version == twin.version


def test_write_partitions_sized_from_rows(spark, tmp_path):
    """The bucket-clustered write exchange is sized from the rows it
    writes: defaultParallelism for a small write, doubled per ~16k
    rows, 4× n_buckets as the ceiling."""
    from dlt_spark.session import ROWS_PER_PARTITION, partitions_for_rows

    dp = spark.sparkContext.defaultParallelism
    t = LakehouseTable.create(spark, str(tmp_path / "t"), n_buckets=16)
    assert t._write_partitions(0) == dp
    assert t._write_partitions(dp * ROWS_PER_PARTITION) == 2 * dp
    assert t._write_partitions(10**9) == 64
    # the floor never lifts the count above the ceiling
    t1 = LakehouseTable.create(spark, str(tmp_path / "t1"), n_buckets=1)
    assert t1._write_partitions(0) == min(dp, 4)
    # the runner's shuffle sizing shares the rule: a 394k-event batch
    # at local[32] with 128 configured partitions runs at 32
    assert partitions_for_rows(394_000, 32 // 4, 128) == 32


def _seed_base(spark, t, n=12_000):
    """Merge a seed of ``n`` events over ``n`` keys (about n / 2
    distinct doc_ids) and compact it: a base that outweighs the small
    folds run over it, so they fold into L1.  Returns the seed's update
    rows (doc_id, op, commit_seq)."""
    from dlt_spark.functions.normalize import normalize_events

    upd = dedup_lww(
        normalize_events(generate_change_log(spark, n, n_keys=n, seed=3)),
        with_counts=True,
    )
    t.merge(upd, "seed", 0)
    t.compact()
    return upd.select("doc_id", "op", "commit_seq").collect()


def test_fold_writes_row_sized_l1_entries(spark, tmp_path, monkeypatch):
    """An L0→L1 fold of r rows writes at most partitions_for_rows(r, 1,
    n_buckets) files, keyed at that modulus — a small fold writes one
    file, not one per bucket.  A fold of ≥ n_buckets ×
    ROWS_PER_PARTITION rows keeps the full layout: one file per bucket
    under the table's modulus.  The read is unchanged by either.  (Each
    table gets a seed base more than BASE_OVER_PENDING_MIN × the fold,
    so the fold lands in L1 instead of majoring into base.)"""
    from dlt_spark.lakehouse import _bkey_parse
    from dlt_spark.session import partitions_for_rows

    def fold(name):
        """Seed ``name`` and a non-folding twin, then merge 3 batches
        into both: the third merge brings ``name``'s L0 to max_deltas
        = 3 and folds.  Returns (table, rows folded, the L1 entries the
        fold wrote)."""
        t = LakehouseTable.create(spark, str(tmp_path / name), n_buckets=16,
                                  max_deltas=3)
        twin = LakehouseTable.create(spark, str(tmp_path / f"{name}_twin"),
                                     n_buckets=16, max_deltas=100)
        for tbl in (t, twin):
            _seed_base(spark, tbl)
        assert t._snap["l1"] == {}
        for b in range(3):
            for tbl in (t, twin):
                tbl.merge(_updates(spark, b * 300, b * 300 + 299), "job", b)
        t, twin = t.refresh(), twin.refresh()
        assert t._snap["deltas"] == [] and len(twin._snap["deltas"]) == 3
        rows = sum(e["rows"] for e in twin._snap["deltas"])
        got, want = (
            sorted(map(tuple, tbl.read().select("doc_id", "_commit_seq").collect()))
            for tbl in (t, twin)
        )
        assert got == want
        return t, rows, {k: e["files"] for k, e in t._snap["l1"].items()}

    t, rows, new = fold("small")
    m = partitions_for_rows(rows, 1, 16)
    assert m < 16
    assert {_bkey_parse(k)[0] for k in new} == {m}
    assert sum(len(ps) for ps in new.values()) <= m
    assert all(len(ps) == 1 for ps in new.values())

    # a fold of ≥ n_buckets × ROWS_PER_PARTITION rows: one file per bucket
    monkeypatch.setattr("dlt_spark.session.ROWS_PER_PARTITION", 10)
    t, rows, new = fold("large")
    assert rows >= 16 * 10
    assert {_bkey_parse(k)[0] for k in new} == {16}
    assert len(new) == 16 and all(len(ps) == 1 for ps in new.values())


def _lww_live(rows):
    """Independent LWW fold of deduped update rows (one per doc_id per
    batch, batches over disjoint seq ranges): the newest row per key
    wins; deletes remove the key.  Returns {(doc_id, commit_seq)}."""
    win = {}
    for r in rows:
        cur = win.get(r["doc_id"])
        if cur is None or r["commit_seq"] > cur["commit_seq"]:
            win[r["doc_id"]] = r
    return {(d, r["commit_seq"]) for d, r in win.items() if r["op"] != "D"}


def _fold_run(spark, t, seen, folds, monkeypatch, start=1000, max_pending=None):
    """Run ``folds`` commit-path folds of max_deltas small merges each
    into ``t`` (seq ``start`` on; ``seen`` holds the update rows already
    applied), checking after every fold that read() equals an
    independent LWW fold of every update so far, that no L1 key exceeds
    max_deltas + 4 files and, if given, that fewer than
    ``max_pending`` rows are pending.  Returns (table, one record per
    _major_compact call — the base keys it replaced, the base rows and
    pending rows it read, its modulus floor — and the key of every
    coarse L1 rewrite)."""
    majors, rewrites = [], []
    major, rewrite = LakehouseTable._major_compact, LakehouseTable._rewrite_l1

    def major_spy(self, base, base_rows, pending, *a, **kw):
        majors.append({
            "base": sorted(base), "base_rows": base_rows,
            "pending_rows": sum(e["rows"] for e in pending),
            "floor": a[1] if len(a) > 1 else kw.get("floor", 1),
        })
        return major(self, base, base_rows, pending, *a, **kw)

    def rewrite_spy(self, key, *a, **kw):
        rewrites.append(key)
        return rewrite(self, key, *a, **kw)

    monkeypatch.setattr(LakehouseTable, "_major_compact", major_spy)
    monkeypatch.setattr(LakehouseTable, "_rewrite_l1", rewrite_spy)
    log = generate_change_log(spark, start + 200 * folds * t.max_deltas,
                              n_keys=400, seed=17)
    from dlt_spark.functions.normalize import normalize_events

    seen = list(seen)
    batch = 0
    for _ in range(folds):
        for _ in range(t.max_deltas):
            lo = start + batch * 200
            upd = dedup_lww(
                normalize_events(log.where(F.col("commit_seq").between(lo, lo + 199))),
                with_counts=True,
            )
            seen += upd.select("doc_id", "op", "commit_seq").collect()
            t.merge(upd, "job", batch)
            batch += 1
        t = t.refresh()
        assert t._snap["deltas"] == []  # the commit folded
        got = {tuple(r) for r in t.read().select("doc_id", "_commit_seq").collect()}
        assert got == _lww_live(seen)
        assert max(
            (len(e["files"]) for e in t._snap["l1"].values()), default=0
        ) <= t.max_deltas + 4
        if max_pending is not None:
            assert t._pending()[1] < max_pending
    return t, majors, rewrites


def test_small_folds_compact_coarse_l1_without_base_rewrite(spark, tmp_path, monkeypatch):
    """Long run of small folds over a base more than
    BASE_OVER_PENDING_MIN × the pending rows: each fold lands in the
    coarse key "1:0", which is compacted alone every time it reaches its
    file cap.  Over so large a base no coarse key joins a major, so base
    is never rewritten, read() stays equal to an independent LWW fold
    and L1 stays bounded."""
    from dlt_spark.lakehouse import _bkey_parse

    t = LakehouseTable.create(spark, str(tmp_path / "t"), n_buckets=4, max_deltas=2)
    seen = _seed_base(spark, t)
    base0 = dict(t._snap["buckets"])
    # the compaction wrote the seed at the modulus its rows justify
    assert base0 and {_bkey_parse(k)[0] for k in base0} == {1}
    cap = t.max_deltas + 0  # the staggered cap of "1:0"
    folds = 4 * cap
    t, majors, rewrites = _fold_run(
        spark, t, seen, folds, monkeypatch, start=20_000
    )
    assert majors == []
    assert t._snap["buckets"] == base0
    assert set(t._snap["l1"]) == {"1:0"}
    assert rewrites and set(rewrites) == {"1:0"}
    assert len(t._snap["l1"]["1:0"]["files"]) <= cap


def test_coarse_l1_splits_then_majors_only_full_modulus(spark, tmp_path, monkeypatch):
    """A coarse L1 key whose rows justify a finer modulus, over a base
    more than BASE_OVER_PENDING_MIN × its rows, is rewritten alone at
    the finer modulus; only keys at the full modulus major into that
    base, and such a major reads no coarse L1 key.
    (ROWS_PER_PARTITION is lowered so small folds exercise the row
    thresholds.)"""
    from dlt_spark.lakehouse import _bkey_parse

    monkeypatch.setattr("dlt_spark.session.ROWS_PER_PARTITION", 150)
    t = LakehouseTable.create(spark, str(tmp_path / "t"), n_buckets=4, max_deltas=2)
    seen = _seed_base(spark, t)
    assert {_bkey_parse(k)[0] for k in t._snap["buckets"]} == {4}
    t, majors, rewrites = _fold_run(
        spark, t, seen, 4, monkeypatch, start=20_000
    )
    moduli = {_bkey_parse(k)[0] for k in rewrites}
    assert moduli and max(moduli) < 4
    # the folds write at modulus 2, so full-modulus L1 keys come only
    # from splits of the coarse keys
    assert majors, "no full-modulus key reached its cap"
    for m in majors:
        assert m["floor"] == 4 and {_bkey_parse(k)[0] for k in m["base"]} == {4}, m


def test_small_folds_major_coarse_l1_into_small_base(spark, tmp_path, monkeypatch):
    """Long run (8× the cap of "1:0") of small folds over a compacted
    base that outweighs each fold but not the coarse L1 key's rows at
    its cap: the key majors into the base entries it overlaps, so base
    is refreshed and pending stays bounded.  After every fold read()
    equals an independent LWW fold and no L1 key holds more than
    max_deltas + 4 files; pending rows stay under ROWS_PER_PARTITION
    (lowered to 1000: the seed base then spans two classes the major
    must keep disjoint); every major reads at most (1 +
    BASE_OVER_PENDING_MIN) × the pending rows it consumes."""
    from dlt_spark.lakehouse import BASE_OVER_PENDING_MIN, _bkey_parse, _keys_overlap

    monkeypatch.setattr("dlt_spark.session.ROWS_PER_PARTITION", 1000)
    t = LakehouseTable.create(spark, str(tmp_path / "t"), n_buckets=4, max_deltas=2)
    seen = _seed_base(spark, t, n=3_000)
    base0 = dict(t._snap["buckets"])
    assert {_bkey_parse(k)[0] for k in base0} == {2}
    cap = t.max_deltas + 0  # the staggered cap of "1:0"
    t, majors, rewrites = _fold_run(
        spark, t, seen, 8 * cap, monkeypatch, start=20_000, max_pending=1000,
    )
    assert majors, "base never refreshed"
    assert t._snap["buckets"] != base0
    for m in majors:
        assert m["base_rows"] <= BASE_OVER_PENDING_MIN * m["pending_rows"], m
    # the majors kept base entries disjoint classes
    keys = sorted(t._snap["buckets"])
    assert not any(
        _keys_overlap(a, b) for i, a in enumerate(keys) for b in keys[i + 1:]
    ), keys


def _jobs_started(spark, build, action):
    """Number of Spark jobs ``build()`` starts, and how many the
    ``action`` on its result starts.  Job events reach the status store
    through the listener bus in order, so once the action's jobs are
    visible every job the build started is visible too."""
    import time
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    g_build, g_action = (f"{n}-{uuid.uuid4().hex}" for n in ("build", "action"))
    try:
        sc.setJobGroup(g_build, g_build)
        df = build()
        sc.setJobGroup(g_action, g_action)
        action(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(g_action) and time.monotonic() < deadline:
        time.sleep(0.05)
    return (
        len(tracker.getJobIdsForGroup(g_build)),
        len(tracker.getJobIdsForGroup(g_action)),
    )


def test_read_over_many_files_starts_no_listing_job(spark, tmp_path):
    """read() hands Spark exact data-file paths from the snapshot, so
    building it over more than 32 files (Spark's parallel-listing
    threshold by default) starts no Spark job before the action."""
    t = LakehouseTable.create(spark, str(tmp_path / "t"), n_buckets=64,
                              max_deltas=64)
    for b in range(33):
        t.merge(_updates(spark, b * 50, b * 50 + 49), "job", b)
    t = t.refresh()
    files, _ = t._pending()
    files += [p for ps in t._snap["buckets"].values() for p in ps]
    assert len(files) > 32
    build_jobs, action_jobs = _jobs_started(
        spark, t.read, lambda df: df.count()
    )
    assert action_jobs > 0
    assert build_jobs == 0


def test_compact_small_table_writes_row_sized_base(spark, tmp_path):
    """compact() and purge_tombstones() write base at the modulus the
    rows justify: a 1,000-row table at 64 buckets compacts into at most
    2 base files, not one per bucket, and its read is unchanged."""
    from dlt_spark.functions.normalize import normalize_events

    t = LakehouseTable.create(spark, str(tmp_path / "t"), n_buckets=64)
    upd = dedup_lww(normalize_events(
        generate_change_log(spark, 2_500, n_keys=2_500, seed=11)
    ), with_counts=True)
    t.merge(upd, "job", 0)
    t = t.refresh()
    assert 900 <= t._snap["deltas"][0]["rows"] <= 1_500
    before = sorted(map(tuple, t.read(include_deleted=True).select(
        "doc_id", "_commit_seq", "_deleted").collect()))
    t.compact()
    assert not t._pending()[0]
    assert sum(len(ps) for ps in t._snap["buckets"].values()) <= 2
    after = sorted(map(tuple, t.read(include_deleted=True).select(
        "doc_id", "_commit_seq", "_deleted").collect()))
    assert after == before
    assert t.purge_tombstones(horizon_seq=10**9) == sum(1 for r in before if r[2])
    assert sum(len(ps) for ps in t._snap["buckets"].values()) <= 2
    assert sorted(map(tuple, t.read().select(
        "doc_id", "_commit_seq", "_deleted").collect())) == [
            r for r in before if not r[2]]


def test_caught_up_read_is_a_plain_scan(spark, tmp_path):
    """A bulk run whose folds find base no larger than
    BASE_OVER_PENDING_MIN × their rows ends with nothing pending: the
    final fold majors into base, and read() runs as a parquet scan with
    no Exchange."""
    from dlt_spark.plans.runner import run_incremental
    from dlt_spark.sources.changelog import write_change_log

    log = str(tmp_path / "log")
    write_change_log(generate_change_log(spark, 8_000, seed=7), log, 1_000)
    path = str(tmp_path / "t")
    run_incremental(spark, log, path, batch_width=1_000, n_buckets=8,
                    log_part_width=1_000)
    t = LakehouseTable.load(spark, path)
    assert t._snap["deltas"] == [] and t._snap["l1"] == {}
    df = t.read()
    assert df.count() > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_changes_between_tail_window_starts_no_job(spark, tmp_path):
    """A change-feed window inside the in-snapshot manifest tail (no
    spill sidecar) is planned without a Spark job."""
    t = LakehouseTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    v0 = t.version
    for b in range(3):
        t.merge(_updates(spark, b * 500, b * 500 + 499), "job", b)
    t = t.refresh()
    assert not t._snap["manifest_spill"]
    build_jobs, action_jobs = _jobs_started(
        spark, lambda: t.changes_between(v0 + 1), lambda df: df.count()
    )
    assert action_jobs > 0
    assert build_jobs == 0
    expected = sum(e["rows"] for e in t._snap["deltas"][1:])
    assert t.changes_between(v0 + 1).count() == expected


def test_bulk_run_ends_fully_folded(spark, tmp_path, monkeypatch):
    """A bulk run of max_deltas batches into a fresh table folds once,
    in its last commit (the commit path is the one fold trigger), and
    ends with L0 and L1 empty — same final table state as tick-by-tick
    ingest."""
    from dlt_spark.plans.runner import run_incremental
    from dlt_spark.sources.changelog import write_change_log

    log = str(tmp_path / "log")
    n = 16_000
    write_change_log(
        generate_change_log(spark, n, seed=7, dup_frac=0.05), log, 2_000
    )
    folds = []
    fold = LakehouseTable._fold_and_maybe_major

    def fold_spy(self, *a, **kw):
        folds.append(len(a[0]))  # L0 commits folded
        return fold(self, *a, **kw)

    monkeypatch.setattr(LakehouseTable, "_fold_and_maybe_major", fold_spy)
    ta = str(tmp_path / "ta")
    run_incremental(spark, log, ta, batch_width=2_000, n_buckets=8,
                    log_part_width=2_000)
    t = LakehouseTable.load(spark, ta)
    assert folds == [t.max_deltas] == [8]  # the 8th commit folded all 8
    assert t._snap["deltas"] == [] and t._snap["l1"] == {}

    tb = str(tmp_path / "tb")
    for b in range(8):
        run_incremental(spark, log, tb, seq_from=b * 2_000,
                        seq_to=(b + 1) * 2_000 - 1, batch_width=2_000,
                        n_buckets=8, log_part_width=2_000)
    t2 = LakehouseTable.load(spark, tb)
    rows_a = sorted(
        tuple(r)
        for r in t.read().select("doc_id", "_commit_seq", "_row_id").collect()
    )
    rows_b = sorted(
        tuple(r)
        for r in t2.read().select("doc_id", "_commit_seq", "_row_id").collect()
    )
    assert rows_a == rows_b


def test_load_rejects_snapshot_missing_a_create_key(spark, tmp_path):
    """Only the layout create() writes is readable: a snapshot lacking
    any of its keys is refused with a ValueError naming the key, never
    upgraded by guessing from its shape."""
    import json
    import os

    from dlt_spark.lakehouse import _SNAP_KEYS

    path = str(tmp_path / "t")
    LakehouseTable.create(spark, path, n_buckets=4)
    snap_dir = os.path.join(path, "_snapshots")
    (v0,) = os.listdir(snap_dir)
    with open(os.path.join(snap_dir, v0)) as f:
        snap = json.load(f)
    assert set(snap) == set(_SNAP_KEYS)  # the guard checks what create writes
    for key in _SNAP_KEYS:
        broken = {k: v for k, v in dict(snap, version=1).items() if k != key}
        with open(os.path.join(snap_dir, "v000000000001.json"), "w") as f:
            json.dump(broken, f)
        with pytest.raises(ValueError, match=rf"lacks key\(s\) {key}$"):
            LakehouseTable.load(spark, path)
    os.remove(os.path.join(snap_dir, "v000000000001.json"))
    assert LakehouseTable.load(spark, path).version == 0
