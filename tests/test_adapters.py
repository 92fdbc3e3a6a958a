"""SchemaAdapter registry tests (SURVEY §1.2 protocol; reference
loader/setup.go:68-78 schema switch, schema/tendermint_preprocessed.go
explode semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dlt_spark.adapters import ADAPTERS, get_adapter
from dlt_spark.schemas import CHANGE_EVENT_SCHEMA


def _ev(spark, rows):
    return spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)


def test_registry_switch():
    assert set(ADAPTERS) == {"tokens", "height", "exploded", "exploded_cascade"}
    assert get_adapter("height").name == "height"
    # pass-through of an ad-hoc adapter object
    class Custom:
        name = "x"
        def normalize(self, df, use_arrow_udf=False):
            return df
    assert get_adapter(Custom()).name == "x"
    # unknown name raises (the analog of loader/setup.go:77's panic)
    with pytest.raises(ValueError, match="unknown schema adapter"):
        get_adapter("nope")


def test_height_adapter_parses_key(spark):
    rows = [Row(commit_seq=1, doc_id="doc_0000000042", op="I", tokens=[1, 2],
                payload=None, payload_version=1, source="s", extracted_at=None)]
    out = get_adapter("height").normalize(_ev(spark, rows)).collect()[0]
    assert out["height"] == 42 and out["n_tok"] == 2


def test_exploded_adapter_children_and_provenance(spark):
    """One event → block + per-array children with (kind, array_index)
    provenance (reference :156-208: block, then per-array rows)."""
    payload = '{"block": [1, 2, 3], "txs": [[4], [5, 6]], "events": [[7]]}'
    rows = [Row(commit_seq=9, doc_id="h9", op="I", tokens=None,
                payload=payload, payload_version=1, source="s", extracted_at=None)]
    out = {r["doc_id"]: r for r in
           get_adapter("exploded").normalize(_ev(spark, rows)).collect()}
    assert set(out) == {"h9/block/0", "h9/tx/0", "h9/tx/1", "h9/event/0"}
    b = out["h9/block/0"]
    assert b["kind"] == "block" and list(b["tokens"]) == [1, 2, 3] and b["n_tok"] == 3
    t1 = out["h9/tx/1"]
    assert (t1["kind"], t1["array_index"], list(t1["tokens"])) == ("tx", 1, [5, 6])
    assert all(r["parent_doc_id"] == "h9" and r["commit_seq"] == 9
               for r in out.values())


def test_exploded_adapter_missing_arrays_and_delete(spark):
    """Null/missing arrays yield no children; a delete emits only the
    block tombstone (upsert-by-PK delete semantics, documented)."""
    rows = [
        Row(commit_seq=1, doc_id="a", op="I", tokens=None,
            payload='{"block": [1]}', payload_version=1, source="s",
            extracted_at=None),
        Row(commit_seq=2, doc_id="b", op="D", tokens=None,
            payload=None, payload_version=1, source="s", extracted_at=None),
    ]
    out = get_adapter("exploded").normalize(_ev(spark, rows)).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert set(by_id) == {"a/block/0", "b/block/0"}
    assert by_id["b/block/0"]["op"] == "D" and by_id["b/block/0"]["tokens"] is None


def test_exploded_cascade_delete_through_engine(spark, tmp_path):
    """exploded_cascade: a parent delete tombstones EVERY child the
    parent had (table state + earlier in-batch); a later re-insert
    revives only its own children — stale children stay dead."""
    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental
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
    tbl = str(tmp_path / "tbl")
    write_change_log(_ev(spark, rows), log, part_width=2)
    # two batches so the delete cascades against TABLE state (batch 1)
    # and the re-insert lands after it (same batch as the delete)
    run_incremental(spark, log, tbl, schema="exploded_cascade",
                    batch_width=2, n_buckets=4, log_part_width=2)
    out = {r["doc_id"]: r for r in LakehouseTable.load(spark, tbl).read().collect()}
    assert set(out) == {"p/block/0", "p/tx/0", "q/block/0", "q/tx/0"}
    assert list(out["p/block/0"]["tokens"]) == [9]   # re-inserted version
    assert list(out["p/tx/0"]["tokens"]) == [11]     # new child
    # p/tx/1 (from the deleted version) is GONE — the cascade killed it
    assert list(out["q/tx/0"]["tokens"]) == [50]     # other parent intact


def test_exploded_through_engine_lww(spark, tmp_path):
    """Child rows ride the shared LWW+MERGE engine independently: an
    update that shrinks the tx array leaves the stale high-index tx row
    (upsert-by-PK — the reference's destinations behave identically);
    updated children win by commit_seq."""
    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.operators.dedup import dedup_lww

    rows = [
        Row(commit_seq=1, doc_id="p", op="I", tokens=None,
            payload='{"block": [1], "txs": [[10], [20]]}',
            payload_version=1, source="s", extracted_at=None),
        Row(commit_seq=2, doc_id="p", op="U", tokens=None,
            payload='{"block": [9], "txs": [[11]]}',
            payload_version=1, source="s", extracted_at=None),
    ]
    t = LakehouseTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    upd = dedup_lww(get_adapter("exploded").normalize(_ev(spark, rows)))
    t.merge(upd, "j", 0, 1, 2)
    out = {r["doc_id"]: r for r in t.read().collect()}
    assert list(out["p/block/0"]["tokens"]) == [9]   # updated
    assert list(out["p/tx/0"]["tokens"]) == [11]     # updated
    assert list(out["p/tx/1"]["tokens"]) == [20]     # stale survivor (doc'd)


def test_cascade_lookup_bucket_pruned_and_pipelined(
    spark, tmp_path, monkeypatch, crash_after
):
    """VERDICT r2 #3: (a) the cascade candidate lookup reads only the
    delete-parents' buckets (table is parent-bucketed via bucket_expr);
    (b) delete-free batches never read the table in prepare; (c) a
    crash between commits applies on the cascade path too (ADVICE.md)
    and the resumed run converges."""
    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental
    from dlt_spark.sources.changelog import write_change_log

    rows = []
    for i in range(20):  # batch 0-9: inserts only (two parents/batch)
        rows.append(Row(
            commit_seq=i, doc_id=f"p{i % 8}", op="I", tokens=None,
            payload='{"block": [%d], "txs": [[%d], [%d]]}' % (i, i + 1, i + 2),
            payload_version=1, source="s", extracted_at=None))
    rows.append(Row(commit_seq=20, doc_id="p3", op="D", tokens=None,
                    payload=None, payload_version=1, source="s",
                    extracted_at=None))
    rows.append(Row(commit_seq=21, doc_id="p5", op="I", tokens=None,
                    payload='{"block": [99]}', payload_version=1,
                    source="s", extracted_at=None))
    log = str(tmp_path / "log")
    tbl = str(tmp_path / "tbl")
    write_change_log(_ev(spark, rows), log, part_width=2)

    # count candidate-lookup scans during prepares and record the bucket
    # pruning (the lookup is the resolve-free scan_raw — read() stays
    # untouched on the ingest path)
    reads = []
    orig_scan = LakehouseTable.scan_raw

    def spy_scan(self, buckets=None, **kw):
        reads.append(buckets)
        return orig_scan(self, buckets=buckets, **kw)

    monkeypatch.setattr(LakehouseTable, "scan_raw", spy_scan)
    # crash injection on the cascade path (previously silently ignored)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_incremental(spark, log, tbl, schema="exploded_cascade",
                        batch_width=2, n_buckets=8, log_part_width=2,
                        stop_requested=crash_after(3))
    run_incremental(spark, log, tbl, schema="exploded_cascade",
                    batch_width=2, n_buckets=8, log_part_width=2)
    # only the single delete-batch looks up the table — once per run
    # that got far enough to prepare it (the crashed run's pool may or
    # may not have reached it before cancellation) — and every lookup
    # was bucket-pruned to p3's residue
    assert 1 <= len(reads) <= 2
    assert all(r is not None and len(r) == 1 for r in reads)
    monkeypatch.undo()

    t = LakehouseTable.load(spark, tbl)
    assert t.bucket_expr == "substring_index(doc_id, '/', 1)"
    out = {r["doc_id"]: r for r in t.read().collect()}
    # p3's children are all dead (cascade), everyone else intact
    assert not any(k.startswith("p3/") for k in out)
    assert list(out["p5/block/0"]["tokens"]) == [99]  # post-delete batch
    assert "p2/tx/1" in out and "p7/tx/0" in out
    # oracle cross-check: rows hash-bucket by PARENT on disk
    some = [k for k in t._snap["buckets"] if t._snap["buckets"][k]]
    assert some or t._pending()[0]


def test_cascade_forced_replay_is_idempotent(spark, tmp_path):
    """Force-replaying an OLD range that contains a parent delete must
    not resurrect or re-kill anything: the replayed delete's blanket
    tombstones carry its original del_seq, so every newer version in
    the table (including p's own re-insert at seq 4) outranks them in
    the LWW resolve — the safety property the resolve-free cascade
    lookup leans on."""
    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental
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
    tbl = str(tmp_path / "tbl")
    write_change_log(_ev(spark, rows), log, part_width=2)
    run_incremental(spark, log, tbl, schema="exploded_cascade",
                    batch_width=2, n_buckets=4, log_part_width=2)
    before = sorted(
        (r["doc_id"], tuple(r["tokens"] or []))
        for r in LakehouseTable.load(spark, tbl).read().collect()
    )
    # forced partial replay of the range holding the delete (seq 2-3)
    run_incremental(spark, log, tbl, schema="exploded_cascade",
                    seq_from=2, seq_to=3, force=True,
                    batch_width=2, n_buckets=4, log_part_width=2)
    after = sorted(
        (r["doc_id"], tuple(r["tokens"] or []))
        for r in LakehouseTable.load(spark, tbl).read().collect()
    )
    assert after == before


def test_cascade_bulk_pipeline_equals_serial_ticks(spark, tmp_path):
    """Bulk pipelined replay (gap candidates from reused prepared
    deltas and/or log re-normalize, whichever the race picked) must
    converge to exactly the state of a strictly serial one-batch-per-
    run replay of the same log — engine-vs-engine, deterministic, and
    independent of which gap path each delete batch took."""
    from pyspark.sql import functions as F

    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental
    from dlt_spark.sources.changelog import write_change_log
    from dlt_spark.sources.generator import generate_change_log

    n = 4_000
    ev = generate_change_log(spark, n, n_keys=300, seed=21,
                             version_mix=(1.0, 0.0, 0.0))
    exp = ev.withColumn(
        "payload",
        F.when(F.col("op") != "D", F.to_json(F.struct(
            F.slice(F.col("tokens"), 1, 3).alias("block"),
            F.array(F.slice(F.col("tokens"), 4, 4)).alias("txs"),
        ))),
    ).withColumn("tokens", F.lit(None).cast("array<int>"))
    log = str(tmp_path / "log")
    write_change_log(exp, log, part_width=500)

    def state(tbl):
        return sorted(
            (r["doc_id"], r["_commit_seq"], tuple(r["tokens"] or []))
            for r in LakehouseTable.load(spark, tbl).read().collect()
        )

    bulk = str(tmp_path / "bulk")
    run_incremental(spark, log, bulk, schema="exploded_cascade",
                    batch_width=500, n_buckets=8, log_part_width=500,
                    max_inflight=4)
    serial = str(tmp_path / "serial")
    for b in range(8):
        run_incremental(spark, log, serial, schema="exploded_cascade",
                        seq_from=b * 500, seq_to=(b + 1) * 500 - 1,
                        batch_width=500, n_buckets=8, log_part_width=500)
    assert state(bulk) == state(serial)


def test_mass_delete_parents_stay_distributed(spark, tmp_path):
    """VERDICT r3 wrong-#1 lock (adapter level): with the parent deletes
    given as a DataFrame (the prefetch's mass-delete form) the
    delete-parent set must stay a DataFrame end to end — the cascade
    expansion plan contains NO driver-side materialization (no
    LocalTableScan anywhere: a collect+createDataFrame round-trip would
    plant one) — and the expansion must produce exactly the same final
    state the collected path produces."""
    from dlt_spark.adapters import get_adapter
    from dlt_spark.lakehouse import LakehouseTable

    adapter = get_adapter("exploded_cascade")
    # 100k+ distinct delete parents plus inserted children, all built
    # from spark.range — fully distributed inputs
    n = 110_000
    base = spark.range(n).select(
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("parent_doc_id"),
    )
    inserts = base.select(
        F.concat_ws("/", "parent_doc_id", F.lit("block"), F.lit("0"))
        .alias("doc_id"),
        F.lit("I").alias("op"),
        F.array(F.lit(1)).cast("array<int>").alias("tokens"),
        F.lit(1).cast("int").alias("n_tok"),
        F.lit("s").alias("source"),
        F.lit(1).cast("long").alias("commit_seq"),
        F.lit("block").alias("kind"),
        F.lit(0).cast("long").alias("array_index"),
        "parent_doc_id",
    )
    deletes = inserts.select(
        "doc_id", F.lit("D").alias("op"),
        F.lit(None).cast("array<int>").alias("tokens"),
        F.lit(None).cast("int").alias("n_tok"),
        "source", F.lit(2).cast("long").alias("commit_seq"),
        "kind", "array_index", "parent_doc_id",
    )
    normalized = inserts.unionByName(deletes)
    table = LakehouseTable.create(spark, str(tmp_path / "t"), n_buckets=8,
                                  bucket_expr=adapter.bucket_expr)

    parents = deletes.select(
        F.col("parent_doc_id").alias("p"),
        F.col("commit_seq").alias("del_seq"),
        F.col("source").alias("del_source"),
    ).distinct()
    out = adapter.expand_deletes(normalized, table, del_rows=parents)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan, (
        "mass-delete parent set was materialized driver-side"
    )
    # every parent's block child gets a tombstone at del_seq=2 from the
    # in-batch candidates; spot-check counts instead of collecting 220k
    # rows
    tombs = out.where((F.col("op") == "D") & (F.col("commit_seq") == 2))
    assert tombs.count() == 2 * n  # original delete rows + expansions
    assert out.count() == 3 * n


def test_mass_delete_through_runner_equals_collected_path(spark, tmp_path, monkeypatch):
    """VERDICT r3 wrong-#1 lock (engine level): a batch whose distinct
    delete-parent count exceeds the cap keeps its parents a DataFrame
    (no driver collect of the parents) and must converge to
    exactly the state the collected path produces on the same log."""
    from dlt_spark.adapters import ADAPTERS
    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental
    from dlt_spark.sources.changelog import write_change_log
    from dlt_spark.sources.generator import generate_change_log

    n = 3_000
    ev = generate_change_log(spark, n, n_keys=200, seed=33,
                             version_mix=(1.0, 0.0, 0.0))
    exp = ev.withColumn(
        "payload",
        F.when(F.col("op") != "D", F.to_json(F.struct(
            F.slice(F.col("tokens"), 1, 3).alias("block"),
            F.array(F.slice(F.col("tokens"), 4, 4)).alias("txs"),
        ))),
    ).withColumn("tokens", F.lit(None).cast("array<int>"))
    log = str(tmp_path / "log")
    write_change_log(exp, log, part_width=500)

    def state(tbl):
        return sorted(
            (r["doc_id"], r["_commit_seq"], tuple(r["tokens"] or []))
            for r in LakehouseTable.load(spark, tbl).read().collect()
        )

    collected = str(tmp_path / "collected")
    run_incremental(spark, log, collected, schema="exploded_cascade",
                    batch_width=750, n_buckets=8, log_part_width=500,
                    max_inflight=4)
    # cap of 1 distinct delete row per batch → every delete batch of
    # this 10%-delete log goes down the mass-delete path
    monkeypatch.setattr(
        type(ADAPTERS["exploded_cascade"]), "MAX_PRUNED_PARENTS", 1
    )
    mass = str(tmp_path / "mass")
    run_incremental(spark, log, mass, schema="exploded_cascade",
                    batch_width=750, n_buckets=8, log_part_width=500,
                    max_inflight=4)
    assert state(mass) == state(collected)


def test_tick_and_bulk_batch_take_the_same_delete_path(spark, tmp_path, monkeypatch):
    """A batch's delete path depends on the batch alone, not on the
    run's shape: the cap counts the delete rows its prefetch collects,
    duplicate deliveries included, whether the batch runs as a tick or
    inside a bulk run.  With a cap of 1 and one parent delete delivered
    twice, both take the DataFrame path — a whole-table lookup, where
    collected parents would bucket-prune it."""
    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental
    from dlt_spark.sources.changelog import write_change_log

    def ev(seq, doc, op="I", payload=None):
        return Row(commit_seq=seq, doc_id=doc, op=op, tokens=None,
                   payload=payload, payload_version=1, source="s",
                   extracted_at=None)

    delete = ev(2, "a", op="D")
    rows = [ev(0, "a", payload='{"block": [1], "txs": [[10]]}'),
            ev(1, "b", payload='{"block": [2]}'),
            delete, delete,  # batch 1: one parent delete, delivered twice
            ev(3, "c", payload='{"block": [3]}')]
    log = str(tmp_path / "log")
    write_change_log(_ev(spark, rows), log, part_width=2)

    lookups = []
    orig_scan = LakehouseTable.scan_raw

    def spy_scan(self, buckets=None, **kw):
        lookups.append(buckets)
        return orig_scan(self, buckets=buckets, **kw)

    monkeypatch.setattr(LakehouseTable, "scan_raw", spy_scan)
    monkeypatch.setattr(
        type(ADAPTERS["exploded_cascade"]), "MAX_PRUNED_PARENTS", 1
    )
    kw = dict(schema="exploded_cascade", batch_width=2, n_buckets=4,
              log_part_width=2)
    ticks = str(tmp_path / "ticks")
    for lo in (0, 2):
        run_incremental(spark, log, ticks, seq_from=lo, seq_to=lo + 1, **kw)
    tick_lookups, lookups[:] = list(lookups), []
    bulk = str(tmp_path / "bulk")
    run_incremental(spark, log, bulk, seq_from=0, seq_to=3, **kw)
    monkeypatch.undo()

    assert tick_lookups == [None]
    assert lookups == tick_lookups

    def state(tbl):
        return sorted(
            (r["doc_id"], r["_commit_seq"])
            for r in LakehouseTable.load(spark, tbl).read().collect()
        )

    assert state(bulk) == state(ticks) == [("b/block/0", 1), ("c/block/0", 3)]


def test_merge_prepared_zero_row_delta_is_empty(spark, tmp_path):
    """ADVICE r4 (high): Spark writes a schema-only parquet part for an
    empty DataFrame, so prepare_delta returns files non-empty with
    stats {n: 0, lo: None, smin: None}; merge_prepared only guarded
    `not files` and crashed with TypeError(min(None, str)).  A zero-row
    delta must merge as the identity on either side."""
    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.operators.dedup import dedup_lww
    from dlt_spark.functions.normalize import normalize_events
    from dlt_spark.sources.generator import generate_change_log

    t = LakehouseTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    upd = dedup_lww(
        normalize_events(generate_change_log(spark, 100, n_keys=20, seed=1)),
        with_counts=True,
    )
    main = t.prepare_delta(upd, "j", 0)
    supp = t.prepare_delta(upd.where(F.lit(False)), "j", 0)
    # the trap shape: stats None or n == 0 (schema-only part files)
    assert supp["stats"] is None or supp["stats"]["n"] == 0

    assert LakehouseTable.merge_prepared(main, supp) is main
    assert LakehouseTable.merge_prepared(supp, main) is main
    both = LakehouseTable.merge_prepared(supp, supp)
    assert both["stats"] is None or both["stats"]["n"] == 0
    # and the surviving side still commits cleanly
    m = t.commit_delta(LakehouseTable.merge_prepared(main, supp),
                       "j", 0, seq_from=1, seq_to=100)
    assert m["events_applied"] > 0


def test_cascade_empty_gap_delta_commits(spark, tmp_path):
    """ADVICE r4 (high), end-to-end shape: a delete batch whose gap
    join matches NOTHING (insert+delete of a brand-new doc within one
    batch while an earlier batch is still in flight) produced a
    zero-row phase-B tombstone delta; merging it into the atomic
    commit crashed the whole run with TypeError(min(None, str)).
    The run must commit, and the deleted doc's children must be dead."""
    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental
    from dlt_spark.sources.changelog import write_change_log

    rows = [
        Row(commit_seq=1, doc_id="a", op="I", tokens=None,
            payload='{"block": [1], "txs": [[10]]}',
            payload_version=1, source="s", extracted_at=None),
        Row(commit_seq=2, doc_id="b", op="I", tokens=None,
            payload='{"block": [2], "txs": [[20]]}',
            payload_version=1, source="s", extracted_at=None),
        # batch 1: x is born and dies inside the batch — its children
        # exist only in phase A's own-batch cover, so the phase-B gap
        # join over batch 0's delta finds zero rows
        Row(commit_seq=3, doc_id="x", op="I", tokens=None,
            payload='{"block": [3], "txs": [[30]]}',
            payload_version=1, source="s", extracted_at=None),
        Row(commit_seq=4, doc_id="x", op="D", tokens=None,
            payload=None, payload_version=1, source="s", extracted_at=None),
    ]
    log = str(tmp_path / "log")
    tbl = str(tmp_path / "tbl")
    write_change_log(_ev(spark, rows), log, part_width=2)
    run_incremental(spark, log, tbl, schema="exploded_cascade",
                    batch_width=2, n_buckets=4, log_part_width=2,
                    max_inflight=2)
    out = {r["doc_id"] for r in LakehouseTable.load(spark, tbl).read().collect()}
    assert out == {"a/block/0", "a/tx/0", "b/block/0", "b/tx/0"}


def test_cascade_resume_bulk_equals_serial_ticks(spark, tmp_path):
    """Cascade coverage across a resume boundary: a table seeded to seq
    749, then bulk-loaded pipelined from its watermark (phase A reads
    real table-state candidates, phase B covers the in-flight gap), must
    end in exactly the state of strictly serial one-batch ticks over
    the same log from the same seed."""
    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental
    from dlt_spark.sources.changelog import write_change_log
    from dlt_spark.sources.generator import generate_change_log

    n = 3_000
    ev = generate_change_log(spark, n, n_keys=150, seed=77,
                             version_mix=(1.0, 0.0, 0.0))
    exp = ev.withColumn(
        "payload",
        F.when(F.col("op") != "D", F.to_json(F.struct(
            F.slice(F.col("tokens"), 1, 3).alias("block"),
            F.array(F.slice(F.col("tokens"), 4, 4)).alias("txs"),
        ))),
    ).withColumn("tokens", F.lit(None).cast("array<int>"))
    log = str(tmp_path / "log")
    write_change_log(exp, log, part_width=500)

    def state(tbl):
        return sorted(
            (r["doc_id"], r["_commit_seq"], tuple(r["tokens"] or []))
            for r in LakehouseTable.load(spark, tbl).read().collect()
        )

    def seed(tbl):
        # resume shape: the later runs start at a non-zero watermark
        run_incremental(spark, log, tbl, schema="exploded_cascade",
                        seq_to=749, batch_width=750, n_buckets=8,
                        log_part_width=500, max_inflight=4)

    bulk = str(tmp_path / "bulk")
    seed(bulk)
    run_incremental(spark, log, bulk, schema="exploded_cascade",
                    batch_width=500, n_buckets=8, log_part_width=500,
                    max_inflight=4)

    serial = str(tmp_path / "serial")
    seed(serial)
    for lo in (750, *range(1000, n, 500)):
        run_incremental(spark, log, serial, schema="exploded_cascade",
                        seq_from=lo, seq_to=(lo // 500 + 1) * 500 - 1,
                        batch_width=500, n_buckets=8, log_part_width=500)

    assert state(bulk) == state(serial)


def test_gap_tombstones_take_prefetched_parents(spark, tmp_path, monkeypatch):
    """Phase B of a pipelined run takes its delete parents from the
    runner's prefetched rows: with a non-empty gap and collected
    deletes it reads no log slice, and the cascade still kills the
    deleted parent's children that live only in the gap batch."""
    import sys

    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans import runner as R
    from dlt_spark.sources.changelog import write_change_log

    rows = [
        Row(commit_seq=1, doc_id="a", op="I", tokens=None,
            payload='{"block": [1], "txs": [[10]]}',
            payload_version=1, source="s", extracted_at=None),
        Row(commit_seq=2, doc_id="b", op="I", tokens=None,
            payload='{"block": [2], "txs": [[20]]}',
            payload_version=1, source="s", extracted_at=None),
        # batch 1 deletes a, whose children sit in batch 0 — still in
        # flight when batch 1's phase A captures the watermark
        Row(commit_seq=3, doc_id="a", op="D", tokens=None,
            payload=None, payload_version=1, source="s", extracted_at=None),
    ]
    log = str(tmp_path / "log")
    tbl = str(tmp_path / "tbl")
    write_change_log(_ev(spark, rows), log, part_width=2)

    def in_phase_b():
        f = sys._getframe(2)
        while f is not None:
            if f.f_code.co_name == "_gap_tombstones":
                return True
            f = f.f_back
        return False

    gap_slices, gap_deltas = [], []
    orig_slice = R.slice_change_log
    orig_prepare = LakehouseTable.prepare_delta

    def spy_slice(*a, **kw):
        if in_phase_b():
            gap_slices.append(a[1:3])
        return orig_slice(*a, **kw)

    def spy_prepare(self, *a, **kw):
        out = orig_prepare(self, *a, **kw)
        if in_phase_b():
            gap_deltas.append(out)
        return out

    monkeypatch.setattr(R, "slice_change_log", spy_slice)
    monkeypatch.setattr(LakehouseTable, "prepare_delta", spy_prepare)
    R.run_incremental(spark, log, tbl, schema="exploded_cascade",
                      batch_width=2, n_buckets=4, log_part_width=2,
                      max_inflight=2)
    monkeypatch.undo()

    assert gap_deltas, "phase B did not run over a non-empty gap"
    assert gap_slices == [], f"phase B re-read log slices {gap_slices}"
    out = {r["doc_id"] for r in LakehouseTable.load(spark, tbl).read().collect()}
    assert out == {"b/block/0", "b/tx/0"}


# --- cascade equality-delete markers (opt-in mode, VERDICT r4 #1) ----


def _cascade_log(spark, tmp_path, n=3_000, seed=91):
    from dlt_spark.sources.changelog import write_change_log
    from dlt_spark.sources.generator import generate_change_log

    ev = generate_change_log(spark, n, n_keys=150, seed=seed,
                             version_mix=(1.0, 0.0, 0.0))
    exp = ev.withColumn(
        "payload",
        F.when(F.col("op") != "D", F.to_json(F.struct(
            F.slice(F.col("tokens"), 1, 3).alias("block"),
            F.array(F.slice(F.col("tokens"), 4, 4)).alias("txs"),
        ))),
    ).withColumn("tokens", F.lit(None).cast("array<int>"))
    log = str(tmp_path / "log")
    write_change_log(exp, log, part_width=500)
    return log


def _live_state(spark, tbl):
    from dlt_spark.lakehouse import LakehouseTable

    return sorted(
        (r["doc_id"], r["_commit_seq"], tuple(r["tokens"] or []))
        for r in LakehouseTable.load(spark, tbl).read().collect()
    )


def test_marker_mode_matches_eager_cascade_state(spark, tmp_path):
    """--cascade-mode markers: delete batches record equality-delete
    markers instead of eager child tombstones; the LIVE read state must
    be identical to eager mode (marker application at read resolves the
    same children dead), including re-insert-revives semantics."""
    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental

    log = _cascade_log(spark, tmp_path)
    eager = str(tmp_path / "eager")
    run_incremental(spark, log, eager, schema="exploded_cascade",
                    batch_width=500, n_buckets=8, log_part_width=500)
    marked = str(tmp_path / "marked")
    run_incremental(spark, log, marked, schema="exploded_cascade",
                    batch_width=500, n_buckets=8, log_part_width=500,
                    cascade_mode="markers")
    assert _live_state(spark, eager) == _live_state(spark, marked)

    t = LakehouseTable.load(spark, marked)
    assert t._snap["markers"], "marker mode recorded no markers"
    # marker mode writes NO cascade tombstone rows: its applied-events
    # total is strictly below eager's (which unions blanket tombstones)
    te = LakehouseTable.load(spark, eager)
    applied_e = sum(m["events_applied"] for m in te.manifests_df().collect())
    applied_m = sum(m["events_applied"] for m in t.manifests_df().collect())
    assert applied_m < applied_e


def test_materialize_markers_converts_and_clears(spark, tmp_path):
    """materialize_markers(): one amortized candidate join converts the
    marker set into real child tombstones and clears it atomically —
    the live state is unchanged, markers are gone, and the tombstones
    are now physical (visible to include_deleted and CDC-out)."""
    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental

    log = _cascade_log(spark, tmp_path)
    tbl = str(tmp_path / "t")
    run_incremental(spark, log, tbl, schema="exploded_cascade",
                    batch_width=500, n_buckets=8, log_part_width=500,
                    cascade_mode="markers")
    before = _live_state(spark, tbl)
    t = LakehouseTable.load(spark, tbl)
    v0 = t.version
    n = t.materialize_markers()
    assert n > 0
    assert t._snap["markers"] == []
    assert t.version == v0 + 1
    assert _live_state(spark, tbl) == before
    # idempotent on an empty marker set
    assert t.materialize_markers() == 0
    # the materialized tombstones now ride the change feed
    ch = t.changes_between(v0, t.version)
    assert ch.where(F.col("_deleted")).count() > 0


def test_default_cascade_mode_cdc_out_carries_cascaded_children(spark, tmp_path):
    """The load-bearing reason markers are OPT-IN (BENCH/BASELINE.md
    r4): the DEFAULT eager mode's change feed must carry every
    cascade-deleted child as a delete row.  A parent delete in batch 2
    must show its batch-1 children as _deleted rows in changes_between;
    the marker-mode feed omits them (the documented trade-off)."""
    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental
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
        Row(commit_seq=4, doc_id="r", op="I", tokens=None,
            payload='{"block": [7], "txs": [[70]]}',
            payload_version=1, source="s", extracted_at=None),
    ]
    log = str(tmp_path / "log")
    write_change_log(_ev(spark, rows), log, part_width=2)

    def deleted_in_feed(tbl, mode):
        run_incremental(spark, log, tbl, schema="exploded_cascade",
                        batch_width=2, n_buckets=4, log_part_width=2,
                        cascade_mode=mode)
        t = LakehouseTable.load(spark, tbl)
        ch = t.changes_between(0, t.version)
        return {r["doc_id"] for r in ch.where(F.col("_deleted")).collect()}

    eager_dead = deleted_in_feed(str(tmp_path / "eager"), "eager")
    # the cascade-deleted children from BATCH 1's table state are in
    # the default feed
    assert {"p/block/0", "p/tx/0", "p/tx/1"} <= eager_dead
    marked_dead = deleted_in_feed(str(tmp_path / "marked"), "markers")
    # marker mode: only the parent's own block tombstone, no cascaded
    # children — this omission is WHY the mode is opt-in
    assert "p/tx/0" not in marked_dead and "p/tx/1" not in marked_dead
    assert "p/block/0" in marked_dead


def test_materialize_markers_keeps_concurrent_markers(spark, tmp_path, monkeypatch):
    """A marker batch that commits WHILE materialize_markers runs
    (between its snapshot pin and its publish) must keep its markers:
    the clear subtracts only the materialized entries by path, so the
    concurrent delete still cascades at read time."""
    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental

    log = _cascade_log(spark, tmp_path)
    tbl = str(tmp_path / "t")
    run_incremental(spark, log, tbl, schema="exploded_cascade",
                    batch_width=500, n_buckets=8, log_part_width=500,
                    cascade_mode="markers")
    a = LakehouseTable.load(spark, tbl)
    old_entries = list(a._snap["markers"])
    assert old_entries

    # pick a live child doc and its parent for the concurrent delete
    live = a.read().select("doc_id", "parent_doc_id", "_commit_seq").first()
    victim_parent = live["parent_doc_id"]
    wm = a.watermark()

    committed = {"done": False}
    orig_prepare = LakehouseTable.prepare_delta

    def inject(self, updates, job_id, batch_id):
        prepared = orig_prepare(self, updates, job_id, batch_id)
        if job_id == "_markers" and not committed["done"]:
            committed["done"] = True
            # concurrent writer: ONE new marker batch lands after the
            # materialize pass pinned its snapshot
            b = LakehouseTable.load(spark, tbl)
            md = b.prepare_markers(
                [{"p": victim_parent, "del_seq": wm + 1, "del_source": "conc"}]
            )
            from pyspark.sql import functions as F

            upd = (
                b.read(columns=["tokens", "n_tok", "kind", "array_index",
                                "parent_doc_id"]).limit(0)
                .select(
                    "doc_id", F.lit("I").alias("op"), "tokens", "n_tok",
                    F.lit("s").alias("source"),
                    F.lit(wm + 1).alias("commit_seq"),
                    "kind", "array_index", "parent_doc_id",
                )
            )
            b.commit_delta(
                dict(b.prepare_delta(upd, "conc", 0), markers_delta=md),
                "conc", 0, seq_from=wm + 1, seq_to=wm + 1,
            )
        return prepared

    monkeypatch.setattr(LakehouseTable, "prepare_delta", inject)
    a.materialize_markers()
    monkeypatch.setattr(LakehouseTable, "prepare_delta", orig_prepare)

    final = LakehouseTable.load(spark, tbl)
    remaining = final._snap["markers"]
    # the pre-existing markers were materialized away; the CONCURRENT
    # marker survived the clear
    old_paths = {p for e in old_entries for p in e["files"]}
    assert remaining and all(
        set(e["files"]).isdisjoint(old_paths) for e in remaining
    )
    # and it still applies: every child of the victim parent is dead
    alive = {
        r["parent_doc_id"]
        for r in final.read().select("parent_doc_id").distinct().collect()
    }
    assert victim_parent not in alive


def test_marker_read_plan_is_one_broadcast_join(spark, tmp_path):
    """Plan lock: below MARKER_BROADCAST_ROWS the read-time marker
    application is exactly ONE BroadcastHashJoin (LeftOuter, build on
    the tiny max-marker-per-parent map) — never a sort-merge join, so
    the 100 TB read plan gains no table-sized shuffle from markers.  The
    map's per-parent exchange is sized from the marker entries' rows,
    not run at the configured shuffle partitions (64 here)."""
    import re

    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental
    from dlt_spark.session import partitions_for_rows

    log = _cascade_log(spark, tmp_path, n=1_500, seed=13)
    tbl = str(tmp_path / "t")
    run_incremental(spark, log, tbl, schema="exploded_cascade",
                    batch_width=500, n_buckets=8, log_part_width=500,
                    cascade_mode="markers")
    t = LakehouseTable.load(spark, tbl)
    assert t._snap["markers"]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try:
        plan = t.read()._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    assert "LeftOuter" in plan
    rows = sum(e["rows"] for e in t._snap["markers"])
    want = partitions_for_rows(rows, spark.sparkContext.defaultParallelism, 64)
    assert re.findall(r"Exchange hashpartitioning\(p#\d+, (\d+)\)", plan) == [
        str(want)], plan


def test_marker_read_above_broadcast_gate_same_rows(spark, tmp_path, monkeypatch):
    """Above MARKER_BROADCAST_ROWS the marker map drops the broadcast
    hint and the join falls back to a shuffle strategy (VERDICT r5
    next-#6b: the >1M-marker path).  Generating >1M real markers is a
    multi-GB log, so force the gate to 0 instead (and the auto-
    broadcast threshold to -1, since at test size the planner would
    re-broadcast from size stats alone): the read must take a
    non-broadcast join and stay row-identical, and materialize_markers
    through the same gate must converge to the same live state."""
    import dlt_spark.lakehouse as lh
    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental

    log = _cascade_log(spark, tmp_path, n=1_500, seed=13)
    tbl = str(tmp_path / "t")
    run_incremental(spark, log, tbl, schema="exploded_cascade",
                    batch_width=500, n_buckets=8, log_part_width=500,
                    cascade_mode="markers")
    assert LakehouseTable.load(spark, tbl)._snap["markers"]
    baseline = _live_state(spark, tbl)

    monkeypatch.setattr(lh, "MARKER_BROADCAST_ROWS", 0)
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t = LakehouseTable.load(spark, tbl)
        plan = t.read()._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        assert _live_state(spark, tbl) == baseline
        assert t.materialize_markers() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    t = LakehouseTable.load(spark, tbl)
    assert not t._snap["markers"]
    assert _live_state(spark, tbl) == baseline
