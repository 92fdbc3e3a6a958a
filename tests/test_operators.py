"""Unit tests per operator (SURVEY §5): LWW tie-breaking incl.
tombstone ordering, the hot-key plan of the dedup, batch planning,
normalizer edge cases, deterministic ids."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F
from pyspark.sql import Row

from dlt_spark.functions.ids import deterministic_row_id
from dlt_spark.functions.normalize import normalize_events
from dlt_spark.operators.dedup import dedup_lww
from dlt_spark.plans.runner import plan_batches
from dlt_spark.schemas import CHANGE_EVENT_SCHEMA


def _ev(seq, doc, op, tokens=None, payload=None, version=1, source="s"):
    return Row(
        commit_seq=seq, doc_id=doc, op=op, tokens=tokens, payload=payload,
        payload_version=version, source=source, extracted_at=None,
    )


def _events_df(spark, rows):
    return spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)


# ---------------------------------------------------------------------------
# M2: LWW dedup
# ---------------------------------------------------------------------------

def test_lww_picks_highest_seq(spark):
    df = _events_df(spark, [
        _ev(1, "a", "I", [1]), _ev(5, "a", "U", [2]), _ev(3, "a", "U", [3]),
    ])
    out = dedup_lww(df).collect()
    assert len(out) == 1 and out[0]["commit_seq"] == 5 and out[0]["tokens"] == [2]


def test_lww_tie_delete_beats_update_beats_insert(spark):
    df = _events_df(spark, [
        _ev(7, "a", "I", [1]), _ev(7, "a", "D"), _ev(7, "a", "U", [2]),
    ])
    out = dedup_lww(df).collect()
    assert len(out) == 1 and out[0]["op"] == "D"

    df2 = _events_df(spark, [_ev(7, "b", "I", [1]), _ev(7, "b", "U", [2])])
    out2 = dedup_lww(df2).collect()
    assert out2[0]["op"] == "U"


def test_lww_duplicate_delivery_collapses(spark):
    df = _events_df(spark, [_ev(4, "a", "U", [9])] * 3 + [_ev(2, "a", "I", [1])])
    out = dedup_lww(df, with_counts=True).collect()
    assert len(out) == 1
    assert out[0]["_n_events"] == 4 and out[0]["commit_seq"] == 4


def test_lww_multiple_keys_independent(spark):
    df = _events_df(spark, [
        _ev(1, "a", "I", [1]), _ev(2, "b", "I", [2]), _ev(3, "a", "D"),
    ])
    out = {r["doc_id"]: r for r in dedup_lww(df).collect()}
    assert out["a"]["op"] == "D" and out["b"]["op"] == "I"


def test_lww_hot_key_collapses_map_side(spark):
    """X4 (hot keys): the dedup aggregates partially inside each map
    task before its one shuffle on doc_id, so a key holding half the
    rows reaches the reducer as at most one row per map task.  No other
    exchange (a spreading shuffle) is planned."""
    rows = [_ev(i, "hot" if i % 2 else f"k{i}", "U", [i]) for i in range(400)]
    out = dedup_lww(_events_df(spark, rows))
    hot = [r for r in out.collect() if r["doc_id"] == "hot"]
    assert len(hot) == 1 and hot[0]["commit_seq"] == 399

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    plan = plan.split("== Initial Plan ==")[0].splitlines()
    exchanges = [i for i, line in enumerate(plan) if "Exchange " in line]
    assert len(exchanges) == 1
    assert "hashpartitioning(doc_id" in plan[exchanges[0]]
    # the tree prints children below parents: the partial aggregate
    # feeds the exchange
    partial = [i for i, line in enumerate(plan) if "partial_max_by" in line]
    assert partial and min(partial) > exchanges[0]


# ---------------------------------------------------------------------------
# P2/L2: batch planning
# ---------------------------------------------------------------------------

def test_plan_batches_alignment():
    # batches align to width boundaries regardless of range start, so a
    # resumed run regenerates identical batch ids
    assert plan_batches(0, 2999, 1000) == [(0, 0, 999), (1, 1000, 1999), (2, 2000, 2999)]
    assert plan_batches(1500, 2999, 1000) == [(1, 1500, 1999), (2, 2000, 2999)]
    assert plan_batches(500, 500, 1000) == [(0, 500, 500)]
    assert plan_batches(999, 1000, 1000) == [(0, 999, 999), (1, 1000, 1000)]


# ---------------------------------------------------------------------------
# E3: normalizer edge cases (both paths)
# ---------------------------------------------------------------------------

def _norm_rows(spark, use_arrow):
    df = _events_df(spark, [
        _ev(1, "a", "I", [1, 2, 3], version=1),
        _ev(2, "b", "I", None, "10,20", version=2),
        _ev(3, "c", "I", None, '{"ids": [7]}', version=3),
        _ev(4, "d", "D", None, None, version=2),   # tombstone: no payload
        _ev(5, "e", "I", [], version=1),            # empty token array
    ])
    out = normalize_events(df, use_arrow_udf=use_arrow)
    return {r["doc_id"]: r for r in out.collect()}


def test_normalizer_native_and_arrow_agree(spark):
    for use_arrow in (False, True):
        rows = _norm_rows(spark, use_arrow)
        assert list(rows["a"]["tokens"]) == [1, 2, 3] and rows["a"]["n_tok"] == 3
        assert list(rows["b"]["tokens"]) == [10, 20] and rows["b"]["n_tok"] == 2
        assert list(rows["c"]["tokens"]) == [7] and rows["c"]["n_tok"] == 1
        assert rows["d"]["tokens"] is None and rows["d"]["n_tok"] is None
        assert list(rows["e"]["tokens"]) == [] and rows["e"]["n_tok"] == 0


# ---------------------------------------------------------------------------
# generator determinism (the whole test/bench harness rests on this)
# ---------------------------------------------------------------------------

def test_generator_parallelism_invariant(spark):
    from dlt_spark.sources.generator import generate_change_log

    a = generate_change_log(spark, 1_000, n_keys=50, seed=13, num_partitions=2)
    b = generate_change_log(spark, 1_000, n_keys=50, seed=13, num_partitions=16)
    ra = sorted(map(str, a.collect()))
    rb = sorted(map(str, b.collect()))
    assert ra == rb


# ---------------------------------------------------------------------------
# E2: deterministic row ids
# ---------------------------------------------------------------------------

def test_deterministic_row_id_matches_sha256(spark):
    df = spark.createDataFrame([("a", 42)], "doc_id string, commit_seq long")
    rid = df.select(
        deterministic_row_id(F.col("doc_id"), F.col("commit_seq")).alias("r")
    ).collect()[0]["r"]
    assert rid == hashlib.sha256(b"a|42").hexdigest()


def test_multimodal_frame_sample_fanout_no_shuffle(spark):
    """frame_sample fans out rows (n_frames per payload) inside ONE
    mapInPandas stage — no Exchange added (preserves scan partitioning),
    the batch shape a real frame-sampler needs."""
    from pyspark.sql import functions as F

    from dlt_spark.functions.multimodal import frame_sample

    media = spark.range(10).select(
        F.col("id").alias("media_id"),
        F.lit("video/fake").alias("mime"),
        F.encode(F.concat(F.lit("payload-"), F.col("id").cast("string"),
                          F.lit("-" * 40)), "utf-8").alias("data"),
    )
    frames = frame_sample(media, n_frames=3, frame_size=8)
    assert frames.count() == 30
    plan = frames._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    rows = frames.where(F.col("media_id") == 4).orderBy("frame_index").collect()
    assert [r["frame_index"] for r in rows] == [0, 1, 2]
    assert rows[0]["frame_start"] == 0 and rows[0]["frame"] == b"payload-"
    assert all(len(r["frame"]) == 8 for r in rows)


def test_multimodal_resize_exact_target(spark):
    from pyspark.sql import functions as F

    from dlt_spark.functions.multimodal import resize_media

    media = spark.range(5).select(
        F.col("id").alias("media_id"),
        F.lit("image/fake").alias("mime"),
        F.encode(F.lpad(F.col("id").cast("string"), 100, "x"), "utf-8").alias("data"),
    )
    out = resize_media(media, target_bytes=16).collect()
    assert all(len(r["data"]) == 16 for r in out)
    # even-stride sampling is deterministic: byte i comes from (i*n)//16
    src = ("x" * 99 + "3").encode()
    expect = bytes(src[(i * 100) // 16] for i in range(16))
    got = next(r for r in out if r["media_id"] == 3)["data"]
    assert bytes(got) == expect


# --- connected components (operators/components.py) -----------------


def test_connected_components_long_path_converges(spark):
    """VERDICT r3 next-#1 lock: a pure path of 201 nodes (diameter 200)
    must resolve to ONE component — the r3 fixed-8-round propagation
    under-merged anything deeper than 8 hops.  max_rounds=16 doubles as
    the O(log n) convergence assertion: one-hop propagation would need
    200 rounds; alternating-star contraction must finish inside 16
    (measured: 5)."""
    from dlt_spark.operators.components import connected_components

    # shuffled layout: the min label (0) sits at a random position and
    # consecutive path nodes are far apart in id order — adversarial
    # for min-label propagation.
    import random

    rng = random.Random(7)
    nodes = list(range(201))
    rng.shuffle(nodes)
    edges = [(nodes[i], nodes[i + 1]) for i in range(len(nodes) - 1)]
    df = spark.createDataFrame(edges, "u long, v long")
    out = connected_components(df, max_rounds=16).collect()
    assert len(out) == 201
    assert {r["label"] for r in out} == {0}


def test_connected_components_multi_component_and_failfast(spark):
    import pytest as _pytest

    from dlt_spark.operators.components import connected_components

    edges = [(1, 2), (2, 3), (10, 11), (12, 11), (20, 21)]
    df = spark.createDataFrame(edges, "u long, v long")
    got = {
        (r["node"], r["label"])
        for r in connected_components(df).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }
    # unconverged → loud failure, never silent under-merge
    path = [(i, i + 1) for i in range(40)]
    pdf = spark.createDataFrame(path, "u long, v long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pdf, max_rounds=1)


def test_connected_components_signature_collision_cannot_lie(spark, monkeypatch):
    """VERDICT r4 #5 lock: fixpoint detection is a (count, Σhash)
    signature, CONFIRMED by an exact one-direction exceptAll emptiness
    check before returning.  Force the signature to collide on every
    round (monkeypatched constant): the exact confirm must keep
    rejecting premature fixpoints, and the final answer on a path graph
    must still be the true single component."""
    from dlt_spark.operators import components as C

    monkeypatch.setattr(C, "_edge_sig", lambda edges: (0, 0))
    n = 33  # diameter 32: several rounds, every one a forced collision
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "u long, v long"
    )
    out = C.connected_components(df, src="u", dst="v", max_rounds=16).collect()
    assert len(out) == n
    assert {r["label"] for r in out} == {0}
