"""Property-based test (SURVEY §5, bounded for speed): for random op
sequences, the engine's final table equals the per-key fold of ops in
(commit_seq, op-priority) order."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from dlt_spark.operators.dedup import dedup_lww
from dlt_spark.schemas import CHANGE_EVENT_SCHEMA

OPS = st.sampled_from(["I", "U", "D"])


@st.composite
def event_logs(draw):
    n = draw(st.integers(min_value=1, max_value=30))
    events = []
    for i in range(n):
        events.append(
            {
                "commit_seq": draw(st.integers(min_value=0, max_value=15)),
                "doc_id": draw(st.sampled_from(["a", "b", "c"])),
                "op": draw(OPS),
                "tokens": [i],  # payload tied to arrival index
                "payload": None,
                "payload_version": 1,
                "source": "s",
                "extracted_at": None,
            }
        )
    return events


def _oracle_winner(events):
    """Reference semantics: max (commit_seq, op_rank, tie) per key —
    tie on identical (seq, rank) is resolved by the engine's stable
    hash, so the oracle only asserts (seq, rank), not the payload."""
    rank = {"I": 1, "U": 2, "D": 3}
    out = {}
    for e in events:
        k = e["doc_id"]
        key = (e["commit_seq"], rank[e["op"]])
        if k not in out or key > out[k]:
            out[k] = key
    return out


@settings(max_examples=12, deadline=None)
@given(event_logs())
def test_dedup_lww_matches_fold(spark_global, events):
    df = spark_global.createDataFrame(events, CHANGE_EVENT_SCHEMA)
    got = {
        r["doc_id"]: (r["commit_seq"], {"I": 1, "U": 2, "D": 3}[r["op"]])
        for r in dedup_lww(df).collect()
    }
    assert got == _oracle_winner(events)


@st.composite
def batched_logs(draw):
    """Random op stream split into random batches, with a compaction
    point — drives the table through base+L1+L0 mixtures."""
    n = draw(st.integers(min_value=4, max_value=40))
    events = []
    for i in range(n):
        events.append(
            {
                "commit_seq": i,  # unique seqs (the log contract)
                "doc_id": draw(st.sampled_from(["a", "b", "c", "d", "e"])),
                "op": draw(OPS),
                "tokens": [i],
                "payload": None,
                "payload_version": 1,
                "source": "s",
                "extracted_at": None,
            }
        )
    n_cuts = draw(st.integers(min_value=0, max_value=3))
    cuts = sorted(draw(st.sets(st.integers(min_value=1, max_value=n - 1),
                               min_size=n_cuts, max_size=n_cuts)))
    compact_after = draw(st.integers(min_value=0, max_value=len(cuts)))
    return events, cuts, compact_after


@settings(max_examples=6, deadline=None)
@given(batched_logs())
def test_tiered_reads_agree_across_states(spark_global, tmp_path_factory, data):
    """Both forced read tiers (2, 3) and the auto choice return the same
    state as the op fold, for random batch splits and an arbitrary
    mid-stream compaction (base+L1+L0 mixtures) — the tier choice is a
    pure performance decision."""
    import pyspark.sql.functions as F

    from dlt_spark.lakehouse import LakehouseTable

    events, cuts, compact_after = data
    path = str(tmp_path_factory.mktemp("prop") / "t")
    t = LakehouseTable.create(spark_global, path, n_buckets=4, max_deltas=3)
    bounds = [0] + list(cuts) + [len(events)]
    for b, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        batch = events[lo:hi]
        if not batch:
            continue
        df = spark_global.createDataFrame(batch, CHANGE_EVENT_SCHEMA).withColumn(
            "n_tok", F.size("tokens")
        )
        t.merge(dedup_lww(df), "p", b, lo, hi - 1)
        if b == compact_after:
            t.compact()

    full_expect = _oracle_winner(events)
    expect = {k: v for k, v in full_expect.items() if v[1] != 3}  # live only
    for tier in (None, 2, 3):
        got = {
            r["doc_id"]: r["_commit_seq"] for r in t.read(tier=tier).collect()
        }
        assert set(got) == set(expect), f"tier={tier}"
        for k, seq in got.items():
            assert seq == full_expect[k][0], f"tier={tier} key={k}"


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 60)),
        min_size=0, max_size=80,
    )
)
@settings(max_examples=8, deadline=None)
def test_connected_components_matches_union_find(spark_global, edges):
    """Property lock for operators/components.py: on ARBITRARY edge
    lists (self-loops, duplicates, both orientations, disconnected
    pieces) the alternating-star contraction must agree exactly with a
    reference union-find with path compression."""
    from dlt_spark.operators.components import connected_components

    real = [(a, b) for a, b in edges if a != b]
    if not real:
        return
    par: dict[int, int] = {}

    def find(x):
        while par.setdefault(x, x) != x:
            par[x] = par[par[x]]
            x = par[x]
        return x

    for a, b in real:
        ra, rb = find(a), find(b)
        if ra != rb:
            par[max(ra, rb)] = min(ra, rb)
    want = {(n, find(n)) for n in par}

    df = spark_global.createDataFrame(real, "u long, v long")
    got = {
        (r["node"], r["label"])
        for r in connected_components(df).collect()
    }
    assert got == want


@st.composite
def cascade_logs(draw):
    """Random parent-level I/U/D sequences over few parents with
    distinct commit seqs — the shapes that stress cascade semantics
    (delete-then-reinsert, delete-before-any-insert, repeat deletes)."""
    n = draw(st.integers(min_value=2, max_value=12))
    seqs = draw(
        st.lists(st.integers(min_value=1, max_value=60),
                 min_size=n, max_size=n, unique=True)
    )
    events = []
    for i in range(n):
        op = draw(OPS)
        events.append(
            {
                "commit_seq": seqs[i],
                "doc_id": draw(st.sampled_from(["p", "q"])),
                "op": op,
                "tokens": None,
                "payload": (
                    None if op == "D"
                    else '{"block": [%d], "txs": [[%d], [%d]]}'
                         % (seqs[i], seqs[i] + 1, seqs[i] + 2)
                ),
                "payload_version": 1,
                "source": "s",
                "extracted_at": None,
            }
        )
    return events


@settings(max_examples=8, deadline=None)
@given(cascade_logs())
def test_marker_mode_equals_eager_for_any_log(spark_global, tmp_path_factory, events):
    """PROPERTY: for ANY parent-level op sequence, the marker-mode
    engine's live read equals the eager-cascade engine's — before any
    materialize (read-time marker application) AND after one
    (physical tombstones)."""
    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental
    from dlt_spark.sources.changelog import write_change_log

    base = tmp_path_factory.mktemp("mkprop")
    df = spark_global.createDataFrame(events, CHANGE_EVENT_SCHEMA)
    log = str(base / "log")
    write_change_log(df, log, part_width=8)

    def state(tbl):
        return sorted(
            (r["doc_id"], r["_commit_seq"], tuple(r["tokens"] or []))
            for r in LakehouseTable.load(spark_global, tbl).read().collect()
        )

    eager = str(base / "eager")
    run_incremental(spark_global, log, eager, schema="exploded_cascade",
                    batch_width=8, n_buckets=4, log_part_width=8)
    marked = str(base / "marked")
    run_incremental(spark_global, log, marked, schema="exploded_cascade",
                    batch_width=8, n_buckets=4, log_part_width=8,
                    cascade_mode="markers")
    expected = state(eager)
    assert state(marked) == expected          # pending markers
    LakehouseTable.load(spark_global, marked).materialize_markers()
    assert state(marked) == expected          # physical tombstones
