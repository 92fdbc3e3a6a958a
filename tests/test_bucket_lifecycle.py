"""Bucket lifecycle (VERDICT r2 #2): creation-time sizing, metadata-only
split_buckets (partition-spec evolution), eager split_bucket rewrite,
and lazy convergence of mixed-modulus entries through compaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dlt_spark.lakehouse import LakehouseTable, _bkey_parse, suggest_n_buckets
from dlt_spark.operators.dedup import dedup_lww
from dlt_spark.sources.generator import generate_change_log


def _updates(spark, lo, hi, seed=5):
    df = generate_change_log(spark, 4_000, n_keys=400, seed=seed).where(
        F.col("commit_seq").between(lo, hi)
    )
    from dlt_spark.functions.normalize import normalize_events

    return dedup_lww(normalize_events(df), with_counts=True)


def _state(t, **kw):
    return {
        tuple(r)
        for r in t.read(**kw).select("doc_id", "_commit_seq").collect()
    }


def test_suggest_n_buckets_sizing_rule():
    # 10^10 events × 300 B ≈ 3 TB → 2 GB buckets → 2048 (power of two)
    assert suggest_n_buckets(10_000_000_000) == 2048
    # 100 TB-ish corpus
    assert suggest_n_buckets(400_000_000_000) == 65536
    assert suggest_n_buckets(1_000) == 8  # floor
    assert suggest_n_buckets(10**15) == 1 << 20  # ceiling


def test_split_buckets_metadata_only_reads_stay_green(spark, tmp_path):
    path = str(tmp_path / "t")
    t = LakehouseTable.create(spark, path, n_buckets=4, max_deltas=100)
    t.merge(_updates(spark, 0, 1999), "j", 0, 0, 1999)
    t.compact()  # base materialized at modulus 4
    t.merge(_updates(spark, 2000, 2999, seed=9), "j", 1, 2000, 2999)
    before_files = sorted(t._live_files())
    expected = _state(t)

    t.split_buckets(2)  # 4 -> 8, zero I/O
    assert t.n_buckets == 8
    assert sorted(t._live_files()) == before_files, "split moved data"
    assert _state(t) == expected
    # every tier still agrees post-split (mixed-modulus base filtering)
    assert _state(t, tier=2) == expected and _state(t, tier=3) == expected
    # bucket-restricted read under the NEW modulus returns exactly the
    # rows hashing to those residues
    full = t.read().withColumn(
        "_b", F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int")
    )
    want01 = {
        tuple(r)
        for r in full.where(F.col("_b").isin([0, 1]))
        .select("doc_id", "_commit_seq")
        .collect()
    }
    assert _state(t, buckets=[0, 1]) == want01 and want01

    # factor must be a power of two (divisibility invariant)
    with pytest.raises(ValueError, match="power of two"):
        t.split_buckets(3)


def test_split_bucket_eager_rewrite(spark, tmp_path):
    path = str(tmp_path / "t")
    t = LakehouseTable.create(spark, path, n_buckets=4, max_deltas=100)
    t.merge(_updates(spark, 0, 1999), "j", 0, 0, 1999)
    t.compact()
    t.merge(_updates(spark, 2000, 2999, seed=9), "j", 1, 2000, 2999)
    expected = _state(t)
    t.split_buckets(2)

    old_key = sorted(t._snap["buckets"])[0]
    assert _bkey_parse(old_key)[0] == 4
    with pytest.raises(ValueError, match="unknown or empty"):
        t.split_bucket("4:99")
    children = t.split_bucket(old_key)
    assert children and all(_bkey_parse(k)[0] == 8 for k in children)
    m, r = _bkey_parse(old_key)
    assert {(_bkey_parse(k)[1] % m) for k in children} == {r}
    assert old_key not in t._snap["buckets"]
    assert _state(t) == expected
    with pytest.raises(ValueError, match="already at the current modulus"):
        t.split_bucket(children[0])
    # the rewrite survives reload (sidecar refs updated atomically)
    assert _state(LakehouseTable.load(spark, path)) == expected


def test_mixed_modulus_converges_through_compaction(spark, tmp_path, monkeypatch):
    """Ingest keeps running across a split: folds write at the new
    modulus, majors pull in the coarse pre-split base entries (closure)
    and retire them — the table converges to the new modulus with state
    identical to an oracle LWW fold.  ROWS_PER_PARTITION is lowered so
    these small folds are row-sized at the full modulus, the layout of
    a fold of ≥ n_buckets × ROWS_PER_PARTITION rows."""
    monkeypatch.setattr("dlt_spark.session.ROWS_PER_PARTITION", 10)
    path = str(tmp_path / "t")
    t = LakehouseTable.create(spark, path, n_buckets=4, max_deltas=2)
    t.merge(_updates(spark, 0, 999), "j", 0, 0, 999)
    t.merge(_updates(spark, 1000, 1999), "j", 1, 1000, 1999)
    t.compact()  # base materialized at modulus 4
    assert any(_bkey_parse(k)[0] == 4 for k in t._snap["buckets"])
    t.split_buckets(2)
    # keep ingesting: every fold point triggers majors (cap=2+jitter)
    for i, (lo, hi) in enumerate([(2000, 2499), (2500, 2999), (3000, 3499), (3500, 3999)]):
        t.merge(_updates(spark, lo, hi, seed=11), "j", 2 + i, lo, hi)
    # convergence: no modulus-4 base or L1 entries survive majors that
    # touched them; state equals the plain full resolve of everything
    pend, _ = t._pending()
    base = [p for ps in t._snap["buckets"].values() for p in ps]
    oracle = {
        tuple(r)
        for r in t._resolve(t._raw(t._abs(base + pend)))
        .where(~F.col("_deleted"))
        .select("doc_id", "_commit_seq")
        .collect()
    }
    assert _state(t) == oracle and oracle
    # majors ran at the new modulus (through the pre-split closure)
    assert any(_bkey_parse(k)[0] == 8 for k in t._snap["buckets"])
    # and a full compact() retires every stale-modulus entry
    t.compact()
    assert all(_bkey_parse(k)[0] == 8 for k in t._snap["buckets"] if t._snap["buckets"][k])
    assert _state(t) == oracle
