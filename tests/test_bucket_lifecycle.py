"""Bucket lifecycle (VERDICT r2 #2): base entries at the modulus their
rows justify — mixed moduli in one base, read correctly and
re-granulated by compaction."""

from __future__ import annotations

from pyspark.sql import functions as F

from dlt_spark.lakehouse import LakehouseTable, _bkey_parse
from dlt_spark.operators.dedup import dedup_lww
from dlt_spark.sources.generator import generate_change_log


def _state(t, **kw):
    return {
        tuple(r)
        for r in t.read(**kw).select("doc_id", "_commit_seq").collect()
    }


def _mixed_modulus_table(spark, tmp_path, monkeypatch):
    """A base holding entries of several moduli: a seed compacts at the
    coarse modulus its rows justify; once the rows justify the full
    modulus (ROWS_PER_PARTITION lowered), small folds write full-modulus
    L1 keys, and a key at its cap majors with the one coarse base entry
    that contains it, splitting that entry to the full modulus beside
    the untouched coarse one.  Returns the table, its path and the plain
    full resolve of everything it references."""
    monkeypatch.setattr("dlt_spark.session.ROWS_PER_PARTITION", 2_000)
    path = str(tmp_path / "t")
    t = LakehouseTable.create(spark, path, n_buckets=8, max_deltas=2)
    log = generate_change_log(spark, 7_000, n_keys=6_000, seed=5)
    from dlt_spark.functions.normalize import normalize_events

    def updates(lo, hi):
        return dedup_lww(normalize_events(
            log.where(F.col("commit_seq").between(lo, hi))
        ), with_counts=True)

    t.merge(updates(0, 5_999), "j", 0)
    t.compact()
    assert {_bkey_parse(k)[0] for k in t._snap["buckets"]} == {2}
    monkeypatch.setattr("dlt_spark.session.ROWS_PER_PARTITION", 10)
    for i in range(4):  # two folds of two 100-event merges
        lo = 6_000 + i * 100
        t.merge(updates(lo, lo + 99), "j", 1 + i)
    # "8:0" and "8:4" reached their cap and majored with "2:0" alone
    assert {_bkey_parse(k)[0] for k in t._snap["buckets"]} == {2, 8}
    assert "2:1" in t._snap["buckets"]

    pend, _ = t._pending()
    base = [p for ps in t._snap["buckets"].values() for p in ps]
    oracle = {
        tuple(r)
        for r in t._resolve(t._raw(t._abs(base + pend)))
        .where(~F.col("_deleted"))
        .select("doc_id", "_commit_seq")
        .collect()
    }
    assert oracle
    return t, path, oracle


def test_split_buckets_metadata_only_reads_stay_green(spark, tmp_path, monkeypatch):
    """Reads over a base whose coarse bucket was split to the full
    modulus beside an unsplit one: every read tier, and a
    bucket-restricted read, agrees with the plain full resolve, and
    reading writes nothing."""
    t, path, oracle = _mixed_modulus_table(spark, tmp_path, monkeypatch)
    before = t._snapshot_file_refs(t.version)[0]
    assert _state(t) == oracle
    assert _state(t, tier=2) == oracle and _state(t, tier=3) == oracle
    # a bucket-restricted read returns exactly the rows hashing to
    # those residues, from coarse and full-modulus entries alike
    full = t.read().withColumn(
        "_b", F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int")
    )
    for residues in ([0, 1], [4]):
        want = {
            tuple(r)
            for r in full.where(F.col("_b").isin(residues))
            .select("doc_id", "_commit_seq")
            .collect()
        }
        assert _state(t, buckets=residues) == want and want
    after = LakehouseTable.load(spark, path)
    assert after.version == t.version, "a read committed"
    assert after._snapshot_file_refs(after.version)[0] == before


def test_mixed_modulus_converges_through_compaction(spark, tmp_path, monkeypatch):
    """compact() re-granulates a mixed-modulus base at one row-sized
    modulus with state unchanged, and the rewrite survives reload."""
    t, path, oracle = _mixed_modulus_table(spark, tmp_path, monkeypatch)
    t.compact()
    assert {_bkey_parse(k)[0] for k in t._snap["buckets"]} == {8}
    assert _state(t) == oracle
    # the rewrite survives reload (sidecar refs updated atomically)
    assert _state(LakehouseTable.load(spark, path)) == oracle
