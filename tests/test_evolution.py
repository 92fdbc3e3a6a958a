"""Schema-evolution test (SURVEY §5): a log whose payload format evolves
over time — v1 arrays early, v2 CSV strings mid-stream, v3 JSON late —
must land in ONE coherent output schema with recomputed n_tok, across
separate incremental runs (not just separate batches)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dlt_spark.lakehouse import LakehouseTable
from dlt_spark.operators.dedup import dedup_lww
from dlt_spark.plans.runner import run_incremental
from dlt_spark.sources.changelog import write_change_log
from dlt_spark.sources.generator import generate_change_log

from tests.oracle import assert_table_matches, fold_expected_state


def test_table_level_column_evolution(spark, tmp_path):
    """Table-layer schema evolution (Iceberg add-column analog): a later
    batch introduces a new value column; earlier rows backfill null;
    LWW carries the winner's value; type conflicts are rejected."""
    import pytest
    from pyspark.sql import Row

    from dlt_spark.schemas import CHANGE_EVENT_SCHEMA

    t = LakehouseTable.create(spark, str(tmp_path / "t"), n_buckets=4, max_deltas=2)

    def ev_df(rows, extra=None):
        base = spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA).withColumn(
            "n_tok", F.size("tokens")
        )
        if extra:
            name, col = extra
            base = base.withColumn(name, col)
        return base

    r1 = [Row(commit_seq=1, doc_id="a", op="I", tokens=[1], payload=None,
              payload_version=1, source="s", extracted_at=None),
          Row(commit_seq=2, doc_id="b", op="I", tokens=[2], payload=None,
              payload_version=1, source="s", extracted_at=None)]
    t.merge(ev_df(r1), "j", 0, 1, 2)
    assert t.extra_columns == []

    # batch 2 adds a `lang` column and updates doc a
    r2 = [Row(commit_seq=3, doc_id="a", op="U", tokens=[9], payload=None,
              payload_version=1, source="s", extracted_at=None)]
    t.merge(ev_df(r2, extra=("lang", F.lit("en"))), "j", 1, 3, 3)
    assert t.extra_columns == [("lang", "string")]

    out = {r["doc_id"]: r for r in t.read().collect()}
    assert out["a"]["lang"] == "en" and list(out["a"]["tokens"]) == [9]
    assert out["b"]["lang"] is None  # backfilled

    # batch 3 (triggers L0 fold at max_deltas=2) keeps the column coherent
    r3 = [Row(commit_seq=4, doc_id="b", op="U", tokens=[7], payload=None,
              payload_version=1, source="s", extracted_at=None)]
    t.merge(ev_df(r3, extra=("lang", F.lit("fr"))), "j", 2, 4, 4)
    out = {r["doc_id"]: r for r in t.read().collect()}
    assert out["a"]["lang"] == "en" and out["b"]["lang"] == "fr"

    # conflicting type on the evolved column is rejected
    r4 = [Row(commit_seq=5, doc_id="c", op="I", tokens=[1], payload=None,
              payload_version=1, source="s", extracted_at=None)]
    with pytest.raises(ValueError, match="schema evolution conflict"):
        t.merge(ev_df(r4, extra=("lang", F.lit(7))), "j", 3, 5, 5)


def _mk_ev(spark, rows, extra=None):
    from dlt_spark.schemas import CHANGE_EVENT_SCHEMA

    base = spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA).withColumn(
        "n_tok", F.size("tokens")
    )
    if extra:
        name, col = extra
        base = base.withColumn(name, col)
    return base


def test_type_widening_int_to_long_float_to_double(spark, tmp_path):
    """Widen evolution (Iceberg analog): a later batch carries a WIDER
    type for an evolved column (int→long, float→double); the table type
    widens and files written with the narrower physical type up-cast at
    scan (Spark 4 parquet widening).  A narrower late batch is accepted
    as-is (its files up-cast too).  Incompatible changes still reject."""
    import pytest
    from pyspark.sql import Row

    t = LakehouseTable.create(spark, str(tmp_path / "t"), n_buckets=4, max_deltas=4)

    def row(seq, doc, op="I", toks=(1,)):
        return Row(commit_seq=seq, doc_id=doc, op=op, tokens=list(toks),
                   payload=None, payload_version=1, source="s", extracted_at=None)

    t.merge(_mk_ev(spark, [row(1, "a")], extra=("score", F.lit(7).cast("int"))),
            "j", 0, 1, 1)
    assert t.extra_columns == [("score", "int")]

    # wider batch: int → long
    t.merge(_mk_ev(spark, [row(2, "b")], extra=("score", F.lit(9).cast("bigint"))),
            "j", 1, 2, 2)
    assert t.extra_columns == [("score", "bigint")]
    out = {r["doc_id"]: r for r in t.read().collect()}
    assert out["a"]["score"] == 7 and out["b"]["score"] == 9  # old file up-cast

    # narrower late batch: accepted, up-cast at read
    t.merge(_mk_ev(spark, [row(3, "c")], extra=("score", F.lit(3).cast("int"))),
            "j", 2, 3, 3)
    assert t.extra_columns == [("score", "bigint")]

    # float column widens to double
    t.merge(_mk_ev(spark, [row(4, "d")], extra=("conf", F.lit(0.5).cast("float"))),
            "j", 3, 4, 4)
    t.merge(_mk_ev(spark, [row(5, "e")], extra=("conf", F.lit(0.25).cast("double"))),
            "j", 4, 5, 5)
    assert ("conf", "double") in t.extra_columns
    # the merge above crossed max_deltas → L0 fold ran over mixed-width files
    out = {r["doc_id"]: r for r in t.read().collect()}
    assert out["d"]["conf"] == 0.5 and out["e"]["conf"] == 0.25
    assert {out[k]["score"] for k in "abc"} == {7, 9, 3}

    # incompatible (string over numeric) still rejects
    with pytest.raises(ValueError, match="schema evolution conflict"):
        t.merge(_mk_ev(spark, [row(6, "f")], extra=("score", F.lit("x"))),
                "j", 5, 6, 6)


def test_rename_column_mapping(spark, tmp_path):
    """Rename evolution: metadata-only — old files keep the physical
    name, reads coalesce it into the new logical column; post-rename
    batches write the new name; chains (a→b→c) collapse; a name may
    hold a quote or a backtick."""
    import pytest
    from pyspark.sql import Row

    t = LakehouseTable.create(spark, str(tmp_path / "t"), n_buckets=4, max_deltas=8)

    def row(seq, doc):
        return Row(commit_seq=seq, doc_id=doc, op="I", tokens=[1],
                   payload=None, payload_version=1, source="s", extracted_at=None)

    t.merge(_mk_ev(spark, [row(1, "a")], extra=("lang", F.lit("en"))), "j", 0, 1, 1)
    t.rename_column("lang", "language")
    assert t.extra_columns == [("language", "string")]
    out = {r["doc_id"]: r for r in t.read().collect()}
    assert out["a"]["language"] == "en"  # pre-rename file coalesces

    # post-rename batch writes the new name; both eras read coherently
    t.merge(_mk_ev(spark, [row(2, "b")], extra=("language", F.lit("fr"))),
            "j", 1, 2, 2)
    out = {r["doc_id"]: r for r in t.read().collect()}
    assert out["a"]["language"] == "en" and out["b"]["language"] == "fr"

    # chain-collapse: language → locale; files from BOTH earlier eras map
    t.rename_column("language", "locale")
    out = {r["doc_id"]: r for r in t.read().collect()}
    assert out["a"]["locale"] == "en" and out["b"]["locale"] == "fr"

    # compaction folds all eras into the logical name and stays correct
    t.compact()
    out = {r["doc_id"]: r for r in t.read().collect()}
    assert out["a"]["locale"] == "en" and out["b"]["locale"] == "fr"

    # guards: unknown column / collision with an existing name
    with pytest.raises(ValueError, match="unknown evolved column"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("locale", "doc_id")

    # a name holding a quote survives every path that puts column names
    # into SQL text: read schema, rename coalesce, LWW resolve (read and
    # fold) and the change feed
    t.rename_column("locale", "o'k")
    v = t.version
    t.merge(_mk_ev(spark, [row(3, "a")], extra=("o'k", F.lit("de"))), "j", 2, 3, 3)
    out = {r["doc_id"]: r["o'k"] for r in t.read().collect()}
    assert out == {"a": "de", "b": "fr"}
    assert [r["o'k"] for r in t.changes_between(v).collect()] == ["de"]
    t.compact()
    assert {r["doc_id"]: r["o'k"] for r in t.read().collect()} == out

    # a backtick too, written through the LWW dedup of the ingest path
    # (its struct and hash) and the delta write's evolved projection
    t.rename_column("o'k", "a`b")
    v = t.version
    t.merge(dedup_lww(_mk_ev(spark, [row(4, "b")], extra=("a`b", F.lit("it")))),
            "j", 3, 4, 4)
    out = {r["doc_id"]: r["a`b"] for r in t.read().collect()}
    assert out == {"a": "de", "b": "it"}
    assert [r["a`b"] for r in t.changes_between(v).collect()] == ["it"]
    t.compact()
    assert {r["doc_id"]: r["a`b"] for r in t.read().collect()} == out


def test_payload_versions_over_time(spark, tmp_path):
    # three epochs with different payload encodings, same logical stream
    parts = []
    for epoch, mix in [(0, (1.0, 0.0, 0.0)), (1, (0.0, 1.0, 0.0)), (2, (0.0, 0.0, 1.0))]:
        df = generate_change_log(
            spark, 900, n_keys=120, seed=11, dup_frac=0.0, version_mix=mix
        ).where(F.col("commit_seq").between(epoch * 300, epoch * 300 + 299))
        parts.append(df)
    log = parts[0].unionByName(parts[1]).unionByName(parts[2])
    log_path = str(tmp_path / "log")
    write_change_log(log, log_path, part_width=300)

    table_path = str(tmp_path / "tbl")
    # three separate runs — the v2/v3 epochs arrive after v1 is applied
    for epoch in range(3):
        run_incremental(
            spark, log_path, table_path,
            seq_from=epoch * 300, seq_to=epoch * 300 + 299,
            batch_width=300, n_buckets=8, log_part_width=300,
            use_arrow_udf=(epoch == 2),  # mix both normalizer paths
        )

    table = LakehouseTable.load(spark, table_path)
    actual = table.read().select(
        "doc_id", "tokens", "n_tok", "source", "_commit_seq"
    ).toPandas()
    expected = fold_expected_state(
        spark.read.parquet(log_path).drop("seq_part").toPandas()
    )
    assert_table_matches(actual, expected)
    # one coherent schema: every live row has real tokens + n_tok
    assert actual["tokens"].notna().all() and actual["n_tok"].notna().all()
    # n_tok was recomputed (== len(tokens)), not trusted from the source
    assert all(int(n) == len(t) for n, t in zip(actual["n_tok"], actual["tokens"]))
