"""Schema adapters — the engine's pluggable scan-convert surface.

The reference registers schemas by a config-string switch over three Go
types (loader/setup.go:68-78: "base" | "height" | "tendermint_preprocessed",
unknown → panic), each implementing the ``DataSource`` interface
(schema/types.go:9-16) with per-destination DDL methods.  Here a schema
is ONE object: a vectorized ``normalize`` that turns a raw change-event
DataFrame into the engine's canonical update-set columns

    doc_id, op, tokens, n_tok, source, commit_seq [+ extra value columns]

Everything downstream (LWW dedup, MoR MERGE, manifests) is shared; extra
columns an adapter emits ride the lakehouse schema-evolution path, so an
adapter never edits DDL in five places the way the reference does
(SURVEY §1.2 "adding a field means editing five methods").

Registry semantics match the reference: ``get_adapter("nope")`` raises
(the analog of loader/setup.go:77's panic).
"""

from __future__ import annotations

from typing import Protocol

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dlt_spark.functions.normalize import normalize_events
from dlt_spark.schemas import DELETE_PARENTS_SCHEMA, local_frame


class SchemaAdapter(Protocol):
    """SURVEY §1.2's SchemaAdapter protocol (DataSource analog)."""

    name: str

    def normalize(self, df: DataFrame, use_arrow_udf: bool = False) -> DataFrame:
        """Raw change events → canonical update-set columns."""
        ...


class TokensAdapter:
    """Default schema (reference "base", schema/base.go): the payload IS
    the tokenized-sequence document; normalization folds the evolved
    payload encodings (v1 array / v2 CSV / v3 JSON) into typed tokens."""

    name = "tokens"

    def normalize(self, df: DataFrame, use_arrow_udf: bool = False) -> DataFrame:
        return normalize_events(df, use_arrow_udf=use_arrow_udf)


class HeightAdapter:
    """Reference "height" schema (schema/height.go:101-108): the record
    key parses to an integer height column, kept alongside the payload
    (there: strconv.ParseUint on the key; here: one vectorized cast).
    The height lands as an evolved value column — no DDL edits."""

    name = "height"

    def normalize(self, df: DataFrame, use_arrow_udf: bool = False) -> DataFrame:
        out = normalize_events(df, use_arrow_udf=use_arrow_udf)
        return out.withColumn(
            "height",
            F.regexp_extract(F.col("doc_id"), r"(\d+)$", 1).cast("long"),
        )


# Exploded payload shape: {"block": [int], "txs": [[int]], "events": [[int]]}
_EXPLODED_PAYLOAD = (
    "struct<block: array<int>, txs: array<array<int>>, events: array<array<int>>>"
)


class ExplodedAdapter:
    """Reference "tendermint_preprocessed" (schema/tendermint_preprocessed.go:
    131-209): each log record carries a block document plus per-array
    sub-records; conversion emits one row for the block and one row per
    element of each array, each with ``(type, array_index)`` provenance —
    there a hand-rolled loop per array, here ONE scan: build an
    array<struct<kind,idx,toks>> per record and explode it.

    Child row key: ``<parent>/<kind>/<idx>`` — the string form of the
    reference's composite PK (height, type, array_index) at :114, so the
    shared MoR MERGE upserts child rows independently.  ``kind``,
    ``array_index`` and ``parent_doc_id`` ride as evolved value columns.

    Delete semantics (the reference has none — its log is append-only):
    by default op='D' tombstones the block child; sub-rows of an earlier
    version persist until individually deleted, exactly the upsert-by-PK
    behavior the reference's destinations exhibit.  With
    ``cascade_deletes=True`` the runner additionally expands each parent
    delete into tombstones for every child key the parent has — in the
    table (bucket-pruned broadcast-semi read) and earlier in the same
    batch — giving true whole-document deletes; plain LWW then settles
    ordering (a child re-introduced at a higher seq survives)."""

    name = "exploded"

    # Child rows bucket by their PARENT id (child keys are
    # "<parent>/<kind>/<idx>"), so whole documents co-locate and the
    # cascade-delete candidate lookup below bucket-prunes by the batch's
    # parent set instead of scanning the table (VERDICT r2 #3).
    bucket_expr = "substring_index(doc_id, '/', 1)"

    # Above this many parent-delete rows in one batch, the runner's
    # prefetch keeps them a DataFrame instead of collecting them, and
    # the cascade lookup reads the whole table (a bulk delete of >64k
    # parents touches most buckets anyway).
    MAX_PRUNED_PARENTS = 65_536

    def __init__(self, cascade_deletes: bool = False):
        self.cascade_deletes = cascade_deletes

    def normalize(self, df: DataFrame, use_arrow_udf: bool = False) -> DataFrame:
        p = F.from_json(F.col("payload"), _EXPLODED_PAYLOAD)
        is_del = F.col("op") == "D"
        block = F.array(
            F.struct(
                F.lit("block").alias("kind"),
                F.lit(0).alias("idx"),
                F.when(~is_del, p["block"]).alias("toks"),
            )
        )
        txs = F.transform(
            F.coalesce(p["txs"], F.array().cast("array<array<int>>")),
            lambda x, i: F.struct(
                F.lit("tx").alias("kind"), i.alias("idx"), x.alias("toks")
            ),
        )
        evs = F.transform(
            F.coalesce(p["events"], F.array().cast("array<array<int>>")),
            lambda x, i: F.struct(
                F.lit("event").alias("kind"), i.alias("idx"), x.alias("toks")
            ),
        )
        children = F.when(is_del, block).otherwise(F.concat(block, txs, evs))
        out = df.select(
            F.col("doc_id").alias("parent_doc_id"),
            "op",
            "commit_seq",
            "source",
            F.explode(children).alias("c"),
        )
        return out.select(
            F.concat_ws(
                "/", "parent_doc_id", "c.kind", F.col("c.idx").cast("string")
            ).alias("doc_id"),
            "op",
            F.col("c.toks").alias("tokens"),
            F.when(~F.col("c.toks").isNull(), F.size("c.toks")).alias("n_tok"),
            "source",
            "commit_seq",
            # provenance (reference :55-65 CSV columns type/array_index)
            F.col("c.kind").alias("kind"),
            F.col("c.idx").cast("long").alias("array_index"),
            "parent_doc_id",
        )


    def expand_deletes(
        self, normalized: DataFrame, table, del_rows,
        materialize: bool = False,
    ) -> DataFrame:
        """Phase A of the eager cascade, as ONE DataFrame: ``normalized``
        ∪ one tombstone per candidate child key of each of the batch's
        parent deletes — every child the table has stored plus the
        batch's own children — built by ``cascade_tombstone_rows``.  The
        tombstones ride the batch's dedup and write job (the runner's
        per-batch prepare).  ``normalized`` as given when the adapter
        does not cascade or ``del_rows`` is empty (zero table I/O).

        ``del_rows`` is the batch's parent deletes as the runner's
        delete prefetch found them (``runner.prefetch_deletes``, the one
        capped collect), used as given: (p, del_seq, del_source, b)
        collected rows or, above ``MAX_PRUNED_PARENTS``, a DataFrame.

        - Collected rows are broadcast, and the table lookup is
          BUCKET-PRUNED to their residues ``b`` (the table buckets child
          rows by parent via ``bucket_expr``).
        - A DataFrame never touches the driver: the lookup reads the
          whole table (a purge of >64k parents touches most buckets
          anyway) and the join is a plain shuffle join (VERDICT r3
          wrong-#1).

        The lookup is the RESOLVE-FREE, column-projected ``scan_raw``
        (key + provenance only; token arrays never leave the parquet
        ReadSchema).  Tombstones are LWW-IDEMPOTENT — one at del_seq
        only takes effect where it is the newest version of its key —
        so blanket-tombstoning every historical child key converges to
        the resolved-lookup state without a shuffle, and the lookup
        needs no current table state: delete batches pipeline, the
        runner's phase-B gap delta covers batches still in flight, and
        double-covered keys settle at read-resolve by (_commit_seq,
        D-rank, _row_id)."""
        if not self.cascade_deletes or not del_rows:
            return normalized
        # The batch feeds both the output union and the candidate
        # subtree.  ``materialize`` trades one eager localCheckpoint
        # job against evaluating the normalize twice inside the write
        # job: A/B'd per shape (tick harness, medians of 3) — with
        # CONCURRENT prepares (runner catch-up, gap non-empty) the
        # double normalize competes for saturated cores and the
        # checkpoint wins (bulk 14.0 vs 15.5 s); solo (steady ticks,
        # serialized streaming epochs) the recompute parallelizes into
        # idle cores while the extra job serializes — skip it
        # (ticks 20.0 vs 22.4 s).  The runner passes gap-nonempty.
        if materialize:
            normalized = normalized.localCheckpoint(eager=True)
        in_batch = normalized.where(F.col("op") != "D").select(
            "doc_id", "kind", "array_index", "parent_doc_id",
            F.col("commit_seq").alias("child_seq"),
        )
        buckets = (
            sorted({int(r["b"]) % table.n_buckets for r in del_rows})
            if not isinstance(del_rows, DataFrame)
            and table.bucket_expr == self.bucket_expr else None
        )
        stored = stored_children(table, buckets)
        cand = in_batch if stored is None else stored.unionByName(in_batch)
        # NO dropDuplicates/dedup here: duplicate or rival tombstones for
        # one key settle at read-resolve by (_commit_seq, D-rank,
        # _row_id) exactly as a pre-shuffled winner would; a pre-shuffle
        # was one whole extra stage per delete batch.  Consequence: a
        # delete batch's _n_events counts candidate multiplicity (every
        # stored version / in-flight copy of a child yields one synthetic
        # tombstone row); final state is unaffected.
        return normalized.unionByName(cascade_tombstone_rows(cand, del_rows))


def stored_children(table, buckets=None) -> DataFrame | None:
    """Every child key the table has stored (all versions, unresolved —
    ``scan_raw``), optionally bucket-pruned, as cascade candidates
    (doc_id, kind, array_index, parent_doc_id, child_seq=-1).  None for
    a fresh table that has no child columns yet."""
    cols = ["doc_id", "kind", "array_index", "parent_doc_id"]
    tdf = table.scan_raw(buckets=buckets, columns=cols)
    if "kind" not in tdf.columns:
        return None
    return tdf.select(*cols).withColumn("child_seq", F.lit(-1).cast("long"))


def cascade_tombstone_rows(cand: DataFrame, dels) -> DataFrame:
    """The one cascade-delete rule: a parent delete at ``del_seq``
    tombstones every candidate child of that parent with ``child_seq <
    del_seq``, at the delete's seq and source, in the canonical
    update-set columns.

    ``cand`` is (doc_id, kind, array_index, parent_doc_id, child_seq);
    ``dels`` is (p, del_seq, del_source) — a DataFrame (joined as given)
    or collected rows (broadcast)."""
    if not isinstance(dels, DataFrame):
        # through Arrow: a pickled-rows frame opens the write job with a
        # Python-worker stage (4 tasks, median 325 ms per perfbench
        # cascade_sync tick on a 4-vCPU VM) that only unpickles them
        dels = F.broadcast(
            local_frame(cand.sparkSession, dels, DELETE_PARENTS_SCHEMA)
        )
    return (
        cand.join(dels, cand["parent_doc_id"] == dels["p"])
        .where(F.col("child_seq") < F.col("del_seq"))
        .select(
            "doc_id",
            F.lit("D").alias("op"),
            F.lit(None).cast("array<int>").alias("tokens"),
            F.lit(None).cast("int").alias("n_tok"),
            F.col("del_source").alias("source"),
            F.col("del_seq").alias("commit_seq"),
            "kind",
            "array_index",
            "parent_doc_id",
        )
    )


ADAPTERS: dict[str, SchemaAdapter] = {
    a.name: a
    for a in (
        TokensAdapter(),
        HeightAdapter(),
        ExplodedAdapter(),
    )
}
ADAPTERS["exploded_cascade"] = ExplodedAdapter(cascade_deletes=True)
ADAPTERS["exploded_cascade"].name = "exploded_cascade"


def get_adapter(name_or_adapter) -> SchemaAdapter:
    """Config-string switch (loader/setup.go:68-78 analog; unknown name
    raises instead of panicking).  Passing an adapter object through is
    allowed so callers can register ad-hoc schemas without editing the
    module — the extension point the reference lacks."""
    if hasattr(name_or_adapter, "normalize"):
        return name_or_adapter
    try:
        return ADAPTERS[name_or_adapter]
    except KeyError:
        raise ValueError(
            f"unknown schema adapter {name_or_adapter!r} "
            f"(registered: {sorted(ADAPTERS)})"
        ) from None
