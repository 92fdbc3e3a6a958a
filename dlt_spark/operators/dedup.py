"""Last-writer-wins dedup by key (SURVEY §2.5 M2).

The reference has no dedup: bundles are assumed disjoint, and ``--force``
knowingly duplicates rows (loader/service.go:30-36).  MERGE requires a
unique-keyed source, so this operator collapses a batch of change events
to exactly one winning event per ``doc_id``.

Conflict order (must match the test oracle and oracle_sql exactly,
SURVEY §7 "hard parts" #2):
  1. highest ``commit_seq`` wins (last writer);
  2. at equal commit_seq: op priority D > U > I (a delete beats a
     concurrent update beats a concurrent insert);
  3. still tied (true duplicate delivery): rows are verbatim copies by
     construction, but break deterministically on payload hash so the
     plan is total-ordered regardless.

Implemented as a single aggregation ``max_by(struct(*), ord)`` rather
than a window: one shuffle on doc_id with partial (map-side)
aggregation, so hot keys collapse inside each map task before the
exchange.  Physical note: Spark plans this as SortAggregate, not
HashAggregate — the aggregation buffer carries the variable-width
tokens array, which hash aggregation cannot buffer.  The measured
alternative (hash-aggregate a fixed-width winner key, then self-join
the batch back on it) plans as SortAggregate *plus* a SortMergeJoin
and ran 1.7× slower (14.8s vs 8.8s on a 500k-event batch), so the
single max_by pass is the keeper; its per-partition sorts are bounded
by batch size, never table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dlt_spark.schemas import quote_ident

# D=3, U=2, I=1 — shared with oracle SQL builders.
OP_RANK_EXPR = "CASE op WHEN 'D' THEN 3 WHEN 'U' THEN 2 ELSE 1 END"


def dedup_lww(
    df: DataFrame,
    key: str = "doc_id",
    seq: str = "commit_seq",
    with_counts: bool = False,
) -> DataFrame:
    """Collapse to one event per key: max (seq, op_rank, payload-hash).

    ``with_counts=True`` adds ``_n_events`` (events collapsed per key) so
    the manifest's ``events_read`` comes out of this same aggregation —
    no second scan of the batch (SURVEY §2.4 A2 running counters).
    """
    cols = [F.col(quote_ident(c)) for c in df.columns]
    ordering = F.struct(
        F.col(seq).alias("_s"),
        F.expr(OP_RANK_EXPR).alias("_r"),
        F.xxhash64(*cols).alias("_h"),
    )
    winner = F.max_by(F.struct(*cols), ordering).alias("w")
    aggs = [winner]
    if with_counts:
        aggs.append(F.count("*").alias("_n_events"))
    out = df.groupBy(key).agg(*aggs)
    return out.select("w.*", "_n_events") if with_counts else out.select("w.*")
