"""Relational operators the reference lacks but CDC semantics require.

SURVEY §2.5 / §2.7: LWW dedup (M2), whose map-side partial aggregate is
also the hot-key defence (X4), and tombstone resolution (M3).  MERGE
upsert (M1) is ``LakehouseTable.merge``.
"""

from dlt_spark.operators.dedup import dedup_lww, OP_RANK_EXPR  # noqa: F401
