"""Relational operators the reference lacks but CDC semantics require.

SURVEY §2.5 / §2.7: LWW dedup (M2), tombstone resolution (M3), salted
repartition (X4).  MERGE upsert (M1) is ``LakehouseTable.merge``.
"""

from dlt_spark.operators.dedup import dedup_lww, OP_RANK_EXPR  # noqa: F401
from dlt_spark.operators.salt import salted_repartition  # noqa: F401
