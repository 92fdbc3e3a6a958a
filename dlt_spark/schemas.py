"""Typed schemas for the change-event log and the target table.

The reference declares each schema three times by hand (CSV header,
BigQuery schema, Postgres DDL — schema/base.go:38-80, schema/height.go,
schema/tendermint_preprocessed.go) and selects them by a config-string
switch (loader/setup.go:68-78).  Here a schema is a single StructType
plus a vectorized normalizer; Spark derives everything else.

Payload (BASELINE.json input_hint): pre-tokenized training sequences
``(doc_id string, tokens array<int>, n_tok int, source string)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Change-event log (the source).  ``commit_seq`` is the log position —
# the analog of the reference's monotonically increasing bundle ``Id``
# (loader/collector/types.go:33-54); ``payload`` carries the possibly
# schema-evolved raw tokens (analog of BaseItem.Value,
# schema/base.go:13-16); ``payload_version`` selects the normalizer.
# ---------------------------------------------------------------------------
CHANGE_EVENT_SCHEMA = StructType(
    [
        StructField("commit_seq", LongType(), False),
        StructField("doc_id", StringType(), False),
        StructField("op", StringType(), False),  # I | U | D
        StructField("tokens", ArrayType(IntegerType()), True),  # null for D / v>1
        StructField("payload", StringType(), True),  # evolved raw form (v2/v3)
        StructField("payload_version", IntegerType(), False),
        StructField("source", StringType(), True),
        StructField("extracted_at", TimestampType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Target table (the sink).  Analog of the reference's destination table
# (schema/base.go:69-80) with the engine's system columns:
#   _commit_seq — last-applied log position for the row (row-level
#                 idempotency guard; replaces the reference's PK-violation
#                 "guard", SURVEY §2.5 M1)
#   _row_id     — deterministic surrogate key; replaces the reference's
#                 non-deterministic uuid (schema/base.go:28, SURVEY §2.3 E2)
#   _deleted    — retained tombstone (merge-on-read practice): a physical
#                 delete would lose the delete's _commit_seq, so a forced
#                 replay of an OLDER range would resurrect the row — the
#                 row-level guard needs the tombstone's seq to reject
#                 stale re-inserts.  Reads filter _deleted out;
#                 purge_tombstones() reclaims them below a replay horizon.
# ---------------------------------------------------------------------------
TARGET_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", IntegerType(), True),
        StructField("source", StringType(), True),
        StructField("_commit_seq", LongType(), False),
        StructField("_row_id", StringType(), False),
        StructField("_deleted", BooleanType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Commit-manifest rows (SURVEY §2.5 M4): one row per applied batch,
# carrying lineage + row-count metrics.  Lives inside lakehouse snapshots
# and is queryable as a DataFrame via Manifest.to_df().
# ---------------------------------------------------------------------------
MANIFEST_SCHEMA = StructType(
    [
        StructField("job_id", StringType(), False),
        StructField("batch_id", LongType(), False),
        StructField("seq_from", LongType(), False),
        StructField("seq_to", LongType(), False),
        StructField("events_read", LongType(), False),
        StructField("events_applied", LongType(), False),
        StructField("deletes_applied", LongType(), False),
        StructField("min_doc_id", StringType(), True),
        StructField("max_doc_id", StringType(), True),
        StructField("committed_at", StringType(), False),  # ISO-8601
        StructField("snapshot_version", LongType(), False),
        # Order-insensitive content hash of the applied delta (SURVEY
        # §2.1 S2: the reference verifies sha256(payload) == on-chain
        # DataHash, schema/storage_provider.go:41-45; here the hash is
        # computed during the write job and lets any reader re-verify a
        # batch's files against its manifest).
        StructField("data_hash", LongType(), True),
        StructField("delta_files", ArrayType(StringType()), True),
    ]
)

# A batch's parent deletes as the cascade consumes them: collected by
# ``runner.prefetch_deletes``, broadcast by
# ``adapters.cascade_tombstone_rows``, written as equality-delete
# markers by ``LakehouseTable.prepare_markers``.
DELETE_PARENTS_SCHEMA = StructType(
    [
        StructField("p", StringType(), True),
        StructField("del_seq", LongType(), True),
        StructField("del_source", StringType(), True),
    ]
)


def quote_ident(name: str) -> str:
    """``name`` as a quoted SQL identifier, for SQL text and ``F.col``
    alike: evolved column names come from batch schemas and renames
    unchecked, so any character — a quote, a backtick — must survive
    parsing."""
    return "`" + name.replace("`", "``") + "`"


def rows_to_arrow(rows, schema: StructType):
    """Driver-side rows (anything indexed by field name: ``Row``,
    dict) as a pyarrow table of ``schema``; fields outside the schema
    are dropped."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.table(
        {f.name: [r[f.name] for r in rows] for f in schema.fields},
        schema=to_arrow_schema(schema),
    )


def local_frame(spark: SparkSession, rows, schema: StructType) -> DataFrame:
    """Driver-side rows as a DataFrame through Arrow.  The plan is a
    JVM ``LocalTableScan`` (zero partitions when ``rows`` is empty);
    ``createDataFrame`` on a Python list instead pickles the rows into
    a ``PythonRDD`` that starts one Python worker per default-parallelism
    partition whenever it executes, even for no rows."""
    return spark.createDataFrame(rows_to_arrow(rows, schema), schema)
