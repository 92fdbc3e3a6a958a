"""dlt_spark — a from-scratch PySpark-native CDC / incremental-ingest engine.

Plays the role of kyve-dlt (reference: /root/reference, Go): tail an
append-only change-event log, transform records per a declared schema, and
apply them incrementally, idempotently and resumably into an analytical
table of pre-tokenized training sequences
``(doc_id string, tokens array<int>, n_tok int, source string)``.

Architecture (SURVEY.md §7): the reference's hand-built dataflow machinery
(channels, worker pools, memory governor, retry loops — loader/service.go,
utils/tools.go) is *deleted*, not ported; Spark owns scheduling, memory,
shuffle and retry.  What this package adds on top of stock PySpark:

- ``schemas``    — typed StructTypes for the change log / target table
                   (reference: schema/base.go, schema/height.go).
- ``sources``    — change-log readers: commit_seq range scans with
                   partition pruning (reference: loader/collector/).
- ``operators``  — LWW dedup and tombstone resolution (reference
                   gap-closures, SURVEY §2.5/2.7).
- ``functions``  — vectorized pandas/Arrow UDFs + column builders: token
                   payload normalization, deterministic row ids, text
                   dedup/quality/fingerprint functions.
- ``lakehouse``  — a merge-on-read Parquet table format with leveled
                   (L0/L1/base) compaction, hash-bucketed bases, atomic
                   snapshot commits, tiered no-base-shuffle MoR reads and
                   idempotent commit manifests (stands in for Iceberg v2
                   MoR; no external jars needed).
- ``plans``      — the batch runner: watermark resolution, batch planning
                   by commit_seq range, replay/resume (reference:
                   loader/service.go:18-105 lifecycle).
- ``scheduler``  — the `sync` daemon analog: per-connection schedules
                   polling the runner under one single-flight loop
                   (reference: cmd/dlt/commands/sync.go).
- ``streaming``  — the CDC-out tail: committed change windows of the
                   table streamed to a downstream consumer.
"""

__version__ = "0.1.0"

from dlt_spark.session import get_spark  # noqa: F401
