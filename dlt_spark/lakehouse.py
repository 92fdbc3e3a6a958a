"""A minimal merge-on-read bucketed-Parquet table format with atomic
snapshot commits and idempotent commit manifests.

Why this exists: the design target is Iceberg v2 MoR MERGE (SURVEY §2.5
M1), but no Iceberg runtime jar ships in this sandbox and there is no
network, so the engine implements the Iceberg properties the CDC
semantics rely on, on plain Parquet:

1. **Atomic snapshot commits** — a commit is the creation of
   ``_snapshots/v<N>.json`` via hard-link-from-temp (create-exclusive →
   atomic AND conflict-detecting on POSIX).  Readers resolve the highest
   version; a crash mid-write leaves only orphan data files, never a
   half-visible table.  (Iceberg: metadata.json swap.)  A losing writer
   retries against the refreshed snapshot with bounded backoff
   (``commit_delta`` conflict loop) — concurrent jobs are hands-free.
2. **Merge-on-read ingest** — a MERGE batch writes ONLY its deduped
   update set as *delta* files: O(batch) work, independent of table
   size.  (Iceberg v2: equality deletes + MoR scan.)  This replaces an
   earlier copy-on-write design whose per-batch cost was O(table) once
   updates touched every bucket — at the 10^10-event design point each
   ingest batch would have rewritten ~100 TB.
3. **Tiered MoR read** — the read-time LWW resolve never shuffles a
   large base.  Pending (L0+L1) and base row counts are tracked in
   snapshot metadata, so the reader picks a plan WITHOUT running a job:
     tier 2 (default merge path, base ≫ pending): broadcast the pending
       KEY SET, split base into untouched (anti) / touched (semi)
       streams and resolve touched ∪ pending — base is scanned, never
       exchanged; measured fastest above ~600k base rows (constants in
       the cost-model comment below);
     tier 3 (small base / pending >20M keys): the
       plain full resolve — the only tier that shuffles base, chosen
       exactly when that shuffle is cheap or unavoidable.
   At the 10^10-event design point every inter-compaction read was a
   ~100 TB Exchange before this; now the base never crosses the wire.
   Every resolve (tier 2's, tier 3's, a base-less table's) runs ONE
   doc_id exchange sized from the same snapshot row counts — pending
   rows, base + pending, or about 2 × pending for tier 2 — by the rule
   the runner and the fold use (partitions_for_rows, capped at the
   configured shuffle partitions), then one sort and the LWW aggregate.
   (Tier 2's key-set distinct keeps its own, unsized exchange of keys.)
4. **Amortized leveled compaction** — every ``max_deltas`` commits the
   pending L0 (per-commit, unbucketed) folds, cost O(L0).  Every write
   is row-sized: one file per residue class under the modulus its row
   count justifies (about one file per ROWS_PER_PARTITION rows, capped
   at ``n_buckets``), so a small table is a file or a few, not one per
   bucket.  Ratio rule: when base and L1 together hold at most
   BASE_OVER_PENDING_MIN × the fold's L0 rows, the fold resolves L0 ∪
   L1 ∪ base into a fresh base and nothing stays pending — a fold reads
   at most (1 + BASE_OVER_PENDING_MIN) × its own rows, and a caught-up
   small table reads as a plain scan.  Otherwise L0 folds into L1.  An
   L1 key whose file count hits a staggered cap is compacted: a key
   coarser than ``n_buckets`` majors into the base entries it overlaps
   under the same ratio (cost O(key)), or else is re-resolved from its
   own files, in place or split to the finer modulus its rows justify;
   a full-modulus key folds with its base into a fresh base (cost
   O(bucket), never O(table)).  ``compact()`` is the fold's major
   without the ratio test.  Invariant: base entries are disjoint
   classes, one row per key; L1 and L0 are a pending multiset of any
   moduli, resolved at read — LWW is order-independent, so compacting
   any subset of the pending files, alone or into the base entries it
   overlaps, leaves the read unchanged.  (Iceberg: rewrite_data_files.)
5. **Idempotent commit manifests** — each snapshot carries the applied
   ``(job_id, batch_id)`` set as compressed ID RANGES plus per-batch
   lineage/metrics rows (SURVEY §2.5 M4).  Replaying an applied batch
   is a no-op; this closes the reference's at-least-once hole
   (destinations/postgres.go:105-118 retries re-insert committed
   chunks; big_query.go:256 WriteAppend duplicates on replay).
   Manifest history beyond a retained tail spills to Parquet sidecars
   (``_manifests/``), so snapshot JSON stays O(tail), not O(commits) —
   a long-lived sync daemon's commit latency is flat.
6. **Tombstone retention** — deletes persist as ``_deleted`` rows (the
   resolve needs the delete's _commit_seq to reject stale re-inserts
   from forced replays of older ranges); reads filter them;
   ``purge_tombstones(horizon)`` reclaims below a replay horizon.

Hash-bucketing on doc_id (``n_buckets`` fixed per table) is the analog
of Iceberg ``PARTITIONED BY (bucket(N, doc_id))``: bucket-local
compaction and bucket-pruned point reads (SURVEY §4.2).

Schema evolution (Iceberg analog): new value columns register at commit
(add-column, null backfill in older files); existing evolved columns may
WIDEN (int→long, float→double — Spark 4 Parquet readers up-cast at scan
time) and RENAME (logical-name mapping kept in the snapshot; reads
coalesce the physical names).
"""

from __future__ import annotations

import bisect
import json
import math
import os
import time
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from dlt_spark.adapters import cascade_tombstone_rows, stored_children
from dlt_spark.functions.ids import deterministic_row_id
from dlt_spark.metafs import LocalMetaFS, MetaFS
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from dlt_spark.schemas import (
    DELETE_PARENTS_SCHEMA,
    MANIFEST_SCHEMA,
    TARGET_SCHEMA,
    local_frame,
    quote_ident,
    rows_to_arrow,
)
from dlt_spark.session import partitions_for_rows

_SNAP_DIR = "_snapshots"
_DATA_DIR = "data"
_MANIFEST_DIR = "_manifests"
# Per-bucket file-list sidecars (Iceberg manifest-list → manifest
# indirection analog): the snapshot JSON stores only {bucket: sidecar
# ref}; the sidecar holds the actual data-file paths for the buckets a
# commit touched.  A plain ingest commit touches NO buckets, so its
# snapshot rewrite is O(n_buckets refs + manifest tail) — never O(live
# data files).  At the 10^10-event design point (~800k base files) the
# previous inline layout serialized tens of MB of JSON per commit; now
# a commit writes one sidecar of O(changed buckets) and the snapshot
# stays O(n_buckets).  Inline-retained lists and why they're bounded:
# L0 "deltas" ≤ max_deltas commits × ~10²-file lists (a batch's delta is
# AQE-coalesced to target file sizes — ~80 files for a 10 GB batch) and
# the manifest tail ≤ MANIFEST_TAIL rows of the same shape.
_FILELIST_DIR = "_filelists"

# Manifest rows retained inline in the snapshot; beyond 2× the tail the
# oldest spill to a Parquet sidecar (read back via manifests_df).
MANIFEST_TAIL = 64

# Every key of an on-disk snapshot: exactly what create() writes (the
# inline buckets/l1 maps are in-memory only, see _commit_snapshot).
_SNAP_KEYS = (
    "version", "n_buckets", "bucket_expr", "max_deltas", "base_rows",
    "deltas", "extra_columns", "renames", "applied", "manifests",
    "manifest_spill", "superseded", "markers", "watermark",
    "buckets_ref", "l1_ref",
)

# Tiered-read thresholds (pending rows, from snapshot metadata — no job
# runs to choose the plan).  Tier 2 broadcasts only the pending key set
# (~30 B/key → ≤ ~600 MB at the cap).
BROADCAST_KEYS_T2 = 20_000_000
# Merge path pays extra stages + O(pending) resolves; a full resolve
# pays one shuffle of base∪pending.  Measured crossovers (local[32],
# tmpfs shuffle, 7 pending deltas — see BENCH/PLANS.md):
#   base 122k rows: full resolve 1.15s, key-split 1.56s  → resolve wins
#   base 450k rows: 1.92s vs 2.01s                       → break-even
#   base 686k rows: 2.95s vs 2.66s                       → key-split wins
# Those crossovers were measured against the unsized 128-partition
# tier-3 resolve (map-side sort and partial aggregate, then a second
# sort).  Every resolve now runs behind one exchange sized from snapshot
# rows; the crossovers are not re-measured for that plan, and tier 3
# got cheaper, so the automatic tier-2/tier-3 choice is unverified until
# they are.
# On a real cluster the gap widens with base size: the full resolve
# ships the whole base over the network every read, the merge tiers
# never do.  Below BOTH floors the plain resolve is simply the faster
# plan and its base shuffle is harmless.
BASE_OVER_PENDING_MIN = 4
BASE_ROWS_MIN_MERGE = 600_000

# Cascade equality-delete markers (opt-in mode): the per-parent marker
# map broadcasts below this row bound (markers are per parent-DELETE —
# a ~24 B/row struct, ≤ ~25 MB at the cap); above it the read-side
# application falls back to a shuffle join (AQE still broadcasts if the
# runtime size allows).
MARKER_BROADCAST_ROWS = 1_000_000

# Parquet widening promotions Spark 4 readers apply at scan time
# (SPARK-40876): physical type → readable-as types.
_WIDEN_OK = {
    "int": {"bigint", "double"},
    "float": {"double"},
    "smallint": {"int", "bigint", "double"},
}


def _bucket_sql(key_expr: str, n_buckets: int) -> str:
    """Bucket id of a row, as SQL: hash of the bucket-key EXPRESSION
    (usually the key column; tables may declare a transform — e.g. the
    exploded schema buckets child rows by their PARENT id so whole
    documents co-locate and parent-keyed lookups bucket-prune, the
    Iceberg partition-transform analog)."""
    return f"CAST(pmod(xxhash64({key_expr}), {int(n_buckets)}) AS INT)"


def _bucket_in(buckets):
    """``_bucket IN (…)`` as ONE SQL expression: ``Column.isin`` builds
    one literal Column per bucket, each a driver→JVM round trip."""
    ids = sorted({int(b) for b in buckets})
    if not ids:
        return F.lit(False)
    return F.expr(f"_bucket IN ({', '.join(map(str, ids))})")


def _lww_winner(cols: list[str]):
    """The LWW resolve rule as an aggregate: the row (as struct ``w``)
    that is max by (_commit_seq, tombstone-rank, _row_id).  The
    tombstone rank makes a delete beat a concurrent non-delete at equal
    seq, matching dedup_lww's D > U/I priority; _row_id is a
    deterministic final tie-break for byte-identical duplicate
    deliveries.  Built from one SQL string: a Column per field would be
    a driver→JVM round trip each.  ``struct`` names each field after its
    column, so no name is ever written as a string literal."""
    row = ", ".join(quote_ident(c) for c in cols)
    return F.expr(
        f"max_by(struct({row}), named_struct('_s', _commit_seq,"
        " '_d', CAST(_deleted AS INT), '_r', _row_id)) AS w"
    )


def _content_hash():
    """Order-insensitive batch content hash (SURVEY §2.1 S2): the sum
    of bounded per-row hashes — commutative, overflow-safe up to ~10^9
    rows per batch.  prepare_delta records it, verify_batch recomputes
    it from the delta files."""
    return F.sum(
        F.pmod(
            F.xxhash64("doc_id", "_commit_seq", "_row_id", "_deleted"),
            F.lit(1 << 30),
        )
    )


# ---------------------------------------------------------------------------
# bucket keys are MODULUS-QUALIFIED: "m:r" = hash residue r under modulus
# m.  n_buckets is the finest modulus; every write picks the modulus its
# rows justify (_row_modulus), a divisor of n_buckets, so an entry (m, r)
# is exactly the union of bucket residues {r, r+m, r+2m, …} — entries
# of any modulus stay readable and prunable, and compaction
# re-granulates them as their rows grow.
# ---------------------------------------------------------------------------
def _bkey(m: int, r: int) -> str:
    return f"{m}:{r}"


def _bkey_parse(key: str) -> tuple[int, int]:
    m, _, r = key.partition(":")
    return int(m), int(r)


def _key_matches_residues(key: str, residues: set[int]) -> bool:
    """Does entry (m, r) contain any of the given residues under
    ``n_buckets``?  (m divides ``n_buckets`` by construction.)"""
    m, r = _bkey_parse(key)
    return any(b % m == r for b in residues)


def _row_modulus(rows: int, ceiling: int) -> int:
    """Modulus for writing ``rows`` rows of one residue class split
    ``ceiling`` ways at most: about one class per ROWS_PER_PARTITION
    rows (partitions_for_rows), kept a divisor of ``ceiling`` so the
    written classes nest in the table's buckets."""
    return math.gcd(partitions_for_rows(rows, 1, ceiling), ceiling)


def _keys_overlap(k1: str, k2: str) -> bool:
    """Do two modulus-qualified residue classes intersect?  Row-sized
    moduli form a divisor chain of ``n_buckets``, so classes are
    hierarchical: they intersect iff the finer is congruent to the
    coarser."""
    m1, r1 = _bkey_parse(k1)
    m2, r2 = _bkey_parse(k2)
    if m1 <= m2:
        return m2 % m1 == 0 and r2 % m1 == r1
    return m1 % m2 == 0 and r1 % m2 == r2


def _read_ddl(extras: list) -> str:
    """Physical read schema as one DDL string: core TARGET columns +
    evolved extras.  Files written before a column was added simply
    lack it — Spark backfills nulls, which IS the evolution semantics
    (Iceberg add-column analog).  Files written before a widen carry
    the narrower physical type — Spark 4 Parquet readers up-cast
    int→long / float→double at scan time.  Columns a file has beyond
    the schema (the delta-only _n_events) are not read."""
    cols = [(f.name, f.dataType.simpleString()) for f in TARGET_SCHEMA.fields]
    return ", ".join(f"{quote_ident(n)} {ddl}" for n, ddl in [*cols, *extras])


# columns of the change-event envelope that are NOT value payload
_NON_VALUE_EVENT_COLS = {
    "doc_id", "op", "tokens", "n_tok", "source", "commit_seq",
    "payload", "payload_version", "extracted_at", "_n_events",
}


# ---------------------------------------------------------------------------
# applied-set ranges: {job_id: [[lo, hi], ...]} sorted, disjoint,
# inclusive.  O(log n) membership, O(1) amortized growth for the common
# monotone batch-id sequence — the snapshot stays O(#jobs + #gaps)
# instead of O(#batches).
# ---------------------------------------------------------------------------
def _ranges_contains(ranges: list, x: int) -> bool:
    i = bisect.bisect_right(ranges, [x, float("inf")]) - 1
    return i >= 0 and ranges[i][0] <= x <= ranges[i][1]


def _ranges_add(ranges: list, x: int) -> list:
    i = bisect.bisect_right(ranges, [x, float("inf")])
    if i > 0 and ranges[i - 1][0] <= x <= ranges[i - 1][1]:
        return ranges
    out = ranges[: i - 1] if i > 0 else []
    lo = hi = x
    if i > 0:
        plo, phi = ranges[i - 1]
        if phi == x - 1:
            lo = plo
        else:
            out.append(ranges[i - 1])
    rest = ranges[i:]
    if rest and rest[0][0] == x + 1:
        hi = rest[0][1]
        rest = rest[1:]
    out.append([lo, hi])
    out.extend(rest)
    return out


def _ranges_count(ranges: list) -> int:
    return sum(hi - lo + 1 for lo, hi in ranges)


def _checked(snap: dict, path: str) -> dict:
    """``snap`` if it carries every key create() writes.  A snapshot
    file is input from outside the program: a layout this code did not
    write is refused, not guessed at from its shape (the Iceberg rule
    for unknown format versions)."""
    missing = [k for k in _SNAP_KEYS if k not in snap]
    if missing:
        raise ValueError(
            f"snapshot v{snap.get('version')} of table {path} lacks "
            f"key(s) {', '.join(missing)}"
        )
    return snap


def _resolve_filelists(path: str, snap: dict, fs: MetaFS) -> dict:
    """Inflate the in-memory ``buckets``/``l1`` maps from their sidecar
    refs (the on-disk snapshot stores only refs).  Cost: one small JSON
    read per DISTINCT sidecar referenced — bounded by the number of
    compactions whose output is still partially live (typically a
    handful; worst case one per bucket), the same two-level open cost as
    Iceberg's manifest list."""
    cache: dict[str, dict] = {}

    def side(rel: str) -> dict:
        if rel not in cache:
            cache[rel] = json.loads(fs.read_text(os.path.join(path, rel)))
        return cache[rel]

    snap["buckets"] = {
        b: side(rel)["buckets"][b] for b, rel in snap["buckets_ref"].items()
    }
    snap["l1"] = {b: side(rel)["l1"][b] for b, rel in snap["l1_ref"].items()}
    return snap


class LakehouseTable:
    """Handle to one merge-on-read table rooted at ``path``."""

    def __init__(self, spark: SparkSession, path: str, snap: dict,
                 meta_fs: MetaFS | None = None):
        self.spark = spark
        self.path = path
        # control-plane FS (snapshots / sidecars / CAS) — see metafs.py;
        # data files always go through Spark's Hadoop FS layer
        self.fs = meta_fs or LocalMetaFS()
        self._snap = _resolve_filelists(path, _checked(snap, path), self.fs)

    # ------------------------------------------------------------------
    # lifecycle
    # ------------------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        n_buckets: int = 64,
        max_deltas: int = 8,
        bucket_expr: str = "doc_id",
        meta_fs: MetaFS | None = None,
    ) -> "LakehouseTable":
        """CREATE TABLE IF NOT EXISTS (SURVEY §2.1 S6).  ``n_buckets``
        is the finest modulus a write may use: entries are written at
        the modulus their rows justify, so a small table stays a few
        files whatever the bucket count.  Size it so a fully compacted
        bucket holds about 2 GB, rounded up to a power of two (2048 at
        ~3 TB live)."""
        fs = meta_fs or LocalMetaFS()
        snap_dir = os.path.join(path, _SNAP_DIR)
        if _latest_version(snap_dir, fs) is not None:
            return cls.load(spark, path, meta_fs=fs)
        fs.makedirs(snap_dir)
        fs.makedirs(os.path.join(path, _DATA_DIR))
        snap = {
            "version": 0,
            "n_buckets": n_buckets,
            "bucket_expr": bucket_expr,
            "max_deltas": max_deltas,  # L0 commit cap (and L1 per-bucket cap)
            # Leveled layout (LSM-style; Iceberg analog: data files +
            # positional deltas + rewrite_data_files):
            #   L0 "deltas":  [{"files": [...], "rows": n}, …] — one entry
            #     per ingest commit, UNBUCKETED (written straight out of
            #     the dedup shuffle: zero extra shuffle on the hot path);
            #     "rows" feeds the tiered-read plan choice
            #   L1 "l1":      "m:r" key → {"files": [...], "rows": n} —
            #     resolved folds of L0, one file per residue class under
            #     a row-sized modulus m | n_buckets (cost O(L0) every
            #     max_deltas commits, independent of table size); empty
            #     after a fold that majored into base
            #   base "buckets": "m:r" key → [rel paths] — disjoint
            #     classes at row-sized moduli, fully resolved; rebuilt by
            #     a fold whose L0 outweighs base + L1 (ratio rule), or
            #     class-locally when an L1 key hits its (staggered)
            #     cap — cost O(L0) or O(class), never O(table)
            "buckets": {},
            "base_rows": 0,  # exact base row count (parquet footers)
            "l1": {},
            "deltas": [],
            # evolved value columns beyond TARGET_SCHEMA: [[name, ddl], …]
            # (Iceberg schema-evolution analog: add-column + widen; rename
            # via the "renames" physical→logical map)
            "extra_columns": [],
            "renames": {},
            # {job_id: [[batch_lo, batch_hi], …]} — compressed applied set
            "applied": {},
            "manifests": [],  # retained tail, rows per MANIFEST_SCHEMA
            "manifest_spill": [],  # [{path, v_min, v_max}] spill sidecars
            # "job::batch" → version of a forced re-apply whose stale
            # manifest row sits in a spill sidecar
            "superseded": {},
            # cascade equality-delete markers: [{"files": [...], "rows": n}]
            "markers": [],
            "watermark": -1,  # highest seq_to applied
            # per-bucket file-list sidecar refs (the on-disk snapshot
            # never inlines buckets/l1 lists)
            "buckets_ref": {},
            "l1_ref": {},
        }
        _commit_snapshot(snap_dir, snap, fs)
        return cls(spark, path, snap, meta_fs=fs)

    @classmethod
    def load(
        cls, spark: SparkSession, path: str, version: int | None = None,
        meta_fs: MetaFS | None = None,
    ) -> "LakehouseTable":
        """Open the table at the latest snapshot, or TIME-TRAVEL to an
        older retained ``version`` (Iceberg `VERSION AS OF` analog —
        snapshots are immutable JSON files, so a point-in-time handle is
        a plain read of that file; its data files remain valid until a
        vacuum below the retention window removes superseded ones)."""
        fs = meta_fs or LocalMetaFS()
        snap_dir = os.path.join(path, _SNAP_DIR)
        if version is None:
            version = _latest_version(snap_dir, fs)
            if version is None:
                raise FileNotFoundError(f"no snapshots under {snap_dir}")
        snap_file = os.path.join(snap_dir, _snap_name(version))
        if not fs.exists(snap_file):
            raise FileNotFoundError(
                f"snapshot v{version} not found under {snap_dir}"
            )
        return cls(spark, path, json.loads(fs.read_text(snap_file)),
                   meta_fs=fs)

    def history(self, limit: int | None = None) -> list[dict]:
        """Retained snapshots, oldest first: version, commit summary —
        the Iceberg `table.history()` analog, driver-side metadata only.
        ``limit`` bounds the walk to the NEWEST N snapshots (the listing
        is names-only; JSON reads are O(limit), so a 10^5-commit table
        answers `history --limit 20` without reading 10^5 files)."""
        snap_dir = os.path.join(self.path, _SNAP_DIR)
        versions = _snapshot_versions(snap_dir, self.fs)
        if limit is not None:
            if limit < 0:  # ADVICE r5: versions[-limit:] would DROP the
                raise ValueError(  # |limit| oldest instead of newest N
                    f"history limit must be >= 0, got {limit}"
                )
            versions = versions[-limit:] if limit > 0 else []
        out = []
        for v in versions:
            s = _checked(
                json.loads(
                    self.fs.read_text(os.path.join(snap_dir, _snap_name(v)))
                ),
                self.path,
            )
            last = s["manifests"][-1] if s["manifests"] else None
            out.append({
                "version": s["version"],
                "watermark": s["watermark"],
                "base_rows": s["base_rows"],
                "pending_commits": len(s["deltas"]),
                "committed_at": last["committed_at"] if last else None,
                "job_id": last["job_id"] if last else None,
                "batch_id": last["batch_id"] if last else None,
            })
        return out

    def changes_between(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental change feed (Iceberg incremental-scan / CDC-out
        analog): the RAW change rows (including tombstones, ``_deleted``
        marking deletes) applied by commits with
        ``from_version < snapshot_version <= to_version``, read straight
        from those commits' delta files — downstream consumers tail the
        lakehouse without replaying the source log.  Window of validity:
        delta files persist until compaction supersedes them AND vacuum
        reclaims them past the grace window; a closed window raises."""
        if to_version is None:
            to_version = self.version
        # Only sidecars whose version range meets the window are read,
        # filtered BEFORE collect: the driver receives O(window) spilled
        # rows, not O(commits) — the predicate pushes into the parquet
        # scan (VERDICT r3 minor-#4).  The in-snapshot tail is filtered
        # here in Python, so a window inside the tail runs no job.
        spilled = self._spilled_manifests_df(from_version, to_version)
        rows = [] if spilled is None else (
            spilled.where(
                (F.col("snapshot_version") > from_version)
                & (F.col("snapshot_version") <= to_version)
            )
            .select("delta_files")
            .collect()
        )
        rows += [
            m for m in self._snap["manifests"]
            if from_version < m["snapshot_version"] <= to_version
        ]
        files = [p for m in rows if m["delta_files"] for p in m["delta_files"]]
        missing = [
            p for p in files
            if not self.fs.exists(os.path.join(self.path, p))
        ]
        if missing:
            raise FileNotFoundError(
                f"incremental window closed: {len(missing)} delta file(s) "
                f"vacuumed (e.g. {missing[0]}); re-read from the source log"
            )
        return self._raw(self._abs(files))

    def refresh(self) -> "LakehouseTable":
        return LakehouseTable.load(self.spark, self.path, meta_fs=self.fs)

    # ------------------------------------------------------------------
    # reads
    # ------------------------------------------------------------------
    @property
    def n_buckets(self) -> int:
        return self._snap["n_buckets"]

    @property
    def bucket_expr(self) -> str:
        return self._snap["bucket_expr"]

    @property
    def max_deltas(self) -> int:
        return self._snap["max_deltas"]

    @property
    def version(self) -> int:
        return self._snap["version"]

    def watermark(self) -> int:
        """Resume point: highest applied seq_to (SURVEY §2.2 P2 — the
        reference queries MAX(bundle_id) from the destination,
        destinations/postgres.go:49-62; here it is O(1) metadata)."""
        return self._snap["watermark"]

    def is_applied(self, job_id: str, batch_id: int) -> bool:
        return _ranges_contains(self._snap["applied"].get(job_id, []), batch_id)

    def applied_count(self) -> int:
        return sum(_ranges_count(r) for r in self._snap["applied"].values())

    def _abs(self, rels: list[str]) -> list[str]:
        return [os.path.join(self.path, r) for r in rels]

    @property
    def extra_columns(self) -> list:
        return [tuple(e) for e in self._snap["extra_columns"]]

    @property
    def renames(self) -> dict:
        """physical (as-written) column name → current logical name."""
        return dict(self._snap["renames"])

    def _raw(self, files: list[str], extras: list | None = None) -> DataFrame:
        """Read data files with the physical schema (delta files carry an
        extra _n_events column; base files don't — permissive schema;
        files older than an evolved column backfill nulls; files written
        under a pre-rename physical name coalesce into the logical
        column; files with a pre-widen narrower type up-cast at scan).
        The schema and the projection are each one SQL string, so the
        plan costs a few driver→JVM round trips, not a few per column."""
        if extras is None:
            extras = self.extra_columns
        renames = self.renames
        if not files:
            schema = _parse_datatype_string(f"{_read_ddl(extras)}, _bucket int")
            return local_frame(self.spark, [], schema)
        # physical read schema: logical extras + any renamed-away
        # physical columns (same ddl as their logical target)
        ddl_of = dict(extras)
        phys_extras = list(extras) + [
            (old, ddl_of[new]) for old, new in renames.items() if new in ddl_of
        ]
        cols = [quote_ident(f.name) for f in TARGET_SCHEMA.fields]
        for n, _ in extras:
            olds = sorted(o for o, nn in renames.items() if nn == n)
            names = ", ".join(map(quote_ident, [n, *olds]))
            q = quote_ident(n)
            cols.append(f"coalesce({names}) AS {q}" if olds else q)
        cols.append(f"{_bucket_sql(self.bucket_expr, self.n_buckets)} AS _bucket")
        return (
            self.spark.read.schema(_read_ddl(phys_extras))
            .parquet(*files)
            .selectExpr(*cols)
        )

    @staticmethod
    def _resolve(df: DataFrame) -> DataFrame:
        """MoR resolve: one winning row per doc_id (see _lww_winner).
        Callers size the exchange: read() passes ``df`` repartitioned on
        doc_id (``_read_partitions``), which already satisfies the
        aggregate's distribution — one Exchange, one Sort, then the
        partial + final aggregate.  Left unsized, Spark sorts and
        partially aggregates before an Exchange at the configured
        shuffle partitions, which collapses nothing here (base rows are
        unique per key), and sorts again after it."""
        return df.groupBy("doc_id").agg(_lww_winner(df.columns)).select("w.*")

    def _read_partitions(self, rows: int) -> int:
        """Reduce-partition count for a read-side exchange over ``rows``
        rows: partitions_for_rows (the runner's and the fold's rule),
        floored at defaultParallelism and capped at the configured
        ``spark.sql.shuffle.partitions``.  ``rows`` come from the pinned
        snapshot, so sizing runs no job.  The repartition is explicit,
        so AQE does not coalesce it."""
        return partitions_for_rows(
            rows, self.spark.sparkContext.defaultParallelism,
            int(self.spark.conf.get("spark.sql.shuffle.partitions")),
        )

    @property
    def _l1(self) -> dict:
        return self._snap["l1"]

    def _pending(
        self, buckets=None, snap: dict | None = None
    ) -> tuple[list[str], int]:
        """(files, rows) of L0+L1 not yet folded into base.

        ``snap`` lets callers pin ONE snapshot dict for the whole read:
        read()/scan_raw() run in pool workers concurrent with the
        runner thread swapping self._snap in commit_delta, and reading
        buckets from one snapshot but l1/deltas from a newer one would
        drop the rows a fold just moved L0/L1→base (torn view).  File
        lists inside a captured snapshot are immutable — vacuum/expire
        never run mid-job — so a single reference is race-free."""
        if snap is None:
            snap = self._snap
        l1 = snap["l1"]
        if buckets is None:
            l1_keys = list(l1)
        else:
            residues = {int(b) for b in buckets}
            l1_keys = [
                k for k in l1 if _key_matches_residues(k, residues)
            ]
        entries = [l1[k] for k in l1_keys if l1[k]] + snap["deltas"]
        files = [p for e in entries for p in e["files"]]
        return files, sum(e["rows"] for e in entries)

    def read(
        self,
        buckets=None,
        include_deleted: bool = False,
        tier: int | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Current table state (optionally restricted to buckets) —
        tiered MoR resolve, see the module docstring §3.  Base entries
        are disjoint residue classes, one row per key on disk; with
        nothing pending the read is a plain base scan, no exchange —
        the state every fold leaves on a table whose base is at most
        BASE_OVER_PENDING_MIN × the fold's rows (module docstring §4).
        Otherwise the pending (L0+L1) and base row counts in the
        snapshot pick the plan without running a job: the merge tiers
        only pay off when base ≫ pending (cost model above
        BASE_OVER_PENDING_MIN) — on a small or delta-heavy table the
        plain resolve is both simpler and faster.  ``tier``
        (2 or 3) overrides the choice (diagnostics/tests).  Tombstones
        filtered unless ``include_deleted``.

        ``columns`` projects the read BEFORE the LWW resolve: the
        winner per key is decided by (_commit_seq, _deleted, _row_id)
        alone, so dropping payload columns above the scan cannot change
        which row wins — and Catalyst pushes the narrowed projection
        into the parquet ReadSchema, so a key/metadata consumer (e.g.
        the cascade-delete candidate lookup) never reads the token
        arrays at all (~10× less I/O on this table's row shape).
        System columns needed by the resolve/tombstone filter are kept
        automatically."""
        if tier not in (None, 2, 3):
            raise ValueError(f"read tier must be 2, 3 or None, got {tier!r}")
        snap = self._snap  # pin ONE snapshot — see _pending docstring
        bm = snap["buckets"]
        if buckets is None:
            keys = list(bm)
        else:
            residues = {int(b) for b in buckets}
            keys = [k for k in bm if _key_matches_residues(k, residues)]
        base_files = [p for k in keys for p in bm.get(k, [])]
        pend_files, pend_rows = self._pending(buckets, snap=snap)
        base_rows = snap["base_rows"]

        def _bucket_filter(df: DataFrame) -> DataFrame:
            if buckets is not None:
                df = df.where(_bucket_in(buckets))
            return _project(df)

        def _project(df: DataFrame) -> DataFrame:
            if columns is None:
                return df
            keep = list(dict.fromkeys(
                [*columns, "doc_id", "_commit_seq", "_deleted", "_row_id",
                 # marker application joins on parent_doc_id post-resolve
                 *(["parent_doc_id"] if snap["markers"] else [])]
            ))
            return df.select(*[c for c in keep if c in df.columns])

        # row-sized base entries coarser than n_buckets contain sibling
        # residues too — filter them out; entries at the full modulus
        # are bucket-pure and skip the predicate entirely
        mixed = any(_bkey_parse(k)[0] != snap["n_buckets"] for k in keys)

        def _base_filter(df: DataFrame) -> DataFrame:
            return _bucket_filter(df) if mixed else _project(df)

        def _resolve(df: DataFrame, rows: int) -> DataFrame:
            return self._resolve(
                df.repartition(self._read_partitions(rows), "doc_id")
            )

        if not pend_files:
            # base is one-row-per-key on disk already
            out = _base_filter(self._raw(self._abs(base_files)))
        elif not base_files:
            out = _resolve(
                _bucket_filter(self._raw(self._abs(pend_files))), pend_rows
            )
        else:
            if tier is None:
                if (
                    base_rows < BASE_OVER_PENDING_MIN * pend_rows
                    or base_rows < BASE_ROWS_MIN_MERGE
                ):
                    tier = 3  # small base: shuffle-all is the cheap plan
                elif pend_rows <= BROADCAST_KEYS_T2:
                    tier = 2  # default merge path (measured fastest)
                else:
                    tier = 3  # writer outran compaction by >20M keys
            if tier == 2:
                # broadcast only the pending KEY SET; base splits into
                # untouched (anti) / touched (semi) streams — two
                # full-width base scans, zero base exchange.  The resolve
                # shuffles only touched ∪ pending, at most about
                # 2 × pend_rows rows.
                base = _base_filter(self._raw(self._abs(base_files)))
                pending = _bucket_filter(self._raw(self._abs(pend_files)))
                pkeys = F.broadcast(pending.select("doc_id").distinct())
                untouched = base.join(pkeys, "doc_id", "left_anti")
                touched = base.join(pkeys, "doc_id", "left_semi")
                winners = _resolve(touched.unionByName(pending), 2 * pend_rows)
                out = untouched.unionByName(winners.select(*untouched.columns))
            else:
                # one combined parquet relation (not a union of two):
                # ~20% faster scan; the bucket filter is a no-op on the
                # path-pruned base rows and prunes unbucketed L0 rows
                out = _resolve(
                    _bucket_filter(self._raw(self._abs(base_files + pend_files))),
                    base_rows + pend_rows,
                )
        # cascade equality-delete markers (opt-in mode): fold the marker
        # set into _deleted on the resolved winners — a no-op join-free
        # pass-through when the snapshot carries no markers (default)
        out = self._apply_markers(out, snap)
        if not include_deleted:
            out = out.where("NOT _deleted")
        return out

    def scan_raw(
        self, buckets=None, columns: list[str] | None = None
    ) -> DataFrame:
        """UNRESOLVED row multiset (base ∪ L1 ∪ L0): every stored
        version of every key, bucket-pruned and column-projected, with
        NO LWW resolve — the plan is just the (narrowed) parquet scan,
        zero shuffle.  For consumers whose downstream semantics are
        LWW-idempotent this is strictly cheaper than read(): the
        cascade-delete candidate lookup is the canonical case — a
        tombstone emitted at del_seq only takes effect where it is the
        newest version of that key (stale for re-inserted or
        forced-replay-newer children), so blanket-tombstoning every
        historical child key converges to exactly the resolved-lookup
        state while the lookup itself never exchanges a row."""
        snap = self._snap  # pin ONE snapshot — see _pending docstring
        bm = snap["buckets"]
        if buckets is None:
            keys = list(bm)
        else:
            residues = {int(b) for b in buckets}
            keys = [k for k in bm if _key_matches_residues(k, residues)]
        files = [p for k in keys for p in bm.get(k, [])]
        pend_files, _ = self._pending(buckets, snap=snap)
        df = self._raw(self._abs(files + pend_files))
        if buckets is not None:
            # prunes sibling residues in coarser-modulus base entries
            # and the unbucketed L0 rows
            df = df.where(_bucket_in(buckets))
        if columns is not None:
            keep = list(dict.fromkeys(
                [*columns, "doc_id", "_commit_seq", "_deleted", "_row_id"]
            ))
            df = df.select(*[c for c in keep if c in df.columns])
        return df

    def manifests_df(
        self,
        from_version: int | None = None,
        to_version: int | None = None,
    ) -> DataFrame:
        """All manifest rows: the retained in-snapshot tail plus any
        spilled Parquet sidecars (lineage survives the spill).  Spilled
        rows superseded by a forced re-apply (the replacement landed in
        a later snapshot; sidecars are immutable) are filtered out here
        so (job_id, batch_id) stays unique across the union (ADVICE.md:
        a duplicate row fed stale delta files to changes_between and
        double-counted lineage).

        ``from_version``/``to_version`` (exclusive/inclusive, matching
        changes_between) PRUNE whole sidecars by their recorded
        [v_min, v_max] index before any file opens — the caller must
        still row-filter, this only guarantees every in-window row is
        present."""
        tail = local_frame(self.spark, self._snap["manifests"], MANIFEST_SCHEMA)
        spilled = self._spilled_manifests_df(from_version, to_version)
        return tail if spilled is None else spilled.unionByName(tail)

    def _spilled_manifests_df(
        self, from_version: int | None, to_version: int | None
    ) -> DataFrame | None:
        """The spilled half of manifests_df (see there): rows of the
        sidecars whose version range may intersect the window, minus
        superseded rows; None when no sidecar qualifies."""
        spill = [
            e for e in self._snap["manifest_spill"]
            if (to_version is None or e["v_min"] <= to_version)
            and (from_version is None or e["v_max"] > from_version)
        ]
        if not spill:
            return None
        spilled = self.spark.read.schema(MANIFEST_SCHEMA).parquet(
            *self._abs([e["path"] for e in spill])
        )
        superseded = self._snap["superseded"]
        if superseded:
            cond = None
            for key, version in superseded.items():
                job, _, bid = key.rpartition("::")
                stale = (
                    (F.col("job_id") == job)
                    & (F.col("batch_id") == int(bid))
                    & (F.col("snapshot_version") < int(version))
                )
                cond = stale if cond is None else (cond | stale)
            spilled = spilled.where(~cond)
        return spilled

    def _find_manifest(self, job_id: str, batch_id: int) -> dict | None:
        """Latest manifest row for (job_id, batch_id): tail first (newest
        last — forced re-applies resolve to the LATEST row, ADVICE.md),
        then the spilled sidecars."""
        for m in reversed(self._snap["manifests"]):
            if m["job_id"] == job_id and m["batch_id"] == batch_id:
                return m
        if self._snap["manifest_spill"]:
            rows = (
                self.manifests_df()
                .where(
                    (F.col("job_id") == job_id) & (F.col("batch_id") == batch_id)
                )
                .collect()
            )
            if rows:
                return rows[-1].asDict(recursive=True)
        return None

    # ------------------------------------------------------------------
    # MERGE (SURVEY §2.5 M1) — the one write path
    # ------------------------------------------------------------------
    def merge(
        self,
        updates: DataFrame,
        job_id: str,
        batch_id: int,
        seq_from: int | None = None,
        seq_to: int | None = None,
        events_read: int | None = None,
        force: bool = False,
    ) -> dict:
        """Apply a deduped update set (unique doc_id; columns doc_id, op,
        tokens, n_tok, source, commit_seq, optional _n_events) exactly
        once.  Semantics of the Iceberg statement it stands in for::

            MERGE INTO target t USING updates u ON t.doc_id = u.doc_id
            WHEN MATCHED AND u.op = 'D' AND u.commit_seq >= t._commit_seq
                THEN DELETE            -- here: tombstone row, wins resolve
            WHEN MATCHED AND u.commit_seq >= t._commit_seq
                THEN UPDATE SET *      -- here: delta row, wins resolve
            WHEN NOT MATCHED AND u.op != 'D' THEN INSERT *

        MoR: ONE write of the batch-sized update set; stale updates lose
        the read-time resolve instead of being filtered by a join.
        Returns the manifest row (also persisted in the snapshot).

        Internally split into ``prepare_delta`` (parallel-safe: runs the
        pipeline and writes delta files, touches no table state) and
        ``commit_delta`` (ordered: snapshot mutation + compaction), so a
        runner can pipeline batch k+1's compute under batch k's commit —
        the Spark analog of the reference's staged pipeline
        (loader/service.go:82-97, SURVEY §2.7 X1).
        """
        if self.is_applied(job_id, batch_id) and not force:
            return self._find_manifest(job_id, batch_id)
        prepared = self.prepare_delta(updates, job_id, batch_id)
        return self.commit_delta(
            prepared, job_id, batch_id, seq_from, seq_to, events_read, force
        )

    def prepare_delta(self, updates: DataFrame, job_id: str, batch_id: int) -> dict:
        """Run the update pipeline and write delta files.  Stateless wrt
        the snapshot — safe to run concurrently for different batches."""
        has_counts = "_n_events" in updates.columns
        is_del = F.col("op") == "D"
        # schema evolution: any update column outside the change-event
        # envelope is a new/evolved value column — carried through the
        # delta and registered in the snapshot at commit
        extras = [
            (f.name, f.dataType.simpleString())
            for f in updates.schema.fields
            if f.name not in _NON_VALUE_EVENT_COLS
        ]
        rows = updates.select(
            "doc_id",
            F.when(~is_del, F.col("tokens")).alias("tokens"),
            F.when(~is_del, F.col("n_tok")).cast("int").alias("n_tok"),
            F.when(~is_del, F.col("source")).alias("source"),
            *[F.when(~is_del, F.col(quote_ident(n))).alias(n) for n, _ in extras],
            F.col("commit_seq").cast("long").alias("_commit_seq"),
            deterministic_row_id(F.col("doc_id"), F.col("commit_seq"))
            .alias("_row_id"),
            is_del.alias("_deleted"),
            *([F.col("_n_events").cast("long")] if has_counts else []),
        )

        # ONE pass over the upstream pipeline, ZERO extra shuffle: the
        # deduped batch is written as-is (its partitioning is whatever the
        # dedup groupBy produced).  Bucketing happens at compaction.
        # Batch metrics ride along via Observation — collected DURING the
        # write job, so the batch costs exactly one job (SURVEY §2.4 A2:
        # the reference's running counters, without a second pass).
        from pyspark.sql import Observation

        obs = Observation(f"merge-{job_id}-{batch_id}")
        rows = rows.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("_deleted").cast("int")).alias("d"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
            F.min("_commit_seq").alias("smin"),
            F.max("_commit_seq").alias("smax"),
            _content_hash().alias("dh"),
            *([F.sum("_n_events").alias("ne")] if has_counts else []),
        )
        commit_rel = os.path.join(_DATA_DIR, f"delta-{uuid.uuid4().hex}")
        commit_abs = os.path.join(self.path, commit_rel)
        # Dictionary encoding off: token ids are near-random, so parquet
        # dictionaries only add build+lookup cost (measured +6% ingest).
        (
            rows.write.mode("overwrite")
            .option("parquet.enable.dictionary", "false")
            .parquet(commit_abs)
        )
        new_files = _list_parquet_files(commit_abs, self.path)
        if not new_files:
            return {"files": [], "stats": None, "has_counts": has_counts,
                    "extras": extras}
        stats = dict(obs.get)
        if not has_counts:
            stats["ne"] = None
        return {"files": new_files, "stats": stats, "has_counts": has_counts,
                "extras": extras}

    def prepare_markers(self, dels) -> dict | None:
        """Write a cascade equality-delete MARKER delta — the opt-in
        alternative to eager child tombstones (BENCH/BASELINE.md r4:
        markers move the candidate join off the ingest path at the cost
        of the CDC-out feed no longer carrying cascade-deleted children;
        that trade-off is why the mode is opt-in).  ``dels`` is the
        batch's parent deletes as ``runner.prefetch_deletes`` returns
        them, read by the field names p, del_seq, del_source: collected
        rows (written driver-side via pyarrow, ZERO Spark jobs, like the
        manifest spill) or a DataFrame (a mass delete — distributed
        write; no coalesce: a single serial task re-evaluating a
        driver-parallelized parent costs seconds, measured 4.5 s vs
        1.5 s for 5k rows).  Stateless like
        prepare_delta; the returned {"files", "rows"} entry rides a
        prepared dict as ``markers_delta`` into the batch's atomic
        commit.  Returns None for a delete-free batch."""
        rel = os.path.join(_DATA_DIR, f"markers-{uuid.uuid4().hex}")
        absdir = os.path.join(self.path, rel)
        if not isinstance(dels, DataFrame):
            rows = list(dels)
            if not rows:
                return None
            import pyarrow.parquet as pq

            os.makedirs(absdir, exist_ok=True)
            f = os.path.join(absdir, "markers.parquet")
            pq.write_table(rows_to_arrow(rows, DELETE_PARENTS_SCHEMA), f)
            return {"files": [os.path.relpath(f, self.path)],
                    "rows": len(rows)}
        from pyspark.sql import Observation

        obs = Observation(f"markers-{uuid.uuid4().hex[:8]}")
        rows_df = dels.select(
            F.col("p").cast("string"),
            F.col("del_seq").cast("long"),
            F.col("del_source").cast("string"),
        ).observe(obs, F.count(F.lit(1)).alias("n"))
        rows_df.write.mode("overwrite").parquet(absdir)
        n = int(obs.get["n"] or 0)
        if n == 0:
            import shutil

            shutil.rmtree(absdir, ignore_errors=True)
            return None
        return {"files": _list_parquet_files(absdir, self.path), "rows": n}

    def _marker_map(self, entries: list) -> DataFrame:
        """(p, del_seq, del_source) — the newest marker per parent over
        the given ``markers`` entries.  A child row is marker-dead iff
        its WINNING ``_commit_seq`` < the parent's ``del_seq``
        (re-inserts after the delete outrank every earlier marker, so
        the per-parent max is exact).  Broadcast below the row bound —
        markers are per parent-DELETE, not per child, so the map stays
        small relative to the table.  The per-parent exchange is sized
        from the entries' snapshot ``rows`` (``_read_partitions``)."""
        files = [p for e in entries for p in e["files"]]
        rows = sum(e["rows"] for e in entries)
        mk = (
            self.spark.read.parquet(*self._abs(files))
            .repartition(self._read_partitions(rows), "p")
            .groupBy("p")
            .agg(
                F.max("del_seq").alias("del_seq"),
                F.max_by("del_source", "del_seq").alias("del_source"),
            )
        )
        if rows <= MARKER_BROADCAST_ROWS:
            mk = F.broadcast(mk)
        return mk

    def _apply_markers(self, out: DataFrame, snap: dict) -> DataFrame:
        """Fold the marker set into ``_deleted`` on resolved winners.
        No-op without markers; rows whose table lacks ``parent_doc_id``
        cannot be cascade children and pass through."""
        if not snap["markers"] or "parent_doc_id" not in out.columns:
            return out
        mk = self._marker_map(snap["markers"]).select(
            "p", F.col("del_seq").alias("_mseq")
        )
        return (
            out.join(mk, out["parent_doc_id"] == mk["p"], "left")
            .withColumn(
                "_deleted",
                F.col("_deleted")
                | (F.col("_mseq").isNotNull()
                   & (F.col("_commit_seq") < F.col("_mseq"))),
            )
            .drop("p", "_mseq")
        )

    def materialize_markers(self) -> int:
        """Maintenance: convert accumulated cascade markers into real
        child tombstones in ONE amortized pass (the candidate join every
        eager delete batch pays, paid once for ALL markers), then clear
        the marker list in the same atomic commit.  After this the table
        is state-equivalent to eager-cascade mode and CDC-out carries
        the materialized deletes (late — at materialize time, not delete
        time; the mode's documented trade-off).  Returns the number of
        distinct parents materialized."""
        snap = self._snap  # pin ONE snapshot — see _pending docstring
        entries = snap["markers"]
        if not entries:
            return 0
        mk = self._marker_map(entries)
        cand = stored_children(self)
        if cand is None:
            raise ValueError(
                "markers present but table has no parent_doc_id column"
            )
        # blanket tombstones over every historical child key, exactly
        # the eager phase-A shape: LWW-idempotent, a re-insert newer
        # than del_seq outranks them.
        upd = cascade_tombstone_rows(cand, mk).dropDuplicates(["doc_id"])
        prepared = self.prepare_delta(upd, "_markers", snap["version"])
        # clear exactly the entries this pass materialized; markers
        # committed concurrently survive for the next pass
        prepared["clear_markers"] = [p for e in entries for p in e["files"]]
        self.commit_delta(prepared, "_markers", snap["version"])
        return mk.count()

    @staticmethod
    def merge_prepared(a: dict, b: dict) -> dict:
        """Fuse two prepared deltas into ONE commit unit (files + merged
        stats) so they publish in a single atomic snapshot swap — used
        by the runner's two-phase cascade deletes: the batch's main
        delta is prepared in the pipeline, a small gap-tombstone delta
        is prepared in the gap pool, and the commit merges the two.
        Every stat is a sum/min/max of per-row quantities, so merging is
        exact: verify_batch recomputes Σ hash over ALL delta_files,
        matching dh_a + dh_b.

        A ZERO-ROW delta counts as empty even when it carries files:
        Spark writes a schema-only parquet part for an empty DataFrame,
        so prepare_delta can return files non-empty with stats
        {n: 0, lo: None, ...} (e.g. a phase-B gap join with no matching
        children).  Merging those None stats into min()/max() would
        TypeError — treat the side as absent instead."""

        def _empty(p: dict) -> bool:
            st = p.get("stats")
            return not p.get("files") or st is None or not st.get("n")

        if _empty(b):
            return a
        if _empty(a):
            return b
        sa, sb = a["stats"], b["stats"]
        has_counts = a["has_counts"] and b["has_counts"]
        ne = (
            (sa.get("ne") or 0) + (sb.get("ne") or 0)
            if has_counts and sa.get("ne") is not None
            and sb.get("ne") is not None
            else None
        )
        stats = {
            "n": sa["n"] + sb["n"],
            "d": (sa["d"] or 0) + (sb["d"] or 0),
            "lo": min(sa["lo"], sb["lo"]),
            "hi": max(sa["hi"], sb["hi"]),
            "smin": min(sa["smin"], sb["smin"]),
            "smax": max(sa["smax"], sb["smax"]),
            "dh": (sa["dh"] or 0) + (sb["dh"] or 0),
            "ne": ne,
        }
        extras = list(a.get("extras", []))
        seen = set(map(tuple, extras))
        for e in b.get("extras", []):
            if tuple(e) not in seen:
                extras.append(e)
                seen.add(tuple(e))
        return {
            "files": list(a["files"]) + list(b["files"]),
            "stats": stats,
            "has_counts": has_counts,
            "extras": extras,
        }

    def commit_delta(
        self,
        prepared: dict,
        job_id: str,
        batch_id: int,
        seq_from: int | None = None,
        seq_to: int | None = None,
        events_read: int | None = None,
        force: bool = False,
        conflict_retries: int = 5,
    ) -> dict:
        """Publish a prepared delta: manifest + (maybe) compaction + the
        atomic snapshot swap.  Must be called in batch order within a
        job.  On a snapshot CONFLICT (another writer published first) the
        commit refreshes the snapshot and retries with bounded backoff —
        the mutation (delta list, compaction choice, version) is
        recomputed against the new state, so concurrent jobs interleave
        hands-free; ``conflict_retries=0`` restores fail-fast."""
        attempt = 0
        while True:
            try:
                return self._commit_delta_once(
                    prepared, job_id, batch_id, seq_from, seq_to,
                    events_read, force,
                )
            except SnapshotConflict:
                if attempt >= conflict_retries:
                    raise
                time.sleep(min(0.05 * (2 ** attempt), 1.0))
                attempt += 1
                self._snap = self.refresh()._snap

    def _commit_delta_once(
        self,
        prepared: dict,
        job_id: str,
        batch_id: int,
        seq_from: int | None,
        seq_to: int | None,
        events_read: int | None,
        force: bool,
    ) -> dict:
        if self.is_applied(job_id, batch_id) and not force:
            return self._find_manifest(job_id, batch_id)
        # cascade equality-delete markers (opt-in, SURVEY M3 alternate):
        # a marker delta rides the batch's atomic commit exactly like
        # data files; materialize_markers clears the accumulated list.
        markers: list | None = None
        if prepared.get("markers_delta") and prepared.get("clear_markers"):
            # ADVICE r5: a prepared dict carrying BOTH would have the
            # clear branch rebuild the list from self._snap and silently
            # drop the markers_delta addition.  No caller produces this
            # combination; fail loudly instead of mis-merging.
            raise ValueError(
                "prepared dict carries both markers_delta and "
                "clear_markers; these commit paths are mutually exclusive"
            )
        if prepared.get("markers_delta"):
            markers = self._snap["markers"] + [prepared["markers_delta"]]
        if prepared.get("clear_markers"):
            # clear ONLY the entries the caller materialized (by path):
            # a marker batch that committed concurrently between the
            # materialize pin and this publish keeps its markers —
            # wiping the whole list would silently drop its cascade
            # deletes.  (The commit_delta conflict-retry loop re-reads
            # self._snap, so this subtraction sees the latest list.)
            done = set(prepared["clear_markers"])
            markers = [
                e for e in self._snap["markers"]
                if not set(e["files"]) <= done
            ]
        stats = prepared["stats"]
        if stats is None or stats["n"] == 0:
            return self._commit_noop(job_id, batch_id, seq_from, seq_to,
                                     events_read, markers=markers)
        # A commit without a planned range (merge() callers,
        # materialize_markers) derives it from the delta's observed
        # min/max (no extra job).
        if seq_from is None:
            seq_from = int(stats["smin"])
        if seq_to is None:
            seq_to = int(stats["smax"])
        if events_read is None:
            events_read = (
                stats["ne"]
                if prepared["has_counts"] and stats["ne"] is not None
                else stats["n"]
            )

        # register evolved columns: add-only, plus WIDEN (int→long,
        # float→double — old files up-cast at scan, Spark 4 readers);
        # other type changes rejected.  Incoming names are logical
        # (post-rename) names.
        extra_cols = [list(e) for e in self._snap["extra_columns"]]
        known = {n: d for n, d in extra_cols}
        for n, d in prepared.get("extras", []):
            if n in known:
                if known[n] == d:
                    continue
                if d in _WIDEN_OK.get(known[n], ()):  # widen registered type
                    for e in extra_cols:
                        if e[0] == n:
                            e[1] = d
                    known[n] = d
                elif known[n] in _WIDEN_OK.get(d, ()):
                    pass  # batch narrower than table: files up-cast at read
                else:
                    raise ValueError(
                        f"schema evolution conflict on column {n!r}: "
                        f"table has {known[n]}, batch has {d}"
                    )
            else:
                extra_cols.append([n, d])
                known[n] = d

        buckets_map = dict(self._snap["buckets"])
        l1_map = {k: dict(v) for k, v in self._l1.items()}
        deltas = self._snap["deltas"] + [
            {"files": prepared["files"], "rows": int(stats["n"])}
        ]

        new_extras = [tuple(e) for e in extra_cols]
        base_rows = self._snap["base_rows"]
        if len(deltas) >= self.max_deltas:
            buckets_map, l1_map, base_rows = self._fold_and_maybe_major(
                deltas, buckets_map, l1_map, new_extras, base_rows,
            )
            deltas = []

        manifest = self._manifest_row(
            job_id, batch_id, seq_from, seq_to, events_read,
            events_applied=int(stats["n"]),
            deletes_applied=int(stats["d"] or 0),
            min_doc_id=stats["lo"],
            max_doc_id=stats["hi"],
            data_hash=int(stats["dh"] or 0),
            delta_files=prepared["files"],
        )
        self._commit(
            buckets_map, l1_map, deltas, base_rows, manifest,
            extra_columns=extra_cols, markers=markers,
        )
        return manifest

    def verify_batch(self, job_id: str, batch_id: int) -> bool | None:
        """Integrity check (SURVEY §2.1 S2): recompute the manifest's
        order-insensitive content hash from the batch's own delta files.
        Returns None when verification is not applicable — the files
        were compacted away (row-level window closed) or the batch was a
        legitimate no-op/gap commit (data_hash is None by construction,
        see _commit_noop).  False ONLY for an unknown (job_id, batch_id)
        or a real hash mismatch."""
        m = self._find_manifest(job_id, batch_id)
        if m is None:
            return False
        if m.get("data_hash") is None:
            return None  # no-op gap batch: nothing to verify (ADVICE.md)
        files = self._abs(m.get("delta_files") or [])
        if not files or not all(self.fs.exists(f) for f in files):
            return None
        got = self._raw(files).agg(_content_hash().alias("dh")).collect()[0]["dh"]
        return int(got or 0) == m["data_hash"]

    def _write_partitions(self, rows: int, modulus: int | None = None) -> int:
        """Reduce-partition count for a bucket-clustered write of
        ``rows`` rows into ``modulus`` residue classes (default: the
        table's ``n_buckets``): partitions_for_rows, floored at
        defaultParallelism and capped at 4× the class count.  Callers
        pass counts they already hold (snapshot ``rows``, parquet
        footers), so sizing runs no job.  The repartition is explicit,
        so AQE cannot coalesce it: every reduce task is scheduled even
        when empty, and a small write at the cap spends its time on task
        waves while holding every core.  The cap keeps the round-6
        collision bound: hashing B bucket ids into ≈B partitions stacks
        colliding buckets on one reducer (B=64, p=32: 5 buckets on one
        task), 4× keeps the expected max load ≈2 (sf0.1 L0 fold at
        local[32], medians of 3: p=32 3.02 s / 64 2.86 / 128 2.78 / 256
        2.75).  The layout is the same at any count: a class never
        splits across reducers, so each write emits one file per class,
        and per-task memory stays bounded by class size."""
        return partitions_for_rows(
            rows, self.spark.sparkContext.defaultParallelism,
            4 * (modulus or self.n_buckets),
        )

    def _write_bucketed(
        self, df: DataFrame, prefix: str, modulus: int | None = None,
    ) -> dict[str, list[str]]:
        """Write ``df``, already clustered by residue class under
        ``modulus`` (default ``n_buckets``; _resolve_bucketed output,
        whose ``_bucket`` is reduced to ``modulus``), partitioned by
        class; returns ``"modulus:class"`` key → written file paths."""
        m = modulus or self.n_buckets
        commit_abs = os.path.join(self.path, _DATA_DIR, f"{prefix}-{uuid.uuid4().hex}")
        (
            df.write.mode("overwrite")
            .option("parquet.enable.dictionary", "false")
            .partitionBy("_bucket")
            .parquet(commit_abs)
        )
        return {
            _bkey(m, int(b)): ps
            for b, ps in _list_bucket_files(commit_abs, self.path).items()
        }

    def _resolve_bucketed(
        self, df: DataFrame, rows: int, modulus: int | None = None,
    ) -> DataFrame:
        """Single-shuffle resolve + class-cluster (VERDICT r2 next-#8):
        repartition on _bucket (the ONE exchange), then group by
        (_bucket, doc_id).  _bucket is a pure function of the bucket
        expr, so the groups are identical to _resolve's — and because
        HashPartitioning(_bucket) satisfies ClusteredDistribution
        (_bucket, doc_id) (partitioning keys ⊆ grouping keys), Catalyst
        plans the aggregate WITHOUT a second exchange.  The two-shuffle
        shape (groupBy doc_id, then repartition _bucket for the write)
        moved the L0 volume over the wire twice; this moves it once.
        Output rows stay physically clustered by _bucket, so the
        partitionBy write that follows emits one file per class with no
        further movement — _write_bucketed at the same ``modulus``
        (default ``n_buckets``; a divisor reduces _bucket to its residue
        first).  ``rows`` (the input row count) sizes the exchange."""
        if modulus not in (None, self.n_buckets):
            df = df.withColumn("_bucket", F.col("_bucket") % modulus)
        return (
            df.repartition(self._write_partitions(rows, modulus), "_bucket")
            .groupBy("_bucket", "doc_id")
            .agg(_lww_winner(df.columns))
            .select("w.*")
        )

    def _over_cap(self, key: str, entry: dict) -> bool:
        """Has L1 entry ``key`` reached its file cap?  The cap is
        staggered by residue (r % 4) so compactions spread over fold
        points instead of one global spike."""
        return len(entry["files"]) >= self.max_deltas + _bkey_parse(key)[1] % 4

    def _fold_and_maybe_major(
        self,
        deltas: list,
        buckets_map: dict,
        l1_map: dict,
        new_extras: list,
        base_rows: int,
    ) -> tuple[dict, dict, int]:
        """L0 → L1 fold + the L1 compaction check, run by the batch
        commit that brings L0 to ``max_deltas`` commits (the one fold
        trigger) inside that commit's snapshot swap.  Mutates and
        returns (buckets_map, l1_map, base_rows); _commit_delta_once
        publishes them.

        Fold into base: when base and L1 together hold at most
        BASE_OVER_PENDING_MIN × the L0 rows, L0 ∪ L1 ∪ base resolve
        once into a fresh row-sized base (_major_compact) and nothing
        stays pending.  L0 rows are unbucketed, so a fold overlaps all
        of base and L1; the ratio caps what it reads at (1 +
        BASE_OVER_PENDING_MIN) × its own rows — O(L0), never O(table).
        It is read()'s tier-3 cut: below it every read shuffles all of
        base anyway, so rewriting base once at fold time costs about
        one read, and the reads after it are plain scans.

        Otherwise fold into L1: resolve the pending commits into
        row-sized L1 entries (_fold_l0).  Cost O(sum of L0).  Row counts
        come from the written parquet footers (driver-side, no extra
        job) and keep the tiered read's metadata exact.  Then compact
        the L1 keys at their staggered file cap (_over_cap):
        - a key coarser than ``n_buckets`` majors into the base entries
          it overlaps when those hold at most BASE_OVER_PENDING_MIN ×
          its rows (cost O(key)); over a larger base it is re-resolved
          ALONE from its own files (_rewrite_l1), in place or split to
          the finer modulus its rows justify.  Coarsest first, each key
          at most once per call — a split appends a file to finer keys,
          which may cross their own cap in the same call;
        - the full-modulus keys major together with the base entries
          they overlap (cost O(selected buckets), never O(table)).
        Base entries stay disjoint and one-row-per-key; L1 is a pending
        multiset resolved at read, so any subset of it may be resolved
        alone or into the base entries it overlaps."""
        n = self.n_buckets
        l1_rows = sum(e["rows"] for e in l1_map.values())
        if base_rows + l1_rows <= BASE_OVER_PENDING_MIN * sum(e["rows"] for e in deltas):
            buckets_map, base_rows = self._major_compact(
                buckets_map, base_rows, list(l1_map.values()) + deltas, new_extras,
            )
            return buckets_map, {}, base_rows
        _add_l1(l1_map, self._fold_l0(deltas, extras=new_extras))

        def compact_keys(keys: list[str], floor: int) -> None:
            """Major ``keys`` into the base entries they overlap, at a
            modulus no coarser than ``floor`` — or, for one coarse key
            over a larger base, rewrite it alone."""
            nonlocal base_rows
            old = {b: ps for b, ps in buckets_map.items()
                   if any(_keys_overlap(b, k) for k in keys)}
            old_rows = _parquet_rows(self._abs([p for ps in old.values() for p in ps]))
            if floor < n:  # one coarse key
                if old_rows > BASE_OVER_PENDING_MIN * l1_map[keys[0]]["rows"]:
                    _add_l1(l1_map, self._rewrite_l1(
                        keys[0], l1_map.pop(keys[0]), new_extras))
                    return
                # base entries are disjoint classes, so the ones a key
                # overlaps either all lie inside it or are one class
                # holding it: writing no coarser than the coarsest of
                # them keeps the new entries inside what they replace
                floor = min([floor, *(_bkey_parse(b)[0] for b in old)])
            new, new_rows = self._major_compact(
                old, old_rows, [l1_map.pop(k) for k in keys], new_extras, floor,
            )
            for b in old:
                del buckets_map[b]
            buckets_map.update(new)
            base_rows += new_rows - old_rows

        done: set[str] = set()
        while True:
            coarse = sorted(
                (
                    k for k, e in l1_map.items()
                    if k not in done and _bkey_parse(k)[0] < n
                    and self._over_cap(k, e)
                ),
                key=_bkey_parse,
            )
            if not coarse:
                break
            done.add(coarse[0])
            compact_keys([coarse[0]], _bkey_parse(coarse[0])[0])
        over = [
            b for b, e in l1_map.items()
            if _bkey_parse(b)[0] == n and self._over_cap(b, e)
        ]
        if over:
            compact_keys(over, n)
        return buckets_map, l1_map, base_rows

    def _fold_l0(self, deltas: list, extras: list | None = None) -> dict[str, dict]:
        """L0 → L1: resolve the pending unbucketed commits among
        themselves and write them row-sized: one file per residue class
        under the modulus their row count justifies (_row_modulus —
        about one class per ROWS_PER_PARTITION rows, at most
        ``n_buckets``, which folds of ≥ n_buckets × ROWS_PER_PARTITION
        rows reach).  O(L0 volume), ONE exchange (see
        _resolve_bucketed).  Returns ``"m:r"`` key → {"files": [...],
        "rows": n} (see _write_resolved)."""
        paths = [p for e in deltas for p in e["files"]]
        rows = sum(e["rows"] for e in deltas)
        return self._write_resolved(
            self._raw(self._abs(paths), extras=extras), rows,
            _row_modulus(rows, self.n_buckets), "l1",
        )

    def _rewrite_l1(self, key: str, entry: dict, extras: list | None) -> dict[str, dict]:
        """Compact ONE coarse L1 entry ``"m:r"`` alone: resolve its own
        files and write them at the modulus its rows justify — ``m``
        again (in place, one file) or finer, splitting the class into
        about rows / ROWS_PER_PARTITION children.  Reads no base and no
        other L1 key: the entry is part of the pending multiset, which
        read() resolves whole, so resolving a subset of it early cannot
        change any winner.  O(entry)."""
        m, _ = _bkey_parse(key)
        return self._write_resolved(
            self._raw(self._abs(entry["files"]), extras=extras),
            entry["rows"], m * _row_modulus(entry["rows"], self.n_buckets // m),
            "l1",
        )

    def _write_resolved(
        self, df: DataFrame, rows: int, modulus: int, prefix: str, keep=None,
    ) -> dict[str, dict]:
        """Resolve ``df`` (about ``rows`` rows), filter the winners
        through ``keep`` if given, and write them at ``modulus``, one
        file per class.  Returns ``"m:r"`` key → {"files": [...],
        "rows": n} with exact row counts read from the parquet footers
        (driver-side metadata, no Spark job)."""
        resolved = self._resolve_bucketed(df, rows, modulus)
        if keep is not None:
            resolved = keep(resolved)
        out = self._write_bucketed(resolved, prefix, modulus=modulus)
        return {
            b: {"files": ps, "rows": _parquet_rows(self._abs(ps))}
            for b, ps in out.items()
        }

    def _major_compact(
        self, base: dict, base_rows: int, pending: list[dict],
        extras: list | None = None, floor: int = 1, keep=None,
    ) -> tuple[dict[str, list[str]], int]:
        """Major compaction: resolve the base entries ``base`` (holding
        ``base_rows`` rows) with the ``pending`` entries (L1 or L0, each
        {"files", "rows"}) into fresh base entries, ONE exchange, cost
        O(rows read).  The write is row-sized: at _row_modulus of the
        rows read, and no coarser than ``floor``, the coarsest class
        the new entries replace.  ``base`` must hold every base entry
        whose class meets the rows written (L0 is unbucketed: a major
        that consumes L0 takes all of base), so base stays disjoint.
        ``keep`` filters the resolved rows before the write.  Returns
        (new base entries, their exact row count)."""
        rows = base_rows + sum(e["rows"] for e in pending)
        paths = [p for ps in base.values() for p in ps]
        paths += [p for e in pending for p in e["files"]]
        out = self._write_resolved(
            self._raw(self._abs(paths), extras=extras), rows,
            max(_row_modulus(rows, self.n_buckets), floor), "base", keep,
        )
        return (
            {b: e["files"] for b, e in out.items()},
            sum(e["rows"] for e in out.values()),
        )

    def _manifest_row(self, job_id, batch_id, seq_from, seq_to, events_read,
                      **applied) -> dict:
        """The manifest row (MANIFEST_SCHEMA) of the next snapshot.
        ``applied`` overrides the no-op defaults: nothing applied, no
        content hash, no delta files."""
        return {
            "job_id": job_id,
            "batch_id": int(batch_id),
            "seq_from": int(seq_from),
            "seq_to": int(seq_to),
            "events_read": int(events_read),
            "events_applied": 0,
            "deletes_applied": 0,
            "min_doc_id": None,
            "max_doc_id": None,
            "committed_at": datetime.now(timezone.utc).isoformat(),
            "snapshot_version": self.version + 1,
            "data_hash": None,
            "delta_files": None,
            **applied,
        }

    def _commit_noop(self, job_id, batch_id, seq_from, seq_to, events_read,
                     markers: list | None = None) -> dict:
        manifest = self._manifest_row(
            job_id, batch_id,
            -1 if seq_from is None else seq_from,
            -1 if seq_to is None else seq_to,
            events_read or 0,
        )
        self._commit(
            dict(self._snap["buckets"]),
            {k: dict(v) for k, v in self._l1.items()},
            list(self._snap["deltas"]),
            self._snap["base_rows"],
            manifest,
            markers=markers,
        )
        return manifest

    def _spill_manifests(self, manifests: list[dict]) -> tuple[list[dict], list[dict]]:
        """Keep the snapshot O(tail): once the inline manifest list
        exceeds 2×MANIFEST_TAIL, write all but the newest MANIFEST_TAIL
        rows to a Parquet sidecar (driver-side pyarrow — rows are tiny
        metadata, no Spark job).  Each spill entry records the sidecar's
        [v_min, v_max] snapshot-version range (VERDICT r4 next-#6), so
        a CDC-out window seek opens only the sidecars that intersect the
        window — O(window), not O(commits), on a long-lived table.
        Returns (retained tail, spill entries)."""
        spill = list(self._snap["manifest_spill"])
        if len(manifests) <= 2 * MANIFEST_TAIL:
            return manifests, spill
        to_spill, tail = manifests[:-MANIFEST_TAIL], manifests[-MANIFEST_TAIL:]
        import pyarrow.parquet as pq

        os.makedirs(os.path.join(self.path, _MANIFEST_DIR), exist_ok=True)
        rel = os.path.join(_MANIFEST_DIR, f"m-{uuid.uuid4().hex}.parquet")
        pq.write_table(
            rows_to_arrow(to_spill, MANIFEST_SCHEMA),
            os.path.join(self.path, rel),
        )
        vs = [int(m["snapshot_version"]) for m in to_spill]
        return tail, spill + [
            {"path": rel, "v_min": min(vs), "v_max": max(vs)}
        ]

    def _write_filelist_refs(self, new_snap: dict) -> None:
        """Point each bucket's file-list at a sidecar: unchanged buckets
        keep their existing ref; buckets this commit touched go into ONE
        new sidecar JSON.  The commit's driver-side metadata cost is
        therefore O(changed buckets), not O(live files) (VERDICT r2 #1).
        Sidecars are immutable; a crash between sidecar write and
        snapshot link leaves an orphan reclaimed by vacuum()."""
        old = self._snap
        old_b, old_l1 = old["buckets"], old["l1"]
        old_brefs, old_lrefs = old["buckets_ref"], old["l1_ref"]
        nb, nl = new_snap["buckets"], new_snap["l1"]
        changed_b = {
            b: fs
            for b, fs in nb.items()
            if b not in old_brefs or old_b.get(b) != fs
        }
        changed_l = {
            b: e
            for b, e in nl.items()
            if b not in old_lrefs or old_l1.get(b) != e
        }
        brefs = {
            b: old_brefs[b] for b in nb if b in old_brefs and b not in changed_b
        }
        lrefs = {
            b: old_lrefs[b] for b in nl if b in old_lrefs and b not in changed_l
        }
        if changed_b or changed_l:
            self.fs.makedirs(os.path.join(self.path, _FILELIST_DIR))
            rel = os.path.join(_FILELIST_DIR, f"f-{uuid.uuid4().hex}.json")
            self.fs.write_text(
                os.path.join(self.path, rel),
                json.dumps({"buckets": changed_b, "l1": changed_l}),
            )
            for b in changed_b:
                brefs[b] = rel
            for b in changed_l:
                lrefs[b] = rel
        new_snap["buckets_ref"], new_snap["l1_ref"] = brefs, lrefs

    def _publish(self, new_snap: dict) -> None:
        """Write sidecar refs for changed buckets, then atomically commit
        the snapshot (inline lists stay in memory only)."""
        self._write_filelist_refs(new_snap)
        _commit_snapshot(
            os.path.join(self.path, _SNAP_DIR), new_snap, self.fs
        )
        self._snap = new_snap

    def _commit(
        self,
        buckets_map: dict,
        l1_map: dict,
        deltas: list,
        base_rows: int,
        manifest: dict,
        extra_columns: list | None = None,
        markers: list | None = None,
    ) -> None:
        """Publish the next snapshot: the given table state plus
        ``manifest`` recorded as applied.  ``extra_columns``/``markers``
        default to the current snapshot's."""
        job, bid = manifest["job_id"], manifest["batch_id"]
        applied = {k: list(v) for k, v in self._snap["applied"].items()}
        was_applied = _ranges_contains(applied.get(job, []), int(bid))
        applied[job] = _ranges_add(applied.get(job, []), int(bid))
        # forced re-apply: REPLACE the stale manifest row for this
        # (job_id, batch_id) instead of appending a duplicate (ADVICE.md
        # — duplicate rows made verify/merge resolve stale delta files
        # and double-counted lineage metrics)
        manifests = [
            m
            for m in self._snap["manifests"]
            if not (m["job_id"] == job and m["batch_id"] == bid)
        ] + [manifest]
        superseded = dict(self._snap["superseded"])
        if (
            was_applied
            and len(manifests) > len(self._snap["manifests"])
            and self._snap["manifest_spill"]
        ):
            # the stale row was NOT in the inline tail, so it sits in an
            # immutable spill sidecar: record the supersession so
            # manifests_df()/changes_between() drop it (ADVICE.md medium).
            # Bounded: grows only on forced re-applies of spilled batches.
            superseded[f"{job}::{bid}"] = manifest["snapshot_version"]
        manifests, spill = self._spill_manifests(manifests)
        new_snap = dict(
            self._snap,
            version=self.version + 1,
            buckets=buckets_map,
            base_rows=base_rows,
            l1=l1_map,
            deltas=deltas,
            applied=applied,
            manifests=manifests,
            manifest_spill=spill,
            superseded=superseded,
            watermark=max(self._snap["watermark"], manifest["seq_to"]),
        )
        if extra_columns is not None:
            new_snap["extra_columns"] = extra_columns
        if markers is not None:
            new_snap["markers"] = markers
        self._publish(new_snap)

    # ------------------------------------------------------------------
    # schema evolution DDL (Iceberg ALTER TABLE analog)
    # ------------------------------------------------------------------
    def rename_column(self, old: str, new: str) -> None:
        """ALTER TABLE RENAME COLUMN old TO new — metadata-only: the
        logical name changes in the snapshot, existing files keep the
        physical name, reads coalesce(new, old).  Restricted to evolved
        (extra) columns; core TARGET columns are the engine contract."""
        extras = [list(e) for e in self._snap["extra_columns"]]
        names = {e[0] for e in extras}
        if old not in names:
            raise ValueError(f"unknown evolved column {old!r} (have {sorted(names)})")
        if new in names or new in {f.name for f in TARGET_SCHEMA.fields}:
            raise ValueError(f"column {new!r} already exists")
        for e in extras:
            if e[0] == old:
                e[0] = new
        renames = dict(self._snap["renames"])
        # chain-collapse: if old was itself a rename target, repoint the
        # original physical name at the newest logical name
        for phys, logical in list(renames.items()):
            if logical == old:
                renames[phys] = new
        renames[old] = new
        new_snap = dict(
            self._snap,
            version=self.version + 1,
            extra_columns=extras,
            renames=renames,
        )
        self._publish(new_snap)

    # ------------------------------------------------------------------
    # maintenance
    # ------------------------------------------------------------------
    def _major_all(self, snap: dict, keep=None) -> dict:
        """The next snapshot after resolving all of ``snap`` — L0 ∪ L1
        ∪ base — into a fresh row-sized base (_major_compact, the fold's
        major without its ratio test); nothing stays pending."""
        buckets_map, base_rows = self._major_compact(
            snap["buckets"], snap["base_rows"],
            list(snap["l1"].values()) + snap["deltas"],
            [tuple(e) for e in snap["extra_columns"]], keep=keep,
        )
        return dict(
            snap,
            version=snap["version"] + 1,
            buckets=buckets_map,
            base_rows=base_rows,
            l1={},
            deltas=[],
        )

    def compact(self) -> None:
        """Full maintenance compaction: fold L0+L1+base into a fresh
        base written at the modulus its rows justify (_major_all) —
        the explicit, all-at-once form of what the ingest path does
        incrementally.  Pins ONE snapshot for the whole operation (same
        torn-view rule as read()/scan_raw()): a concurrent commit
        between the pending-file listing and the final snapshot build
        must surface as a version conflict at _publish, never as a base
        built from a MIX of two snapshots."""
        snap = self._snap  # pin ONE snapshot — see _pending docstring
        if self._pending(snap=snap)[0]:
            self._publish(self._major_all(snap))

    def purge_tombstones(self, horizon_seq: int) -> int:
        """Physically drop tombstones with ``_commit_seq <= horizon_seq``.

        Contract (same shape as Iceberg/Delta vacuum horizons): after
        purging at H, forced replays of ranges ending at or below H are
        no longer resurrection-safe.  Normal watermark-resumed ingest is
        unaffected.  The purge is a full compaction (_major_all) that
        drops those tombstones from the resolved rows before the write.
        Returns the number of tombstones purged.  One pass: the purge
        count rides the rewrite job via Observation instead of a
        separate count() job.
        """
        from pyspark.sql import Observation

        snap = self._snap  # pin ONE snapshot — see _pending docstring
        purge = F.col("_deleted") & (F.col("_commit_seq") <= horizon_seq)
        obs = Observation(f"purge-{uuid.uuid4().hex[:8]}")
        # Built from the PINNED snap: a concurrent commit between the
        # read and the publish surfaces as a SnapshotConflict at
        # _publish (version CAS), never as a snapshot that silently
        # drops the deltas the rewrite didn't fold in.
        new_snap = self._major_all(snap, keep=lambda df: df.observe(
            obs, F.sum(purge.cast("long")).alias("n_purged")
        ).where(~purge))
        n_purged = int(obs.get["n_purged"] or 0)
        if n_purged == 0:
            # nothing purged: drop the just-written redundant base copy
            import shutil

            dirs = {
                os.path.dirname(os.path.dirname(self._abs([p])[0]))
                for ps in new_snap["buckets"].values()
                for p in ps
            }
            for d in dirs:
                shutil.rmtree(d, ignore_errors=True)
            return 0
        self._publish(new_snap)
        return n_purged

    def _snapshot_file_refs(self, version: int, tolerant: bool = False):
        """(data file rels, auxiliary rels) referenced by one retained
        snapshot: base + L1 + L0 data files, manifest-row delta files,
        manifest spill sidecars and file-list sidecars.  Metadata-only —
        reads the snapshot JSON and its sidecar JSONs, never lists the
        data directory.  ``tolerant`` skips sidecars that are already
        gone (expired snapshots being torn down)."""
        snap_file = os.path.join(self.path, _SNAP_DIR, _snap_name(version))
        s = _checked(json.loads(self.fs.read_text(snap_file)), self.path)
        aux = {e["path"] for e in s["manifest_spill"]}
        aux |= set(s["buckets_ref"].values()) | set(s["l1_ref"].values())
        try:
            _resolve_filelists(self.path, s, self.fs)
        except FileNotFoundError:
            if not tolerant:
                raise
            s["buckets"], s["l1"] = {}, {}
        data = set()
        for ps in s["buckets"].values():
            data.update(ps)
        for e in s["l1"].values():
            data.update(e["files"])
        for e in s["deltas"]:
            data.update(e["files"])
        for e in s["markers"]:
            data.update(e["files"])
        # NOTE: manifest rows' delta_files are deliberately NOT refs —
        # once compaction supersedes a commit's delta AND every snapshot
        # still holding it in buckets/l1/deltas expires, the CDC-out
        # window over it closes (changes_between detects the missing
        # file and raises its documented "window closed" error).
        return data, aux

    def expire_snapshots(self, retain_last: int = 1) -> dict:
        """Expire old snapshots AND delete the files only they reference
        — the Iceberg ``expireSnapshots`` analog, and the scale path for
        reclaiming superseded compaction outputs: candidates come from
        DIFFING snapshot metadata, so nothing ever lists the data
        directory (object-store-safe; VERDICT r2 #4).  Coupling file
        removal with snapshot expiry also means ``load(version=...)`` of
        a reclaimed version fails fast with "snapshot not found" instead
        of a mid-scan parquet FileNotFound (ADVICE.md).  The current
        snapshot is always retained.  Returns removal counts."""
        snap_dir = os.path.join(self.path, _SNAP_DIR)
        versions = _snapshot_versions(snap_dir, self.fs)
        retain_last = max(1, retain_last)
        retained = set(versions[-retain_last:]) | {self.version}
        expired = [v for v in versions if v not in retained]
        if not expired:
            return {"snapshots_expired": 0, "files_removed": 0}
        live: set[str] = set()
        for v in sorted(retained):
            data, aux = self._snapshot_file_refs(v)
            live |= data | aux
        dead: set[str] = set()
        for v in expired:
            data, aux = self._snapshot_file_refs(v, tolerant=True)
            dead |= data | aux
        removed = 0
        for rel in sorted(dead - live):
            p = os.path.join(self.path, rel)
            try:
                self.fs.delete(p)
                removed += 1
            except FileNotFoundError:
                pass
        for v in expired:
            self.fs.delete(os.path.join(snap_dir, _snap_name(v)))
        return {"snapshots_expired": len(expired), "files_removed": removed}

    def vacuum(self, grace_secs: float = 3600.0) -> int:
        """Remove ORPHAN files: ones referenced by NO retained snapshot
        (crashed ``prepare_delta`` leftovers, losers of snapshot-conflict
        races).  This is the Iceberg ``remove_orphan_files`` analog — the
        one maintenance op that must list the store, because a true
        orphan appears in no metadata at all; run it rarely.  Superseded
        compaction outputs are NOT orphans (older retained snapshots
        still reference them — so vacuum alone never invalidates time
        travel or an open ``changes_between`` window, ADVICE.md); they
        are reclaimed by ``expire_snapshots``, which never lists the
        data directory.

        ``grace_secs`` (Iceberg-style retention): files YOUNGER than the
        window are kept even if unreferenced — a delta written by an
        in-flight ``prepare_delta`` is unreferenced until its
        ``commit_delta`` lands, so vacuuming without a grace window
        under a live writer would delete files the next snapshot is
        about to reference (ADVICE.md).  Pass 0 only when no writer can
        be active."""
        snap_dir = os.path.join(self.path, _SNAP_DIR)
        live: set[str] = set()
        for v in _snapshot_versions(snap_dir, self.fs):
            data, aux = self._snapshot_file_refs(v)
            live |= data | aux
        live = {os.path.join(self.path, rel) for rel in live}
        now = time.time()
        removed = 0
        for root in (_DATA_DIR, _MANIFEST_DIR, _FILELIST_DIR):
            top = os.path.join(self.path, root)
            if not os.path.isdir(top):
                continue
            for dirpath, _dirs, fnames in os.walk(top, topdown=False):
                for fn in fnames:
                    p = os.path.join(dirpath, fn)
                    if not p.endswith((".parquet", ".json")) or p in live:
                        continue
                    try:
                        age = now - os.path.getmtime(p)
                    except OSError:
                        continue
                    if age >= grace_secs:
                        os.unlink(p)
                        removed += 1
                if not os.listdir(dirpath) and dirpath != top:
                    os.rmdir(dirpath)
        return removed

    def maintain(self, retain_last: int = 2, grace_secs: float = 3600.0) -> dict:
        """One housekeeping tick — the sequence both the `maintain` CLI
        and the sync daemon's scheduled tick run.  Cascade markers are
        materialized FIRST, so the compaction folds their tombstones in
        the same tick: this is where a markers-mode table converges
        back to physical deletes.  Then compact, expire snapshots
        beyond ``retain_last`` and vacuum orphans older than
        ``grace_secs``.  Returns what each step did."""
        parents = self.materialize_markers()
        v0 = self.version
        self.compact()
        compacted = self.version > v0
        expired = self.expire_snapshots(retain_last=retain_last)
        return {
            "parents_materialized": parents,
            "compacted": compacted,
            "version": self.version,
            "snapshots_expired": expired["snapshots_expired"],
            "files_reclaimed": expired["files_removed"],
            "orphans_removed": self.vacuum(grace_secs=grace_secs),
        }


class SnapshotConflict(RuntimeError):
    """Another writer published this snapshot version first."""


# ---------------------------------------------------------------------------
# snapshot file helpers
# ---------------------------------------------------------------------------
def _parquet_rows(paths: list[str]) -> int:
    """Exact row count from parquet footers — driver-side metadata read,
    no Spark job (the footer is O(KB) regardless of file size)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def _add_l1(l1_map: dict, entries: dict[str, dict]) -> None:
    """Append freshly written L1 ``entries`` to ``l1_map`` in place."""
    for b, entry in entries.items():
        cur = l1_map.setdefault(b, {"files": [], "rows": 0})
        cur["files"] = cur["files"] + entry["files"]
        cur["rows"] += entry["rows"]


def _list_bucket_files(commit_abs: str, table_root: str) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for dirpath, _dirs, fnames in os.walk(commit_abs):
        for fn in fnames:
            if fn.endswith(".parquet"):
                b = os.path.basename(dirpath).split("=", 1)[1]
                rel = os.path.relpath(os.path.join(dirpath, fn), table_root)
                out.setdefault(str(int(b)), []).append(rel)
    return out


def _list_parquet_files(commit_abs: str, table_root: str) -> list[str]:
    out: list[str] = []
    for dirpath, _dirs, fnames in os.walk(commit_abs):
        for fn in fnames:
            if fn.endswith(".parquet"):
                out.append(os.path.relpath(os.path.join(dirpath, fn), table_root))
    return out


def _snap_name(v: int) -> str:
    return f"v{v:012d}.json"


def _snapshot_versions(snap_dir: str, fs: MetaFS) -> list[int]:
    """Versions of the ``v*.json`` snapshots in ``snap_dir``, ascending."""
    return sorted(
        int(f[1:-5]) for f in fs.listdir(snap_dir)
        if f.startswith("v") and f.endswith(".json")
    )


def _latest_version(snap_dir: str, fs: MetaFS) -> int | None:
    versions = _snapshot_versions(snap_dir, fs)
    return versions[-1] if versions else None


def _commit_snapshot(
    snap_dir: str, snap: dict, fs: MetaFS | None = None
) -> None:
    """Atomic, conflict-detecting publish via the control-plane FS's
    put-if-absent (LocalMetaFS: write temp + hard-link — link(2) fails
    with EEXIST if another writer won the version; remote impls map to
    their store's conditional put)."""
    fs = fs or LocalMetaFS()
    final = os.path.join(snap_dir, _snap_name(snap["version"]))
    # the inline buckets/l1 maps are in-memory working state only —
    # the durable form is the sidecar refs
    to_write = {k: v for k, v in snap.items() if k not in ("buckets", "l1")}
    try:
        fs.create_exclusive(final, json.dumps(to_write))
    except FileExistsError as e:
        raise SnapshotConflict(
            f"snapshot conflict: {final} already committed by a concurrent writer"
        ) from e
