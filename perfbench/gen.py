"""Seeded change-log generator owned by the benchmark (numpy + pyarrow).

Writes the engine's on-disk log layout — a Parquet dataset
hive-partitioned by ``seq_part = commit_seq // part_width`` with the
columns of ``CHANGE_EVENT_SCHEMA`` — without calling into ``dlt_spark``,
so no change to the engine's own generator can change the workloads.
The same seed gives byte-identical files.

Event properties:

- keys: Zipf-skewed ranks over a key space (rank order is a seeded
  permutation of the key ids, so hot keys are scattered over buckets);
- ops: D with ``delete_frac``, otherwise U/I;
- duplicate delivery: ``dup_frac`` of the events are delivered twice,
  verbatim (same commit_seq, same content);
- out-of-order arrival: rows inside each partition file are in a
  seeded random order, not commit order;
- tokens payload versions: v1 native ``tokens`` array, v2 comma-joined
  string, v3 JSON ``{"ids": [...]}`` in ``payload``;
- exploded payload (the ``exploded_cascade`` schema): JSON
  ``{"block": [...], "txs": [[...], ...]}`` with 1..4 txs per block.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TOKEN_VOCAB = 50_000
EPOCH_S = 1_700_000_000

LOG_SCHEMA = pa.schema(
    [
        pa.field("commit_seq", pa.int64(), nullable=False),
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("op", pa.string(), nullable=False),
        pa.field("tokens", pa.list_(pa.int32())),
        pa.field("payload", pa.string()),
        pa.field("payload_version", pa.int32(), nullable=False),
        pa.field("source", pa.string()),
        pa.field("extracted_at", pa.timestamp("us", tz="UTC")),
    ]
)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _zipf_keys(rng, n: int, n_keys: int, zipf_s: float | None) -> np.ndarray:
    """``n`` key ids in [0, n_keys): rank r drawn with p ∝ 1/(r+1)^s;
    ``zipf_s=None`` gives each key exactly once (needs n == n_keys)."""
    if zipf_s is None:
        return rng.permutation(n_keys)[:n]
    w = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** zipf_s
    cdf = np.cumsum(w)
    ranks = np.searchsorted(cdf, rng.random(n) * cdf[-1], side="right")
    perm = rng.permutation(n_keys)
    return perm[np.minimum(ranks, n_keys - 1)]


def _doc_ids(key_ids: np.ndarray, prefix: str) -> pa.Array:
    digits = pc.utf8_lpad(pc.cast(pa.array(key_ids, pa.int64()), pa.string()), 10, "0")
    return pc.binary_join_element_wise(prefix, digits, "")


def _lists(lengths: np.ndarray, values: np.ndarray) -> pa.ListArray:
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values, pa.int32()))


def _csv(lists: pa.ListArray) -> pa.Array:
    """list<int32> → "1,2,3" strings."""
    as_str = pa.ListArray.from_arrays(lists.offsets, pc.cast(lists.values, pa.string()))
    return pc.binary_join(as_str, ",")


def _ops(rng, n: int, delete_frac: float, update_frac: float) -> np.ndarray:
    u = rng.random(n)
    return np.where(u < delete_frac, "D", np.where(u < delete_frac + update_frac, "U", "I"))


def tokens_events(
    seed: int,
    seq_from: int,
    n: int,
    n_keys: int,
    zipf_s: float = 1.0,
    delete_frac: float = 0.10,
    update_frac: float = 0.35,
    version_mix: tuple[float, float, float] = (0.60, 0.25, 0.15),
    tok_range: tuple[int, int] = (64, 512),
    stream: int = 0,
) -> pa.Table:
    """``n`` distinct events with commit_seq in [seq_from, seq_from + n)
    over key ids ``0 .. n_keys - 1`` (tokens schema)."""
    rng = _rng(seed, 1, stream)
    seq = np.arange(seq_from, seq_from + n, dtype=np.int64)
    keys = _zipf_keys(rng, n, n_keys, zipf_s)
    op = _ops(rng, n, delete_frac, update_frac)
    live = op != "D"
    n_tok = rng.integers(tok_range[0], tok_range[1] + 1, size=n)
    lists = _lists(n_tok, rng.integers(0, TOKEN_VOCAB, size=int(n_tok.sum())))
    version = rng.choice(np.array([1, 2, 3], dtype=np.int32), size=n, p=version_mix)

    v1 = live & (version == 1)
    tokens = pc.if_else(pa.array(v1), lists, pa.nulls(n, lists.type))
    evolved = np.flatnonzero(live & (version != 1))
    csv = _csv(lists.take(pa.array(evolved)))
    is_v3 = pa.array(version[evolved] == 3)
    enc = pc.if_else(is_v3, pc.binary_join_element_wise('{"ids":[', csv, "]}", ""), csv)
    payload = np.full(n, None, dtype=object)
    payload[evolved] = enc.to_numpy(zero_copy_only=False)
    return _table(rng, seq, _doc_ids(keys, "doc_"), op, tokens,
                  pa.array(payload, pa.string()), version)


def exploded_events(
    seed: int,
    seq_from: int,
    n: int,
    n_keys: int,
    zipf_s: float = 0.6,
    delete_frac: float = 0.10,
    update_frac: float = 0.35,
    tok_range: tuple[int, int] = (4, 16),
    max_txs: int = 4,
    stream: int = 0,
) -> pa.Table:
    """Exploded-schema events: the payload is a block document plus 1..
    ``max_txs`` tx arrays; deletes carry no payload (parent deletes)."""
    rng = _rng(seed, 2, stream)
    seq = np.arange(seq_from, seq_from + n, dtype=np.int64)
    keys = _zipf_keys(rng, n, n_keys, zipf_s)
    op = _ops(rng, n, delete_frac, update_frac)
    live = np.flatnonzero(op != "D")
    m = len(live)
    n_tx = rng.integers(1, max_txs + 1, size=m)
    # segments per live event: the block, then its txs
    n_seg = 1 + n_tx
    seg_len = rng.integers(tok_range[0], tok_range[1] + 1, size=int(n_seg.sum()))
    segs = _lists(seg_len, rng.integers(0, TOKEN_VOCAB, size=int(seg_len.sum())))
    wrapped = pc.binary_join_element_wise("[", _csv(segs), "]", "")
    first = np.zeros(m, dtype=np.int64)
    np.cumsum(n_seg[:-1], out=first[1:])
    is_block = np.zeros(len(seg_len), dtype=bool)
    is_block[first] = True
    block = wrapped.take(pa.array(first))
    txs = pa.ListArray.from_arrays(
        pa.array(np.concatenate([[0], np.cumsum(n_tx)]).astype(np.int32)),
        wrapped.filter(pa.array(~is_block)),
    )
    doc = pc.binary_join_element_wise(
        '{"block":', block, ',"txs":[', pc.binary_join(txs, ","), "]}", ""
    )
    payload = np.full(n, None, dtype=object)
    payload[live] = doc.to_numpy(zero_copy_only=False)
    return _table(rng, seq, _doc_ids(keys, "blk_"), op,
                  pa.nulls(n, pa.list_(pa.int32())),
                  pa.array(payload, pa.string()), np.ones(n, dtype=np.int32))


def _table(rng, seq, doc_ids, op, tokens, payload, version) -> pa.Table:
    n = len(seq)
    live = pa.array(op != "D")
    src = pc.binary_join_element_wise(
        "src_", pc.cast(pa.array(rng.integers(0, 4, size=n)), pa.string()), ""
    )
    return pa.Table.from_arrays(
        [
            pa.array(seq, pa.int64()),
            doc_ids,
            pa.array(op, pa.string()),
            tokens,
            payload,
            pa.array(version, pa.int32()),
            pc.if_else(live, src, pa.nulls(n, pa.string())),
            pa.array((EPOCH_S + seq % 86_400) * 1_000_000, pa.timestamp("us", tz="UTC")),
        ],
        schema=LOG_SCHEMA,
    )


def write_log(
    events: pa.Table, path: str, part_width: int, seed: int,
    dup_frac: float = 0.05,
) -> int:
    """Deliver ``events`` into the ``seq_part=`` layout under ``path``:
    ``dup_frac`` of them twice, each partition in seeded arrival order.
    Returns the number of rows delivered (events read by a replay)."""
    rng = _rng(seed, 3)
    n = events.num_rows
    dups = np.sort(rng.choice(n, size=int(n * dup_frac), replace=False))
    rows = np.concatenate([np.arange(n), dups])
    seq = events.column("commit_seq").to_numpy()
    part = seq[rows] // part_width
    arrival = rng.permutation(len(rows))
    order = arrival[np.argsort(part[arrival], kind="stable")]
    parts, starts = np.unique(part[order], return_index=True)
    bounds = list(starts) + [len(order)]
    for i, p in enumerate(parts):
        d = os.path.join(path, f"seq_part={int(p)}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            events.take(pa.array(rows[order[bounds[i]:bounds[i + 1]]])),
            os.path.join(d, "part-00000.parquet"),
            compression="snappy",
        )
    return len(rows)
