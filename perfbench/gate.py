"""Correctness gate: an independent DuckDB last-writer-wins fold of the
generated change log, compared with what the engine's ``read()`` returns.

The fold re-derives the expected live rows from the raw log files alone
(payload decoding included), so it shares no code with the engine:

- tokens schema: per ``doc_id`` the event with the highest
  ``commit_seq`` wins; the row is live unless that event is a delete.
  v2/v3 payloads are decoded from their comma/JSON forms.
- exploded_cascade schema: every live event explodes into
  ``<parent>/block/0`` and ``<parent>/tx/<i>`` children; a child is live
  when its newest upsert is newer than the newest delete of its parent
  (a parent delete tombstones every child written before it).

``compare`` checks ``(doc_id, _commit_seq, n_tok)`` of every live row
for exact equality, and the token array of every live row.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow as pa

_EVENTS = """
CREATE OR REPLACE TABLE ev AS
SELECT * FROM read_parquet({files!r})
WHERE commit_seq <= {hi}
QUALIFY row_number() OVER (PARTITION BY commit_seq) = 1
"""

_TOKENS_FOLD = """
CREATE OR REPLACE TABLE exp AS
SELECT doc_id, commit_seq AS _commit_seq, len(tokens)::INTEGER AS n_tok, tokens
FROM (
  SELECT doc_id, commit_seq, op,
    CASE payload_version
      WHEN 1 THEN tokens
      WHEN 2 THEN list_transform(string_split(payload, ','), x -> x::INTEGER)
      ELSE from_json(payload, '{"ids": ["INTEGER"]}').ids
    END AS tokens
  FROM ev
  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY commit_seq DESC) = 1
)
WHERE op <> 'D'
"""

_CASCADE_FOLD = """
CREATE OR REPLACE TABLE exp AS
WITH up AS (
  SELECT doc_id AS parent, commit_seq,
         from_json(payload, '{"block": ["INTEGER"], "txs": [["INTEGER"]]}') AS p
  FROM ev WHERE op <> 'D'
), children AS (
  SELECT parent, parent || '/block/0' AS doc_id, commit_seq, p.block AS tokens
  FROM up
  UNION ALL
  SELECT parent, parent || '/tx/' || i::VARCHAR, commit_seq, p.txs[i + 1]
  FROM (SELECT *, unnest(range(len(p.txs))) AS i FROM up)
), newest AS (
  SELECT * FROM children
  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY commit_seq DESC) = 1
), dels AS (
  SELECT doc_id AS parent, max(commit_seq) AS del_seq FROM ev
  WHERE op = 'D' GROUP BY doc_id
)
SELECT n.doc_id, n.commit_seq AS _commit_seq, len(n.tokens)::INTEGER AS n_tok,
       n.tokens
FROM newest n LEFT JOIN dels d USING (parent)
WHERE d.del_seq IS NULL OR d.del_seq < n.commit_seq
"""


class Gate:
    """Expected live rows of ``log_path`` up to ``seq_hi`` (inclusive)."""

    def __init__(self, log_path: str, seq_hi: int, cascade: bool):
        files = sorted(glob.glob(os.path.join(log_path, "seq_part=*", "*.parquet")))
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        self.con.execute(_EVENTS.format(files=files, hi=int(seq_hi)))
        self.con.execute(_CASCADE_FOLD if cascade else _TOKENS_FOLD)
        self.live_rows = self.con.execute("SELECT count(*) FROM exp").fetchone()[0]

    def compare(self, actual: pa.Table) -> list[str]:
        """Mismatch descriptions (empty = pass).  ``actual`` holds
        ``doc_id, _commit_seq, n_tok, tokens`` of every live row the
        engine returns."""
        con = self.con
        con.register("act", actual.select(["doc_id", "_commit_seq", "n_tok", "tokens"]))
        try:
            cols = "doc_id, _commit_seq, n_tok::INTEGER AS n_tok"
            missing = con.execute(
                f"SELECT {cols} FROM exp EXCEPT ALL SELECT {cols} FROM act"
                " ORDER BY doc_id"
            ).fetchall()
            extra = con.execute(
                f"SELECT {cols} FROM act EXCEPT ALL SELECT {cols} FROM exp"
                " ORDER BY doc_id"
            ).fetchall()
            bad_tok = con.execute(
                "SELECT a.doc_id FROM act a JOIN exp e USING (doc_id)"
                " WHERE e.tokens IS DISTINCT FROM a.tokens ORDER BY a.doc_id"
            ).fetchall()
        finally:
            con.unregister("act")
        out = []
        if missing:
            out.append(f"{len(missing)} expected live rows missing or differing, e.g. {missing[:3]}")
        if extra:
            out.append(f"{len(extra)} unexpected rows in read(), e.g. {extra[:3]}")
        if bad_tok:
            out.append(f"{len(bad_tok)} rows with wrong tokens, e.g. {bad_tok[:3]}")
        return out
