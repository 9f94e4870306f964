"""Correctness references for the analytic workload: DuckDB runs each
registry query's oracle SQL over the same generated parquet, and results
are compared as order-insensitive hashes of name-sorted, normalized
rows. ``q37_minhash_dedup`` has no oracle; its pairs are scored by recall
against exact 3-word-shingle Jaccard pairs computed by DuckDB.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
import os
from decimal import Decimal

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# q37's registered configuration must recover this share of the pairs
# whose exact 3-shingle Jaccard is >= 0.3 (the engine's own recall gate)
MINHASH_RECALL_MIN = 0.95
_EXACT_JACCARD_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), sh AS (
  SELECT doc_id AS doc,
         unnest(list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                                    i -> array_to_string(t[i:i+2], ' '))
                ELSE [array_to_string(t, ' ')] END)) AS s
  FROM toks
), sizes AS (
  SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc
), common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
  GROUP BY a.doc, b.doc
)
SELECT doc_a, doc_b FROM common
JOIN sizes na ON na.doc = doc_a
JOIN sizes nb ON nb.doc = doc_b
WHERE common / (na.n + nb.n - common) >= 0.3
"""


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v.is_integer() and abs(v) < 2**53:
            return str(int(v))
        return repr(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, Decimal):
        s = format(v, "f")
        return s.rstrip("0").rstrip(".") if "." in s else s
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat() + " 00:00:00.000000"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_norm(k)}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, every
    value normalized so both engines' Python types agree."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        "\x1f".join(_norm(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha1("\x1e".join(sorted(columns)).encode())
    for line in canon:
        h.update(b"\x1d" + line.encode())
    return f"{len(canon)}:{h.hexdigest()}"


class DuckOracle:
    def __init__(self, corpus_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute("SET threads = 2")
        for t in TABLES:
            path = os.path.join(corpus_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def expected_hash(self, sql: str) -> str:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return result_hash(cols, cur.fetchall())

    def exact_jaccard_pairs(self) -> set[tuple[int, int]]:
        return {(a, b) for a, b in self.con.execute(_EXACT_JACCARD_SQL).fetchall()}

    def close(self) -> None:
        self.con.close()
