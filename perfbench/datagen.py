"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its seed: the same seed writes the
same bytes. No Spark is involved, so generation time is the generator's
own and the engine only ever sees the files.

- ``write_corpus``: the analytic corpus (TPC-H-like star schema plus the
  ``events``, ``documents`` and ``embeddings`` tables), one parquet file
  with one row group per table, shaped like the repository's test corpus
  (TESTDATA.md) the registry queries were written against.
- ``ChangeStream``: binlog-shaped change records (CHANGE_SCHEMA JSON)
  over 8 tables with skewed keys, tracking the expected final state of
  every table so a replica can be checked row for row.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Analytic corpus
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

# rows per table at scale factor 1 (the TESTDATA.md corpus at sf0.1 has a tenth)
_ROWS_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def write_corpus(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten corpus tables at scale factor ``sf``. About 5% of
    documents are planted near-duplicates (a copy of an earlier document
    with one word appended), so the dedup queries have pairs to find."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(v * sf)) for k, v in _ROWS_SF1.items()}

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    nc = n["customer"]
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    }))
    ns = n["supplier"]
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    }))
    npart = n["part"]
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2),
    }))
    no = n["orders"]
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", 2404, no),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
    }))
    nl = n["lineitem"]
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, nl),
    }))
    ne = n["events"]
    gaps = rng.exponential(26.0 / max(sf * 10, 1e-9), ne)
    ts_us = (np.cumsum(gaps) * 1e6).astype(np.int64) + 11_000_000
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, nc // 10), ne), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }))
    nd = n["documents"]
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(nd):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, nd, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    }))


# ---------------------------------------------------------------------------
# Change streams
# ---------------------------------------------------------------------------

DATABASE = "bench"
N_TABLES = 8
ZIPF_S = 1.1  # Zipf exponent of key popularity (1 500 keys: the hottest takes ~17%)
_SERVER_UUID = "3e11fa47-71ca-11e1-9e33-c80aa9429562"


class ChangeStream:
    """Seeded generator of binlog-shaped change records over
    ``bench.t0`` .. ``bench.t7``.

    Keys are Zipf-skewed over ``keys_per_table`` ids per table; the first
    touch of a key is an insert, later touches are mostly updates, with
    some deletes and some PK-changing updates (the row moves to a fresh
    id). ``state`` holds the expected replica after every record made so
    far. Every record carries ``seq`` (its position in the stream) in
    the image the envelope will publish, so a subscriber can match a
    delivered event back to its record.
    """

    def __init__(self, seed: int, keys_per_table: int):
        self.rng = random.Random(seed)
        weights = [1.0 / (k + 1) ** ZIPF_S for k in range(keys_per_table)]
        self._ranks = list(range(keys_per_table))
        self._cum = np.cumsum(weights).tolist()
        # a random rank → id map so hot keys are spread over the id space
        self._perm = list(range(keys_per_table))
        self.rng.shuffle(self._perm)
        self.state: list[dict[str, dict[str, str]]] = [{} for _ in range(N_TABLES)]
        self._next_id = [keys_per_table] * N_TABLES
        self.seq = 0
        self.tables: list[int] = []  # table of each record, by seq

    def _key(self) -> str:
        return str(self._perm[self.rng.choices(self._ranks, cum_weights=self._cum)[0]])

    def record(self, binlog_file: str, pos: int, ts_iso: str) -> dict:
        """Next change record, on a uniformly chosen table."""
        rng = self.rng
        t = rng.randrange(N_TABLES)
        self.tables.append(t)
        state = self.state[t]
        key = self._key()
        seq = str(self.seq)
        payload = {"v": f"{rng.getrandbits(32):08x}", "n": str(rng.randrange(1000)),
                   "seq": seq}
        before = after = None
        cur = state.get(key)
        if cur is None:
            action = "insert"
            after = {"id": key, **payload}
            state[key] = after
        else:
            roll = rng.random()
            if roll < 0.08:
                action = "delete"
                before = {**cur, "seq": seq}
                del state[key]
            elif roll < 0.12:
                action = "update"  # PK move: the row leaves its old id
                new_id = str(self._next_id[t])
                self._next_id[t] += 1
                before = cur
                after = {"id": new_id, **payload}
                del state[key]
                state[new_id] = after
            else:
                action = "update"
                before = cur
                after = {"id": key, **payload}
                state[key] = after
        self.seq += 1
        return {
            "binlog_file": binlog_file,
            "binlog_pos": pos,
            "xid_commit": True,
            "database": DATABASE,
            "table": f"t{t}",
            "action": action,
            "row_no": 0,
            "before": before,
            "after": after,
            "ddl_query": None,
            "ts_header": ts_iso,
            "gtid": f"{_SERVER_UUID}:{self.seq}",
        }

    def file_lines(self, file_no: int, n: int, ts_iso: str) -> str:
        """``n`` records as one JSONL file's content; binlog coordinates
        increase with ``seq`` so event_index order is stream order."""
        name = f"mysql-bin.{file_no:06d}"
        return "".join(
            json.dumps(self.record(name, 4 + 64 * i, ts_iso)) + "\n" for i in range(n)
        )


def iso_utc(epoch_s: float) -> str:
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def write_backlog(out_dir: str, stream: ChangeStream, n_files: int,
                  per_file: int, first: int = 0) -> int:
    """Backlog for a closed drain: ``n_files`` JSONL files of ``per_file``
    records each, numbered from ``first``. Each file is written under a
    hidden name and renamed, so a file source never reads a partial file.
    Returns the number of records written."""
    os.makedirs(out_dir, exist_ok=True)
    ts = iso_utc(1_700_000_000)
    for f in range(first, first + n_files):
        tmp = os.path.join(out_dir, f".part-{f:05d}.tmp")
        with open(tmp, "w") as fh:
            fh.write(stream.file_lines(f, per_file, ts))
        os.rename(tmp, os.path.join(out_dir, f"part-{f:05d}.jsonl"))
    return n_files * per_file
