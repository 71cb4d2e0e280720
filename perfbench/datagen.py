"""Seeded input generators for the benchmark.

Two kinds of input:

* ``write_tables`` — the ten star-schema / stream / text / vector tables the
  registry queries read (same names, columns, types and value domains as
  the repository's TESTDATA fixtures), one single-row-group parquet file
  each. The headline workload always generates them from ``TABLE_SEED`` so
  every run times the same data; their ``--seed`` only orders the queries.
* ``Landing`` — the ingest workload's bronze JSON landing files, one per
  cycle, drawn from ``--seed``: which keys each batch updates (recent keys
  favoured) and the update/insert share. Every landing row is globally
  unique, so the streaming full-row dedup never drops a row the replay
  keeps.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The table fixture is fixed: query timings compare across seeds.
TABLE_SEED = 42

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(rng: np.random.Generator, start: datetime, span: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def build_tables(sf: float) -> dict[str, pa.Table]:
    """The fixture tables at scale factor ``sf`` (0.01 = 60k lineitem rows)."""
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": _days(rng, datetime(1995, 1, 1), 2400, n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, datetime(1995, 1, 2), 2500, n_line),
        }
    )
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64(datetime(2024, 1, 1), "us") + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, n_ev),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, for the dedup queries
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(8, 100))
            texts.append(" ".join(rng.choice(_WORDS, n_words)))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        }
    )
    return t


def write_tables(out_dir: str, sf: float) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
    return out_dir


# -- ingest landing files ---------------------------------------------------

_LOCATIONS = ["HCM", "HN", "DN", "HP"]
_LOCATION_P = [0.45, 0.35, 0.12, 0.08]
#: Share of a batch that updates existing keys (the rest inserts new keys),
#: and share of landing rows without a price.
UPDATE_SHARE = 0.7
NULL_SHARE = 0.01


class Landing:
    """Seeded bronze landing batches for the ingest workload.

    ``seed_rows`` is the gold table's initial content; ``batch(i)`` is cycle
    ``i``'s landing rows. ``UPDATE_SHARE`` of a batch updates existing
    keys — half of those drawn from the most recently written keys — and
    the rest inserts new keys. Keys are distinct within a batch, and a
    small share of rows lacks ``price`` (dropped by the silver dropna).
    """

    def __init__(self, seed: int, seed_keys: int, batch_rows: int) -> None:
        self.rng = random.Random(seed)
        self.batch_rows = batch_rows
        self.next_key = 0
        self.recent: list[int] = []
        self.seed_keys = seed_keys
        self.n_batches = 0

    def _row(self, key: int) -> dict:
        r = self.rng
        # the cents carry the row's batch number, so no two landing rows are
        # ever equal (the stream's full-row dedup keeps every one of them)
        price = f"{r.randint(5, 300) / 10:.1f}{self.n_batches % 100:02d}"
        return {
            "id": f"L{key:08d}",
            "location": r.choices(_LOCATIONS, _LOCATION_P)[0],
            "area": f"{r.randint(300, 3000) / 10:.1f}",
            "bedrooms": str(r.randint(1, 6)),
            "price": None if r.random() < NULL_SHARE else price,
        }

    def _new_keys(self, n: int) -> list[int]:
        keys = list(range(self.next_key, self.next_key + n))
        self.next_key += n
        return keys

    def seed_rows(self) -> list[dict]:
        rows = [self._row(k) for k in self._new_keys(self.seed_keys)]
        for row in rows:
            row["price"] = row["price"] or "1.000"  # seed rows are all valid
        self.recent = list(range(max(0, self.next_key - 4 * self.batch_rows), self.next_key))
        return rows

    def next_batch(self) -> list[dict]:
        r = self.rng
        n_upd = int(self.batch_rows * UPDATE_SHARE)
        chosen: set[int] = set()
        while len(chosen) < n_upd:
            pool_recent = r.random() < 0.5 and self.recent
            chosen.add(r.choice(self.recent) if pool_recent else r.randrange(self.next_key))
        keys = sorted(chosen) + self._new_keys(self.batch_rows - n_upd)
        r.shuffle(keys)
        rows = [self._row(k) for k in keys]
        self.recent = (self.recent + keys)[-4 * self.batch_rows :]
        self.n_batches += 1
        return rows


def write_json_lines(path: str, rows: list[dict]) -> int:
    """One JSON object per line; returns the bytes written."""
    data = "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in rows).encode()
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)
    return len(data)


def landing_time(i: int) -> str:
    """A crawl-style file stamp per cycle, so file names sort by cycle."""
    return (datetime(2024, 1, 1) + timedelta(hours=i)).strftime("%Y%m%d_%H%M%S")
