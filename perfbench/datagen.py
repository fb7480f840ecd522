"""Seeded inputs for the benchmark: the batch tables and the message payloads.

The engine's queries read ten parquet tables (``catalog.TABLES``). This
module writes them from a seed, with the schemas and value domains of
the engine's test tables, so the benchmark needs no data outside its
own checkout. The same seed always gives the same bytes.

Message payloads for the ingest workloads are JSON objects in the
``decode.EVENT_SCHEMA`` shape plus ``created_us``. A fixed share of
them is malformed in one of the ways the decoder must drop.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the spark join stream small big order merge column group customer "
    "part value window scan table vector row filter sort hash batch agg "
    "key line data query fast slow"
).split()
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
SEGMENTS = ("HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "new", "shiny")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "pipe")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in µs
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: a few edits + marker
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            toks.append("dup")
        else:
            toks = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 1.2, (n, dim))
    # a few exact-direction near duplicates, so the near-dup search finds pairs
    for i in range(0, n, 25):
        if i + 1 < n:
            vecs[i + 1] = vecs[i] + rng.normal(0.0, 0.01, dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float = 0.01) -> None:
    """Write the ten engine tables at scale factor ``sf`` under
    ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    n_part, n_supp = int(200_000 * sf), max(10, int(10_000 * sf))
    n_events = int(1_000_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ]
            ),
            "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
            "p_type": pa.array([PART_TYPES[j] for j in rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(retail),
        }
    )
    order_days = rng.integers(0, 2400, n_ord)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array([("P", "O", "F")[j] for j in rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _ts(_EPOCH_1995 + order_days * _US_PER_DAY),
            "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, n_ord)]),
        }
    )
    lines_per = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines_per)
    n_line = len(l_order)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(l_part, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(l_linenumber),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * retail[l_part], 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array([("R", "A", "N")[j] for j in rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array([("O", "F")[j] for j in rng.integers(0, 2, n_line)]),
            "l_shipdate": _ts(
                _EPOCH_1995 + (order_days[l_order] + rng.integers(1, 122, n_line)) * _US_PER_DAY
            ),
        }
    )
    # events: strictly increasing microsecond timestamps over 30 days
    gaps = rng.integers(1, 2 * (30 * _US_PER_DAY) // n_events, n_events)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
            "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, n_events)]),
            "value": pa.array(np.round(rng.exponential(50.0, n_events) + 0.01, 2)),
            "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n_events)]),
        }
    )
    tables["documents"] = _documents(rng, n_docs)
    tables["embeddings"] = _embeddings(rng, n_vecs)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---- message payloads ----

MALFORMED_KINDS = (
    lambda i: b'{"event_id": ' + str(i).encode() + b', "user_id": ',  # truncated
    lambda i: b"not json at all " + str(i).encode(),
    lambda i: b"[" + str(i).encode() + b"]",  # valid JSON, not an object
    lambda i: b"{'event_id': " + str(i).encode() + b"}",  # single quotes
)


class PayloadGen:
    """Deterministic event payloads. Message ``i`` is malformed iff the
    seeded draw for ``i`` falls under ``malformed_share``; every
    well-formed message carries ``event_id == i``."""

    def __init__(self, seed: int, malformed_share: float = 0.02):
        self.seed = seed
        self.malformed_share = malformed_share

    def _rng(self, i: int) -> random.Random:
        return random.Random(self.seed * 1_000_003 + i)

    def is_malformed(self, i: int) -> bool:
        return self._rng(i).random() < self.malformed_share

    def payload(self, i: int, created_us: int) -> bytes:
        rng = self._rng(i)
        if rng.random() < self.malformed_share:
            return MALFORMED_KINDS[rng.randrange(len(MALFORMED_KINDS))](i)
        return json.dumps(
            {
                "event_id": i,
                "ts": "2024-01-01T00:00:00Z",
                "user_id": rng.randrange(1000),
                "event_type": EVENT_TYPES[rng.randrange(5)],
                "value": round(rng.uniform(0, 500), 2),
                "props": json.dumps({"k": rng.randrange(100)}),
                "created_us": created_us,
            }
        ).encode()
