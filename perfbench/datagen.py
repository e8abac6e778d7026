"""Seeded input generators for the benchmark.

Every table is a pure function of ``(seed, sf)``: the same arguments give
byte-identical parquet files.  The shapes follow the engine's test tables
(TPC-H-like star schema, an ``events`` log, a ``documents`` corpus drawn
from a small vocabulary with planted near-duplicates, and dim-64
``embeddings``), so every registered query runs on them unchanged.

Row counts per scale factor ``sf``: lineitem 6M·sf, orders 1.5M·sf,
customer 150k·sf, part 200k·sf, supplier 10k·sf, events 1M·sf, and
documents / embeddings max(500, 50k·sf) / max(500, 20k·sf).  5% of the
embeddings are planted near-duplicates, so the vector dedup queries have
pairs to find.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

_DAY_US = 86_400_000_000


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def documents(n: int, seed: int) -> pa.Table:
    """``n`` docs of 10-100 vocabulary words; 5% are an earlier doc with a
    trailing ``dup`` token (near-duplicates) and 0.2% exact copies."""
    rng = np.random.default_rng([seed, 1])
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": texts,
            "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def unit_vectors(n: int, dim: int, seed: int) -> np.ndarray:
    """``n`` uniform random unit vectors (float64)."""
    v = np.random.default_rng([seed, 2, dim]).standard_normal((n, dim))
    return v / np.linalg.norm(v, axis=1)[:, None]


def plant_near_duplicates(v: np.ndarray, rng, share: float = 0.05) -> np.ndarray:
    """Replace ``share`` of the rows of the unit vectors ``v`` (after the
    first 10) by a perturbed copy of an earlier row (cosine ~0.98)."""
    n, dim = v.shape
    for i in range(10, n):
        if rng.random() < share:
            w = v[int(rng.integers(0, i))] + 0.2 * rng.standard_normal(dim) / np.sqrt(dim)
            v[i] = w / np.linalg.norm(w)
    return v


def embeddings(n: int, seed: int, dim: int = 64) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    v = plant_near_duplicates(unit_vectors(n, dim, seed), rng).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def tpch_like(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 4])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li = 4 * n_ord
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": [
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"][j]
                    for j in rng.integers(0, 5, n_cust)
                ],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
    }
    adj = ["large", "hot", "blue", "small", "red", "green", "dark", "pale"]
    noun = ["ring", "bolt", "nut", "gear", "pipe", "screw"]
    types = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [
                f"{adj[a]} {noun[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 6, n_part))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
            "p_type": [types[j] for j in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": [["F", "O", "P"][j] for j in rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * _DAY_US),
            "o_orderpriority": [prio[j] for j in rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [["A", "N", "R"][j] for j in rng.integers(0, 3, n_li)],
            "l_linestatus": [["F", "O"][j] for j in rng.integers(0, 2, n_li)],
            "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li) * _DAY_US),
        }
    )
    return out


def events(n: int, n_users: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 5])
    kinds = ["signup", "click", "error", "view", "purchase"]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * _DAY_US, n))),
            "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
            "event_type": [kinds[j] for j in rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(40.0, n), 2),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n)],
        }
    )


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``{out_dir}/{name}.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    tables = tpch_like(sf, seed)
    tables["events"] = events(int(1_000_000 * sf), max(15, int(15_000 * sf)), seed)
    tables["documents"] = documents(max(500, int(50_000 * sf)), seed)
    tables["embeddings"] = embeddings(max(500, int(20_000 * sf)), seed)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
