"""Seeded tables for the analytics query workload.

Writes the ten tables the headline queries read (a TPC-H-shaped star
schema, an ``events`` stream, ``documents`` and ``embeddings``) as one
parquet file each, with the column names and types of the repository's
test data. Values are drawn with numpy from the seed; the filters the
queries use (``BUILDING`` customers, ``ASIA``, parts named ``bolt``,
``F`` orders, ``R`` returns, ``view`` and ``purchase`` events, planted
exact and near duplicate documents) all select rows.

The directory is keyed by seed and size and reused across runs; a
``meta.json`` written last marks it complete and holds each table's
row count.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400_000_000
_EPOCH_1995 = 9131  # 1995-01-01 as days since 1970-01-01
_EPOCH_2024 = 19723  # 2024-01-01

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "red", "blue", "hot", "cold", "shiny", "large", "green"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "spring"]
_PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "de", "es", "zh"]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "filter group stream big"
).split()

# Rows per table at scale 1; the workload uses one scale for every seed.
SIZES = {
    "customer": 500,
    "supplier": 50,
    "part": 700,
    "orders": 5_000,  # lineitem: 1-7 lines per order, ~20k rows
    "events": 5_000,
    "users": 100,
    "documents": 300,
    "embeddings": 300,
}


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)])


def _days_to_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _documents(rng, n: int) -> pa.Table:
    """Random word sequences, ~5% exact copies and ~5% copies of a
    long document with its last word changed (Jaccard of 3-shingles
    above 0.9, the level the LSH query is tuned for)."""
    words = np.array(_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        kind = rng.random() if i >= 10 else 1.0
        long_docs = [j for j, t in enumerate(texts) if t.count(" ") >= 40]
        if kind < 0.05:
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif kind < 0.10 and long_docs:
            base = texts[long_docs[int(rng.integers(0, len(long_docs)))]]
            texts.append(base.rsplit(" ", 1)[0] + " " + str(words[rng.integers(0, len(words))]))
        else:
            k = int(rng.integers(20, 80))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 18, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 2])
    size = {k: max(1, int(v * scale)) for k, v in SIZES.items()}
    n_cust, n_supp, n_part, n_ord = (
        size["customer"], size["supplier"], size["part"], size["orders"]
    )
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(
                    rng.integers(0, len(_PART_ADJ), n_part),
                    rng.integers(0, len(_PART_NOUN), n_part),
                )
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1, 2)),
        }),
    }
    order_day = _EPOCH_1995 + rng.integers(0, 2404, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1_000, 500_000, n_ord)),
        "o_orderdate": _days_to_ts(order_day),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    # ~1% of orders are large: 7 lines of 45-50 units, over the 300
    # units q18 looks for
    large = rng.random(n_ord) < 0.01
    lines = np.where(large, 7, rng.integers(1, 8, n_ord))
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_line = len(okey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = np.where(
        np.repeat(large, lines), rng.integers(45, 51, n_line), rng.integers(1, 51, n_line)
    ).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array((np.arange(n_line) - starts + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        # whole hundreds: price * (1 - discount) * (1 + tax) then has
        # at most 2 decimals, so no sum lands on a half cent that the
        # two engines' float sums could round apart
        "l_extendedprice": pa.array(qty * rng.integers(9, 22, n_line) * 100.0),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": _days_to_ts(np.repeat(order_day, lines) + rng.integers(1, 122, n_line)),
    })
    n_ev = size["events"]
    # strictly increasing timestamps over 30 days: no ties for the
    # as-of and sessionizing windows to break
    gaps = rng.exponential(1.0, n_ev) + 1e-3
    ts = (np.cumsum(gaps) / gaps.sum() * (30 * _DAY_US - n_ev)).astype(np.int64)
    ts = _EPOCH_2024 * _DAY_US + ts + np.arange(n_ev)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, size["users"], n_ev)),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": pa.array(_money(rng, 0, 20, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    tables["documents"] = _documents(rng, size["documents"])
    n_vec = size["embeddings"]
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 3, n_vec).astype(np.int32)),
    })
    return tables


def data_dir(root: str, seed: int, scale: float) -> str:
    """Cache directory of one data set, keyed by its parameters and by
    this file's source, so a generator change builds afresh."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:8]
    return os.path.join(root, f"tables-s{seed}-x{scale:g}-{version}")


def build(path: str, seed: int, scale: float) -> dict[str, int]:
    """Write the tables into ``path`` on first use; {table: rows}."""
    meta_path = os.path.join(path, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return json.load(fh)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    rows = {}
    for name, table in generate(seed, scale).items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))
        rows[name] = table.num_rows
    with open(meta_path, "w") as fh:
        json.dump(rows, fh)
    return rows
