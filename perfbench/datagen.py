"""Seeded input generation for the benchmark.

Every table is a pure function of ``(seed, scale)``: the same seed writes the
same rows, so two runs with one seed measure the same inputs and two seeds
measure different inputs of the same shape.

``write_catalog_tables`` writes the ten tables the query catalog reads
(``polars_numba_spark.sources.TABLE_NAMES``) with the column names, types and
value domains the catalog's faces and their DuckDB oracles expect: a
TPC-H-like star schema, an ``events`` stream, a ``documents`` corpus with
planted near-duplicates and an ``embeddings`` table with planted
near-duplicate vectors. ``scale=1.0`` gives 60k ``lineitem`` rows.

``fold_events`` builds the fold/scan workload's table: Zipf-skewed users, so
one hot user spans two 50k-row Arrow batches while most users have one or
two rows, and about 1% null amounts.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

_TS = pa.timestamp("us")
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _days(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    """Midnight timestamps ``lo..hi`` days after 1995-01-01."""
    return _EPOCH_1995 + rng.integers(lo, hi, n).astype("int64") * _DAY_US


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def _event_values(rng: np.random.Generator, n: int) -> np.ndarray:
    """Right-skewed positive amounts in 0.01..490; tail draws are redrawn
    uniformly rather than clipped, so no value repeats at the cap."""
    v = rng.lognormal(3.3, 1.0, n)
    v = np.where(v > 490.0, rng.uniform(0.01, 490.0, n), v)
    return np.maximum(_cents(v), 0.01)


def _documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        # ~5% are a copy of an earlier document plus a trailing marker token:
        # identical shingle sets, distinct strings (what the dedup faces find).
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]))
    return {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict[str, pa.Array]:
    vecs = rng.standard_normal((n, dim)).astype("float32")
    # ~3% are a small perturbation of an earlier vector (cosine ~0.99).
    for i in range(10, n):
        if rng.random() < 0.03:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + 0.05 * rng.standard_normal(dim).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype="int32"))
    return {
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype("int32")),
    }


def write_catalog_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write the ten catalog tables under ``out_dir``; return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(10, int(1500 * scale))
    n_supp = max(5, int(100 * scale))
    n_part = max(10, int(2000 * scale))
    n_orders = max(10, int(15000 * scale))
    n_events = max(10, int(10000 * scale))
    n_users = max(5, int(150 * scale))
    n_docs = max(20, int(500 * scale))
    rows: dict[str, int] = {}

    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(_REGIONS),
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
    })
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, n_cust))),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
    })
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, n_supp))),
    })
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(_PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)),
    })
    order_dates = _days(rng, n_orders, 0, 2404)
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype("int64")),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": pa.array(_cents(rng.uniform(1000.0, 500000.0, n_orders))),
        "o_orderdate": pa.array(order_dates, type=_TS),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_orders)),
    })
    lines_per_order = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders, dtype="int64"), lines_per_order)
    l_number = np.concatenate([np.arange(1, k + 1) for k in lines_per_order]).astype("int32")
    n_lines = len(l_order)
    qty = rng.integers(1, 51, n_lines).astype("float64")
    ship = order_dates[l_order] + rng.integers(1, 122, n_lines).astype("int64") * _DAY_US
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines).astype("int64")),
        "l_linenumber": pa.array(l_number),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_cents(qty * rng.uniform(900.0, 2100.0, n_lines))),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_lines)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_lines)),
        "l_shipdate": pa.array(ship, type=_TS),
    })
    # events: one stream over 30 days in timestamp order, microsecond jitter
    # keeps every timestamp distinct (a total order for the ordered faces).
    gaps = rng.integers(1, 2 * 30 * _DAY_US // n_events, n_events)
    ts = _EPOCH_2024 + np.cumsum(gaps).astype("int64")
    rows["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events, dtype="int64")),
        "ts": pa.array(ts, type=_TS),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype("int64")),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_events)),
        "value": pa.array(_event_values(rng, n_events)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    rows["documents"] = _write(out_dir, "documents", _documents(rng, n_docs))
    rows["embeddings"] = _write(out_dir, "embeddings", _embeddings(rng, n_docs))
    return rows


def fold_events(seed: int, n_rows: int, n_users: int = 20_000) -> dict[str, np.ndarray]:
    """Columns of the fold/scan table, in timestamp order.

    ``user_id`` is Zipf(1.7)-distributed over ``n_users`` ids, so user 0
    holds about half of the rows; ``amount`` is in cents-exact dollars
    with refunds (negative amounts) and ~1% nulls (``amount_valid`` false).
    """
    rng = np.random.default_rng([seed, 2])
    weights = 1.0 / np.arange(1, n_users + 1) ** 1.7
    user_id = rng.choice(n_users, n_rows, p=weights / weights.sum()).astype("int64")
    ts = _EPOCH_2024 + np.cumsum(rng.integers(1, 2000, n_rows)).astype("int64") * 1000
    amount = _cents(rng.uniform(-400.0, 900.0, n_rows))
    valid = rng.random(n_rows) >= 0.01
    return {"user_id": user_id, "ts": ts, "amount": amount, "amount_valid": valid}


def write_fold_events(out_dir: str, cols: dict[str, np.ndarray]) -> int:
    os.makedirs(out_dir, exist_ok=True)
    return _write(out_dir, "fold_events", {
        "user_id": pa.array(cols["user_id"]),
        "ts": pa.array(cols["ts"], type=_TS),
        "amount": pa.array(cols["amount"], mask=~cols["amount_valid"]),
    })

