"""Seeded synthetic fixtures for the benchmark.

Writes the engine's ten input tables (``region nation customer supplier
part orders lineitem events documents embeddings``) as one parquet file
each, with the column names, physical types and value domains of the
engine's TPC-H-like test fixtures:

- money columns are exact 2-decimal doubles, discounts and taxes exact
  1/100 steps (the engine's exact-sum parity helpers rely on this);
- ``o_orderdate``/``l_shipdate`` are midnight ``timestamp[ms]``;
- ``events.ts`` is ``timestamp[ns]`` holding microsecond instants over
  30 days, so the engine's nanos-as-long load path is exercised;
- every foreign key resolves (``lineitem -> orders/part/supplier``,
  ``orders -> customer``), ``vec_id = 0`` and ``doc_id < 10`` exist.

Row counts scale linearly with ``sf`` (lineitem ~= 6M x sf) except the
5-row region and 25-row nation tables. The table *contents* depend only
on ``sf``: they are drawn from a fixed generator seed, so every
benchmark seed measures the same multiset of rows and the same results.
The benchmark ``seed`` permutes the row order inside each table, which
changes row-group statistics and which rows share a scan split, but not
any query result. ``row_group_rows`` sets the parquet row-group size;
``None`` writes each table as one row group, like the test fixtures.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "small", "red", "green", "cold", "dark"]
PART_NOUN = ["ring", "bolt", "anvil", "widget", "gear", "spring", "valve", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a the join hash row sort query filter key group agg scan order value "
    "window spark stream data table column part line batch vector merge "
    "fast slow big small customer"
).split()

_DAY_MS = 86_400_000
_EPOCH_1995_MS = 788_918_400_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Exact 2-decimal doubles in [lo, hi]."""
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    codes = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(codes, pa.array(values)).cast(pa.string())


def make_tables(sf: float) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf``, in a fixed row order."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_ev = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    n_docs = max(10, round(50_000 * sf))
    n_vec = max(1, round(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    part_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    partkey = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": partkey,
        "p_name": _pick(rng, part_names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (partkey % 1000) / 10.0, 2),
    })
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(
            _EPOCH_1995_MS + order_day * _DAY_MS, pa.timestamp("ms")
        ),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    ship_day = order_day[l_order] + rng.integers(1, 123, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": pa.array(
            _EPOCH_1995_MS + ship_day * _DAY_MS, pa.timestamp("ms")
        ),
    })
    ts_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + _EPOCH_2024_US
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts_us * 1000, pa.timestamp("ns")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(np.floor(rng.exponential(5000.0, n_ev)) / 100.0, 2),
        "props": _pick(rng, [f'{{"k": {k}}}' for k in range(100)], n_ev),
    })
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 90, n_docs)
    words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    bounds = np.cumsum(lengths)
    texts = [" ".join(words[b - n:b]) for b, n in zip(bounds, lengths)]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    emb = rng.normal(0.0, 0.125, (n_vec, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel(), pa.float32()), 64
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })
    return t


def write_fixtures(
    out_dir: str, sf: float, seed: int, row_group_rows: int | None = None
) -> dict[str, int]:
    """Write the ten tables under ``out_dir`` with rows permuted by
    ``seed``; returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    perm_rng = np.random.default_rng(seed)
    counts = {}
    for name, table in make_tables(sf).items():
        table = table.take(perm_rng.permutation(table.num_rows))
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=row_group_rows or max(1, table.num_rows),
        )
        counts[name] = table.num_rows
    return counts
