"""Seeded input generator for the benchmark.

``write_tables`` writes the engine's ten-table star schema (the same
column names and types as the engine's parquet sources) for a scale
factor, from a data seed.  The distributions mirror the engine's test
tables: uniform keys and dates, a 30-word text vocabulary with 5% of the
documents being `` dup``-suffixed copies of another document, and
unit-norm 64-dimensional embeddings.

``split_stream`` cuts a time-ordered table into parquet files of uneven
size, one file per micro-batch; the cut points come from the run seed.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.43, 0.14, 0.14, 0.14, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

ORDER_START = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404  # through 2001-08-01
EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _ts(days_or_us: np.ndarray, unit: str) -> pa.Array:
    return pa.array(days_or_us.astype(f"datetime64[{unit}]").astype("datetime64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    n_dup = n // 20
    lengths = rng.integers(8, 100, n)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in lengths]
    # Near-duplicates: a copy of an earlier original plus one token.
    for i in rng.choice(np.arange(1, n), n_dup, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype("int32")),
        }
    )


def build_tables(sf: float, data_seed: int) -> dict[str, pa.Table]:
    """The ten source tables at scale factor ``sf``."""
    rng = np.random.default_rng(data_seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(150, n_ev // 66)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype="int32")), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    pk = np.arange(n_part, dtype="int64")
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
            "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 1)),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
            "o_orderdate": _ts(ORDER_START + rng.integers(0, ORDER_DAYS, n_ord), "D"),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype("int32")),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64")),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
            "l_shipdate": _ts(ORDER_START + 1 + rng.integers(0, ORDER_DAYS + 95, n_line), "D"),
        }
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype="int64")),
            "ts": _ts(EVENT_START + np.sort(rng.integers(0, EVENT_SPAN_US, n_ev)), "us"),
            "user_id": pa.array(rng.integers(0, n_users, n_ev)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
            "value": pa.array(np.round(rng.exponential(49.6, n_ev), 2) + 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = _documents(rng, max(500, int(50_000 * sf)))
    t["embeddings"] = _embeddings(rng, max(500, int(20_000 * sf)))
    return t


def write_tables(out_dir: str, sf: float, data_seed: int) -> dict[str, pa.Table]:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns them."""
    os.makedirs(out_dir, exist_ok=True)
    tables = build_tables(sf, data_seed)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return tables


def split_stream(
    table: pa.Table, sort_col: str, out_dir: str, n_files: int, seed: int
) -> list[int]:
    """Sort ``table`` by ``sort_col`` and cut it into ``n_files`` parquet
    files whose sizes vary between half and one and a half times the
    mean; returns the row count of each file, in stream order."""
    os.makedirs(out_dir, exist_ok=True)
    table = table.sort_by(sort_col)
    rng = np.random.default_rng(seed)
    weights = rng.uniform(0.5, 1.5, n_files)
    bounds = np.round(np.cumsum(weights) / weights.sum() * table.num_rows).astype(int)
    starts = np.concatenate([[0], bounds[:-1]])
    # The streaming file source reads files oldest first: give them
    # strictly increasing modification times in stream order.
    mtime = datetime.now().timestamp() - n_files
    sizes = []
    for i, (lo, hi) in enumerate(zip(starts, bounds)):
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), path)
        os.utime(path, (mtime + i, mtime + i))
        sizes.append(int(hi - lo))
    return sizes


def years_of(table: pa.Table, col: str) -> np.ndarray:
    """Calendar year of each row of a timestamp column."""
    return table.column(col).to_numpy().astype("datetime64[Y]").astype(int) + 1970

