"""Seeded synthetic inputs for the benchmark.

The base tables are fitted to the repository's sf0.1 test tier: the same
table names, column names, parquet types (timestamps are tz-naive
microseconds), row counts, value ranges and distributions, and for
``documents`` the same 30-word vocabulary, lengths and share of
near-copies (``NOTES.md`` holds the column-by-column comparison).
Registry queries written against that tier run unchanged.  The tables
come from a fixed generator seed and are identical on every run; the
workload seed only decides how they are arranged (the permutation and
file split of the bulk input, the streaming deltas, the order of the
query list).

Everything is written with pyarrow; no Spark session is involved, so
generation never counts towards set-up time.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generator changes, so a cached base tier is rebuilt
BASE_VERSION = 2
BASE_SEED = 42

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_DOCUMENTS = 5_000
#: documents that are another document with " dup" appended
N_NEAR_COPIES = 250
DAY_US = 86_400_000_000

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_SHARES = [0.15, 0.40, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _day_us(day: str) -> int:
    return int((np.datetime64(day, "us") - _EPOCH).astype(np.int64))


def _uniform2(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform values in [lo, hi), rounded to two decimals."""
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str, row_group_size: int | None = None) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=row_group_size)
    os.replace(tmp, path)


def _region_nation() -> tuple[pa.Table, pa.Table]:
    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    return region, nation


def _customer_supplier_part(rng: np.random.Generator) -> tuple[pa.Table, ...]:
    customer = pa.table(
        {
            "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMER, dtype=np.int32),
            "c_acctbal": _uniform2(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)],
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": rng.integers(0, 25, N_SUPPLIER, dtype=np.int32),
            "s_acctbal": _uniform2(rng, -999.99, 9999.99, N_SUPPLIER),
        }
    )
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    part = pa.table(
        {
            "p_partkey": np.arange(N_PART, dtype=np.int64),
            "p_name": names[rng.integers(0, len(names), N_PART)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, N_PART)
            ],
            "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), N_PART)],
            "p_size": rng.integers(1, 51, N_PART, dtype=np.int32),
            "p_retailprice": 900.0 + np.arange(N_PART) % 1000 / 10.0,
        }
    )
    return customer, supplier, part


def _orders_lineitem(rng: np.random.Generator) -> tuple[pa.Table, pa.Table]:
    """Every ``lineitem`` column is drawn on its own, as in the sf0.1
    tier: order keys are not clustered, and prices and ship dates do not
    follow from the order or the part."""
    lo, hi = _day_us("1995-01-01"), _day_us("2001-08-01")
    days = (hi - lo) // DAY_US + 1
    orders = pa.table(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
            "o_totalprice": _uniform2(rng, 1000.0, 500_000.0, N_ORDERS),
            "o_orderdate": _ts(lo + rng.integers(0, days, N_ORDERS) * DAY_US),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)],
        }
    )
    n = N_LINEITEM
    ship_day = rng.integers(0, days, n) + rng.integers(1, 96, n)
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, N_ORDERS, n, dtype=np.int64),
            "l_partkey": rng.integers(0, N_PART, n, dtype=np.int64),
            "l_suppkey": rng.integers(0, N_SUPPLIER, n, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _uniform2(rng, 900.0, 105_000.0, n),
            "l_discount": _uniform2(rng, 0.0, 0.10, n),
            "l_tax": _uniform2(rng, 0.0, 0.08, n),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _ts(lo + ship_day * DAY_US),
        }
    )
    return orders, lineitem


def events_table(rng: np.random.Generator, n: int, first_id: int) -> pa.Table:
    """``n`` events with ids ``first_id..first_id+n-1`` in January 2024."""
    lo = _day_us("2024-01-01")
    span = 30 * DAY_US
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": _ts(lo + np.sort(rng.integers(0, span, n))),
            "user_id": rng.integers(0, 1500, n, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng: np.random.Generator) -> pa.Table:
    """Documents of 10-99 words drawn from ``WORDS``; ``N_NEAR_COPIES``
    of them are replaced by another document with " dup" appended, so
    the dedup chain finds real clusters."""
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))])
        for _ in range(N_DOCUMENTS)
    ]
    for i in rng.choice(N_DOCUMENTS, N_NEAR_COPIES, replace=False):
        texts[i] = texts[int(rng.integers(0, N_DOCUMENTS))] + " dup"
    return pa.table(
        {
            "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), N_DOCUMENTS, p=LANG_SHARES)],
            "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def ensure_base(root: str) -> str:
    """Build the fixed base tier under ``root`` once; return its directory."""
    out = os.path.join(root, f"base-v{BASE_VERSION}")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng(BASE_SEED)
    region, nation = _region_nation()
    customer, supplier, part = _customer_supplier_part(rng)
    orders, lineitem = _orders_lineitem(rng)
    tables = {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events_table(rng, N_EVENTS, 0),
        "documents": _documents(rng),
    }
    for name, table in tables.items():
        _write(table, os.path.join(out, f"{name}.parquet"))
    with open(marker, "w", encoding="utf-8") as f:
        f.write(dt.datetime.now(dt.timezone.utc).isoformat() + "\n")
    return out


def write_split_lineitem(base: str, out_dir: str, seed: int, files: int = 8) -> int:
    """A seeded permutation of the base ``lineitem``, written as ``files``
    parquet files of several row groups each (the shape of token-range
    splits).  Returns the row count."""
    table = pq.read_table(os.path.join(base, "lineitem.parquet"))
    table = table.take(np.random.default_rng(seed).permutation(table.num_rows))
    target = os.path.join(out_dir, "lineitem.parquet")
    os.makedirs(target, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = i * n // files, (i + 1) * n // files
        _write(
            table.slice(lo, hi - lo),
            os.path.join(target, f"part-{i:05d}.parquet"),
            row_group_size=max(1, (hi - lo) // 4),
        )
    return n


def write_event_deltas(out_dir: str, seed: int, count: int, rows: int) -> list[str]:
    """``count`` seeded ``events`` delta files of ``rows`` rows each, with
    ids disjoint from the base tier and from one another."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    paths = []
    for i in range(count):
        path = os.path.join(out_dir, f"events-{i:05d}.parquet")
        _write(events_table(rng, rows, N_EVENTS + i * rows), path)
        paths.append(path)
    return paths
