"""Output checks, run with DuckDB outside every timed op.

A digest is ``(rows, sum of per-row hashes)`` over typed, canonical
columns, so it ignores row order and file layout and is equal for the
same rows read from JSON lines or from parquet.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb

#: DuckDB types of the bulk-extract output columns, after the table spec
BULK_COLUMNS = {
    "l_orderkey": "BIGINT",
    "l_partkey": "BIGINT",
    "l_suppkey": "BIGINT",
    "l_linenumber": "INTEGER",
    "l_quantity": "DOUBLE",
    "extended_price": "DOUBLE",
    "l_discount": "DOUBLE",
    "l_returnflag": "VARCHAR",
    "l_shipdate": "TIMESTAMP",
}


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def _canon(col: str, typ: str) -> str:
    if typ == "TIMESTAMP":
        return f"epoch_us(CAST({col} AS TIMESTAMP))"
    return f"CAST({col} AS {typ})"


def digest(con, relation: str, columns: dict[str, str]) -> tuple[int, int]:
    """Row count and order-insensitive hash of ``relation``'s columns."""
    row = ", ".join(_canon(c, t) for c, t in columns.items())
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({row})::HUGEINT), 0) FROM {relation}"
    ).fetchone()
    return int(n), int(h)


def json_relation(glob: str, columns: dict[str, str]) -> str:
    cols = ", ".join(f"'{c}': '{t}'" for c, t in columns.items())
    return f"read_json('{glob}', format='newline_delimited', columns={{{cols}}})"


def parquet_relation(glob: str) -> str:
    return f"read_parquet('{glob}')"


def bulk_reference(con, input_glob: str, predicate: str) -> tuple[int, int]:
    """What the bulk extract must write: the filtered input, below the
    HWM it captures (max + 1 µs, so every filtered row), with
    ``l_extendedprice`` renamed and ``l_tax``/``l_linestatus`` removed."""
    src = f"(SELECT * FROM {parquet_relation(input_glob)} WHERE {predicate})"
    cols = ", ".join(
        "l_extendedprice AS extended_price" if c == "extended_price" else c
        for c in BULK_COLUMNS
    )
    rel = (
        f"(SELECT {cols} FROM {src} "
        f"WHERE l_shipdate < (SELECT max(l_shipdate) FROM {src}) + INTERVAL 1 MICROSECOND)"
    )
    return digest(con, rel, BULK_COLUMNS)


def load_repo_check(root: str):
    """``tools/check.py`` of the program under test: its canonical
    rendering and hash are the registry's correctness rule."""
    path = os.path.join(root, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("_perfbench_repo_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_views(con, sf_dir: str, tables) -> None:
    for t in tables:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
