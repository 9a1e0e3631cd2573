"""Correctness gate: compares timed outputs with DuckDB over the same lake.

It runs after the timed region, so it costs no measured time. Results are
compared order-insensitively: columns sorted by name, timestamps as
microseconds, rows sorted, floats equal within a relative 1e-9.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal
from pathlib import Path

import duckdb

from perfbench.lake import REPLICATED, TABLES


def connect(lake: Path) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per lake table (events.ts cast to a µs
    TIMESTAMP, as the library's loader does)."""
    con = duckdb.connect()
    for t in TABLES:
        src = f"{lake}/{t}.parquet" + ("/*.parquet" if t in REPLICATED else "")
        cols = "* REPLACE (CAST(ts AS TIMESTAMP) AS ts)" if t == "events" else "*"
        con.execute(f"CREATE VIEW {t} AS SELECT {cols} FROM read_parquet('{src}')")
    return con


def _value(v):
    if isinstance(v, dt.datetime):
        return (v - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    if isinstance(v, dt.date):
        return _value(dt.datetime(v.year, v.month, v.day))
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _key(x):
    if x is None:
        return (0, 0)
    if isinstance(x, (bool, int, float)):
        return (1, round(float(x), 6))
    if isinstance(x, str):
        return (2, x)
    return (3, repr(x))


def normalize(columns: list[str], rows) -> tuple[tuple[str, ...], list[tuple]]:
    """Columns sorted by name; rows of comparable values, sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_value(r[i]) for i in order) for r in rows]
    out.sort(key=lambda row: tuple(_key(x) for x in row))
    return tuple(columns[i] for i in order), out


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def diff(got, want) -> str | None:
    """None when two normalized results agree, else a one-line reason."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if not all(_close(x, y) for x, y in zip(a, b)):
            return f"row {i}: {a} != {b}"
    return None


def sql(con: duckdb.DuckDBPyConnection, query: str):
    cur = con.execute(query)
    return normalize([d[0] for d in cur.description], cur.fetchall())
