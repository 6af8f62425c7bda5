"""Output checks: canonical, order-insensitive row sets.

A result is reduced to its rows with columns in name order, each value in a
JSON-stable form, and the rows sorted. Two results match when the sorted
rows are equal, with floats compared to a relative tolerance of 1e-9
(Spark and DuckDB may sum in different orders). Oracle results come from
the registry's DuckDB SQL (``ORACLES``), computed once at the start of
every run, before any timed region.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import math

FLOAT_RTOL = 1e-9


def canon_value(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return v if math.isfinite(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (dt.datetime, dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return sorted(([canon_value(k), canon_value(x)] for k, x in v.items()), key=str)
    if isinstance(v, (list, tuple)):
        return [canon_value(x) for x in v]
    return str(v)


def canon_rows(columns: list[str], rows) -> dict:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [[canon_value(row[i]) for i in order] for row in rows]
    try:
        out.sort()
    except TypeError:  # None or mixed types within a column
        out.sort(key=lambda r: [(x is None, str(x)) for x in r])
    return {"columns": sorted(columns), "rows": out}


def _same(a, b) -> bool:
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return a == b or abs(a - b) <= FLOAT_RTOL * max(abs(a), abs(b))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def mismatch(got: dict, want: dict) -> str | None:
    """None when ``got`` matches ``want``, else a one-line reason."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"row count {len(got['rows'])} != {len(want['rows'])}"
    for i, (g, w) in enumerate(zip(got["rows"], want["rows"])):
        if not _same(g, w):
            return f"row {i}: {json.dumps(g)[:120]} != {json.dumps(w)[:120]}"
    return None


def oracle_results(names: list[str], sf_dir: str) -> dict[str, dict]:
    """Canonical DuckDB oracle rows for each query."""
    import duckdb

    from lua_mapreduce_spark.catalog import TABLES
    from lua_mapreduce_spark.operators import ORACLES

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name in names:
            rel = con.sql(ORACLES[name])
            out[name] = canon_rows(list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()
