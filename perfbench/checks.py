"""Output checks: order-insensitive table comparison with a float tolerance.

Every result is reduced to ``(columns, rows)``: lower-cased column names in
sorted order and rows as tuples of plain Python values, whatever produced it
(a Spark ``collect()``, a DuckDB query, a parquet table written by the
engine, or the pinned reference JSON)."""

from __future__ import annotations

import datetime as dt
import decimal
import json
import math
import os

import pyarrow.parquet as pq

REL_TOL = 1e-7
ABS_TOL = 1e-5

Table = tuple[tuple[str, ...], list[tuple]]


def _plain(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def _canon(columns, rows) -> Table:
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=cols.__getitem__)
    return (
        tuple(cols[i] for i in order),
        [tuple(_plain(r[i]) for i in order) for r in rows],
    )


def from_rows(rows) -> Table:
    """Canonical form of a list of ``pyspark.sql.Row``."""
    if not rows:
        return ((), [])
    return _canon(rows[0].__fields__, [tuple(r) for r in rows])


def from_duckdb(con, sql: str) -> Table:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return _canon(cols, cur.fetchall())


def from_parquet(path: str) -> Table:
    """Canonical form of a parquet table directory the engine wrote."""
    t = pq.read_table(path)
    return _canon(t.column_names, list(zip(*(c.to_pylist() for c in t.columns))))


def _is_num(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _sort_key(row: tuple) -> tuple:
    # floats sort by a coarse rounding so values within tolerance land in the
    # same place on both sides; None sorts first, apart from every type
    return tuple(
        (0, 0) if v is None else (1, round(float(v), 3)) if _is_num(v) else (2, str(v))
        for v in row
    )


def _cell_equal(a, b) -> bool:
    if _is_num(a) and _is_num(b):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def mismatch(got: Table, want: Table) -> str | None:
    """None when ``got`` equals ``want`` up to row order and float
    tolerance; otherwise a one-line description of the first difference."""
    if got[0] != want[0] and (got[1] or want[1]):
        return f"columns {got[0]} != {want[0]}"
    if len(got[1]) != len(want[1]):
        return f"{len(got[1])} rows != {len(want[1])} rows"
    for g, w in zip(sorted(got[1], key=_sort_key), sorted(want[1], key=_sort_key)):
        if not all(_cell_equal(a, b) for a, b in zip(g, w)):
            return f"row {g} != {w}"
    return None


def load_reference(path: str) -> dict[str, Table]:
    with open(path) as f:
        raw = json.load(f)
    return {name: (tuple(t["columns"]), [tuple(r) for r in t["rows"]]) for name, t in raw.items()}


def dump_reference(tables: dict[str, Table], path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(
            {n: {"columns": list(c), "rows": [list(r) for r in sorted(rows, key=_sort_key)]}
             for n, (c, rows) in sorted(tables.items())},
            f, separators=(",", ":"),
        )
        f.write("\n")
