"""Result comparison against an independent engine (DuckDB).

Both sides are reduced to canonical rows (decimals and numpy scalars to
Python numbers, timestamps to ISO text), sorted, and compared cell by
cell. Doubles may differ in the last digits because the engines sum in
different orders, so floats compare with a relative tolerance.
"""

from __future__ import annotations

import datetime
import decimal
import math

REL_TOL = 1e-6


def _canon(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    return v


def _sort_key(row):
    return tuple(
        (x is None, round(x, 3) if isinstance(x, (int, float)) else str(x)) for x in row
    )


def canonical(rows) -> list[tuple]:
    out = [tuple(_canon(x) for x in r) for r in rows]
    out.sort(key=_sort_key)
    return out


def _cell_eq(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cell_eq(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)
    return a == b


def same_rows(got, want) -> bool:
    """True when two row collections hold the same multiset of rows."""
    g, w = canonical(got), canonical(want)
    return len(g) == len(w) and all(
        len(x) == len(y) and all(_cell_eq(a, b) for a, b in zip(x, y)) for x, y in zip(g, w)
    )
