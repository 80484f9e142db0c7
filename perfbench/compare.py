"""Order-insensitive comparison of a Spark result with its oracle rows.

Integers, strings and timestamps must match exactly. Doubles may differ
by one unit of the 2-decimal rounding the queries apply: Spark and
DuckDB sum in different orders, and a sum that lands near a half cent
can round either way.
"""
from __future__ import annotations

import datetime as dt
from decimal import Decimal

FLOAT_TOL = 0.0101


def normalize(v):
    """A result value as JSON can hold it and both engines agree on."""
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [normalize(x) for x in v]
    return v


def _sort_key(row: list) -> tuple:
    return (tuple(repr(v) for v in row if not isinstance(v, float)),
            tuple(round(v, 1) for v in row if isinstance(v, float)))


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return (isinstance(a, (int, float)) and isinstance(b, (int, float))
                and abs(a - b) <= FLOAT_TOL)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(map(_same, a, b))
    return a == b


def rows_match(got: list[list], expected: list[list]) -> bool:
    if len(got) != len(expected):
        return False
    got = sorted((normalize(list(r)) for r in got), key=_sort_key)
    expected = sorted((normalize(list(r)) for r in expected),
                      key=_sort_key)
    return all(len(g) == len(e) and all(map(_same, g, e))
               for g, e in zip(got, expected))
