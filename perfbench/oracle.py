"""Correctness gate: compare the engine's outputs with its DuckDB replay.

Every check runs outside the timed region.  A check returns None when
the output matches and a one-line reason when it does not.
"""

from __future__ import annotations

import math

import pandas as pd


def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "tolist"):            # numpy arrays and scalars
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return v


def _sort_key(row):
    return tuple("" if x is None else repr(x) for x in row)


def _close(a, b, tol: float) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(float(a) - float(b)) <= tol * max(1.0, abs(float(b)))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y, tol) for x, y in zip(a, b))
    return a == b


def compare_frames(actual: pd.DataFrame, expected: pd.DataFrame,
                   tol: float = 1e-9) -> str | None:
    """Cell-for-cell equality, independent of row order; doubles agree
    within ``tol`` relative."""
    if list(actual.columns) != list(expected.columns):
        return f"columns {list(actual.columns)} != {list(expected.columns)}"
    if len(actual) != len(expected):
        return f"{len(actual)} rows != {len(expected)} expected"
    rows_a = sorted((tuple(_canon(v) for v in r)
                     for r in actual.itertuples(index=False)), key=_sort_key)
    rows_e = sorted((tuple(_canon(v) for v in r)
                     for r in expected.itertuples(index=False)), key=_sort_key)
    for k, (ra, re_) in enumerate(zip(rows_a, rows_e)):
        for col, a, e in zip(actual.columns, ra, re_):
            if not _close(a, e, tol):
                return f"row {k} column {col}: {a!r} != {e!r}"
    return None


def perturb(pdf: pd.DataFrame) -> pd.DataFrame:
    """A copy of ``pdf`` with one cell changed, for testing the gate."""
    out = pdf.copy()
    v = out.iat[0, 0]
    out.iat[0, 0] = v + "x" if isinstance(v, str) else v + 1
    return out
