"""Result comparison for the benchmark's correctness checks.

The comparison is order-insensitive and mirrors the registry's DuckDB
oracle contract: columns are compared by name, floats rounded to six
places, midnight timestamps collapsed to dates, NULL and NaN equal.
"""

from __future__ import annotations

import datetime
import hashlib
import math

import pandas as pd


def _cell(v) -> str:
    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        r = round(v, 6)
        return "0.0" if r == 0 else repr(r)
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        v = pd.Timestamp(v)
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        v = v.floor("us")
        if v.time() == datetime.time(0, 0):
            return v.date().isoformat()
        return v.isoformat()
    return str(v)


def canonical_rows(pdf: pd.DataFrame) -> list[tuple]:
    """Rows of ``pdf`` with columns in name order, cells normalized,
    sorted — equal for any two results holding the same multiset."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return sorted(tuple(_cell(v) for v in rec) for rec in pdf.itertuples(index=False))


def result_hash(pdf: pd.DataFrame) -> str:
    h = hashlib.sha256(",".join(sorted(pdf.columns)).encode())
    for row in canonical_rows(pdf):
        h.update(repr(row).encode())
    return h.hexdigest()[:16]


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the two results match; otherwise a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if result_hash(got) != result_hash(want):
        a, b = canonical_rows(got), canonical_rows(want)
        first = next((x, y) for x, y in zip(a, b) if x != y)
        return f"values differ, first {first}"
    return None
