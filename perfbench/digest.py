"""Order-insensitive digest of a query result (a pandas DataFrame).

Columns are taken in name order, every cell is turned into a canonical
string, rows are sorted, and the lot is hashed. Floats keep their full
``repr``: a value that only matches after rounding is a mismatch.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd


def canon_cell(v) -> str:
    if isinstance(v, np.ndarray):
        v = v.tolist()
    elif isinstance(v, np.generic):
        v = v.item()
    if v is None or v is pd.NaT or v is pd.NA:
        return "∅"
    if isinstance(v, float):
        return "∅" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def digest(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    rows = sorted(zip(*(df[c].map(canon_cell) for c in cols))) if len(df) else []
    h = hashlib.sha256("\x1f".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + "\x1f".join(r).encode())
    return h.hexdigest()
