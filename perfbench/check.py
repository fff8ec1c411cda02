"""Result checking: an order-insensitive hash of a result table.

The normalisation follows ``tests/oracle_harness.compare``: column names
are lower-cased and sorted, timestamps render as
``%Y-%m-%d %H:%M:%S.%f``, floats are rounded to 9 decimals, and rows are
sorted before hashing.  Integer and floating columns share one rendering
(the harness compares a mixed int/float column numerically), so a BIGINT
on one side and a DOUBLE on the other hash alike.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math

import numpy as np
import pyarrow as pa


def _cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool | np.bool_):
        return "T" if v else "F"
    if isinstance(v, int | np.integer | float | np.floating | decimal.Decimal):
        f = float(v)
        if math.isnan(f):
            return "∅"
        return repr(round(f, 9) + 0.0)  # + 0.0 folds -0.0 into 0.0
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, _dt.date | _dt.time | _dt.timedelta):
        return str(v)
    if isinstance(v, str):
        return v
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_cell(k)}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, list | tuple | np.ndarray):
        # map columns arrive from Arrow as lists of (key, value) tuples
        if len(v) and all(isinstance(x, tuple) and len(x) == 2 for x in v):
            return _cell(dict(v))
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def result_hash(table: pa.Table) -> tuple[int, str]:
    """(row count, hex digest) of ``table``, independent of row order,
    column order and column-name case."""
    names = [n.lower() for n in table.column_names]
    order = sorted(range(len(names)), key=lambda i: names[i])
    cols = [table.column(i).to_pylist() for i in order]
    rows = sorted("\x1f".join(_cell(c[r]) for c in cols) for r in range(table.num_rows))
    h = hashlib.sha1("\x1e".join(names[i] for i in order).encode())
    for r in rows:
        h.update(b"\n")
        h.update(r.encode())
    return table.num_rows, h.hexdigest()
