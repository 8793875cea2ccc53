"""Value digests for plan results, at the strength of the parity gate.

A result is reduced to a SHA-256 over its column names (sorted) and
its rows (sorted), with every cell in a canonical form:

* integers of any width compare equal to each other, never to floats
  (``tests/test_parity.py`` rejects an int/float kind mismatch);
* floats compare bitwise after widening to float64, so ``-0.0`` and
  ``0.0`` differ and NaN equals NaN;
* decimals compare as the float64 they convert to, and dates as
  midnight timestamps: the parity gate reads the oracle through
  pandas, which converts both that way;
* timestamps compare as UTC microseconds, with or without a time zone;
* lists compare element-wise and structs field by field.

Both sides are Arrow tables: Spark's ``DataFrame.toArrow()`` and
DuckDB's ``.arrow()``. Flat columns are canonicalized with Arrow
kernels; nested and decimal columns cell by cell.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import struct
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

_EPOCH = dt.datetime(1970, 1, 1)
_NULL = "~"
_SEP = "\x1f"


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", struct.unpack("<q", struct.pack("<d", v))[0])
    if isinstance(v, Decimal):
        return _canon(float(v))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return ("t", (v - _EPOCH) // dt.timedelta(microseconds=1))
    if isinstance(v, dt.date):
        return _canon(dt.datetime(v.year, v.month, v.day))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon(x) for x in v))
    if isinstance(v, dict):
        return ("s", tuple(sorted((k, _canon(x)) for k, x in v.items())))
    if isinstance(v, bytes):
        return ("y", v.hex())
    return (type(v).__name__, str(v))


def _tagged(tag: str, arr: pa.Array) -> pa.Array:
    return pc.binary_join_element_wise(tag, arr.cast(pa.string()), "")


def _float_bits(arr: pa.Array) -> pa.Array:
    vals = arr.cast(pa.float64()).to_numpy(zero_copy_only=False)
    bits = vals.view(np.int64).astype(str).astype(object)
    bits[np.isnan(vals)] = "nan"
    return pa.array(bits, pa.string())


def _canon_column(col: pa.ChunkedArray) -> pa.Array:
    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    t = arr.type
    if pa.types.is_integer(t):
        out = _tagged("i", arr.cast(pa.int64()))
    elif pa.types.is_boolean(t):
        out = _tagged("b", arr)
    elif pa.types.is_floating(t):
        out = _tagged("f", _float_bits(arr))
    elif pa.types.is_decimal(t):
        floats = pa.array([None if v is None else float(v) for v in arr.to_pylist()], pa.float64())
        out = _tagged("f", _float_bits(floats))
    elif pa.types.is_timestamp(t):
        us = pc.cast(arr, pa.timestamp("us", tz=t.tz), safe=False)
        out = _tagged("t", us.cast(pa.int64()))
    elif pa.types.is_date(t):
        days = arr.cast(pa.date32()).view(pa.int32()).cast(pa.int64())
        out = _tagged("t", pc.multiply(days, 86_400 * 1_000_000))
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        s = arr.cast(pa.string())
        out = pc.binary_join_element_wise("s", pc.utf8_length(s).cast(pa.string()), ":", s, "")
    else:  # nested and binary: cell by cell
        return pa.array([repr(_canon(v)) for v in arr.to_pylist()], pa.string())
    return pc.fill_null(out, _NULL)


def table_digest(table: pa.Table) -> str:
    """Order-insensitive digest of an Arrow table's values and column names."""
    names = sorted(table.column_names)
    h = hashlib.sha256(repr(names).encode())
    if table.num_rows == 0:
        return h.hexdigest()
    cols = [_canon_column(table.column(n)) for n in names]
    rows = pc.binary_join_element_wise(*cols, _SEP) if len(cols) > 1 else cols[0]
    for r in pc.take(rows, pc.sort_indices(rows)).to_pylist():
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()
