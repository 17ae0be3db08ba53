"""Order-independent fingerprints of query results.

A fingerprint is the row count, the sorted column names and the sum
(mod 2**64) of one 64-bit hash per row, taken over a ``pyarrow.Table``:
Spark results arrive through ``DataFrame.toArrow()`` and DuckDB oracle
results through ``.arrow()``, so both sides use the same code.  Each row
is rendered as a canonical string first, so that equal results hash
equally however they were produced:

- columns are taken in name order, so column order does not matter;
- row hashes are summed, so row order does not matter, while a
  duplicated or missing row still changes the sum;
- NULL renders as ``\\N`` and NaN as ``NaN``;
- numbers render with 9 significant digits, integral ones as integers
  (so ``5``, ``5.0`` and ``Decimal('5')`` agree), and magnitudes below
  1e-9, ``-0.0`` included, as ``0``;
- timestamps render in UTC without an offset; arrays keep their element
  order; map entries are sorted; struct fields are rendered by name.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

NULL = "\\N"
SEP = "\x1f"
DIGITS = 9
MASK = (1 << 64) - 1


def number(x: float) -> str:
    if math.isnan(x):
        return "NaN"
    if abs(x) < 1e-9:
        return "0"
    if abs(x) < 1e15 and x == math.floor(x):
        return str(int(x))
    return format(x, f".{DIGITS}g")


def canon(v, is_map: bool = False) -> str:
    """The canonical string of one value as ``to_pylist()`` gives it."""
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return number(float(v))
    if isinstance(v, str):
        return v
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, (dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, dict):
        return "(" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + ")"
    if is_map:
        return "{" + ",".join(sorted(f"{canon(k)}={canon(x)}"
                                     for k, x in v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def fingerprint(table) -> dict:
    """``{"rows", "columns", "hash"}`` of a ``pyarrow.Table``."""
    import pyarrow as pa

    names = table.column_names
    order = sorted(range(len(names)), key=lambda i: names[i])
    cols = []
    for i in order:
        col = table.column(i)
        is_map = pa.types.is_map(col.type)
        cols.append([canon(v, is_map) for v in col.to_pylist()])
    total = 0
    for row in zip(*cols):
        digest = hashlib.blake2b(SEP.join(row).encode(), digest_size=8)
        total += int.from_bytes(digest.digest(), "little")
    return {"rows": table.num_rows, "columns": sorted(names),
            "hash": str(total & MASK)}


def compare(got: dict, want: dict | None) -> list[str]:
    """The gate's verdict on one result: an empty list when it matches."""
    if want is None:
        return ["no expected fingerprint"]
    return [f"{k} {got[k]!r} != expected {want.get(k)!r}"
            for k in ("rows", "columns", "hash") if got[k] != want.get(k)]
