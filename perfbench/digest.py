"""Order-insensitive result digest shared by the Spark side and the
DuckDB oracle side.

Both engines' rows are reduced to the same canonical form before
hashing: columns in name order, ``Decimal`` as float, datetimes
tz-naive, every value rendered as ``type:str`` (so ``5`` and ``5.0``
differ, as they do in an exact value comparison), rows sorted. Two
results with the same digest have the same column names, the same row
count and the same multiset of rows.
"""

from __future__ import annotations

import datetime as dt
import hashlib
from decimal import Decimal


def _norm(v) -> str:
    if isinstance(v, Decimal):
        v = float(v)
    elif isinstance(v, dt.datetime):
        v = v.replace(tzinfo=None)
    elif isinstance(v, (list, tuple)):
        return "(" + ",".join(_norm(x) for x in v) + ")"
    return f"{type(v).__name__}:{v}"


def digest(columns: list[str], rows) -> str:
    """Digest of ``rows`` (sequences aligned with ``columns``)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1d")
        h.update(line.encode())
    return f"{len(lines)}:{h.hexdigest()[:16]}"
