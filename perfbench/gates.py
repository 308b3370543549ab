"""Correctness gates shared by the workloads and the smoke test.

A table is summarised as (row count, sum of 64-bit row digests mod 2**64):
order-insensitive, sensitive to any missing, extra, duplicated or changed
row. Values are canonicalised first so that last-bit floating-point noise
from a different reduction order does not read as a wrong answer.
"""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime
from decimal import Decimal

MASK = 0xFFFFFFFFFFFFFFFF


def canon(v) -> str:
    """Canonical text of one result value (nested rows and arrays too)."""
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else format(v, ".9g")
    if isinstance(v, Decimal):
        return format(v.normalize(), "f") if v else "0"
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(x)}" for k, x in sorted(v.items(), key=lambda kv: canon(kv[0]))) + "}"
    if isinstance(v, (list, tuple)):  # pyspark Row is a tuple
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def row_digest(values) -> int:
    text = "\x1f".join(canon(v) for v in values)
    return int.from_bytes(hashlib.blake2b(text.encode(), digest_size=8).digest(), "big")


def table_digest(rows) -> tuple[int, str]:
    """(row count, hex digest) of an iterable of rows."""
    n = h = 0
    for r in rows:
        n += 1
        h = (h + row_digest(r)) & MASK
    return n, f"{h:016x}"
