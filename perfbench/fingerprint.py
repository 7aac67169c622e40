"""Order-independent result fingerprints, rendered the way
perfbench/src/main/scala/perfbench/Fingerprint.scala renders Spark rows.

A fingerprint is the row count plus the sum (mod 2**64) of one 64-bit
hash per row. A row is its cells in column-name order, rendered
canonically and joined by U+001F; its hash is the first 8 bytes of the
MD5 of that text. Doubles and decimals are rounded half-even to 9
decimals, timestamps are microseconds since the epoch (UTC), dates are
ISO dates and NULL is a backslash-N.
"""
import datetime
import hashlib
import math
from decimal import ROUND_HALF_EVEN, Decimal, localcontext

EPOCH = datetime.datetime(1970, 1, 1)
MASK = (1 << 64) - 1


def _decimal(d):
    with localcontext() as ctx:
        ctx.prec = 1000
        q = d.quantize(Decimal(1).scaleb(-9), rounding=ROUND_HALF_EVEN)
        return "0" if q == 0 else format(q.normalize(), "f")


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        return _decimal(Decimal(v))
    if isinstance(v, Decimal):
        return _decimal(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    raise TypeError(f"no canonical form for {type(v).__name__}: {v!r}")


def row_hash(cells):
    text = "\x1f".join(cells).encode("utf-8")
    return int.from_bytes(hashlib.md5(text).digest()[:8], "big")


def of(columns, rows):
    """Fingerprint of a result given its column names and row tuples."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        total = (total + row_hash([cell(r[i]) for i in order])) & MASK
    return {"rows": len(rows), "hash": f"{total:016x}",
            "cols": ",".join(columns[i] for i in order)}
