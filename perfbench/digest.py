"""Order-insensitive result digest, shared with the JVM harness
(perfbench/src/Digest.scala computes the same string).

Canonicalization follows tools/compare.py: columns sorted by name, rows
compared as sets. Integers and timestamps (as epoch microseconds) are exact.
Fractional numbers (double, float, decimal) become their sign and
``round(ln|x| * 1e6)``: a relative resolution of 1e-6, so engines that sum
doubles in a different order still agree. A grid in log space has no exact
ties at decimal or binary values, which a rounding to N significant digits
has at every money amount ending in 5 one digit past the cut. Null is
``\\N``. Each canonical row is hashed with md5 and the first 8 bytes are
summed modulo 2**64, so the digest does not depend on row order.
"""
import datetime as dt
import decimal
import hashlib
import math

_EPOCH = dt.datetime(1970, 1, 1)


def canon_fraction(x):
    x = float(x)
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "-Inf" if x < 0 else "Inf"
    if x == 0:
        return "0"
    return ("-" if x < 0 else "") + "L" + str(math.floor(math.log(abs(x)) * 1e6 + 0.5))


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return canon_fraction(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return str((v - _EPOCH) // dt.timedelta(microseconds=1))
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def of_rows(cols, rows):
    """Digest string ``<rows>:<column-set hash>:<row-hash sum>``."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    names = ",".join(cols[i] for i in order)
    total = 0
    n = 0
    for r in rows:
        line = "\x1f".join(canon(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(line.encode()).digest()[:8], "big")
        n += 1
    head = hashlib.md5(names.encode()).hexdigest()[:8]
    return f"{n}:{head}:{total % (1 << 64):016x}"
