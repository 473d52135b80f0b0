"""Order-independent fingerprints of query outputs, for the answer check.

A fingerprint is (sorted column names, row count, digest, float stats):

- every cell that is not a floating-point number (integers, integral
  decimals, strings, timestamps, NULLs, lists; a float inside a list at 6
  significant digits) enters the digest exactly, and
  a floating-point cell enters it only as a marker; the digest is the sum
  modulo 2**64 of a 64-bit hash per row, so it does not depend on row order
  or on how rows were split across files, but it does count duplicates;
- each floating-point column keeps three exactly rounded sums (`math.fsum`,
  itself order-independent): of its values, of their magnitudes, and of each
  value times a weight in [1, 2) drawn from the hash of the row's exact
  cells, which ties every value to its row. Sums agree within 1e-11 of the
  magnitude sum.

Two engines that sum the same doubles in a different order differ in the
last bits. Rounding floats before hashing cannot absorb that: whatever the
precision, sums of cent amounts land on the rounding boundary all the time.
"""
import datetime
import decimal
import hashlib
import math

MASK = (1 << 64) - 1
REL_TOL = 1e-11


def is_float(v):
    return isinstance(v, float) or (isinstance(v, decimal.Decimal) and v != v.to_integral_value())


def canon(v):
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "T" if v else "F"
    if is_float(v):
        v = float(v)
        if math.isnan(v):
            return "NaN"
        return "%.6g" % v if v != 0 else "0"
    if isinstance(v, (int, decimal.Decimal)):
        return str(int(v))
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return repr(str(v))


def row_hash(keys):
    line = "\x1f".join(keys).encode()
    return int.from_bytes(hashlib.blake2b(line, digest_size=8).digest(), "little")


def fingerprint(columns, rows):
    """Fingerprint of `rows` (tuples in `columns` order), columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    sums = [([], [], []) for _ in order]
    n, digest = 0, 0
    for r in rows:
        n += 1
        cells = [r[i] for i in order]
        keys = ["f" if is_float(c) and not math.isnan(float(c)) else canon(c) for c in cells]
        h = row_hash(keys)
        digest = (digest + h) & MASK
        weight = 1 + h / 2.0 ** 64
        for j, c in enumerate(cells):
            if keys[j] == "f":
                v = float(c)
                sums[j][0].append(v)
                sums[j][1].append(abs(v))
                sums[j][2].append(weight * v)
    stats = tuple(tuple(math.fsum(x) for x in s) if s[0] else None for s in sums)
    return (tuple(sorted(columns)), n, digest, stats)


def of_relation(rel, batch=50_000):
    """Fingerprint of a DuckDB relation, streamed in batches."""
    cols = list(rel.columns)

    def rows():
        while True:
            chunk = rel.fetchmany(batch)
            if not chunk:
                return
            yield from chunk
    return fingerprint(cols, rows())


def compare(got, want):
    """None when the fingerprints match, else what differs."""
    if got[0] != want[0]:
        return f"columns {list(got[0])} != oracle {list(want[0])}"
    if got[1] != want[1]:
        return f"{got[1]} rows != oracle {want[1]}"
    if got[2] != want[2]:
        return f"values differ ({got[1]} rows, digest {got[2]:016x} != {want[2]:016x})"
    for col, a, b in zip(got[0], got[3], want[3]):
        if (a is None) != (b is None):
            return f"column {col} is floating-point on one side only"
        if a is not None:
            tol = REL_TOL * max(a[1], b[1]) + 1e-12
            if abs(a[0] - b[0]) > tol or abs(a[2] - b[2]) > 2 * tol:
                return f"column {col} values differ (sum {a[0]!r}, oracle {b[0]!r})"
    return None
