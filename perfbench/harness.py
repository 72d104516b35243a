"""Harness pieces that do not touch Spark: logging, percentiles and the
order-insensitive output fingerprint."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import sys

def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not values:
        return float("nan")
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# -- output fingerprint ----------------------------------------------------
# Non-float cells are hashed exactly; float cells feed per-column sums that
# are compared with a relative tolerance, because Spark may add partial
# aggregates in a different order from run to run.
FLOAT_RTOL = 1e-6


def _canon(v, floats: list[float], parts: list[str]) -> None:
    if v is None:
        parts.append("null")
    elif isinstance(v, bool):
        parts.append("true" if v else "false")
    elif isinstance(v, float):
        parts.append("f")
        if math.isnan(v):
            floats[1] += 1
        elif math.isinf(v):
            parts.append("+inf" if v > 0 else "-inf")
        else:
            floats[0] += 1
            floats[2] += v
            floats[3] += abs(v)
    elif isinstance(v, int):
        parts.append(str(v))
    elif isinstance(v, str):
        parts.append(repr(v))
    elif isinstance(v, (bytes, bytearray, memoryview)):
        parts.append(hashlib.sha1(bytes(v)).hexdigest())
    elif isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        parts.append(v.isoformat())
    elif isinstance(v, (datetime.date, decimal.Decimal)):
        parts.append(str(v))
    elif isinstance(v, dict):
        parts.append("{")
        for key in sorted(v, key=repr):
            _canon(key, floats, parts)
            _canon(v[key], floats, parts)
        parts.append("}")
    elif isinstance(v, (list, tuple)):
        parts.append("[")
        for x in v:
            _canon(x, floats, parts)
        parts.append("]")
    elif hasattr(v, "tolist"):  # numpy scalar or array
        _canon(v.tolist(), floats, parts)
    elif hasattr(v, "to_pydatetime"):  # pandas Timestamp
        _canon(v.to_pydatetime(), floats, parts)
    else:
        parts.append(repr(v))


def fingerprint(rows: list, columns: list[str]) -> dict:
    """Row count, column names, an order-insensitive hash of the exact
    cells and per-column float sums of ``rows`` (Spark ``Row`` tuples)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    floats = {columns[i]: [0.0, 0.0, 0.0, 0.0] for i in order}
    acc = 0
    for row in rows:
        parts: list[str] = []
        for i in order:
            _canon(row[i], floats[columns[i]], parts)
        digest = hashlib.sha1("\x1f".join(parts).encode()).digest()
        acc = (acc + int.from_bytes(digest[:8], "big")) % 2 ** 64
    return {
        "rows": len(rows),
        "columns": [columns[i] for i in order],
        "hash": f"{acc:016x}",
        "floats": {c: v for c, v in floats.items() if v[0] or v[1]},
    }


def same_fingerprint(got: dict, want: dict) -> bool:
    if (got["rows"], got["columns"], got["hash"]) != (want["rows"], want["columns"], want["hash"]):
        return False
    if got["floats"].keys() != want["floats"].keys():
        return False
    for col, (n, nans, total, absolute) in want["floats"].items():
        g = got["floats"][col]
        if (g[0], g[1]) != (n, nans):
            return False
        tol = FLOAT_RTOL * max(1.0, absolute)
        if abs(g[2] - total) > tol or abs(g[3] - absolute) > tol:
            return False
    return True
