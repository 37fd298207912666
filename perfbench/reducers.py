"""Pure reducers shared by the benchmark and its tests: medians,
quartile spreads, span self time and the order-insensitive result
fingerprint.  No Spark import here, so the tests run without a JVM."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import statistics
from collections import defaultdict


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of an empty sample")
    return statistics.median(xs)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) exactly as ``statistics.quantiles(xs, n=4)``
    gives them (the default 'exclusive' method)."""
    if len(xs) < 2:
        x = median(xs)
        return x, x, x
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else math.inf


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer spent in spans of that layer and not in their
    children.  A span is ``{"id", "parent", "layer", "start", "end"}``;
    children are the spans whose ``parent`` is its ``id``."""
    child_time: dict[object, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["layer"]] += (s["end"] - s["start"]) - child_time[s["id"]]
    return dict(out)


def _canon(v) -> str:
    """One cell as text that Spark's ``collect()`` and DuckDB's
    ``fetchall()`` render alike.  Floats and decimals keep 9
    significant digits, so a last-bit difference in a float sum's
    association order does not read as a wrong answer."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f) or math.isinf(f):
            return str(f)
        if f == int(f) and abs(f) < 2 ** 53:
            return str(int(f))
        return format(f, ".9g")
    if isinstance(v, (dt.datetime, dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}"
                              for k, x in sorted(v.items(), key=str)) + "}"
    if hasattr(v, "asDict"):            # pyspark Row for a struct value
        return _canon(v.asDict())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def fingerprint(columns: list[str], rows) -> dict:
    """Row count plus an order-insensitive SHA-256 of the rows, with
    the columns taken in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return {"rows": len(lines), "sha256": h.hexdigest()}
