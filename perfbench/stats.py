"""Pure helpers of the benchmark: result hashing, percentiles, failure
share and interval arithmetic. No Spark import, so the self-tests and the
parent process use them without starting a JVM."""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
from collections.abc import Iterable, Sequence


def _canon(v) -> str:
    """One value as a type-loose canonical string: ints and floats that
    are equal print alike (engines disagree on BIGINT vs DOUBLE for the
    same aggregate), floats keep 12 significant digits (both sides round
    before the hash; this absorbs last-bit representation noise),
    timestamps print at microsecond precision in ISO form."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        if f == 0.0:
            return "0"
        return "%.12g" % f
    if isinstance(v, int):
        return "%.12g" % v if abs(v) >= 10**12 else str(v)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "asDict"):  # pyspark Row (struct value)
        return _canon(v.asDict(recursive=True))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def result_hash(columns: Sequence[str], rows: Iterable[Sequence]) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result: columns sorted by
    name, each row canonicalised, the sorted row strings hashed."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1d" + line.encode())
    return len(lines), h.hexdigest()[:16]


# The tail percentile is the highest one with at least this many samples
# beyond it.
TAIL_BEYOND = 10


def tail_percentile(n: int) -> float | None:
    """The highest percentile (in steps of 0.5) with at least
    ``TAIL_BEYOND`` of ``n`` samples strictly above its rank; None when n
    is too small."""
    if n <= TAIL_BEYOND:
        return None
    best = None
    p = 0.5
    while p < 100.0:
        if n - math.ceil(p / 100.0 * n) >= TAIL_BEYOND:
            best = p
        p += 0.5
    return best


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the value at rank ceil(p/100 * n)."""
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def op_tail(values: Sequence[float]) -> tuple[float, float]:
    """(percentile, value) of the tail latency under the ``TAIL_BEYOND``
    rule. With fewer than ``2 * TAIL_BEYOND`` samples no percentile at or
    above the median has that many samples past it; the tail is then the
    maximum."""
    p = tail_percentile(len(values))
    if p is None or p < 50.0:
        return 100.0, max(values)
    return p, percentile(values, p)


def failed_frac(attempted: int, exceptions: int, wrong: int) -> float:
    """(exceptions + wrong results) / ops attempted."""
    if attempted <= 0:
        raise ValueError("no ops attempted")
    return (exceptions + wrong) / attempted


def union_length(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Total length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap(op_start: float, op_end: float, jobs: Iterable[tuple[float, float]]) -> float:
    """Wall time of an op during which none of its Spark jobs ran."""
    return (op_end - op_start) - union_length(jobs, op_start, op_end)


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the union of its
    children's intervals. Spans are dicts with ``id``, ``parent``,
    ``start`` and ``end``; children may overlap each other."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(kids.get(s["id"], ()), s["start"], s["end"])
        for s in spans
    }

