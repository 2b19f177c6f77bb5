"""Arithmetic the benchmark reports: percentiles, failure rates, the
order-insensitive result hash, and span self time.  Pure Python, no Spark,
so the self-consistency tests can pin every rule."""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
import statistics


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]) of a non-empty list."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """The highest of p99 / p90 that has at least ten samples beyond it,
    as ``(q, value)``; ``None`` when fewer than 100 samples exist."""
    for q in (99, 90):
        if len(values) * (100 - q) / 100.0 >= 10:
            return q, percentile(values, q)
    return None


def summarize(values: list[float]) -> dict:
    """``{"n", "p50"}`` plus ``"p90"``/``"p99"`` when the tail rule allows."""
    out: dict = {"n": len(values)}
    if values:
        out["p50"] = statistics.median(values)
        tail = tail_percentile(values)
        if tail is not None:
            out[f"p{tail[0]}"] = tail[1]
    return out


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values: every operation weighs the same
    in relative terms, so a faster short op moves it as much as a faster
    long one."""
    if not values:
        raise ValueError("geometric mean of no samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def error_rate(attempted: int, failed: int) -> float:
    """Failed operations over attempted ones (exception, wrong row count
    and hash mismatch all count as failed)."""
    if attempted < 1:
        raise ValueError("error rate needs at least one attempted operation")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


# --- result hashing ----------------------------------------------------------


def canon(v) -> str:
    """Engine-neutral text form of one value: Spark ``Row`` fields and
    DuckDB tuples of the same logical value map to the same string.
    Integral numbers of any type print as integers, others as ``repr`` of
    the float."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, decimal.Decimal)):
        if isinstance(v, float) and math.isnan(v):
            return "nan"
        if isinstance(v, float) and math.isinf(v):
            return "inf" if v > 0 else "-inf"
        if v == int(v):
            return str(int(v))
        return repr(float(v))
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return "b:" + bytes(v).hex()
    return "s:" + str(v)


def result_hash(columns: list[str], rows: list) -> tuple[int, str]:
    """``(row_count, hash)`` of a result, insensitive to row order and to
    column order (columns are sorted by name before hashing)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    digests = sorted(
        hashlib.sha1("\x1f".join(canon(row[i]) for i in order).encode()).hexdigest()
        for row in rows
    )
    h = hashlib.sha256(",".join(columns[i] for i in order).encode())
    for d in digests:
        h.update(d.encode())
    return len(rows), h.hexdigest()[:32]


# --- spans -------------------------------------------------------------------


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """``{span id: duration minus the part of it its children cover}`` for
    spans carrying ``id``, ``parent``, ``start`` and ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }
