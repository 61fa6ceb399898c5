"""Independent references and statistics. Pure Python: no Spark.

The fold here is written from the change-log semantics alone (latest
change by lsn wins; a delete removes the key; a column announced
mid-stream reads null on rows last written before it existed). It
shares no code with ``cdc_spark.cdc.merge``.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence
from decimal import Decimal

from perfbench.gen import Change


def fold(changes: Iterable[Change]) -> dict[int, dict]:
    """Latest-wins fold: key -> final image (column -> text value)."""
    state: dict[int, tuple[int, dict | None]] = {}
    for c in changes:
        prev = state.get(c.key)
        if prev is None or c.lsn > prev[0]:
            state[c.key] = (c.lsn, None if c.op == "d" else c.image)
    return {k: img for k, (_, img) in state.items() if img is not None}


def typed_rows(
    state: dict[int, dict], payload: Sequence[str]
) -> dict[int, tuple]:
    """Fold output in the engine's typed form: key -> payload tuple,
    with absent columns as None and ``bal`` as a float."""
    out = {}
    for k, img in state.items():
        out[k] = tuple(
            float(img[c]) if c == "bal" else img.get(c) for c in payload
        )
    return out


def aggregate(state: dict[int, dict]) -> dict[str, tuple[int, float]]:
    """Per-segment row count and exact balance sum (as float)."""
    n: dict[str, int] = {}
    total: dict[str, Decimal] = {}
    for img in state.values():
        seg = img["seg"]
        n[seg] = n.get(seg, 0) + 1
        total[seg] = total.get(seg, Decimal(0)) + Decimal(img["bal"])
    return {seg: (n[seg], float(total[seg])) for seg in n}


def mismatched_keys(
    expected: dict[int, tuple], actual: dict[int, tuple]
) -> set[int]:
    """Keys missing on either side or with a different row."""
    return {
        k
        for k in expected.keys() | actual.keys()
        if expected.get(k) != actual.get(k)
    }


def percentile(values: Sequence[float], q: float) -> dict:
    """``q``-th percentile (0..100, linear interpolation between closest
    ranks) together with the sample count it rests on."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    value = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    return {"value": value, "n": len(xs)}


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(
    start: float, end: float, children: Iterable[tuple[float, float]]
) -> float:
    """A span's duration minus the part of it its children cover."""
    clipped = [
        (max(s, start), min(e, end)) for s, e in children if e > start and s < end
    ]
    return (end - start) - union_length(clipped)
