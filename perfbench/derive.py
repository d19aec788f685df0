"""Pure derivations of the benchmark: percentiles, spreads, span self
time and result comparison. No Spark, no clock, no I/O, so every
function here is unit-tested in isolation
(``perfbench/tests/test_derive.py``).
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Mapping, Sequence
from decimal import Decimal


def nearest_rank(values: Sequence[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``q`` of the samples at or below it (``q`` in (0, 1])."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0.0 < q <= 1.0:
        raise ValueError(f"quantile must be in (0, 1], got {q}")
    ordered = sorted(values)
    return ordered[max(1, math.ceil(q * len(ordered))) - 1]


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, as ``statistics.quantiles(values, n=4)``
    gives the quartiles."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf


def self_times(spans: Sequence[Mapping]) -> dict[int, float]:
    """Self time per span id: its duration minus the union of its direct
    children's intervals (clipped to the parent), so overlapping
    children are not subtracted twice. Spans are mappings with ``id``,
    ``parent`` (None for roots), ``t0`` and ``t1``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    out = {}
    for s in spans:
        t0, t1 = s["t0"], s["t1"]
        covered, end = 0.0, t0
        for c0, c1 in sorted(children.get(s["id"], [])):
            c0, c1 = max(c0, end), min(c1, t1)
            if c1 > c0:
                covered += c1 - c0
                end = c1
        out[s["id"]] = (t1 - t0) - covered
    return out


def _canon(v):
    if isinstance(v, Decimal):
        v = float(v)
    if v is None:
        return (0, "")
    if isinstance(v, float):
        if math.isnan(v):
            return (1, "nan")
        if math.isinf(v):
            return (3, v)
        if v == int(v) and abs(v) < 2 ** 53:
            return (2, int(v))
        return (3, round(v, 9))
    if isinstance(v, bool):
        return (2, int(v))
    if isinstance(v, int):
        return (2, v)
    return (4, str(v))


def canonical_rows(columns: Sequence[str],
                   rows: Iterable[Sequence]) -> list[tuple]:
    """Order-insensitive canonical form of a result: columns sorted by
    name, each value normalized (ints and integral floats compare
    equal, floats rounded to 9 places, NULL and NaN distinct), rows
    sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def same_result(cols_a: Sequence[str], rows_a: Iterable[Sequence],
                cols_b: Sequence[str], rows_b: Iterable[Sequence]) -> str:
    """'' when the two results match as multisets of rows over the same
    column names, else a one-line reason."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns differ: {sorted(cols_a)} vs {sorted(cols_b)}"
    a, b = canonical_rows(cols_a, rows_a), canonical_rows(cols_b, rows_b)
    if len(a) != len(b):
        return f"row count {len(a)} vs {len(b)}"
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return f"first differing row {i}: {x} vs {y}"
    return ""
