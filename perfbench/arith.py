"""The benchmark's own arithmetic, kept free of Spark so it can be unit-tested.

- ``tail``: the highest percentile that still has at least ten samples
  beyond it at the run's sample count.
- ``union_length``: total length covered by a set of time intervals,
  optionally clipped to a window (job intervals -> driver gap).
- ``self_times``: a span's duration minus the part of it its child spans
  cover.
- ``pass_order``: the seed -> query-order permutation of one timed pass.
- ``spread``: interquartile range over median, the steadiness measure for
  a set of runs.
"""

from __future__ import annotations

import random
import statistics
from collections.abc import Iterable, Sequence

TAIL_BEYOND = 10


def tail(samples: Sequence[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """``(value, percentile, n)`` for the highest order statistic that has at
    least ``beyond`` samples above it in sorted order.

    With ``n`` samples the value is the ``(n - beyond)``-th smallest, which
    sits at percentile ``100 * (n - beyond) / n``: p90 at 100 samples, p50 at
    20. Raises ``ValueError`` below ``beyond + 1`` samples, where no such
    percentile exists.
    """
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"tail needs more than {beyond} samples, got {n}")
    ordered = sorted(samples)
    return ordered[n - beyond - 1], 100.0 * (n - beyond) / n, n


def union_length(
    intervals: Iterable[tuple[float, float]], window: tuple[float, float] | None = None
) -> float:
    """Length of the union of ``[start, end]`` intervals, clipped to
    ``window`` when given. Empty and inverted intervals add nothing."""
    spans = []
    for start, end in intervals:
        if window is not None:
            start, end = max(start, window[0]), min(end, window[1])
        if end > start:
            spans.append((start, end))
    spans.sort()
    total, cur_start, cur_end = 0.0, None, None
    for start, end in spans:
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time per span id: duration minus the union of its children's
    intervals inside it. Each span is a dict with ``id``, ``parent`` (an id
    or ``None``), ``start`` and ``end``; children running in parallel
    threads are not double-subtracted."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(children.get(s["id"], ()), (s["start"], s["end"]))
        for s in spans
    }


def pass_order(names: Sequence[str], seed: int, pass_index: int) -> list[str]:
    """The query order of timed pass ``pass_index`` under ``seed``: a
    permutation of ``names`` that depends only on those three inputs."""
    rng = random.Random(f"{seed}/{pass_index}")
    order = list(names)
    rng.shuffle(order)
    return order


def spread(values: Sequence[float]) -> float:
    """Interquartile range over median (``statistics.quantiles``, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0
