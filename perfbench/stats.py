"""Order statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

#: Samples that must lie beyond a reported percentile.
MIN_BEYOND = 10


def min_samples(q: float) -> int:
    """Fewest samples for which at least ``MIN_BEYOND`` lie beyond the
    ``q`` quantile (0 < q < 1)."""
    return math.ceil(MIN_BEYOND / (1.0 - q) - 1e-9)


def percentile(values: list[float], q: float) -> float:
    """The ``q`` quantile (nearest rank) of ``values``.

    Refuses (ValueError) when fewer than ``MIN_BEYOND`` samples lie
    beyond it: a tail figure resting on a handful of samples moves with
    every outlier."""
    n = len(values)
    if n < min_samples(q):
        raise ValueError(
            f"p{q * 100:g} needs >= {min_samples(q)} samples "
            f"({MIN_BEYOND} beyond it); got {n}")
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * n) - 1)]


def drift_ratio(values: list[float], kinds: list[str]) -> float:
    """Warm-up self-report: for each op kind, the median latency of its
    later half of samples (in run order) over the median of its earlier
    half; the median of those ratios over kinds.  Comparing each kind
    with itself keeps the mix of kinds out of the figure.  Near 1.0
    when the timed window has no trend; well below 1.0 when the run was
    still warming up."""
    by_kind: dict[str, list[float]] = {}
    for v, k in zip(values, kinds):
        by_kind.setdefault(k, []).append(v)
    ratios = [statistics.median(vs[-(len(vs) // 2):])
              / statistics.median(vs[:len(vs) // 2])
              for vs in by_kind.values() if len(vs) >= 2]
    if not ratios:
        raise ValueError("drift needs at least two samples of one kind")
    return statistics.median(ratios)
