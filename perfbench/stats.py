"""Summary statistics used by the benchmark's metrics."""

from __future__ import annotations

import math


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile that leaves at least ``beyond`` of
    ``n`` samples strictly above its nearest-rank position, or ``None``
    when ``n`` is too small for any percentile to qualify."""
    for p in range(99, 0, -1):
        if n - math.ceil(p * n / 100) >= beyond:
            return p
    return None


def quantile(values: list[float], q: float, grid: int = 4000) -> float:
    """Harrell-Davis estimate of the ``q``-quantile of ``values``.

    It is a weighted mean of all order statistics: the ``i``-th of ``n``
    weighs the mass of Beta(q(n+1), (1-q)(n+1)) over ``[i/n, (i+1)/n]``,
    integrated here by the midpoint rule on ``grid`` points.  A single
    order statistic jumps by the whole gap when the quantile falls between
    two clusters of values, as op-step latencies do (short plan
    constructions, longer actions); this estimate moves smoothly."""
    x = sorted(values)
    n = len(x)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    log_norm = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    w = [0.0] * n
    for k in range(grid):
        t = (k + 0.5) / grid
        w[int(t * n)] += math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t) - log_norm)
    return sum(wi * xi for wi, xi in zip(w, x)) / sum(w)


def tail(values: list[float], n: int | None = None, beyond: int = 10) -> tuple[float, int | None]:
    """``(latency, percentile)`` at the tail rule applied to ``n`` samples
    (default: all of ``values``), estimated by ``quantile``; falls back to
    the maximum (percentile ``None``) when there are too few samples.

    Passing the sample count every run is guaranteed to reach keeps the
    percentile fixed when a faster program fits more samples in a run."""
    p = tail_percentile(len(values) if n is None else n, beyond)
    if p is None:
        return max(values), None
    return quantile(values, p / 100), p
