"""Pure statistics and naming helpers for the benchmark (no Spark)."""

from __future__ import annotations

import math
import re

#: A percentile is reported only with this many samples beyond it.
MIN_TAIL_SAMPLES = 10

_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def valid_metric_name(name: str) -> bool:
    """Metric and workload names: a letter or digit first, then at most
    63 more of ``[A-Za-z0-9_.-]``."""
    return bool(_NAME.match(name))


def percentile(values: list[float], q: float) -> float | None:
    """The *q*-th percentile (0 < q < 100, nearest-rank), or None when
    fewer than :data:`MIN_TAIL_SAMPLES` samples lie beyond it."""
    n = len(values)
    if not 0 < q < 100 or n == 0:
        raise ValueError(f"percentile needs 0 < q < 100 and samples, got q={q}, n={n}")
    rank = math.ceil(q / 100 * n)  # 1-based nearest rank
    if n - rank < MIN_TAIL_SAMPLES:
        return None
    return sorted(values)[rank - 1]


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))

