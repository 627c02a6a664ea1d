"""Summaries of repeated measurements, and the metric-name grammar."""

from __future__ import annotations

import math
import re
import statistics
from typing import Dict, Optional, Sequence

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

# percentiles a latency may be reported at, lowest first
PERCENTILES = (50, 75, 90, 95, 99)
# a percentile is reported only with this many samples beyond it
TAIL_SAMPLES = 10


def check_name(name: str) -> str:
    if not NAME_RE.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def check_unit(unit: str) -> str:
    if not UNIT_RE.fullmatch(unit):
        raise ValueError(f"bad metric unit {unit!r}")
    return unit


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(n: int) -> Optional[int]:
    """Highest of PERCENTILES that leaves at least TAIL_SAMPLES of n
    samples beyond it; None when not even the median does."""
    best = None
    for p in PERCENTILES:
        if n - math.ceil(p / 100.0 * n) >= TAIL_SAMPLES:
            best = p
    return best


def summary(values: Sequence[float]) -> Dict[str, float]:
    """Median, quartiles and sample count of repeated measurements."""
    xs = list(values)
    if len(xs) >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4)
    else:
        q1 = q3 = xs[0]
    return {"median": statistics.median(xs), "q1": q1, "q3": q3, "n": len(xs)}
