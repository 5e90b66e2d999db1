"""Small statistics used by the runner: warm-up state, percentiles,
outliers."""

from __future__ import annotations

import math
import statistics

P90_MIN_SAMPLES = 100   # >= 10 samples lie beyond the 90th percentile
OUTLIER_K = 3.0         # outliers lie beyond OUTLIER_K IQRs of the quartiles


def settled(times: list[float], eps: float) -> bool:
    """The op time has stopped falling: the latest sample is no faster
    than every sample before it by more than `eps` (relative)."""
    return len(times) >= 2 and times[-1] >= (1.0 - eps) * min(times[:-1])


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 100])."""
    s = sorted(xs)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def p90_or_none(xs: list[float]) -> dict:
    """The p90 only when at least P90_MIN_SAMPLES samples support it;
    the sample count either way."""
    n = len(xs)
    return {"n": n, "value": percentile(xs, 90) if n >= P90_MIN_SAMPLES
            else None}


def outliers(xs: list[float]) -> list[dict]:
    """Samples beyond Q3 + k*IQR or below Q1 - k*IQR, k = OUTLIER_K
    (kept in the median, reported here)."""
    if len(xs) < 4:
        return []
    q1, _, q3 = statistics.quantiles(xs, n=4)
    lo, hi = q1 - OUTLIER_K * (q3 - q1), q3 + OUTLIER_K * (q3 - q1)
    return [{"index": i, "value": x} for i, x in enumerate(xs)
            if x < lo or x > hi]
