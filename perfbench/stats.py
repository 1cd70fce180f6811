"""Order statistics the benchmark reports, kept apart so they can be
tested on fixed samples."""
import math


def median(values):
    """Median; the mean of the two middle values for an even count."""
    v = sorted(values)
    if not v:
        raise ValueError("median of no values")
    mid = len(v) // 2
    return v[mid] if len(v) % 2 else (v[mid - 1] + v[mid]) / 2


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the values at or below it."""
    v = sorted(values)
    if not v or not 0 < p <= 100:
        raise ValueError("percentile needs values and 0 < p <= 100")
    return v[max(1, math.ceil(p / 100 * len(v))) - 1]


def warm_passes(passes, warmup):
    """The measured passes: all but the cold pass and the `warmup`
    passes after it.  Passes are indexed from 0 in the order they ran."""
    warm = [p for p in passes if p["index"] > warmup]
    if not warm:
        raise ValueError("no pass after the cold and warm-up passes")
    return warm
