"""Summary statistics and the metric contract of ``BENCHMARK.json``."""

from __future__ import annotations

import math

#: samples the tail percentile must leave above it
TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (0 <= q <= 1) of ``values``."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def interquartile_rate(latencies_ms: list[float]) -> float:
    """Ops per second over the middle half of the op latencies.

    With one closed-loop client this is the rate the loop sustains with
    its fastest and slowest quarter of ops set aside, so a burst of host
    CPU steal over part of a window moves it less than a plain count of
    ops over the window's wall time.  Below four samples every op counts."""
    if not latencies_ms:
        raise ValueError("rate of no ops")
    xs = sorted(latencies_ms)
    k = len(xs) // 4
    mid = xs[k : len(xs) - k]
    return len(mid) * 1000.0 / sum(mid)


def tail_quantile(n: int) -> float:
    """The highest quantile with ``TAIL_SAMPLES`` samples above it,
    ``1 - 10/n``.  Below 20 samples no quantile above the median has ten
    samples beyond it, so the rule falls back to the median."""
    if n < 1:
        raise ValueError("tail quantile of no samples")
    return max(0.5, 1.0 - TAIL_SAMPLES / n)


def check_metrics(metrics: dict, contract: dict, trace: bool) -> None:
    """Raise ValueError unless ``metrics`` holds exactly the metric names
    that ``contract`` declares for this kind of run, each with its unit and
    a finite value."""
    declared = contract["per_layer"] if trace else contract["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    missing = sorted(set(units) - set(metrics))
    extra = sorted(set(metrics) - set(units))
    if missing or extra:
        raise ValueError(f"metric names differ: missing={missing} extra={extra}")
    for name, m in metrics.items():
        if m["unit"] != units[name]:
            raise ValueError(f"{name}: unit {m['unit']!r} != {units[name]!r}")
        if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"]):
            raise ValueError(f"{name}: value {m['value']!r} is not a finite number")
