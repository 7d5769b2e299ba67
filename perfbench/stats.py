"""Order statistics and the result line's rules (no Spark needed)."""

from __future__ import annotations

import json
import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

#: A tail percentile is reported only with at least this many samples
#: beyond it (the p90 of 100 ops has 10 beyond it).
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    ranked = sorted(values)
    return ranked[max(0, math.ceil(q / 100 * len(ranked)) - 1)]


def tail_percentile(n: int) -> int | None:
    """The highest of p90 / p75 that keeps ``MIN_BEYOND`` samples beyond
    it in ``n`` samples, or None."""
    for q in (90, 75):
        if n * (100 - q) / 100 >= MIN_BEYOND:
            return q
    return None


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]], declared: dict[str, str]) -> str:
    """The final stdout line.  Every metric must be declared (name →
    unit) and every declared metric present."""
    if set(metrics) != set(declared):
        raise ValueError(
            f"metrics {sorted(metrics)} do not match declared {sorted(declared)}"
        )
    for name, (value, unit) in metrics.items():
        if not NAME_RE.fullmatch(name) or unit != declared[name]:
            raise ValueError(f"bad metric {name!r} ({unit!r})")
        if not math.isfinite(value):
            raise ValueError(f"metric {name} is not finite: {value}")
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    })
