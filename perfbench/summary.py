"""Order statistics used by the report: the median and the tail
percentile that still has ten samples beyond it."""

from __future__ import annotations

import math
import statistics

import numpy as np


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ten of ``n`` samples above
    it, or None below eleven samples."""
    if n < 11:
        return None
    return int(math.floor(100.0 * (n - 10) / n))


def median(xs) -> float:
    """The median, or NaN for no samples."""
    return float(statistics.median(xs)) if len(xs) else float("nan")


def timing(samples: list[float]) -> dict:
    """{median, tail pct, tail value, n} for one timing series."""
    n = len(samples)
    out = {"median": median(samples),
           "n": n, "tail_pct": None, "tail": None}
    p = tail_percentile(n)
    if p is not None:
        out["tail_pct"] = p
        out["tail"] = float(np.percentile(samples, p))
    return out


def fmt_timing(name: str, unit: str, samples: list[float],
               scale: float = 1.0) -> str:
    t = timing([x * scale for x in samples])
    tail = (f"p{t['tail_pct']}={t['tail']:.4g}" if t["tail_pct"] is not None
            else "tail=n/a(<11 samples) samples="
            + ",".join(f"{x * scale:.6g}" for x in samples))
    return f"{name} [{unit}] median={t['median']:.6g} {tail} n={t['n']}"
