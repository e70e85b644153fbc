"""Summary statistics used by the benchmark (stdlib only)."""

from __future__ import annotations


def ratio(num: float, den: float) -> float:
    """num / den, or 0.0 when there is nothing to divide by (a layer the
    workload did not exercise)."""
    return float(num) / float(den) if den else 0.0
