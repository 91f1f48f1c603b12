"""Sample statistics and result-format checks for the benchmark output."""

from __future__ import annotations

import math
import re
import statistics

MIN_BEYOND = 10

_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
_UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def check_name(name: str) -> str:
    """Return ``name`` if it is a valid metric or workload name, else raise."""
    if not isinstance(name, str) or not _NAME.fullmatch(name):
        raise ValueError(f"invalid metric name {name!r}")
    return name


def check_unit(unit: str) -> str:
    if not isinstance(unit, str) or not _UNIT.fullmatch(unit):
        raise ValueError(f"invalid unit {unit!r}")
    return unit


def percentile(samples: list[float], p: float) -> tuple[float, int]:
    """Nearest-rank ``p``-th percentile and the sample count it rests on.

    Refuses (``ValueError``) a percentile with fewer than ``MIN_BEYOND``
    samples ranked above it: such a tail is set by a handful of samples
    and moves with every run."""
    if not 0 < p < 100:
        raise ValueError(f"percentile {p} outside (0, 100)")
    n = len(samples)
    rank = max(1, math.ceil(p / 100 * n))
    beyond = n - rank
    if beyond < MIN_BEYOND:
        raise ValueError(
            f"p{p:g} of {n} samples has {beyond} beyond it; "
            f"need at least {MIN_BEYOND}"
        )
    return sorted(samples)[rank - 1], n


def highest_supported_percentile(
    samples: list[float], ladder: tuple[float, ...] = (99, 95, 90, 75, 50)
) -> tuple[float, float, int] | None:
    """(p, value, n) for the highest percentile of ``ladder`` that
    :func:`percentile` accepts, or None when even the lowest is refused."""
    for p in ladder:
        try:
            value, n = percentile(samples, p)
        except ValueError:
            continue
        return p, value, n
    return None


def relative_spread(values: list[float]) -> float:
    """Inter-quartile distance over the median (the benchmark's stability
    measure, as ``statistics.quantiles(values, n=4)`` gives the quartiles)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def worse_shift(first: list[float], second: list[float], better: str) -> float:
    """How much worse the second set's median is than the first's, as a
    share of the first; negative when it is better."""
    a, b = statistics.median(first), statistics.median(second)
    return (b - a) / a if better == "lower" else (a - b) / a
