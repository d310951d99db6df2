"""Reducers and the metric record the benchmark prints."""

from __future__ import annotations

import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """The ``p``-th percentile (nearest rank) of ``values``.  Refuses
    when fewer than MIN_BEYOND samples lie beyond it, because such a
    tail value is one or two outliers, not a percentile."""
    if not 0 < p < 100:
        raise ValueError(f"percentile {p} outside (0, 100)")
    n = len(values)
    rank = math.ceil(p / 100 * n)
    if n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{p:g} of {n} samples has {max(n - rank, 0)} beyond it; "
            f"needs at least {MIN_BEYOND}"
        )
    return sorted(values)[rank - 1]


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


class Metrics:
    """Named metrics, each with a unit; names and units are checked
    when added so a typo cannot reach the result line."""

    def __init__(self) -> None:
        self._m: dict[str, dict] = {}

    def add(self, name: str, value: float, unit: str) -> None:
        if not NAME_RE.fullmatch(name):
            raise ValueError(f"bad metric name {name!r}")
        if not UNIT_RE.fullmatch(unit):
            raise ValueError(f"bad unit {unit!r} for {name}")
        if name in self._m:
            raise ValueError(f"metric {name} added twice")
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            raise ValueError(f"metric {name} has non-finite value {value!r}")
        self._m[name] = {"value": value, "unit": unit}

    def as_dict(self) -> dict[str, dict]:
        return dict(self._m)
