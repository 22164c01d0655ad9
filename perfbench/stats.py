"""Sample statistics and the result line the benchmark prints."""

from __future__ import annotations

import json
import math
import re

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

#: A percentile is reported only when at least this many samples lie
#: strictly beyond it.
MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs: list[float], p: float) -> float | None:
    """Nearest-rank ``p``-th percentile (0 < p < 100), or None when fewer
    than :data:`MIN_BEYOND` samples lie beyond it."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return None
    rank = max(1, math.ceil(p / 100 * n))
    if n - rank < MIN_BEYOND:
        return None
    return s[rank - 1]


def result_line(
    correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]
) -> str:
    """The benchmark's last stdout line: one JSON object with every
    metric's value and unit. Names and units are validated here so a
    malformed metric fails the run instead of the parser."""
    out = {}
    for name, (value, unit) in metrics.items():
        if not NAME_RE.fullmatch(name):
            raise ValueError(f"bad metric name {name!r}")
        if not UNIT_RE.fullmatch(unit):
            raise ValueError(f"bad unit {unit!r} for {name}")
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            raise ValueError(f"bad value {value!r} for {name}")
        out[name] = {"value": value, "unit": unit}
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": out,
        },
        separators=(",", ":"),
    )
