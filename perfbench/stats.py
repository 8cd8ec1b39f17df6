"""Metric names and the result-line format."""

from __future__ import annotations

import json
import re

#: A metric name: starts with a letter or digit; letters, digits, ``_.-``.
_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_name(name: str) -> bool:
    return bool(_NAME.fullmatch(name))


def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> str:
    """The benchmark's last stdout line: ``{"correct", "attempted",
    "failed", "metrics": {name: {"value", "unit"}}}``."""
    bad = [n for n in metrics if not valid_name(n)]
    if bad:
        raise ValueError(f"invalid metric names: {bad}")
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {n: {"value": float(v), "unit": u} for n, (v, u) in metrics.items()},
    })
