"""Summary statistics and the result line."""

from __future__ import annotations

import json
from statistics import median


def failed_frac(attempted: int, failed: int) -> float:
    """Ops that raised or failed their check over ops attempted."""
    if attempted < 1:
        raise ValueError("no op was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def med(values: list[float]) -> float:
    return median(values) if values else 0.0


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    """The benchmark's last stdout line."""
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })
