"""Summary statistics the benchmark reports (no Spark, no I/O)."""

from __future__ import annotations

import math
import statistics
from collections.abc import Sequence


def median(values: Sequence[float]) -> float:
    """Median; 0.0 for no samples (a layer that did not run reports 0)."""
    return float(statistics.median(values)) if values else 0.0


def geomean(values: Sequence[float]) -> float:
    """Geometric mean of positive values; 0.0 for no samples."""
    if not values:
        return 0.0
    if min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def failed_frac(failed: int, attempted: int) -> float:
    """Failed operations as a share of attempted ones."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    return failed / attempted
