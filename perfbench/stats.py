"""The benchmark's one median definition: ``statistics.median``, the
mean of the two middle values for an even count. Every median the
benchmark reports (warm runs, trigger times, peak memory) goes through
:func:`median`.
"""

from __future__ import annotations

import statistics
from collections.abc import Sequence


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of an empty sample")
    return statistics.median(values)
