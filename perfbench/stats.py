"""Percentiles under the benchmark's sample rule."""

from __future__ import annotations

import math

MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q`` percentile of ``values``.

    A percentile is reported only when at least ``MIN_BEYOND`` samples lie
    beyond it; with fewer, the tail is not supported by the sample and
    ``ValueError`` is raised.  Failed requests enter as ``inf`` so that they
    count as missing any latency limit."""
    if not 0 < q < 1:
        raise ValueError(f"percentile rank {q} outside (0, 1)")
    v = sorted(values)
    rank = math.ceil(q * len(v))
    if rank < 1 or len(v) - rank < MIN_BEYOND:
        raise ValueError(
            f"p{q * 100:g} needs {MIN_BEYOND} samples beyond it; {len(v)} samples give {len(v) - rank}"
        )
    return v[rank - 1]
