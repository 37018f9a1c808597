"""The cross-engine decimal grid: the one Spark-side spelling of half-up.

A fractional value both engines must agree on bit for bit is snapped
onto a grid of step ``1/scale`` as ``floor(x * scale + 0.5)``. The
DuckDB oracle SQL spells the same ``floor(x*10^k + 0.5)``; ``round()``
is never used, since the engines break an exact half-grid tie
differently (USAGE.md, "The decimal grid").

``scale`` is used as given. A Python int and a float build different
Catalyst trees: on a bigint column ``x * 1000000`` is bigint
arithmetic (it can overflow under ANSI), ``x * 1e6`` is double.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def snap(col: Column, scale=1e6) -> Column:
    """``col`` rounded half-up to the nearest multiple of ``1/scale``."""
    return F.floor(col * scale + F.lit(0.5)) / scale


def units(col: Column, scale=1e6) -> Column:
    """``col`` rounded half-up to a bigint count of ``1/scale`` steps.

    ``scale=1`` takes ``col`` as already counted in grid steps (the
    product of scaled factors) and emits no multiply.
    """
    scaled = col if isinstance(scale, int) and scale == 1 else col * scale
    return F.floor(scaled + F.lit(0.5)).cast("bigint")
