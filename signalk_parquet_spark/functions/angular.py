"""Angular (circular) statistics as native Column expressions.

The reference vector-averages any path whose SignalK metadata says
``units == 'rad'``: ``ATAN2(AVG(SIN(v)), AVG(COS(v)))``
(reference: src/HistoryAPI.ts:2543-2551, src/utils/angular-paths.ts:20-32).
The sin/cos partial state persisted in rollup tiers and its lossless
re-aggregation live with the tier definition in operators/rollup.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def angular_avg(value: Column | str) -> Column:
    """Vector (circular) mean of an angle column in radians. Result in
    (-pi, pi], e.g. mean(10deg, 350deg) == 0deg, not 180deg."""
    v = F.col(value) if isinstance(value, str) else value
    return F.atan2(F.avg(F.sin(v)), F.avg(F.cos(v)))
