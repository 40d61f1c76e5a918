"""Time-bucketed aggregation — the core History API operator family
(SURVEY §2.3 A1-A9, A13-A15).

Reference semantics: every aggregation is a tumbling-window group-by keyed on
``floor(epoch_ms(ts)/R)*R`` (src/HistoryAPI.ts:1776-1777); methods are
average | min | max | first | last | mid(median) | middle_index, with angular
paths (metadata units=='rad') vector-averaged (src/HistoryAPI.ts:2392-2554).

Spark mapping notes:
  - first/last: DuckDB's FIRST/LAST see arrival order; Spark's F.first is
    nondeterministic under shuffles. We use min_by/max_by(value, ts) — the
    deterministic reading the reference relies on in practice (files are
    written time-sorted).
  - The groupBy is a single hash-aggregate with map-side partial aggregation;
    at 100 TB the shuffle key (group_cols, bucket) is high-cardinality and
    well distributed, so no salting is needed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.angular import angular_avg
from ..functions.time import as_utc_timestamp, bucket_iso

#: methods accepted by the History API `paths=<p>:<method>` grammar
METHODS = ("average", "min", "max", "first", "last", "mid", "middle_index", "count", "sum")


def method_agg(method: str, value: Column, ts: Column, *, angular: bool = False) -> Column:
    """One bucket-level aggregate expression for a History API method."""
    if angular and method == "average":
        return angular_avg(value)
    if method == "average":
        return F.avg(value)
    if method == "min":
        return F.min(value)
    if method == "max":
        return F.max(value)
    if method == "first":
        return F.min_by(value, ts)
    if method == "last":
        return F.max_by(value, ts)
    if method == "mid":
        return F.median(value)
    if method == "middle_index":
        # exact middle-by-index (the reference documents this but falls back
        # to FIRST with a TODO at src/HistoryAPI.ts:2537-2541; we implement
        # the documented semantics)
        arr = F.sort_array(F.collect_list(F.struct(ts.alias("ts"), value.alias("v"))))
        return F.element_at(arr, (F.floor(F.size(arr) / 2) + 1).cast("int"))["v"]
    if method == "count":
        return F.count(value)
    if method == "sum":
        return F.sum(value)
    raise ValueError(f"unknown aggregation method: {method}")


def bucketed_agg(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    resolution_ms: int,
    method: str = "average",
    *,
    angular: bool = False,
) -> DataFrame:
    """GROUP BY tumbling bucket with one History API method → (bucket_ts,
    value).

    Emits the bucket as the reference's ISO-8601 Z string. The value column
    is try-cast to double for numeric methods (reference applies TRY_CAST at
    every read site, src/HistoryAPI.ts:2429).
    """
    ts = as_utc_timestamp(ts_col)
    v = F.col(value_col)
    if method not in ("first", "last", "middle_index", "count"):
        v = v.cast("double")
    return (
        df.groupBy(bucket_iso(ts_col, resolution_ms).alias("bucket_ts"))
        .agg(method_agg(method, v, ts, angular=angular).alias("value"))
    )


def bucketed_stats(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    resolution_ms: int,
    group_cols: Sequence[str] = (),
    exact_avg: bool = False,
) -> DataFrame:
    """Full rollup-tier stat set per bucket: avg/min/max/count + first/last
    timestamps (the tier schema, reference README.md:548-562).

    ``exact_avg=True`` computes the average in exact integer micro-units
    (registry.micro_avg — summation-ORDER-independent, so the value is
    identical on every engine/partitioning; the r8 sf0.1 finding). The
    float default is fine for production rollups; gates that value-hash
    against another engine should pass True."""
    from ..registry import micro_avg

    ts = as_utc_timestamp(ts_col)
    v = F.col(value_col).cast("double")
    return (
        df.groupBy(*group_cols, bucket_iso(ts_col, resolution_ms).alias("bucket_ts"))
        .agg(
            (micro_avg(v) if exact_avg else F.avg(v)).alias("value_avg"),
            F.min(v).alias("value_min"),
            F.max(v).alias("value_max"),
            F.count(v).alias("sample_count"),
            F.date_format(F.min(ts), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("first_timestamp"),
            F.date_format(F.max(ts), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("last_timestamp"),
        )
    )
