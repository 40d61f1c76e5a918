"""Tier rollup materialization (SURVEY §2.3 A10-A12) — raw → 5s/60s/1h
pre-aggregates with partial-aggregate state for lossless re-aggregation.

Tier schema (reference README.md:548-562): bucket_time, context, path,
value_avg, value_min, value_max, sample_count, value_sin_avg/value_cos_avg
(angular), value_latitude/value_longitude (position), first/last_timestamp.

Scale: one hash-aggregate per tier keyed on (context, path, bucket) — high
cardinality, uniform; map-side partial aggregation shrinks raw rows by the
bucket width before any shuffle. Position tiers add two window passes
partitioned by the same key, so no extra shuffle boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.angular import angular_avg
from ..functions.geo import haversine_m, valid_latlon
from ..functions.time import bucket_ts

#: GPS outlier cap — implied speed vs neighbor (reference src/constants.ts:17)
POSITION_MAX_SPEED_MPS = 25.0

#: the tier ladder — the one table of tier widths: rollups bucket by it,
#: streaming windows size by it, plans/tiers routes against it
TIER_MS = {"5s": 5_000, "60s": 60_000, "1h": 3_600_000}


def _bucketed(df: DataFrame, tier: str, ts_col: str) -> DataFrame:
    return df.withColumn("bucket_time", bucket_ts(ts_col, TIER_MS[tier]))


def _tier_aggs(kind: str, v: Column, ts_col: str) -> list[Column]:
    """The tier schema's named aggregates, in tier column order, for one
    (context, path, bucket) group — the one definition batch rollups and
    streaming/ingest.streaming_rollup share, so a tier has one schema
    whichever job wrote it. ``kind`` is 'scalar', 'angular' (float sin/cos
    partials) or 'angular_nano' (the exact_partials nano-integer SUMS;
    rollup_angular projects the partial averages from them)."""
    span = [F.min(ts_col).alias("first_timestamp"), F.max(ts_col).alias("last_timestamp")]
    if kind == "scalar":
        return [
            F.avg(v).alias("value_avg"),
            F.min(v).alias("value_min"),
            F.max(v).alias("value_max"),
            F.count(v).alias("sample_count"),
            *span,
        ]
    common = [
        F.lit(None).cast("double").alias("value_min"),
        F.lit(None).cast("double").alias("value_max"),
        F.count(v).alias("sample_count"),
        *span,
    ]
    if kind == "angular":
        return [
            angular_avg(v).alias("value_avg"),
            *common,
            F.avg(F.sin(v)).alias("value_sin_avg"),
            F.avg(F.cos(v)).alias("value_cos_avg"),
        ]
    if kind == "angular_nano":
        return [
            *common,
            F.sum(F.round(F.sin(v) * 1_000_000_000).cast("long")).alias("value_sin_sum_nano"),
            F.sum(F.round(F.cos(v) * 1_000_000_000).cast("long")).alias("value_cos_sum_nano"),
        ]
    raise ValueError(f"no tier aggregate set for kind {kind!r}")


def rollup_scalar(df: DataFrame, tier: str, ts_col: str = "signalk_timestamp") -> DataFrame:
    """A10 — scalar tier rollup (aggregation-service.ts:423-439)."""
    return (
        _bucketed(df, tier, ts_col)
        .groupBy("context", "path", "bucket_time")
        .agg(*_tier_aggs("scalar", F.col("value").cast("double"), ts_col))
    )


def rollup_angular(
    df: DataFrame, tier: str, ts_col: str = "signalk_timestamp",
    exact_partials: bool = False,
) -> DataFrame:
    """A11 — angular rollup with persisted sin/cos partial state; min/max are
    meaningless for circular data and stay NULL (aggregation-service.ts:468-528).

    ``exact_partials=True`` is the angular twin of bucketed_stats'
    exact_avg (CLAUDE.md rule 10): each row's sin/cos is rounded to an
    exact NANO integer (|sin|<=1 so k.5 nano boundaries are exactly
    representable doubles — both engines' half-away rounding agrees given
    identical trig outputs), summed as BIGINT, and divided in one
    deterministic order — so the partials, and hence ATAN2's inputs, are
    summation-ORDER-independent (identical across partitionings, re-runs,
    and engines sharing libm bit behavior). The tier additionally persists
    the raw nano SUMS (value_sin_sum_nano/value_cos_sum_nano), making
    tier->tier re-aggregation exactly lossless in integer arithmetic
    (reaggregate_angular exact_partials). The float default matches the
    reference's persisted-float-partial state."""
    v = F.col("value").cast("double")
    base = _bucketed(df, tier, ts_col).groupBy("context", "path", "bucket_time")
    if not exact_partials:
        return base.agg(*_tier_aggs("angular", v, ts_col))
    out = base.agg(*_tier_aggs("angular_nano", v, ts_col))
    qs = F.col("value_sin_sum_nano").cast("double") / F.col("sample_count") / 1e9
    qc = F.col("value_cos_sum_nano").cast("double") / F.col("sample_count") / 1e9
    return out.select(
        "context", "path", "bucket_time",
        F.atan2(qs, qc).alias("value_avg"),
        "value_min", "value_max", "sample_count",
        qs.alias("value_sin_avg"),
        qc.alias("value_cos_avg"),
        "first_timestamp", "last_timestamp",
        "value_sin_sum_nano", "value_cos_sum_nano",
    )


def rollup_position(
    df: DataFrame,
    tier: str,
    ts_col: str = "signalk_timestamp",
    tiebreak_cols: tuple[str, ...] = (),
) -> DataFrame:
    """A12 — representative-point-per-bucket with GPS-glitch rejection,
    reference-EXACT vs aggregation-service.ts:593-635 (the three r7-verdict
    fidelity deltas are resolved in the reference's favor):

    1. lag/lead neighbors per (context, path, **bucket_time**) ordered by
       ts — neighbor legs do NOT cross bucket boundaries, so each bucket's
       first/last point has a NULL neighbor on that side (`:603`);
    2. ok score = count of trustworthy neighbor legs: a NULL neighbor is
       trusted (ok=1, `WHEN prev_ts IS NULL THEN 1`, `:609`), a leg is
       trusted when implied speed ≤ 25 m/s with the duration clamped by
       ``GREATEST(dt, 0.001)`` (`:611`) — so a duplicate-timestamp jump IS
       a glitch (speed → dist/0.001), not a NULL;
    3. representative point = ROW_NUMBER()=1 ordering by (ok desc,
       at-or-after-midpoint first (`:632`), |ts − bucket midpoint|) —
       cleanest point nearest the midpoint, biased to the later half;
    4. joined with per-bucket sample stats.

    Spark form: two windows over the SAME partitioning key
    (context, path, bucket_time), then an aggregate — one shuffle total
    (the reference runs this as one DuckDB query per (context, path, day)).

    ``tiebreak_cols`` extend every ordering past ts: with duplicate
    timestamps in one (context, path) series, neighbor assignment and the
    rn=1 pick would otherwise be partition-layout-dependent (the
    threshold_transitions lesson) — pass a unique id column whenever the
    input can carry same-ts rows. (The reference's ORDER BY ends at the
    midpoint distance, leaving exact ties layout-dependent; the tiebreaks
    only ever extend its ordering, never reorder it.)

    Pinned by tests/test_rollup_position.py's crafted bucket-edge /
    duplicate-timestamp differential cases.
    """
    ms = TIER_MS[tier]
    tb = [F.col(c) for c in tiebreak_cols]
    base = _bucketed(df, tier, ts_col).select(
        "context",
        "path",
        "bucket_time",
        F.col(ts_col).alias("ts"),
        *tiebreak_cols,
        F.col("value_latitude").cast("double").alias("lat"),
        F.col("value_longitude").cast("double").alias("lon"),
    ).filter(valid_latlon(F.col("lat"), F.col("lon")))

    w = Window.partitionBy("context", "path", "bucket_time").orderBy(F.col("ts"), *tb)
    with_nbrs = (
        base.withColumn("prev_lat", F.lag("lat").over(w))
        .withColumn("prev_lon", F.lag("lon").over(w))
        .withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("next_lat", F.lead("lat").over(w))
        .withColumn("next_lon", F.lead("lon").over(w))
        .withColumn("next_ts", F.lead("ts").over(w))
    )

    def leg_ok(lat2, lon2, ts2):
        # NULL neighbor → trusted; zero/negative duration clamped to 1 ms
        # so a duplicate-ts jump scores as a glitch (reference :609-612).
        dist = haversine_m(F.col("lat"), F.col("lon"), lat2, lon2)
        dt = F.abs(F.unix_millis(ts2) - F.unix_millis(F.col("ts"))).cast("double") / 1000.0
        return F.when(ts2.isNull(), F.lit(1)).otherwise(
            (dist / F.greatest(dt, F.lit(0.001)) <= POSITION_MAX_SPEED_MPS).cast("int")
        )

    scored = with_nbrs.withColumn(
        "ok_score",
        leg_ok(F.col("prev_lat"), F.col("prev_lon"), F.col("prev_ts"))
        + leg_ok(F.col("next_lat"), F.col("next_lon"), F.col("next_ts")),
    ).withColumn(
        "mid_delta_ms",
        F.unix_millis(F.col("ts")) - (F.unix_millis(F.col("bucket_time")) + F.lit(ms // 2)),
    )

    pick = Window.partitionBy("context", "path", "bucket_time").orderBy(
        F.col("ok_score").desc(),
        F.when(F.col("mid_delta_ms") >= 0, F.lit(0)).otherwise(F.lit(1)),
        F.abs(F.col("mid_delta_ms")),
        F.col("ts"),
        *tb,
    )
    rep = (
        scored.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "context", "path", "bucket_time",
            F.col("lat").alias("value_latitude"),
            F.col("lon").alias("value_longitude"),
        )
    )
    stats = base.groupBy("context", "path", "bucket_time").agg(
        F.count(F.lit(1)).alias("sample_count"),
        F.min("ts").alias("first_timestamp"),
        F.max("ts").alias("last_timestamp"),
    )
    return rep.join(stats, ["context", "path", "bucket_time"])


def reaggregate_scalar(tier_df: DataFrame, resolution_ms: int) -> DataFrame:
    """A9 — lossless tier→coarser read: SUM(avg*n)/SUM(n)
    (HistoryAPI.ts:2479)."""
    return (
        tier_df.withColumn("bucket", bucket_ts("bucket_time", resolution_ms))
        .groupBy("context", "path", "bucket")
        .agg(
            (F.sum(F.col("value_avg") * F.col("sample_count")) / F.sum("sample_count")).alias("value"),
            F.min("value_min").alias("value_min"),
            F.max("value_max").alias("value_max"),
            F.sum("sample_count").alias("sample_count"),
        )
    )


def reaggregate_angular(
    tier_df: DataFrame, resolution_ms: int, exact_partials: bool = False,
) -> DataFrame:
    """A8 — ATAN2(SUM(sin*n)/SUM(n), SUM(cos*n)/SUM(n)), with the reference's
    COALESCE fallback to SIN(value_avg) for pre-migration tier files that
    lack the partials (HistoryAPI.ts:2461-2468).

    ``exact_partials=True`` consumes the nano-integer partial SUMS a
    rollup_angular(exact_partials=True) tier persists: BIGINT sums all the
    way up, one deterministic division order — the re-agg is exactly
    lossless (float SUM(sin_avg*n) is summation-order-dependent, the
    micro_avg class)."""
    grouped = tier_df.withColumn(
        "bucket", bucket_ts("bucket_time", resolution_ms)
    ).groupBy("context", "path", "bucket")
    if exact_partials:
        out = grouped.agg(
            F.sum("value_sin_sum_nano").alias("ssn"),
            F.sum("value_cos_sum_nano").alias("csn"),
            F.sum("sample_count").alias("sample_count"),
        )
        qs = F.col("ssn").cast("double") / F.col("sample_count") / 1e9
        qc = F.col("csn").cast("double") / F.col("sample_count") / 1e9
        return out.select(
            "context", "path", "bucket",
            F.atan2(qs, qc).alias("value"), "sample_count",
        )
    sin_p = F.coalesce(F.col("value_sin_avg"), F.sin("value_avg"))
    cos_p = F.coalesce(F.col("value_cos_avg"), F.cos("value_avg"))
    n = F.col("sample_count")
    return grouped.agg(
        F.atan2(F.sum(sin_p * n) / F.sum(n), F.sum(cos_p * n) / F.sum(n)).alias("value"),
        F.sum("sample_count").alias("sample_count"),
    )
