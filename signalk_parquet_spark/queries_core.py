"""Core History-API operator queries over the `events` table (SURVEY §2.3-§2.6).

`events(event_id, ts, user_id, event_type, value, props)` stands in for the
reference's raw tier: `user_id` ~ context (vessel), `event_type` ~ SignalK
path, `value` ~ observation. Each query maps one SURVEY §2 operator row and
has a DuckDB oracle with identical column names and rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .localrel import local_frame

from .functions.time import bucket_iso, bucket_start_ms, iso_utc
from .operators.aggregate import bucketed_stats
from .operators.align import align_pivot
from .operators.episodes import episodes
from .operators.federation import blend_union, priority_dedup
from .operators.smoothing import ema, sma
from .registry import (
    dd_bucket,
    dd_micro_avg,
    dd_micro_grid,
    dd_nano_avg,
    load,
    micro_avg,
    micro_grid,
    nano_avg,
    register,
)

H = 3600_000  # 1 hour in ms
M5 = 300_000  # 5 minutes
S5 = 5_000  # 5 seconds (the reference's finest rollup tier)

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


# --- A1/A2: tumbling time-bucket average -----------------------------------
@register(
    "bucket_avg_1h",
    f"""
    SELECT event_type, {dd_bucket(H)} AS bucket_ts,
           round({dd_micro_avg("value")}, 6) AS avg_value, count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def bucket_avg_1h(spark: SparkSession, sf: str) -> DataFrame:
    """SURVEY A1+A2 (reference src/HistoryAPI.ts:1776-1777, 2392-2411)."""
    e = load(spark, sf, "events")
    return e.groupBy("event_type", bucket_iso("ts", H).alias("bucket_ts")).agg(
        F.round(micro_avg("value"), 6).alias("avg_value"),
        F.count(F.lit(1)).alias("n"),
    )


# --- A3: min/max ------------------------------------------------------------
@register(
    "bucket_minmax_1h",
    f"""
    SELECT event_type, {dd_bucket(H)} AS bucket_ts,
           min(value) AS min_value, max(value) AS max_value
    FROM events GROUP BY 1, 2
    """,
)
def bucket_minmax_1h(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    return e.groupBy("event_type", bucket_iso("ts", H).alias("bucket_ts")).agg(
        F.min("value").alias("min_value"), F.max("value").alias("max_value")
    )


# --- A4: first/last (deterministic min_by/max_by on ts) ----------------------
@register(
    "bucket_first_last_1h",
    f"""
    SELECT event_type, {dd_bucket(H)} AS bucket_ts,
           arg_min(value, ts) AS first_value, arg_max(value, ts) AS last_value
    FROM events GROUP BY 1, 2
    """,
)
def bucket_first_last_1h(spark: SparkSession, sf: str) -> DataFrame:
    """SURVEY A4 — FIRST/LAST made deterministic via min_by/max_by(value, ts)
    (the reference relies on file arrival order; SURVEY §7 'hard parts')."""
    e = load(spark, sf, "events")
    ts = F.col("ts").cast("timestamp")
    return e.groupBy("event_type", bucket_iso("ts", H).alias("bucket_ts")).agg(
        F.min_by("value", ts).alias("first_value"),
        F.max_by("value", ts).alias("last_value"),
    )


# --- A5: median --------------------------------------------------------------
@register(
    "bucket_median_1h",
    f"""
    SELECT event_type, {dd_bucket(H)} AS bucket_ts,
           round(median(value), 6) AS med_value
    FROM events GROUP BY 1, 2
    """,
)
def bucket_median_1h(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    return e.groupBy("event_type", bucket_iso("ts", H).alias("bucket_ts")).agg(
        F.round(F.median("value"), 6).alias("med_value")
    )


# --- A6: middle_index (exact middle element by ts order) ---------------------
@register(
    "bucket_middle_index_1h",
    f"""
    WITH g AS (
      SELECT event_type, {dd_bucket(H)} AS bucket_ts,
             list(value ORDER BY ts) AS vs
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, bucket_ts, vs[CAST(floor(len(vs)/2) AS BIGINT) + 1] AS mid_value
    FROM g
    """,
)
def bucket_middle_index_1h(spark: SparkSession, sf: str) -> DataFrame:
    """SURVEY A6 — documented middle-by-index semantics (the reference TODO-
    falls-back to FIRST at src/HistoryAPI.ts:2537-2541; we implement it)."""
    e = load(spark, sf, "events")
    ts = F.col("ts").cast("timestamp")
    arr = F.sort_array(F.collect_list(F.struct(ts.alias("o"), F.col("value").alias("v"))))
    return e.groupBy("event_type", bucket_iso("ts", H).alias("bucket_ts")).agg(
        F.element_at(arr, (F.floor(F.size(arr) / 2) + 1).cast("int"))["v"].alias("mid_value")
    )


# --- A7: angular vector average ----------------------------------------------
@register(
    "angular_avg",
    f"""
    SELECT event_type,
           {dd_micro_grid(f"atan2({dd_nano_avg('sin(radians(value))')}, {dd_nano_avg('cos(radians(value))')})")} AS vec_avg_rad
    FROM events GROUP BY 1
    """,
)
def angular_avg_q(spark: SparkSession, sf: str) -> DataFrame:
    """SURVEY A7 — ATAN2(AVG(SIN),AVG(COS)) (src/HistoryAPI.ts:2543-2551),
    treating `value` as degrees. Exactness mechanism (r8 verdict Next #4):
    per-row NANO-integer sin/cos partials (nano_avg — kills float
    summation-order dependence, the class that actually flipped 8 gates at
    sf0.1), deterministic quotient division, ATAN2 on bit-identical inputs,
    and an integer-space micro-grid final round (micro_grid — closes the
    rule-2 final-float-round class). Remaining empirical dependency: per-ROW
    sin/cos/atan2 bit-identity across JVM and glibc libm — measured and
    margin-bounded by tests/test_angular_margin.py."""
    e = load(spark, sf, "events")
    v = F.radians(F.col("value"))
    return e.groupBy("event_type").agg(
        micro_grid(F.atan2(nano_avg(F.sin(v)), nano_avg(F.cos(v)))).alias("vec_avg_rad")
    )


# --- A8/A9: lossless weighted re-aggregation from a finer tier ----------------
@register(
    "weighted_reagg_1h",
    f"""
    WITH t5 AS (
      SELECT CAST(floor(epoch_ms(ts)/{M5})*{M5} AS BIGINT) AS b5,
             sum(CAST(round(value * 1000000) AS BIGINT)) AS avg_x_n_micro,
             count(*) AS sample_count
      FROM events GROUP BY 1
    )
    SELECT strftime(epoch_ms(CAST(floor(b5/{H})*{H} AS BIGINT)), '%Y-%m-%dT%H:%M:%SZ') AS bucket_ts,
           CAST(round(CAST(sum(avg_x_n_micro) AS DOUBLE) / sum(sample_count), 0) AS BIGINT) / 1000000.0 AS wavg,
           CAST(sum(sample_count) AS BIGINT) AS n
    FROM t5 GROUP BY 1
    """,
)
def weighted_reagg_1h(spark: SparkSession, sf: str) -> DataFrame:
    """SURVEY A8/A9 — tier->tier weighted mean, SUM(avg*n)/SUM(n)
    (src/HistoryAPI.ts:2479, src/services/aggregation-service.ts:448). The
    per-tier partial carries avg*n in exact micro integers (avg*n IS the
    tier's value sum, so the shape is unchanged) — a float SUM(avg*n) is
    summation-order-dependent across engines, the micro_avg class (r8
    sf0.1 finding)."""
    e = load(spark, sf, "events")
    micro = F.round(F.col("value") * 1_000_000).cast("long")
    t5 = e.groupBy(bucket_start_ms("ts", M5).alias("b5")).agg(
        F.sum(micro).alias("avg_x_n_micro"), F.count(F.lit(1)).alias("sample_count")
    )
    b1h = F.timestamp_millis((F.floor(F.col("b5") / H) * H).cast("long"))
    return t5.groupBy(F.date_format(b1h, "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("bucket_ts")).agg(
        # round in integer micro space, never the float quotient (rule 2 /
        # the r8-ADVICE final-round residual — same mechanism as micro_avg)
        (
            F.round(F.sum("avg_x_n_micro").cast("double") / F.sum("sample_count"), 0)
            .cast("long") / 1_000_000.0
        ).alias("wavg"),
        F.sum("sample_count").alias("n"),
    )


# --- A10: rollup tier materialization (5s stats) -------------------------------
@register(
    "tier_rollup_stats_5m",
    f"""
    SELECT event_type, {dd_bucket(M5)} AS bucket_ts,
           round({dd_micro_avg("value")}, 6) AS value_avg, min(value) AS value_min,
           max(value) AS value_max, count(value) AS sample_count,
           strftime(min(ts), '%Y-%m-%dT%H:%M:%SZ') AS first_timestamp,
           strftime(max(ts), '%Y-%m-%dT%H:%M:%SZ') AS last_timestamp
    FROM events GROUP BY 1, 2
    """,
)
def tier_rollup_stats_5m(spark: SparkSession, sf: str) -> DataFrame:
    """SURVEY A10 — the tier rollup stat set (aggregation-service.ts:423-439);
    exact_avg closes the last non-trig member of the micro_avg class
    (CLAUDE.md rule 10)."""
    e = load(spark, sf, "events")
    out = bucketed_stats(e, "ts", "value", M5, group_cols=["event_type"], exact_avg=True)
    return out.withColumn("value_avg", F.round("value_avg", 6))


# --- A11: angular tier rollup (sin/cos partials, NULLed min/max) ---------------
@register(
    "tier_rollup_angular_1h",
    f"""
    WITH g AS (
      SELECT event_type, {dd_bucket(H)} AS bucket_ts,
             {dd_nano_avg("sin(radians(value))")} AS qs,
             {dd_nano_avg("cos(radians(value))")} AS qc,
             count(value) AS sample_count,
             strftime(min(ts), '%Y-%m-%dT%H:%M:%SZ') AS first_ts,
             strftime(max(ts), '%Y-%m-%dT%H:%M:%SZ') AS last_ts
      FROM events GROUP BY 1, 2
    )
    SELECT event_type AS context, 'navigation.headingTrue' AS path, bucket_ts,
           {dd_micro_grid("atan2(qs, qc)")} AS value_avg,
           CAST(NULL AS DOUBLE) AS value_min,
           CAST(NULL AS DOUBLE) AS value_max,
           sample_count,
           {dd_micro_grid("qs")} AS sin_avg,
           {dd_micro_grid("qc")} AS cos_avg,
           first_ts, last_ts
    FROM g
    """,
)
def tier_rollup_angular_1h(spark: SparkSession, sf: str) -> DataFrame:
    """SURVEY A11 — the angular rollup tier itself (operators/rollup.
    rollup_angular; aggregation-service.ts:468-528): vector average via
    sin/cos PARTIALS persisted alongside it (the lossless re-agg state A8
    consumes), min/max NULLed because extrema are meaningless on a circle.
    Events stand in for a heading series (`value` as degrees).

    exact_partials (r9): the tier's sin/cos partials are per-row NANO
    integers summed exactly — summation-order-independent — and every
    emitted trig value lands on the micro grid via an integer-space round
    (micro_grid), replacing the r8 form's float avg + round(,6), which
    survived on rounding margin alone (CLAUDE.md rule 10 residual; margin
    now measured by tests/test_angular_margin.py)."""
    from .operators.rollup import rollup_angular

    e = load(spark, sf, "events").select(
        F.col("event_type").alias("context"),
        F.lit("navigation.headingTrue").alias("path"),
        F.col("ts").alias("signalk_timestamp"),
        F.radians("value").alias("value"),
    )
    out = rollup_angular(e, "1h", exact_partials=True)
    return out.select(
        "context",
        "path",
        F.date_format("bucket_time", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("bucket_ts"),
        micro_grid("value_avg").alias("value_avg"),
        "value_min",
        "value_max",
        "sample_count",
        micro_grid("value_sin_avg").alias("sin_avg"),
        micro_grid("value_cos_avg").alias("cos_avg"),
        iso_utc("first_timestamp").alias("first_ts"),
        iso_utc("last_timestamp").alias("last_ts"),
    )


# --- A8: angular lossless re-agg from the 1h tier's sin/cos partials -----------
H3 = 3 * H  # 3 hours


@register(
    "angular_reagg_3h",
    f"""
    WITH t1 AS (
      SELECT event_type, CAST(floor(epoch_ms(ts)/{H})*{H} AS BIGINT) AS b1,
             sum(CAST(round(sin(radians(value)) * 1000000000) AS BIGINT)) AS ssn,
             sum(CAST(round(cos(radians(value)) * 1000000000) AS BIGINT)) AS csn,
             count(value) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           strftime(epoch_ms(CAST(floor(b1/{H3})*{H3} AS BIGINT)), '%Y-%m-%dT%H:%M:%SZ') AS bucket_ts,
           {dd_micro_grid(
               "atan2(CAST(sum(ssn) AS DOUBLE) / CAST(sum(n) AS BIGINT) / 1000000000.0,"
               " CAST(sum(csn) AS DOUBLE) / CAST(sum(n) AS BIGINT) / 1000000000.0)"
           )} AS value_avg,
           CAST(sum(n) AS BIGINT) AS sample_count
    FROM t1 GROUP BY 1, 2
    """,
)
def angular_reagg_3h(spark: SparkSession, sf: str) -> DataFrame:
    """SURVEY A8 — angular LOSSLESS re-aggregation: the 1h tier's persisted
    partials re-aggregate to 3h buckets — the exact two-level path
    operators/rollup.reaggregate_angular runs when the History planner
    picks a coarser resolution than the stored tier
    (HistoryAPI.ts:2461-2468). exact_partials (r9) makes 'lossless' literal:
    the tier persists nano-integer sin/cos SUMS, the re-agg sums BIGINTs —
    tier->tier reconstruction is INTEGER arithmetic end to end, with one
    deterministic division feeding ATAN2 and a micro-grid integer-space
    final round (a float SUM(sin_avg*n) was summation-order-dependent, the
    micro_avg class). The oracle computes the same two-level plan; the
    pytest re-agg≡direct equivalence remains the property check."""
    from .operators.rollup import reaggregate_angular, rollup_angular

    e = load(spark, sf, "events").select(
        F.col("event_type").alias("context"),
        F.lit("navigation.headingTrue").alias("path"),
        F.col("ts").alias("signalk_timestamp"),
        F.radians("value").alias("value"),
    )
    tier = rollup_angular(e, "1h", exact_partials=True)
    out = reaggregate_angular(tier, H3, exact_partials=True)
    return out.select(
        F.col("context").alias("event_type"),
        F.date_format("bucket", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("bucket_ts"),
        micro_grid("value").alias("value_avg"),
        "sample_count",
    )


# --- derived data: true wind (SignalK derived-data, beyond-reference) ---------
#: deterministic synthetic instrument columns over events (both engines
#: compute them from the same integer arithmetic): AWS 5-24 kn from
#: event_id, STW 0-7.9 kn from user_id, AWA = value treated as degrees
_DD_U = "(5 + (event_id % 20)) * cos(radians(value)) - (user_id % 80) / 10.0"
_DD_V = "(5 + (event_id % 20)) * sin(radians(value))"


@register(
    "true_wind_avg",
    f"""
    WITH w AS (
      SELECT event_type, {_DD_U} AS u, {_DD_V} AS v
      FROM events
    )
    SELECT event_type,
           {dd_micro_grid(f"atan2({dd_nano_avg('v')}, {dd_nano_avg('u')})")} AS twa_avg_rad,
           {dd_micro_grid(
               f"sqrt(({dd_nano_avg('u')}) * ({dd_nano_avg('u')})"
               f" + ({dd_nano_avg('v')}) * ({dd_nano_avg('v')}))"
           )} AS tws_vec,
           CAST(count(*) AS BIGINT) AS n
    FROM w GROUP BY event_type
    """,
)
def true_wind_avg(spark: SparkSession, sf: str) -> DataFrame:
    """True-wind derivation + mean-vector aggregation (functions/wind.py —
    the SignalK derived-data computation the reference's users run
    upstream of it; beyond-reference, public formula): per row, invert
    the apparent-wind vector sum (u = AWS*cos(AWA) - STW, v =
    AWS*sin(AWA); synthetic instruments derived from integer columns so
    both engines start bit-identical), then per event_type the MEAN WIND
    VECTOR: direction = atan2 of nano-int-averaged components, magnitude
    = sqrt on the same two quotients — magnitude-weighted, the
    meteorological convention. Exactness is the angular_avg machinery
    verbatim: nano_avg kills summation-order dependence, micro_grid
    rounds in integer space, and the per-row trig ulp gap is the
    margin-bounded accepted risk of tests/test_angular_margin.py. The
    multiplications in the oracle's sqrt are spelled (a)*(a), never
    power(a, 2) — pow is a libm call with no cross-engine bit contract."""
    from .functions.wind import true_wind_components

    e = load(spark, sf, "events")
    aws = (F.lit(5) + F.col("event_id") % 20).cast("double")
    stw = (F.col("user_id") % 80) / 10.0
    u, v = true_wind_components(aws, F.radians("value"), stw)
    au, av = nano_avg("u"), nano_avg("v")
    return e.select("event_type", u.alias("u"), v.alias("v")).groupBy("event_type").agg(
        micro_grid(F.atan2(av, au)).alias("twa_avg_rad"),
        micro_grid(F.sqrt(au * au + av * av)).alias("tws_vec"),
        F.count(F.lit(1)).alias("n"),
    )


# --- §2.8: threshold automation (hysteresis transitions, batch twin) -----------
@register(
    "threshold_transitions_gt50",
    """
    WITH f AS (
      SELECT user_id, event_type, event_id, ts, value, (value > 50.0) AS c,
             lag(value > 50.0) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id) AS p
      FROM events
    )
    SELECT user_id, event_type,
           strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS ts_iso, value,
           CASE WHEN c THEN 'activated' ELSE 'deactivated' END AS event
    FROM f
    WHERE (c AND NOT coalesce(p, FALSE)) OR (NOT c AND coalesce(p, FALSE))
    """,
)
def threshold_transitions_gt50(spark: SparkSession, sf: str) -> DataFrame:
    """SURVEY §2.8 threshold automation — batch predicate eval with
    hysteresis (operators/thresholds; reference src/commands.ts:1312-1448,
    suppression at :951-957): a gt condition over the event stream, only
    state CHANGES fire (false→true 'activated', true→false 'deactivated'),
    repeats suppressed. gt-vs-50.0 is a threshold on a continuum
    (CLAUDE.md rule 4 — safe unrounded); event_id tiebreaks the per-key
    ordering so the lag state is layout-independent (no µs-level ts ties
    exist in the testdata, verified across SFs, but the contract shouldn't
    rest on that)."""
    from .operators.thresholds import threshold_predicate, threshold_transitions

    e = load(spark, sf, "events")
    cond = threshold_predicate("gt", F.col("value"), {"value": 50.0})
    out = threshold_transitions(
        e,
        "ts",
        cond,
        partition_cols=("user_id", "event_type"),
        tiebreak_cols=("event_id",),
    )
    return out.select(
        "user_id",
        "event_type",
        iso_utc("ts").alias("ts_iso"),
        "value",
        "event",
    )


# --- J1/W1: hot/cold federation with priority dedup ---------------------------
@register(
    "priority_dedup_1h",
    f"""
    WITH cold AS (
      SELECT event_type, {dd_bucket(H)} AS bucket_ts, {dd_micro_avg("value")} AS v, 1 AS priority
      FROM events GROUP BY 1, 2
    ), hot AS (
      SELECT event_type, {dd_bucket(H)} AS bucket_ts, {dd_micro_avg("value")} AS v, 2 AS priority
      FROM events WHERE user_id < 5 GROUP BY 1, 2
    ), u AS (
      SELECT * FROM cold UNION ALL SELECT * FROM hot
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY event_type, bucket_ts ORDER BY priority DESC) AS rn
      FROM u
    )
    SELECT event_type, bucket_ts, round(v, 6) AS avg_value FROM r WHERE rn = 1
    """,
)
def priority_dedup_1h(spark: SparkSession, sf: str) -> DataFrame:
    """SURVEY J1 — per-source aggregate, UNION ALL, ROW_NUMBER priority pick
    (src/HistoryAPI.ts:1683-1693,1829-1836). 'hot' simulates the buffer."""
    e = load(spark, sf, "events")
    b = bucket_iso("ts", H).alias("bucket_ts")
    cold = e.groupBy("event_type", b).agg(micro_avg("value").alias("v"))
    hot = e.filter(F.col("user_id") < 5).groupBy("event_type", b).agg(micro_avg("value").alias("v"))
    picked = priority_dedup([(cold, 1), (hot, 2)], ["event_type", "bucket_ts"])
    return picked.select("event_type", "bucket_ts", F.round("v", 6).alias("avg_value"))


# --- J2 (v2 provider): blend federation — union BEFORE aggregation ---------------
@register(
    "history_v2_blend",
    f"""
    WITH hot AS (
      SELECT event_type, ts, value FROM events WHERE user_id < 5
    ), u AS (
      SELECT event_type, ts, value FROM events
      UNION ALL SELECT event_type, ts, value FROM hot
    ), blend AS (
      SELECT event_type, {dd_bucket(H)} AS bucket_ts, round({dd_micro_avg("value")}, 6) AS blend_avg
      FROM u GROUP BY 1, 2
    ), cold_a AS (
      SELECT event_type, {dd_bucket(H)} AS bucket_ts, {dd_micro_avg("value")} AS v, 1 AS priority
      FROM events GROUP BY 1, 2
    ), hot_a AS (
      SELECT event_type, {dd_bucket(H)} AS bucket_ts, {dd_micro_avg("value")} AS v, 2 AS priority
      FROM hot GROUP BY 1, 2
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY event_type, bucket_ts ORDER BY priority DESC) AS rn
      FROM (SELECT * FROM cold_a UNION ALL SELECT * FROM hot_a)
    ), pick AS (
      SELECT event_type, bucket_ts, round(v, 6) AS pick_avg FROM r WHERE rn = 1
    )
    SELECT blend.event_type, blend.bucket_ts, blend.blend_avg, pick.pick_avg
    FROM blend JOIN pick ON blend.event_type = pick.event_type
                        AND blend.bucket_ts = pick.bucket_ts
    """,
)
def history_v2_blend(spark: SparkSession, sf: str) -> DataFrame:
    """SURVEY J2, v2-provider semantics — raw rows from every source are
    UNIONed BEFORE aggregation (operators/federation.blend_union, the code
    path plans/history_v2.HistoryProviderV2 runs; history-provider.ts:390-394),
    the deliberate opposite of v1's aggregate-then-priority-pick
    (priority_dedup_1h). 'hot' simulates the buffer as the user_id<5 slice,
    so every bucket overlaps and the two federations DIVERGE: blend_avg
    reweights the average by the duplicated hot rows while pick_avg is the
    hot side outright — the gate returns both so the divergence is in the
    checked values themselves (the AVG(9,11)=10-vs-11 golden from
    write-read-pipeline.test.ts, driver-checked at data scale)."""
    e = load(spark, sf, "events").select("event_type", "ts", "value")
    hot = e.filter(F.col("user_id") < 5)
    b = bucket_iso("ts", H).alias("bucket_ts")
    blend = (
        blend_union([e, hot])
        .groupBy("event_type", b)
        .agg(F.round(micro_avg("value"), 6).alias("blend_avg"))
    )
    cold_a = e.groupBy("event_type", b).agg(micro_avg("value").alias("v"))
    hot_a = hot.groupBy("event_type", b).agg(micro_avg("value").alias("v"))
    pick = priority_dedup([(cold_a, 1), (hot_a, 2)], ["event_type", "bucket_ts"]).select(
        "event_type", "bucket_ts", F.round("v", 6).alias("pick_avg")
    )
    return blend.join(pick, ["event_type", "bucket_ts"])


# --- J2: multi-series time alignment (pivot) -----------------------------------
@register(
    "align_pivot_1h",
    f"""
    WITH a AS (
      SELECT event_type, {dd_bucket(H)} AS bucket_ts,
             round({dd_micro_avg("value")}, 6) AS v
      FROM events GROUP BY 1, 2
    )
    SELECT bucket_ts,
           max(v) FILTER (event_type = 'click') AS click,
           max(v) FILTER (event_type = 'error') AS error,
           max(v) FILTER (event_type = 'purchase') AS purchase,
           max(v) FILTER (event_type = 'signup') AS signup,
           max(v) FILTER (event_type = 'view') AS view
    FROM a GROUP BY 1
    """,
)
def align_pivot_1h(spark: SparkSession, sf: str) -> DataFrame:
    """SURVEY J2 — the reference's JS k-way merge (src/HistoryAPI.ts:1992-2013)
    re-expressed as a distributed pivot; series list passed explicitly so no
    extra distinct job runs."""
    e = load(spark, sf, "events")
    agged = e.groupBy(bucket_iso("ts", H).alias("bucket_ts"), "event_type").agg(
        F.round(micro_avg("value"), 6).alias("v")
    )
    return align_pivot(agged, "bucket_ts", "event_type", "v", EVENT_TYPES)


# --- J3/W3: episode detection ---------------------------------------------------
@register(
    "episodes_error",
    """
    WITH f AS (
      SELECT user_id, ts, (event_type = 'error') AS state FROM events
    ), l AS (
      SELECT *, lag(state) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM f
    ), t AS (
      SELECT * FROM l
      WHERE (state AND NOT coalesce(prev, false)) OR (NOT state AND coalesce(prev, false))
    ), p AS (
      SELECT *, lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS next_ts FROM t
    )
    SELECT user_id, strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS start_ts,
           strftime(next_ts, '%Y-%m-%dT%H:%M:%SZ') AS end_ts,
           epoch_ms(next_ts) - epoch_ms(ts) AS duration_ms
    FROM p WHERE state AND next_ts IS NOT NULL
    """,
)
def episodes_error(spark: SparkSession, sf: str) -> DataFrame:
    """SURVEY J3/W3 — lag-transition episodes, lead-paired (the Spark form
    replaces the reference's correlated subquery, claude-analyzer.ts:3206-3259)."""
    e = load(spark, sf, "events")
    return episodes(e, "ts", F.col("event_type") == "error", partition_cols=["user_id"])


# --- W6: trailing SMA over bucket series ----------------------------------------
@register(
    "sma_1h_w5",
    f"""
    WITH a AS (
      SELECT event_type, {dd_bucket(H)} AS bucket_ts, round({dd_micro_avg("value")}, 6) AS avg_value,
             CAST(round(round({dd_micro_avg("value")}, 6) * 1000000, 0) AS BIGINT) AS iv
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, bucket_ts, avg_value,
           CAST(round(avg(iv) OVER (
             PARTITION BY event_type ORDER BY bucket_ts
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 0) AS BIGINT) / 1000000.0 AS sma5
    FROM a
    """,
)
def sma_1h_w5(spark: SparkSession, sf: str) -> DataFrame:
    """SURVEY W6 — the reference's JS SMA (src/HistoryAPI.ts:2162-2170) as a
    rows-frame window aggregate. The SMA runs over micro-integerized values
    (x1e6 bigint) so the windowed sum is exact on both engines — float window
    sums are order-dependent and DuckDB's segment tree sums differently."""
    e = load(spark, sf, "events")
    a = e.groupBy("event_type", bucket_iso("ts", H).alias("bucket_ts")).agg(
        F.round(micro_avg("value"), 6).alias("avg_value")
    ).withColumn("iv", F.round(F.col("avg_value") * 1000000, 0).cast("long"))
    out = sma(a, "bucket_ts", "iv", 5, partition_cols=["event_type"], out_col="sma5")
    return out.withColumn(
        "sma5", F.round("sma5", 0).cast("long") / F.lit(1000000.0)
    ).drop("iv")


# --- W7: EMA (sequential recurrence via applyInPandas) ---------------------------
_EMA_ALPHA = 0.2


def _dd_ema_sql(alpha: float, ema_col: str) -> str:
    """EMA oracle: hourly micro-averages per event_type, then the recursive
    CTE `e` applies ema = alpha*x + (1-alpha)*ema_prev down each series;
    ``ema_col`` is the final SELECT's ema expression."""
    return f"""
    WITH RECURSIVE a AS (
      SELECT event_type, {dd_bucket(H)} AS bucket_ts, round({dd_micro_avg("value")}, 6) AS avg_value
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY bucket_ts) AS rn FROM a
    ), e AS (
      SELECT event_type, bucket_ts, avg_value, rn, avg_value AS ema
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.event_type, s.bucket_ts, s.avg_value, s.rn,
             {alpha!r} * s.avg_value + {1.0 - alpha!r} * e.ema
      FROM s JOIN e ON s.event_type = e.event_type AND s.rn = e.rn + 1
    )
    SELECT event_type, bucket_ts, avg_value, {ema_col} FROM e
    """


@register(
    "ema_1h_a02",
    _dd_ema_sql(_EMA_ALPHA, "round(ema, 6) AS ema"),
)
def ema_1h_a02(spark: SparkSession, sf: str) -> DataFrame:
    """SURVEY W7 — the reference's recursive JS EMA (src/HistoryAPI.ts:2081-2090)
    as a per-series grouped pandas UDF; oracle is a recursive CTE."""
    e = load(spark, sf, "events")
    a = e.groupBy("event_type", bucket_iso("ts", H).alias("bucket_ts")).agg(
        F.round(micro_avg("value"), 6).alias("avg_value")
    )
    out = ema(a, "bucket_ts", "avg_value", alpha=_EMA_ALPHA, partition_cols=["event_type"], out_col="ema")
    return out.withColumn("ema", F.round("ema", 6))


# --- W7b: EMA with request-supplied alpha via the PathSpec grammar ----------------
@register(
    "ema_pathspec_a05",
    _dd_ema_sql(0.5, "ema"),
)
def ema_pathspec_a05(spark: SparkSession, sf: str) -> DataFrame:
    """EMA whose α arrives through the REQUEST — `value:ema:0.5` parsed by the
    PathSpec grammar and wired to the smoother (reference lets the path spec
    set the smoothing param, src/HistoryAPI.ts:2055-2063,2322-2348). Proves
    the param plumbing end-to-end, not just a hard-coded constant."""
    from .plans.pathspec import parse_path_spec

    spec = parse_path_spec("value:ema:0.5")
    e = load(spark, sf, "events")
    a = e.groupBy("event_type", bucket_iso("ts", H).alias("bucket_ts")).agg(
        F.round(micro_avg("value"), 6).alias("avg_value")
    )
    # NO final rounding (CLAUDE.md rule 2): α=0.5 keeps values dyadic, so a
    # round(·, 6) lands on exact .5 boundaries where the engines' rounding
    # disagrees. The recurrence itself is sequential identical IEEE double
    # arithmetic on identically-rounded inputs, so the raw ema matches
    # bit-for-bit across engines.
    return ema(
        a, "bucket_ts", "avg_value", alpha=spec.ema_alpha,
        partition_cols=["event_type"], out_col="ema",
    )


# --- O3: top-k ----------------------------------------------------------------
@register(
    "topk_values",
    """
    SELECT event_id, event_type, strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS ts_iso, value
    FROM events ORDER BY value DESC, event_id LIMIT 100
    """,
)
def topk_values(spark: SparkSession, sf: str) -> DataFrame:
    """SURVEY O3 — ORDER BY ... LIMIT k (TakeOrderedAndProject, no full sort)."""
    e = load(spark, sf, "events")
    return (
        e.orderBy(F.col("value").desc(), "event_id")
        .limit(100)
        .select("event_id", "event_type", iso_utc("ts").alias("ts_iso"), "value")
    )


# --- A15: DISTINCT -------------------------------------------------------------
@register("distinct_users", "SELECT DISTINCT user_id FROM events")
def distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """SURVEY A15 — SELECT DISTINCT context (context-discovery.ts:250-256)."""
    return load(spark, sf, "events").select("user_id").distinct()


# --- A14: counts ----------------------------------------------------------------
@register(
    "count_by_type",
    """
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
           round(avg(value), 6) AS avg_value
    FROM events GROUP BY 1
    """,
)
def count_by_type(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


# --- O4: union of heterogeneous sources (schema merge) ---------------------------
@register(
    "union_by_name",
    """
    SELECT event_id, value, NULL AS user_id FROM events WHERE event_type = 'click'
    UNION ALL BY NAME
    SELECT event_id, value, user_id FROM events WHERE event_type = 'error'
    """,
)
def union_by_name(spark: SparkSession, sf: str) -> DataFrame:
    """SURVEY O4 — unionByName(allowMissingColumns) replaces DuckDB
    union_by_name=true (used at every reference read site)."""
    e = load(spark, sf, "events")
    a = e.filter(F.col("event_type") == "click").select("event_id", "value")
    b = e.filter(F.col("event_type") == "error").select("event_id", "value", "user_id")
    return a.unionByName(b, allowMissingColumns=True).select(
        "event_id", "value", F.col("user_id").cast("long").alias("user_id")
    )


# --- O5/J7: anti-join set difference ----------------------------------------------
@register(
    "anti_join_users",
    """
    SELECT DISTINCT user_id FROM events
    WHERE ts < TIMESTAMP '2024-01-08 00:00:00' AND event_type = 'click'
      AND user_id NOT IN (SELECT user_id FROM events
                          WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
                            AND event_type = 'purchase')
    """,
)
def anti_join_users(spark: SparkSession, sf: str) -> DataFrame:
    """SURVEY O5/J7 — the reference's JS Set difference (cloud sync compare,
    data-handler.ts:887-906) as a distributed left_anti join: week-1 clickers
    who made no week-1 purchase."""
    e = load(spark, sf, "events").filter(F.col("ts").cast("timestamp") < "2024-01-08")
    clickers = e.filter(F.col("event_type") == "click").select("user_id").distinct()
    buyers = e.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return clickers.join(buyers, "user_id", "left_anti")


# --- S11: GPX track import --------------------------------------------------------
def _gpx_fixture_tracks() -> list[list[tuple]]:
    """Deterministic two-track fixture — the single source of truth for BOTH
    the GPX files the Spark side imports and the oracle's VALUES literals
    (no committed binary to drift out of sync). Per point:
    (lat, lon, iso, ele, speed_tag, course_tag) — <ele> on every point,
    <speed>/<course> tags on EVEN indices only (quarter-/tenth-unit exact
    decimals), so the gate certifies BOTH the reference's tag semantics
    (gpx-import-service.ts:560-572: speed m/s as-is, course deg->rad, ele
    -> gnss.antennaAltitude) and this engine's derive_missing extension on
    the tagless odd points. Variable positive dt, whole-second timestamps
    (exact dt on both engines)."""
    from datetime import datetime, timedelta, timezone

    tracks: list[list[tuple]] = []
    for g, (lat0, lon0, n, step_s) in enumerate(((47.5, 8.7, 25, 10), (42.35, -70.9, 20, 15))):
        t = datetime(2024, 6, 1, 12, 0, 0, tzinfo=timezone.utc)
        pts: list[tuple] = []
        for i in range(n):
            lat = lat0 + 0.0013 * i + 0.00004 * (i % 5)
            lon = lon0 + 0.0009 * i - 0.00003 * (i % 7)
            ele = 100.0 + ((g * 7 + i * 5) % 200) / 4.0
            spd = ((g * 13 + i * 3) % 70) / 4.0 if i % 2 == 0 else None
            crs = ((g * 29 + i * 11) % 3600) / 10.0 if i % 2 == 0 else None
            pts.append((lat, lon, t.strftime("%Y-%m-%dT%H:%M:%SZ"), ele, spd, crs))
            t += timedelta(seconds=step_s + 5 * (i % 3))
        tracks.append(pts)
    return tracks


_GPX_TRACKS = _gpx_fixture_tracks()


def _write_gpx_fixture() -> list[str]:
    """Materialize the fixture tracks as real GPX 1.1 files (repr() floats
    round-trip exactly through the importer's float())."""
    import os
    import tempfile

    d = os.path.join(tempfile.gettempdir(), "spark_graft_gpx_fixture")
    os.makedirs(d, exist_ok=True)
    paths = []
    for trk, pts in enumerate(_GPX_TRACKS):
        body = ""
        for lat, lon, iso, ele, spd, crs in pts:
            tags = f"<time>{iso}</time><ele>{ele!r}</ele>"
            if spd is not None:
                tags += f"<speed>{spd!r}</speed>"
            if crs is not None:
                tags += f"<course>{crs!r}</course>"
            body += f'  <trkpt lat="{lat!r}" lon="{lon!r}">{tags}</trkpt>\n'
        content = (
            '<gpx xmlns="http://www.topografix.com/GPX/1/1" version="1.1">\n'
            " <trk><trkseg>\n" + body + " </trkseg></trk>\n</gpx>\n"
        )
        p = os.path.join(d, f"track{trk}.gpx")
        tmp = f"{p}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            fh.write(content)
        os.replace(tmp, p)  # atomic: concurrent runs never see a torn file
        paths.append(p)
    return paths


def _dd_lit(x, null: str = "NULL") -> str:
    """DuckDB literal of one fixture value for the VALUES-list oracles:
    ``null`` for None, TRUE/FALSE for a bool, CAST('repr' AS DOUBLE) for a
    float (string->double parse is correctly rounded, while a DECIMAL
    literal could round twice), else a quoted string."""
    if x is None:
        return null
    if isinstance(x, bool):
        return "TRUE" if x else "FALSE"
    if isinstance(x, float):
        return f"CAST('{x!r}' AS DOUBLE)"
    return f"'{x}'"


def _gpx_oracle() -> str:
    """DuckDB twin of the GPX import: same VALUES points; tag semantics per
    the reference (speed as-is, radians(course), ele) and the
    derive_missing extension's haversine/bearing written in the importer's
    IDENTICAL operation order (sources/gpx.py). Floats enter as
    CAST('repr' AS DOUBLE) (_dd_lit). The trig calls land in the
    same glibc from both engines (rule-10 same-libm residual, measured by
    tests/test_angular_margin.py); every value lands on the micro grid in
    INTEGER space on both sides, never by rounding a float (rule 2)."""

    def lit(x) -> str:
        return _dd_lit(x, "CAST(NULL AS DOUBLE)")

    vals = ",\n      ".join(
        f"({trk}, {i}, {lit(lat)}, {lit(lon)},"
        f" TIMESTAMP '{iso.replace('T', ' ').replace('Z', '')}',"
        f" {lit(ele)}, {lit(spd)}, {lit(crs)})"
        for trk, pts in enumerate(_GPX_TRACKS)
        for i, (lat, lon, iso, ele, spd, crs) in enumerate(pts)
    )
    hav = (
        "2*6371000*asin(sqrt(pow(sin(radians(lat-plat)/2),2)"
        " + cos(radians(plat))*cos(radians(lat))*pow(sin(radians(lon-plon)/2),2)))"
    )
    brg = (
        "radians(fmod(degrees(atan2("
        "sin(radians(lon-plon))*cos(radians(lat)), "
        "cos(radians(plat))*sin(radians(lat))"
        " - sin(radians(plat))*cos(radians(lat))*cos(radians(lon-plon))"
        ")) + 360.0, 360.0))"
    )

    def micro(expr: str) -> str:
        return f"CAST(round(({expr}) * 1000000.0) AS BIGINT) / 1000000.0"

    iso = "strftime(ts, '%Y-%m-%dT%H:%M:%SZ')"
    dt_ok = "plat IS NOT NULL AND epoch_ms(ts) > epoch_ms(pts_)"
    return f"""
    WITH pts AS (
      SELECT * FROM (VALUES
      {vals}) AS t(trk, i, lat, lon, ts, ele, spd, crs)
    ),
    legs AS (
      SELECT trk, lat, lon, ts, ele, spd, crs,
             lag(lat) OVER w AS plat, lag(lon) OVER w AS plon,
             lag(ts) OVER w AS pts_
      FROM pts WINDOW w AS (PARTITION BY trk ORDER BY i)
    )
    SELECT {iso} AS ts_iso,
           'navigation.position' AS path, CAST(NULL AS DOUBLE) AS value,
           lat AS value_latitude, lon AS value_longitude
    FROM pts
    UNION ALL
    SELECT {iso}, 'navigation.gnss.antennaAltitude', {micro("ele")},
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM pts
    UNION ALL
    SELECT {iso}, 'navigation.speedOverGround',
           {micro(f"CASE WHEN spd IS NOT NULL THEN spd ELSE {hav} / ((epoch_ms(ts) - epoch_ms(pts_)) / 1000.0) END")},
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM legs WHERE spd IS NOT NULL OR ({dt_ok})
    UNION ALL
    SELECT {iso}, 'navigation.courseOverGroundTrue',
           {micro(f"CASE WHEN crs IS NOT NULL THEN radians(crs) ELSE {brg} END")},
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM legs WHERE crs IS NOT NULL OR ({dt_ok})
    """


@register("gpx_import_records", _gpx_oracle())
def gpx_import_records(spark: SparkSession, sf: str) -> DataFrame:
    """SURVEY S11 — the GPX import source, driver-gated (r8 verdict Next
    #3): fixture tracks -> sources/gpx.import_gpx_files (executor-side
    mapInPandas parse) -> the record projection the lake ingests. All four
    reference import paths are certified (position; <speed> m/s as-is;
    <course> deg->rad; <ele> -> gnss.antennaAltitude — gpx-import-
    service.ts:560-572) PLUS the derive_missing extension: the fixture
    carries tags on even points only, so odd points exercise the same-
    segment haversine/bearing derivation against the oracle's identical
    formulas. The fixture is sf-independent by nature (an import source
    has no scale knob)."""
    from .sources.gpx import import_gpx_files

    df = import_gpx_files(spark, _write_gpx_fixture(), derive_missing=True)
    micro = (F.round(F.col("value") * 1_000_000.0).cast("long") / 1_000_000.0)
    return df.select(
        F.date_format("signalk_timestamp", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("ts_iso"),
        "path",
        micro.alias("value"),
        "value_latitude",
        "value_longitude",
    )


# --- incremental tier maintenance (beyond-reference; r8 verdict Next #5) ----------
@register(
    "rollup_incremental_1h",
    f"""
    SELECT event_type, {dd_bucket(H)} AS bucket_ts,
           round({dd_micro_avg("value")}, 6) AS value_avg, min(value) AS value_min,
           max(value) AS value_max, count(value) AS sample_count,
           strftime(min(ts), '%Y-%m-%dT%H:%M:%SZ') AS first_timestamp,
           strftime(max(ts), '%Y-%m-%dT%H:%M:%SZ') AS last_timestamp
    FROM events GROUP BY 1, 2
    """,
)
def rollup_incremental_1h(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental tier maintenance stated as its correctness contract:
    incremental-after-late-data == full recompute (the oracle IS the plain
    full recompute). The reference re-aggregates whole days in a loop
    (aggregation-service.ts:853-864). This gate certifies the BUCKET-level
    mechanism of operators/incremental.py, on a frame: touched_buckets
    (distinct over late rows), scope_to_touched (broadcast semi-join),
    bucketed_stats over the scoped rows, merge_tier (anti-join + union).
    It does not run the lake-level rollup_incremental, which rebuilds
    whole (context, path, year, day) partitions of a Lake; that form is
    covered by tests/test_incremental.py and tools/ramps/incremental.py.
    'Late' here is a deterministic 10% slice (event_id % 10 = 7) scattered
    across all buckets' history, the worst-ish case for touched-set
    size."""
    from .operators.incremental import merge_tier, scope_to_touched, touched_buckets

    e = load(spark, sf, "events")
    is_late = F.pmod(F.col("event_id"), 10) == 7
    late, base = e.filter(is_late), e.filter(~is_late)
    initial = bucketed_stats(base, "ts", "value", H, ["event_type"], exact_avg=True)
    touched = touched_buckets(late, H, ["event_type"], "ts")
    scoped = scope_to_touched(e, touched, H, ["event_type"], "ts")
    recomputed = bucketed_stats(scoped, "ts", "value", H, ["event_type"], exact_avg=True)
    merged = merge_tier(initial, recomputed, touched, ["event_type", "bucket_ts"])
    return merged.withColumn("value_avg", F.round("value_avg", 6))


@register(
    "rollup_incremental_angular",
    f"""
    WITH g AS (
      SELECT event_type, {dd_bucket(H)} AS bucket_ts,
             {dd_nano_avg("sin(radians(value))")} AS qs,
             {dd_nano_avg("cos(radians(value))")} AS qc,
             count(value) AS sample_count
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, bucket_ts,
           {dd_micro_grid("atan2(qs, qc)")} AS value_avg,
           sample_count,
           {dd_micro_grid("qs")} AS sin_avg,
           {dd_micro_grid("qc")} AS cos_avg
    FROM g
    """,
)
def rollup_incremental_angular(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental maintenance of the ANGULAR tier (r9 verdict Next #4),
    the same contract as rollup_incremental_1h — incremental-after-late-data
    == full recompute (the oracle IS the plain full recompute) — over the
    same bucket-level mechanism: touched_buckets, scope_to_touched,
    rollup_angular(exact_partials=True) over the scoped rows, merge_tier.
    Like that gate it does not run operators/incremental.rollup_incremental
    (the lake-level, whole-partition rebuild); its kind='angular' form is
    covered by tests/test_incremental.py
    (test_incremental_angular_equals_full_recompute). exact_partials makes
    the equivalence exact BY CONSTRUCTION: touched buckets re-aggregate
    per-row nano-integer sin/cos partials whose BIGINT sums are
    summation-order-independent, and untouched buckets contain no late
    rows so their base-only aggregate is the full aggregate verbatim.
    Same deterministic 10% late slice as rollup_incremental_1h."""
    from .operators.incremental import merge_tier, scope_to_touched, touched_buckets
    from .operators.rollup import rollup_angular

    e = load(spark, sf, "events").select(
        F.col("event_type").alias("context"),
        F.lit("navigation.headingTrue").alias("path"),
        F.col("ts").alias("signalk_timestamp"),
        F.radians("value").alias("value"),
        "event_id",
    )
    is_late = F.pmod(F.col("event_id"), 10) == 7
    late, base = e.filter(is_late), e.filter(~is_late)
    initial = rollup_angular(base.drop("event_id"), "1h", exact_partials=True)
    touched = touched_buckets(
        late, H, ["context", "path"], "signalk_timestamp", iso=False
    )
    scoped = scope_to_touched(
        e.drop("event_id"), touched, H, ["context", "path"], "signalk_timestamp",
        iso=False,
    )
    recomputed = rollup_angular(scoped, "1h", exact_partials=True)
    merged = merge_tier(
        initial, recomputed, touched, ["context", "path", "bucket_time"]
    )
    return merged.select(
        F.col("context").alias("event_type"),
        F.date_format("bucket_time", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("bucket_ts"),
        micro_grid("value_avg").alias("value_avg"),
        "sample_count",
        micro_grid("value_sin_avg").alias("sin_avg"),
        micro_grid("value_cos_avg").alias("cos_avg"),
    )


# --- beyond-reference source format: JSON-lines feed ------------------------------
def _jsonl_fixture_rows() -> list[tuple]:
    """(ts_iso, context, path, value, value_text) literals — the single
    source of truth for the written JSONL feed AND the oracle's VALUES.
    Quarter-unit numerics (exact decimals), string observations on the
    state path, two vessels x three paths, whole-second timestamps."""
    from datetime import datetime, timedelta, timezone

    t0 = datetime(2024, 7, 1, 6, 0, 0, tzinfo=timezone.utc)
    paths = ["navigation.speedOverGround", "environment.wind.speedApparent",
             "navigation.state"]
    states = ["sailing", "motoring", "anchored"]
    rows: list[tuple] = []
    for i in range(60):
        ts = (t0 + timedelta(seconds=20 * i + (i % 7))).strftime("%Y-%m-%dT%H:%M:%SZ")
        ctx = f"vessels.v{i % 2}"
        p = paths[i % 3]
        if p == "navigation.state":
            rows.append((ts, ctx, p, None, states[i % 5 % 3]))
        else:
            rows.append((ts, ctx, p, ((i * 7) % 53) / 4.0, None))
    return rows


_JSONL_ROWS = _jsonl_fixture_rows()


def _write_jsonl_fixture() -> str:
    """The fixture feed on disk: the literal rows plus two malformed lines
    and one missing-ts line the reader must QUARANTINE/drop (they are
    absent from the oracle, so mishandling them is a hash mismatch)."""
    import json as _json
    import os
    import tempfile

    d = os.path.join(tempfile.gettempdir(), "spark_graft_jsonl_fixture")
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, "feed.jsonl")
    lines = []
    for ts, ctx, path, value, value_text in _JSONL_ROWS:
        lines.append(_json.dumps({
            "ts": ts, "context": ctx, "path": path, "value": value,
            "value_text": value_text, "source_label": "export-1",
        }))
    lines.insert(7, '{"ts": "2024-07-01T06:00:00Z", "context": "vessels.v0", "path": "x", "value": "not-a-number"}')
    lines.insert(23, "{broken json line")
    lines.append('{"context": "vessels.v1", "path": "navigation.state", "value_text": "lost"}')
    tmp = f"{p}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, p)
    return p


def _jsonl_oracle() -> str:
    lit = _dd_lit
    vals = ",\n      ".join(
        f"({lit(ts)}, {lit(ctx)}, {lit(p)}, "
        f"{lit(v, 'CAST(NULL AS DOUBLE)')}, {lit(vt, 'CAST(NULL AS VARCHAR)')})"
        for ts, ctx, p, v, vt in _JSONL_ROWS
    )
    return f"""
    SELECT * FROM (VALUES
      {vals}) AS t(ts_iso, context, path, value, value_text)
    """


@register("jsonl_source_records", _jsonl_oracle())
def jsonl_source_records(spark: SparkSession, sf: str) -> DataFrame:
    """Beyond-reference source format (sources/formats.py): a JSON-lines
    export feed read with an EXPLICIT schema (no inference pre-scan),
    PERMISSIVE quarantine for malformed lines, ISO->timestamp conversion,
    and the DataRecord projection. The fixture feed deliberately contains
    a type-mismatch line, a syntactically broken line, and a missing-ts
    line — none appear in the oracle, so any quarantine slip (dropped
    good row, kept bad row) is a hash mismatch. Values are exact literal
    decimals; no rounding anywhere."""
    from .sources.formats import read_jsonl_records

    path = _write_jsonl_fixture()
    df = read_jsonl_records(spark, path)
    return df.select(
        F.date_format("signalk_timestamp", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("ts_iso"),
        "context",
        "path",
        "value",
        "value_text",
    )


# --- S10 upstream: SignalK delta-JSON wire-format ingestion ------------------------
def _delta_fixture() -> list[dict]:
    """Literal delta messages — the single source of truth for the JSON the
    Spark side parses AND the oracle's expected-record VALUES. Covers:
    scalar numbers (quarter-unit exact), string observations, booleans,
    position objects (flattened lat/lon), a null value (kept, all-null
    value columns — the reference's typeof-null branch), $source vs
    source.label precedence, and a META-ONLY object update that must be
    SKIPPED (data-handler.ts:665-680)."""
    from datetime import datetime, timedelta, timezone

    t0 = datetime(2024, 8, 1, 9, 0, 0, tzinfo=timezone.utc)
    deltas: list[dict] = []
    for i in range(20):
        ts = (t0 + timedelta(seconds=15 * i)).strftime("%Y-%m-%dT%H:%M:%SZ")
        ctx = f"vessels.v{i % 2}"
        values = [
            {"path": "navigation.speedOverGround", "value": ((i * 5) % 37) / 4.0},
            {"path": "navigation.position",
             "value": {"latitude": 47.0 + i / 8.0, "longitude": 8.0 - i / 16.0}},
        ]
        if i % 3 == 0:
            values.append({"path": "navigation.state",
                           "value": ["sailing", "motoring", "anchored"][i % 9 // 3]})
        if i % 4 == 0:
            values.append({"path": "navigation.anchor.alarm", "value": i % 8 == 0})
        if i % 5 == 0:
            values.append({"path": "environment.depth.belowKeel", "value": None})
        if i % 6 == 0:  # metadata update: must not become a record
            values.append({"path": "navigation.speedOverGround",
                           "value": {"units": "m/s", "description": "SOG"}})
        update = {
            "timestamp": ts,
            "source": {"label": f"gps-{i % 2}", "type": "NMEA2000",
                       "pgn": 129026.0, "src": "115"},
            "values": values,
        }
        if i % 2 == 0:  # $source present and it must WIN over source.label
            update["$source"] = f"n2k.{i % 2}"
        deltas.append({"context": ctx, "updates": [update]})
    return deltas


_DELTAS = _delta_fixture()


def _delta_expected() -> list[tuple]:
    """The records the reference's rules produce from _DELTAS — computed
    here (plain Python mirroring data-handler.ts) and embedded as the
    oracle's VALUES."""
    rows: list[tuple] = []
    for d in _DELTAS:
        u = d["updates"][0]
        label = u.get("$source") or u["source"]["label"]
        for pv in u["values"]:
            v = pv["value"]
            if isinstance(v, dict):
                if set(v) <= {"units", "meta", "description", "displayUnits",
                              "zones", "timeout"}:
                    continue  # meta-only skip
                rows.append((u["timestamp"], d["context"], pv["path"], None, None,
                             None, v.get("latitude"), v.get("longitude"), label))
            elif isinstance(v, bool):
                rows.append((u["timestamp"], d["context"], pv["path"], None, None,
                             v, None, None, label))
            elif isinstance(v, (int, float)):
                rows.append((u["timestamp"], d["context"], pv["path"], float(v),
                             None, None, None, None, label))
            elif isinstance(v, str):
                rows.append((u["timestamp"], d["context"], pv["path"], None, v,
                             None, None, None, label))
            else:  # null value: kept, all value columns null
                rows.append((u["timestamp"], d["context"], pv["path"], None, None,
                             None, None, None, label))
    return rows


def _delta_oracle() -> str:
    lit, dbl = _dd_lit, "CAST(NULL AS DOUBLE)"
    vals = ",\n      ".join(
        f"({lit(ts)}, {lit(ctx)}, {lit(p)}, {lit(v, dbl)}, "
        f"{lit(vt, 'CAST(NULL AS VARCHAR)')}, {lit(vb, 'CAST(NULL AS BOOLEAN)')}, "
        f"{lit(la, dbl)}, {lit(lo, dbl)}, {lit(sl)})"
        for ts, ctx, p, v, vt, vb, la, lo, sl in _delta_expected()
    )
    return f"""
    SELECT * FROM (VALUES
      {vals}) AS t(ts_iso, context, path, value, value_text, value_bool,
                   value_latitude, value_longitude, source_label)
    """


@register("delta_ingest_records", _delta_oracle())
def delta_ingest_records(spark: SparkSession, sf: str) -> DataFrame:
    """S10's upstream: the SignalK delta-JSON WIRE FORMAT parsed into
    DataRecords as one declarative plan (sources/deltas.py — Spark 4
    VARIANT for the arbitrary-typed value field, schema_of_variant type
    dispatch, meta-only skip, $source||source.label precedence,
    value_<k> flattening for declared object columns). The oracle embeds
    the record set a plain-Python mirror of data-handler.ts:634-695
    produces from the same literal messages — parser and rules are both
    under the hash."""
    import json as _json

    from .sources.deltas import deltas_to_records

    df = local_frame(
        spark, [(_json.dumps(d),) for d in _DELTAS], "delta string"
    )
    recs = deltas_to_records(
        df, value_columns={"latitude": "double", "longitude": "double"}
    )
    return recs.select(
        F.date_format("signalk_timestamp", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("ts_iso"),
        "context",
        "path",
        "value",
        "value_text",
        "value_bool",
        "value_latitude",
        "value_longitude",
        "source_label",
    )
