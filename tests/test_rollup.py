"""Rollup tier semantics: re-aggregation equivalence (the reference's key
invariant: reagg(5s -> 1h) ≡ direct(raw -> 1h)), angular partials, and the
position glitch-rejection pick."""

from __future__ import annotations

import math
from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from signalk_parquet_spark.operators.aggregate import METHODS, bucketed_agg
from signalk_parquet_spark.operators.rollup import (
    reaggregate_angular,
    reaggregate_scalar,
    rollup_angular,
    rollup_position,
    rollup_scalar,
)
from tests.records import T0, make_record, records_df, scalar_series


def test_scalar_reagg_equivalence(spark):
    # 120 s of 1 Hz data, varying values
    vals = [float((i * 7) % 13) for i in range(120)]
    df = records_df(spark, scalar_series(T0, vals))
    t5 = rollup_scalar(df, "5s")
    re60 = reaggregate_scalar(t5, 60_000)
    direct = (
        df.groupBy(F.window("signalk_timestamp", "60 seconds"))
        .agg(F.avg(F.col("value")).alias("direct_avg"))
        .select(F.col("window.start").alias("bucket"), "direct_avg")
    )
    joined = re60.join(direct, "bucket").collect()
    assert len(joined) == 2
    for r in joined:
        assert r["value"] == pytest.approx(r["direct_avg"], rel=1e-12)


def test_angular_reagg_equivalence(spark):
    angles = [math.radians(a % 360) for a in range(0, 1200, 10)]
    df = records_df(
        spark,
        scalar_series(T0, angles, path="navigation.headingMagnetic", meta='{"units":"rad"}'),
    )
    t5 = rollup_angular(df, "5s")
    re60 = reaggregate_angular(t5, 60_000)
    direct = (
        df.groupBy(F.window("signalk_timestamp", "60 seconds"))
        .agg(F.atan2(F.avg(F.sin("value")), F.avg(F.cos("value"))).alias("direct"))
        .select(F.col("window.start").alias("bucket"), "direct")
    )
    for r in re60.join(direct, "bucket").collect():
        assert r["value"] == pytest.approx(r["direct"], abs=1e-12)


def test_angular_rollup_nulls_minmax_and_wrap(spark):
    df = records_df(
        spark,
        scalar_series(
            T0,
            [math.radians(10), math.radians(350)],
            path="navigation.headingMagnetic",
            meta='{"units":"rad"}',
        ),
    )
    row = rollup_angular(df, "5s").collect()[0]
    assert row["value_min"] is None and row["value_max"] is None
    assert abs(row["value_avg"]) < 1e-9  # wraps to ~0, not pi


def test_position_rollup_rejects_glitch(spark):
    # clean track near (47.5, 8.7); one glitch point jumps ~110 km in 1 s
    rows = []
    for i in range(5):
        lat = 47.5 + i * 1e-5 if i != 2 else 48.5  # glitch at i=2
        rows.append(
            make_record(
                T0 + timedelta(seconds=i),
                "navigation.position",
                {"latitude": lat, "longitude": 8.7},
            )
        )
    df = records_df(spark, rows)
    rep = rollup_position(df, "5s").collect()
    assert len(rep) == 1
    r = rep[0]
    assert r["sample_count"] == 5
    # representative point is a clean one (glitch 48.5 rejected), near midpoint
    assert abs(r["value_latitude"] - 47.5) < 0.01


def test_position_rollup_representative_is_nearest_midpoint(spark):
    rows = [
        make_record(
            T0 + timedelta(seconds=i),
            "navigation.position",
            {"latitude": 47.5 + i * 1e-5, "longitude": 8.7},
        )
        for i in range(5)
    ]
    df = records_df(spark, rows)
    r = rollup_position(df, "5s").collect()[0]
    # bucket midpoint is t0+2.5s; nearest clean points are i=2 (2.5-2=0.5) and i=3 (0.5);
    # the reference prefers the point at/after the midpoint (aggregation-service.ts:632) -> i=3
    assert r["value_latitude"] == pytest.approx(47.5 + 3e-5)


_TIER = ["context", "path", "bucket_time"]
_SPAN = ["first_timestamp", "last_timestamp"]
_STATS = ["value_avg", "value_min", "value_max", "sample_count"]
_REAGG = ["context", "path", "bucket", "value"]




_EMPTY_CASES = [
    pytest.param(lambda d: rollup_scalar(d, "5s"), _TIER + _STATS + _SPAN, id="rollup_scalar"),
    pytest.param(
        lambda d: rollup_angular(d, "5s"),
        _TIER + _STATS + _SPAN + ["value_sin_avg", "value_cos_avg"],
        id="rollup_angular",
    ),
    pytest.param(
        lambda d: rollup_angular(d, "5s", exact_partials=True),
        _TIER + _STATS + ["value_sin_avg", "value_cos_avg"] + _SPAN
        + ["value_sin_sum_nano", "value_cos_sum_nano"],
        id="rollup_angular_exact",
    ),
    pytest.param(
        lambda d: reaggregate_scalar(rollup_scalar(d, "5s"), 60_000),
        _REAGG + ["value_min", "value_max", "sample_count"],
        id="reaggregate_scalar",
    ),
    pytest.param(
        lambda d: reaggregate_angular(rollup_angular(d, "5s"), 60_000),
        _REAGG + ["sample_count"],
        id="reaggregate_angular",
    ),
    pytest.param(
        lambda d: reaggregate_angular(
            rollup_angular(d, "5s", exact_partials=True), 60_000, exact_partials=True
        ),
        _REAGG + ["sample_count"],
        id="reaggregate_angular_exact",
    ),
    pytest.param(
        lambda d: rollup_position(d, "5s"),
        _TIER + ["value_latitude", "value_longitude", "sample_count"] + _SPAN,
        id="rollup_position",
    ),
] + [
    pytest.param(
        lambda d, m=m: bucketed_agg(d, "signalk_timestamp", "value", 60_000, m),
        ["bucket_ts", "value"],
        id=f"bucketed_agg_{m}",
    )
    for m in METHODS
]


@pytest.mark.parametrize("op, columns", _EMPTY_CASES)
def test_tier_operator_empty_input_gives_empty_frame(spark, op, columns):
    """Empty-input contract row: an empty record frame (position value
    columns included) yields an empty frame with the operator's documented
    columns, not an exception."""
    from pyspark.sql import types as T

    from signalk_parquet_spark.schema import record_schema

    pos = {"latitude": T.DoubleType(), "longitude": T.DoubleType()}
    out = op(spark.createDataFrame([], record_schema(pos)))
    assert out.columns == columns
    assert out.collect() == []
