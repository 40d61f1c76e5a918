"""Measured ramp for incremental tier maintenance (SCALE.md source).

The claim under test: rollup_incremental's cost is bounded by the LATE
DATA's (series, day) spread, not by history size — while the reference's
maintenance model (full recompute of the tier) grows with history. Build
a lake with H days of history across S series, land a fixed-size late
batch touching ONE (context, path, day) partition, and time both
maintenance strategies as H grows.

Run: python tools/ramp.py incremental
"""

import shutil
import tempfile
from contextlib import contextmanager
from datetime import datetime, timezone

from pyspark.sql import functions as F

from signalk_parquet_spark.operators.incremental import (
    full_equals_incremental,
    rollup_incremental,
)
from signalk_parquet_spark.operators.rollup import rollup_scalar
from signalk_parquet_spark.sources.lake import Lake
from tools.ramps import Ramp

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
ROWS_PER_DAY = 2_000  # per series
SERIES = 8
LATE_ROWS = 200


def records(df, ts, context, value):
    """The raw record columns around a generated timestamp, context and value."""
    return df.select(
        F.lit(None).cast("timestamp").alias("received_timestamp"),
        ts.alias("signalk_timestamp"),
        context.alias("context"),
        F.lit("environment.wind.speedApparent").alias("path"),
        value.cast("double").alias("value"),
        F.lit(None).cast("string").alias("value_text"),
        F.lit(None).cast("boolean").alias("value_bool"),
        F.lit(None).cast("string").alias("value_json"),
        F.lit('{"label":"ramp"}').alias("source"),
        F.lit("ramp").alias("source_label"),
        F.lit("ramp").alias("source_type"),
        F.lit(None).cast("double").alias("source_pgn"),
        F.lit(None).cast("string").alias("source_src"),
        F.lit(None).cast("string").alias("meta"),
    )


def build_history(spark, lake: Lake, days: int, series: int) -> None:
    """Executor-generated raw history: days x series x ROWS_PER_DAY rows,
    one write, then the initial 1h tier."""
    n = days * series * ROWS_PER_DAY
    df = (
        spark.range(n)
        .withColumn("day", (F.col("id") % days))
        .withColumn("ser", (F.col("id") / days).cast("long") % series)
        .withColumn("slot", (F.col("id") / (days * series)).cast("long"))
    )
    ts = (F.lit(T0) + F.make_dt_interval(days=F.col("day"))
          + F.make_dt_interval(secs=F.col("slot") * 43))
    context = F.concat(F.lit("vessels.s"), F.col("ser"))
    lake.write_records(records(df, ts, context, F.col("id") % 997), tier="raw")
    lake.write_rollup(full_recompute(lake), "1h")


def late_batch(spark, n: int = LATE_ROWS):
    """Fixed-size late batch for series 0, day 0 — one touched partition."""
    ts = F.lit(T0) + F.make_dt_interval(secs=F.col("id") * 311 + 7)
    return records(spark.range(n), ts, F.lit("vessels.s0"), F.col("id") + 10_000)


def full_recompute(lake: Lake):
    return rollup_scalar(lake.read(tier="raw").drop("tier", "year", "day"), "1h")


@contextmanager
def lake_with_late(spark, days: int):
    """History of ``days`` days with the late batch landed in raw."""
    root = tempfile.mkdtemp(prefix="spark_graft_incr_ramp_")
    late = late_batch(spark)
    try:
        lake = Lake(spark, root)
        build_history(spark, lake, days, SERIES)
        lake.write_records(late, tier="raw", mode="append")
        late.persist().count()
        yield lake, late, days * SERIES * ROWS_PER_DAY
    finally:
        late.unpersist()
        shutil.rmtree(root, ignore_errors=True)


def full(spark, inp) -> None:
    """The full recompute, written beside the maintained tier so the check
    still sees what the incremental run left."""
    lake, _, _ = inp
    lake.write_rollup(full_recompute(lake), "1h_full")


def equals_full(spark, inp, results: dict) -> dict:
    lake, _, rows = inp
    all_raw = lake.read(tier="raw").drop("tier", "year", "day")
    return {"rows": rows, "touched": results["incremental"],
            "ok": full_equals_incremental(spark, lake, "1h", all_raw)}


RAMPS = {
    "incremental": Ramp(
        sizes=(4, 16, 64),
        build=lake_with_late,
        variants={"incremental": lambda spark, inp: rollup_incremental(inp[0], inp[1], "1h"),
                  "full": full},
        check=equals_full,
    ),
}
