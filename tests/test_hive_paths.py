"""Layout semantics — mirrors the reference's hive-path-builder.test.ts:
sanitize round-trips, leap-year day-of-year, partition dir shape."""

from datetime import date, datetime, timezone

from signalk_parquet_spark.sources.hive_paths import (
    day_of_year,
    days_in_range,
    sanitize_context,
    sanitize_path,
    unsanitize_context,
    unsanitize_path,
)


def test_sanitize_round_trip():
    # NB: the reference's scheme maps ':' -> '-', so contexts containing a
    # literal '-' don't round-trip there either (hive-path-builder.ts:184-195)
    ctx = "vessels.urn:mrn:signalk:uuid:abc123"
    assert unsanitize_context(sanitize_context(ctx)) == ctx
    assert sanitize_context(ctx) == "vessels__urn-mrn-signalk-uuid-abc123"
    p = "navigation.speedOverGround"
    assert unsanitize_path(sanitize_path(p)) == p
    assert sanitize_path(p) == "navigation__speedOverGround"


def test_leap_year_day_153():
    # the reference's golden: 2024-06-01 (leap year) -> day 153
    assert day_of_year(date(2024, 6, 1)) == "153"
    assert day_of_year(date(2023, 6, 1)) == "152"
    assert day_of_year(date(2024, 12, 31)) == "366"


def test_partition_dir_shape(spark, tmp_path):
    # the reference's golden path, as Lake.write_records lays it out
    from signalk_parquet_spark.sources.lake import Lake
    from tests.records import make_record, records_df

    ts = datetime(2024, 6, 1, 12, 0, tzinfo=timezone.utc)
    rec = make_record(ts, "navigation.position", 1.0, context="vessels.self")
    Lake(spark, str(tmp_path)).write_records(records_df(spark, [rec]), tier="raw")
    d = tmp_path / "tier=raw/context=vessels__self/path=navigation__position/year=2024/day=153"
    assert d.is_dir() and any(d.glob("*.parquet"))


def test_days_in_range_spans_year_boundary():
    f = datetime(2023, 12, 30, 12, 0, tzinfo=timezone.utc)
    t = datetime(2024, 1, 2, 1, 0, tzinfo=timezone.utc)
    assert days_in_range(f, t) == [(2023, 364), (2023, 365), (2024, 1), (2024, 2)]
