"""Engine integration: ingest → Hive lake → History query round trip —
the reference's write-read-pipeline.test.ts and history-api-http.test.ts
golden assertions, against OUR engine."""

from __future__ import annotations

import math
import re
from datetime import timedelta

import pytest

from signalk_parquet_spark.plans.history import HistoryPlanner
from signalk_parquet_spark.sources.buffer import HotBuffer
from signalk_parquet_spark.sources.lake import Lake
from tests.records import T0, UTC, make_record, records_df, scalar_series

FROM = "2024-06-01T12:00:00Z"
TO = "2024-06-01T12:01:00Z"


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lake"))
    lk = Lake(spark, root)
    rows = scalar_series(T0, [4, 5, 6, 7, 8])  # reference golden: AVG=6
    rows += scalar_series(
        T0,
        [math.radians(10), math.radians(350)] * 3,
        path="navigation.headingMagnetic",
        meta='{"units":"rad"}',
    )
    rows += [
        make_record(T0 + timedelta(seconds=i), "navigation.position", {"latitude": 47.5 + i * 0.001, "longitude": 8.7})
        for i in range(5)
    ]
    rows += scalar_series(T0, [9.0], path="environment.depth.belowTransducer", source_label="src-a")
    rows += scalar_series(
        T0 + timedelta(seconds=1), [11.0], path="environment.depth.belowTransducer", source_label="src-b"
    )
    lk.write_records(records_df(spark, rows), tier="raw")
    return lk


def test_hive_layout_on_disk(lake):
    import glob

    files = glob.glob(f"{lake.roots[0]}/tier=raw/context=*/path=*/year=*/day=*/*.parquet")
    assert files, "no partitioned files written"
    pat = re.compile(r"tier=raw/context=vessels__test-self/path=navigation__speedOverGround/year=2024/day=153/")
    assert any(pat.search(f) for f in files), files[:3]


def test_avg_golden_6(spark, lake):
    planner = HistoryPlanner(lake)
    df = planner.get_values("navigation.speedOverGround", FROM, TO, resolution_s=60)
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["navigation.speedOverGround"] == 6.0
    assert rows[0]["bucket_ts"] == "2024-06-01T12:00:00Z"


def test_angular_vector_average_golden(spark, lake):
    # AVG(10°, 350°) must be ~0°, NOT 180° (reference angular golden)
    planner = HistoryPlanner(lake, units_by_path={"navigation.headingMagnetic": "rad"})
    df = planner.get_values("navigation.headingMagnetic", FROM, TO, resolution_s=60)
    val = df.collect()[0]["navigation.headingMagnetic"]
    assert abs(val) < 1e-9


def test_multi_path_alignment_and_methods(spark, lake):
    planner = HistoryPlanner(lake)
    df = planner.get_values(
        "navigation.speedOverGround:min,navigation.speedOverGround:max,navigation.speedOverGround:first,"
        "navigation.speedOverGround:last,navigation.speedOverGround:mid",
        FROM,
        TO,
        resolution_s=60,
    )
    r = df.collect()[0]
    assert r["navigation.speedOverGround:min"] == 4.0
    assert r["navigation.speedOverGround:max"] == 8.0
    assert r["navigation.speedOverGround:first"] == 4.0
    assert r["navigation.speedOverGround:last"] == 8.0
    assert r["navigation.speedOverGround:mid"] == 6.0


def test_source_ref_filter(spark, lake):
    planner = HistoryPlanner(lake)
    df = planner.get_values("environment.depth.belowTransducer|src-b", FROM, TO, resolution_s=60)
    assert df.collect()[0]["environment.depth.belowTransducer"] == 11.0


def test_buffer_beats_parquet_per_bucket(spark, lake, tmp_path):
    buf = HotBuffer(spark, str(tmp_path / "hot"))
    hot_rows = scalar_series(T0 + timedelta(seconds=30), [100.0])
    buf.append(records_df(spark, hot_rows))
    planner = HistoryPlanner(lake, buffer=buf)
    # same bucket: hot source (priority 2) wins over cold (HistoryAPI.ts:1683-1693)
    df = planner.get_values("navigation.speedOverGround", FROM, TO, resolution_s=60)
    assert df.collect()[0]["navigation.speedOverGround"] == 100.0
    # different bucket: both appear
    df2 = planner.get_values("navigation.speedOverGround", FROM, TO, resolution_s=30)
    vals = {r["bucket_ts"]: r["navigation.speedOverGround"] for r in df2.collect()}
    assert vals["2024-06-01T12:00:00Z"] == 6.0
    assert vals["2024-06-01T12:00:30Z"] == 100.0


def test_export_day_exactly_once(spark, lake, tmp_path):
    # idempotent overwrite replaces the `exported` flag: export twice, count
    # once; an at-least-once sink's replay appends the same batch twice and
    # the export still carries each row once
    root = str(tmp_path / "lake2")
    lk = Lake(spark, root)
    buf = HotBuffer(spark, str(tmp_path / "hot2"))
    # the day's last microsecond belongs to the day: [start, start + 1 day)
    last = T0.replace(hour=23, minute=59, second=59, microsecond=999999)
    rows = scalar_series(T0, [1.0, 2.0, 3.0]) + scalar_series(last, [4.0])
    buf.append(records_df(spark, rows))
    buf.append(records_df(spark, rows))
    n1 = buf.export_day(lk, T0)
    n2 = buf.export_day(lk, T0)
    assert n1 == n2 == 4
    assert lk.read(tier="raw").count() == 4


def test_smoothing_sma_and_ema(spark, lake):
    planner = HistoryPlanner(lake)
    df = planner.get_values("navigation.speedOverGround:sma:3", FROM, TO, resolution_s=1)
    vals = [r["navigation.speedOverGround:sma3"] for r in df.collect()]
    # buckets are 4,5,6,7,8 -> trailing SMA(3): 4, 4.5, 5, 6, 7
    assert vals == [4.0, 4.5, 5.0, 6.0, 7.0]

    # bare `ema` uses the reference's defaultEmaAlpha=0.2; the param, when
    # given, IS the alpha (HistoryAPI.ts:2061-2063 parseFloat) — `ema:5`
    # would mean α=5, so the old habit of writing the SMA window there was
    # never reference-faithful.
    df2 = planner.get_values("navigation.speedOverGround:average:ema", FROM, TO, resolution_s=1)
    rows = df2.collect()
    ema_col = "navigation.speedOverGround:ema__smoothed"
    # reference recurrence: seed 4; 0.2*5+0.8*4=4.2; 0.2*6+0.8*4.2=4.56 ...
    expect, prev = [], None
    for v in [4, 5, 6, 7, 8]:
        prev = v if prev is None else 0.2 * v + 0.8 * prev
        expect.append(prev)
    got = [r[ema_col] for r in rows]
    assert got == pytest.approx(expect)

    # request-supplied α=0.5 reaches the smoother
    df3 = planner.get_values("navigation.speedOverGround:average:ema:0.5", FROM, TO, resolution_s=1)
    got5 = [r["navigation.speedOverGround:ema0.5__smoothed"] for r in df3.collect()]
    expect5, prev = [], None
    for v in [4, 5, 6, 7, 8]:
        prev = v if prev is None else 0.5 * v + 0.5 * prev
        expect5.append(prev)
    assert got5 == pytest.approx(expect5)


def test_string_path_first_not_avg(spark, tmp_path):
    lk = Lake(spark, str(tmp_path / "lake3"))
    rows = [make_record(T0, "name", "Aurora"), make_record(T0 + timedelta(seconds=1), "name", "Aurora")]
    lk.write_records(records_df(spark, rows), tier="raw")
    planner = HistoryPlanner(lk)
    df = planner.get_values("name", FROM, TO, resolution_s=60)
    assert df.collect()[0]["name"] == "Aurora"


def test_spatial_prepass_filters_buckets(spark, tmp_path):
    lk = Lake(spark, str(tmp_path / "lake4"))
    rows = []
    # minute 0: position inside bbox; minute 1: outside
    rows.append(make_record(T0, "navigation.position", {"latitude": 47.5, "longitude": 8.7}))
    rows.append(
        make_record(T0 + timedelta(minutes=1), "navigation.position", {"latitude": 10.0, "longitude": 100.0})
    )
    rows += scalar_series(T0, [5.0])
    rows += scalar_series(T0 + timedelta(minutes=1), [99.0])
    lk.write_records(records_df(spark, rows), tier="raw")
    planner = HistoryPlanner(lk)
    df = planner.get_values(
        "navigation.speedOverGround",
        FROM,
        "2024-06-01T12:02:00Z",
        resolution_s=60,
        bbox=(47.0, 48.0, 8.0, 9.0),
    )
    rows_out = df.collect()
    assert len(rows_out) == 1 and rows_out[0]["navigation.speedOverGround"] == 5.0


def test_object_path_component_aggregation(spark, lake):
    # SURVEY A13 through the planner: position aggregates per component and
    # reconstructs the object JSON
    import json

    planner = HistoryPlanner(lake)
    df = planner.get_values("navigation.position", FROM, TO, resolution_s=60)
    val = json.loads(df.collect()[0]["navigation.position"])
    assert val["longitude"] == 8.7
    assert val["latitude"] == pytest.approx(47.502)  # avg of 47.5..47.504


def test_api_facade_dataresult_shape(spark, lake):
    from signalk_parquet_spark.api import discovery_response, get_values_response

    planner = HistoryPlanner(lake)
    resp = get_values_response(
        planner,
        "navigation.speedOverGround:average,navigation.speedOverGround:max",
        FROM,
        TO,
        resolution_s=60,
    )
    assert resp["columns"][0] == "bucket_ts"
    assert [v["method"] for v in resp["values"]] == ["average", "max"]
    assert resp["data"] == [["2024-06-01T12:00:00Z", 6.0, 8.0]]

    disc = discovery_response(planner)
    # reference-faithful lossiness: sanitize maps ':'->'-', so unsanitize
    # reads literal '-' back as ':' (hive-path-builder.ts:184-195)
    assert "vessels.test:self" in disc["contexts"]
    assert "navigation.speedOverGround" in disc["paths"]


def test_api_local_timezone_and_autodiscovery(spark, lake):
    from signalk_parquet_spark.api import get_values_response
    from signalk_parquet_spark.operators.migrations import AutoDiscovery

    planner = HistoryPlanner(lake)
    ad = AutoDiscovery(include=["navigation.*"])
    resp = get_values_response(
        planner, "navigation.speedOverGround", FROM, TO, resolution_s=60,
        tz="Europe/Zurich", auto_discovery=ad,
    )
    # 12:00Z in June = 14:00 CEST with offset
    assert resp["data"][0][0] == "2024-06-01T14:00:00+02:00"
    assert resp["meta"]["autoConfigured"] == ["navigation.speedOverGround"]
    # second query: already configured -> no meta
    resp2 = get_values_response(
        planner, "navigation.speedOverGround", FROM, TO, resolution_s=60, auto_discovery=ad,
    )
    assert "meta" not in resp2
