"""Focused tests for localrel.local_frame — the r12 LocalRelation lift
for metadata-sized driver→frame transfers (union-find labels, centroids,
offsets, the GPX file list, ...).

The lift's contract has two halves, each pinned here:
  1. VALUES: identical to the classic createDataFrame(list) path for the
     type zoo the call sites ship (ints with NULLs, doubles incl. -0.0
     and subnormals, strings, arrays) — Arrow must not coerce where
     pickle would not.
  2. PLAN: the frame scans as a JVM LocalRelation/LocalTableScan, never
     as a pickled Python RDD (Scan ExistingRDD) — the property that
     makes the lift broadcast-eligible and worker-free, and the whole
     point of the change (OPTIMIZATION_r12.md §3, §12).
"""

from __future__ import annotations

import math

from signalk_parquet_spark.localrel import local_frame

_SCHEMA = "id bigint, x double, tag string, arr array<double>"
_ROWS = [
    (0, -0.0, "a", [1.0, 2.5]),
    (1, 5e-324, None, []),           # smallest subnormal; NULL string
    (2, None, "c", None),            # NULL double and array
    (3, 1.7976931348623157e308, "d", [-0.0]),
    (2**62, 0.1, "e", [3.3333333333333335]),
]


def _canon(rows):
    # normalize Row objects to comparable tuples (repr distinguishes -0.0)
    return sorted(
        (r["id"], repr(r["x"]), r["tag"], None if r["arr"] is None else [repr(v) for v in r["arr"]])
        for r in rows
    )


def test_local_frame_values_match_classic(spark):
    lifted = local_frame(spark, _ROWS, _SCHEMA)
    classic = spark.createDataFrame(_ROWS, _SCHEMA)
    assert lifted.schema == classic.schema
    assert _canon(lifted.collect()) == _canon(classic.collect())
    # spot-check the hazard values survived exactly
    by_id = {r["id"]: r for r in lifted.collect()}
    assert math.copysign(1.0, by_id[0]["x"]) == -1.0    # -0.0 kept its sign
    assert by_id[1]["x"] == 5e-324                      # subnormal exact
    assert by_id[2]["x"] is None                        # NULL did not become NaN
    assert by_id[2**62]["id"] == 2**62                  # no int truncation


def test_local_frame_plan_is_local_not_pickled_rdd(spark):
    lifted = local_frame(spark, _ROWS, _SCHEMA)
    plan = lifted._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    assert "LocalTableScan" in plan, plan
    # the classic list lift this replaces scans a pickled Python RDD
    classic = spark.createDataFrame(_ROWS, _SCHEMA)
    assert "ExistingRDD" in classic._jdf.queryExecution().executedPlan().toString()


def test_local_frame_empty_rows_keep_schema(spark):
    empty = local_frame(spark, [], _SCHEMA)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["id", "x", "tag", "arr"]


def test_gpx_file_list_rides_local_frame(spark, tmp_path):
    from signalk_parquet_spark.sources.gpx import import_gpx_files

    p = tmp_path / "t.gpx"
    p.write_bytes(
        b'<gpx xmlns="http://www.topografix.com/GPX/1/1" version="1.1">'
        b"<trk><trkseg>"
        b'<trkpt lat="1.0" lon="2.0"><time>2024-06-01T00:00:00Z</time></trkpt>'
        b"</trkseg></trk></gpx>"
    )
    df = import_gpx_files(spark, [str(p)])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    assert len(df.collect()) == 1
