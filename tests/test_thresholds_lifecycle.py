"""Threshold operators + hysteresis, retention-rule specificity, compaction,
SQL passthrough guard, GPX import, multimodal plumbing."""

from __future__ import annotations

import glob
from datetime import datetime, timedelta, timezone

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from signalk_parquet_spark.operators.lifecycle import (
    RetentionRule,
    compact_partition,
    effective_retention_days,
    retention_cleanup,
)
from signalk_parquet_spark.operators.rollup import rollup_scalar
from signalk_parquet_spark.operators.thresholds import (
    threshold_predicate,
    threshold_transitions,
)
from signalk_parquet_spark.plans.sql_passthrough import run_readonly_sql, validate_readonly_sql
from signalk_parquet_spark.sources.lake import Lake
from tests.records import T0, make_record, records_df, scalar_series

UTC = timezone.utc


# --- thresholds -------------------------------------------------------------
def test_threshold_operators(spark):
    df = records_df(spark, scalar_series(T0, [1.0, 30.0, 2.0]))
    gt = threshold_predicate("gt", F.col("value"), {"value": 25.0})
    assert df.filter(gt).count() == 1
    rng = threshold_predicate("range", F.col("value"), {"low": 1.5, "high": 25.0})
    assert df.filter(rng).count() == 1
    sw = threshold_predicate("startsWith", F.col("source_label"), {"value": "gps"})
    assert df.filter(sw).count() == 3
    with pytest.raises(ValueError):
        threshold_predicate("bogus", F.col("value"), {})


def test_threshold_hysteresis_transitions(spark):
    # values cross threshold 5: under, over, over, under, over
    df = records_df(spark, scalar_series(T0, [1.0, 9.0, 8.0, 2.0, 7.0]))
    cond = F.col("value") > 5.0
    out = threshold_transitions(df, "signalk_timestamp", cond).orderBy("signalk_timestamp")
    events = [r["event"] for r in out.collect()]
    # the repeated 'over' (8.0) is suppressed
    assert events == ["activated", "deactivated", "activated"]


# --- retention ---------------------------------------------------------------
def test_retention_specificity():
    rules = [
        RetentionRule("*", 3),
        RetentionRule("navigation.*", 10),
        RetentionRule("navigation.position", 30),
    ]
    assert effective_retention_days("environment.depth", "raw", 7, rules) == 3
    assert effective_retention_days("navigation.speedOverGround", "raw", 7, rules) == 10
    assert effective_retention_days("navigation.position", "raw", 7, rules) == 30
    # tier multipliers (x2 for 5s, x12 for 1h)
    assert effective_retention_days("navigation.position", "5s", 7, rules) == 60
    assert effective_retention_days("a.b", "1h", 7, None) == 84


def test_retention_cleanup_drops_old_partitions(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    old_day = datetime(2024, 1, 1, 12, 0, tzinfo=UTC)
    new_day = datetime(2024, 6, 1, 12, 0, tzinfo=UTC)
    lake.write_records(records_df(spark, scalar_series(old_day, [1.0])), tier="raw")
    lake.write_records(records_df(spark, scalar_series(new_day, [2.0])), tier="raw")
    now = datetime(2024, 6, 3, tzinfo=UTC)
    removed = retention_cleanup(lake, now, base_days=7, dry_run=True)
    assert len(removed) == 1 and "day=001" in removed[0]
    retention_cleanup(lake, now, base_days=7)
    assert lake.read(tier="raw").count() == 1


# --- compaction ----------------------------------------------------------------
def test_compaction_merges_files(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    # several separate appends -> several files in one day partition
    for v in range(4):
        lake.write_records(records_df(spark, scalar_series(T0, [float(v)])), tier="raw")
    part_glob = f"{lake.roots[0]}/tier=raw/context=*/path=*/year=2024/day=153/*.parquet"
    assert len(glob.glob(part_glob)) >= 4
    n = compact_partition(lake, "raw", "vessels__test-self", "navigation__speedOverGround", 2024)
    assert n == 4
    assert len(glob.glob(part_glob)) == 1  # one file now
    assert lake.read(tier="raw").count() == 4  # no data lost
    # the partition values live only in the directory names, as the writers
    # leave them (a copy in the file makes every later read warn
    # COLUMN_ALREADY_EXISTS)
    (compacted,) = glob.glob(part_glob)
    assert not set(pq.read_schema(compacted).names) & {"tier", "context", "path", "year", "day"}

    # a rollup tier keeps its trailing epoch level and zero-padded day, so
    # the tier stays one depth and reads back equal (two paths: the
    # uncompacted one must still read alongside); day 010 needs the padding
    t_jan = datetime(2024, 1, 10, 12, tzinfo=UTC)
    for path in ("navigation.speedOverGround", "environment.depth"):
        for t in (T0, t_jan):
            lake.write_records(records_df(spark, scalar_series(t, [1.0, 2.0], path=path)), tier="raw")
    lake.write_rollup(rollup_scalar(lake.read(tier="raw"), "5s"), "5s")

    def tier_5s():
        return sorted(map(str, lake.read(tier="5s").collect()))

    before = tier_5s()
    assert compact_partition(lake, "5s", "vessels__test-self", "navigation__speedOverGround", 2024) == 2
    assert tier_5s() == before
    leaves = glob.glob(f"{lake.roots[0]}/tier=5s/context=*/path=navigation__speedOverGround/year=2024/*/*/")
    assert sorted(p.split("/year=2024/")[1] for p in leaves) == ["day=010/epoch=0/", "day=153/epoch=0/"]


# --- SQL passthrough --------------------------------------------------------------
def test_sql_passthrough_guard():
    validate_readonly_sql("SELECT 1")
    validate_readonly_sql("WITH x AS (SELECT 1) SELECT * FROM x")
    for bad in ["DROP TABLE t", "SELECT 1; SELECT 2", "INSERT INTO t VALUES (1)",
                "SELECT * FROM t WHERE x = 1 OR (SELECT count(*) FROM u) > 0; DELETE FROM t"]:
        with pytest.raises(ValueError):
            validate_readonly_sql(bad)


def test_sql_passthrough_runs(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    lake.write_records(records_df(spark, scalar_series(T0, [4, 5, 6, 7, 8])), tier="raw")
    df = run_readonly_sql(
        lake,
        'SELECT avg(value) AS a FROM "navigation.speedOverGround"',
        ["navigation.speedOverGround"],
    )
    assert df.collect()[0]["a"] == 6.0


def test_sql_passthrough_path_rewriting_and_column_correct(spark, tmp_path):
    """Query SignalK paths BY NAME with no pre-registered views, and the
    value→value_json auto-correct for object paths (claude-analyzer.ts:
    3307-3368)."""
    from signalk_parquet_spark.plans.sql_passthrough import correct_column_usage

    lake = Lake(spark, str(tmp_path / "lake"))
    lake.write_records(records_df(spark, scalar_series(T0, [4, 5, 6, 7, 8])), tier="raw")
    pos_rows = [
        make_record(T0, "navigation.position", {"latitude": 47.5, "longitude": 8.7}),
        make_record(T0 + timedelta(seconds=1), "navigation.position",
                    {"latitude": 47.6, "longitude": 8.8}),
    ]
    lake.write_records(records_df(spark, pos_rows), tier="raw")

    # bare dotted path in the SQL, no paths= argument: auto-discovered
    df = run_readonly_sql(
        lake, 'SELECT avg(value) AS a FROM "navigation.speedOverGround"'
    )
    assert df.collect()[0]["a"] == 6.0

    # object path + standalone `value` -> auto-corrected to value_json
    corrected = correct_column_usage(
        'SELECT value FROM "navigation.position" WHERE value IS NOT NULL'
    )
    assert corrected == (
        'SELECT value_json FROM "navigation.position" WHERE value_json IS NOT NULL'
    )
    # value_latitude / value_json stay untouched
    assert correct_column_usage('SELECT value_latitude FROM "navigation.position"') == (
        'SELECT value_latitude FROM "navigation.position"'
    )
    # scalar-path queries are never rewritten
    assert correct_column_usage('SELECT value FROM "navigation.speedOverGround"') == (
        'SELECT value FROM "navigation.speedOverGround"'
    )

    # end-to-end: the corrected query runs and returns the JSON objects
    out = run_readonly_sql(
        lake,
        'SELECT value FROM "navigation.position" WHERE value IS NOT NULL ORDER BY value',
    )
    got = [r["value_json"] for r in out.collect()]
    assert got == [
        '{"latitude":47.5,"longitude":8.7}',
        '{"latitude":47.6,"longitude":8.8}',
    ]


def test_sql_passthrough_mixed_paths_keeps_scalar_value(spark, tmp_path):
    """A query joining an object path with a scalar path must NOT have the
    scalar side's bare `value` rewritten to value_json — the whole-text
    rewrite would silently null out the scalar series (round-2 advice)."""
    from signalk_parquet_spark.plans.sql_passthrough import correct_column_usage

    # scoped form: mixed path list leaves the SQL untouched; all-object rewrites
    assert correct_column_usage(
        "SELECT value FROM t", ["navigation.position", "navigation.speedOverGround"]
    ) == "SELECT value FROM t"
    assert correct_column_usage(
        "SELECT value FROM t", ["navigation.position"]
    ) == "SELECT value_json FROM t"

    lake = Lake(spark, str(tmp_path / "lake"))
    lake.write_records(records_df(spark, scalar_series(T0, [4, 5, 6, 7, 8])), tier="raw")
    pos_rows = [
        make_record(T0, "navigation.position", {"latitude": 47.5, "longitude": 8.7}),
        make_record(T0 + timedelta(seconds=1), "navigation.position",
                    {"latitude": 47.6, "longitude": 8.8}),
    ]
    lake.write_records(records_df(spark, pos_rows), tier="raw")
    out = run_readonly_sql(
        lake,
        'SELECT s.value AS sog, p.value_latitude AS lat '
        'FROM "navigation.speedOverGround" s '
        'JOIN "navigation.position" p ON s.signalk_timestamp = p.signalk_timestamp '
        'ORDER BY lat',
    ).collect()
    assert len(out) == 2
    assert [r["sog"] for r in out] == [4.0, 5.0]  # NOT nulled by the rewrite
    assert [r["lat"] for r in out] == [47.5, 47.6]


# --- GPX import ---------------------------------------------------------------------
GPX = b"""<?xml version="1.0"?>
<gpx xmlns="http://www.topografix.com/GPX/1/1" version="1.1">
 <trk><trkseg>
  <trkpt lat="47.5" lon="8.7"><time>2024-06-01T12:00:00Z</time></trkpt>
  <trkpt lat="47.501" lon="8.7"><time>2024-06-01T12:00:10Z</time></trkpt>
 </trkseg></trk>
</gpx>"""


def test_gpx_import(spark, tmp_path):
    from signalk_parquet_spark.sources.gpx import import_gpx_files, parse_gpx_bytes

    p = tmp_path / "track.gpx"
    p.write_bytes(GPX)
    # reference-exact default: no <speed>/<course>/<ele> tags -> positions only
    rows = parse_gpx_bytes(GPX)
    assert [r["path"] for r in rows] == ["navigation.position"] * 2
    # derive_missing extension: haversine speed + bearing course from the
    # previous same-segment point
    rows = parse_gpx_bytes(GPX, derive_missing=True)
    assert [r["path"] for r in rows].count("navigation.position") == 2
    assert [r["path"] for r in rows].count("navigation.speedOverGround") == 1
    df = import_gpx_files(spark, [str(p)], derive_missing=True)
    got = df.collect()
    assert len(got) == 4
    sog = [r for r in got if r["path"] == "navigation.speedOverGround"][0]
    assert sog["value"] == pytest.approx(11.12, abs=0.1)  # ~111m in 10s


def test_gpx_import_empty_path_list(spark):
    """ADVICE r12: an empty path list must yield an empty frame, not the
    opaque IllegalArgumentException of repartition(0)."""
    from signalk_parquet_spark.sources.gpx import import_gpx_files

    assert import_gpx_files(spark, []).count() == 0


GPX_TAGGED = b"""<?xml version="1.0"?>
<gpx xmlns="http://www.topografix.com/GPX/1/1" version="1.1">
 <trk><trkseg>
  <trkpt lat="47.5" lon="8.7"><time>2024-06-01T12:00:00Z</time><ele>12.5</ele><speed>5.25</speed><course>180.0</course></trkpt>
  <trkpt lat="47.501" lon="8.7"><time>2024-06-01T12:00:10Z</time></trkpt>
 </trkseg></trk>
 <trk><trkseg>
  <trkpt lat="10.0" lon="10.0"><time>2024-06-01T13:00:00Z</time></trkpt>
 </trkseg></trk>
</gpx>"""


def test_gpx_tag_semantics_and_segment_reset():
    """Reference fidelity (gpx-import-service.ts:560-572): <speed> m/s
    AS-IS, <course> deg->rad, <ele> -> gnss.antennaAltitude; tagged values
    win over derivation; derivation never crosses a <trkseg> boundary."""
    import math

    from signalk_parquet_spark.sources.gpx import parse_gpx_bytes

    rows = parse_gpx_bytes(GPX_TAGGED, derive_missing=True)
    by = {}
    for r in rows:
        by.setdefault(r["path"], []).append(r)
    assert [r["value"] for r in by["navigation.gnss.antennaAltitude"]] == [12.5]
    # point 0: tag values verbatim (speed NOT re-derived, course in radians)
    assert by["navigation.speedOverGround"][0]["value"] == 5.25
    assert by["navigation.courseOverGroundTrue"][0]["value"] == math.radians(180.0)
    # point 1: derived (tagless) -- ~111 m in 10 s heading ~north
    assert by["navigation.speedOverGround"][1]["value"] == pytest.approx(11.12, abs=0.1)
    assert by["navigation.courseOverGroundTrue"][1]["value"] == pytest.approx(0.0, abs=0.01)
    # the second segment's lone point derives NOTHING (no cross-segment prev)
    assert len(by["navigation.speedOverGround"]) == 2
    assert sum(1 for r in by["navigation.position"] if r["value_latitude"] == 10.0) == 1


# --- multimodal plumbing + real decoders -----------------------------------------------
def _png_bytes(w: int, h: int, color_type: int = 6, depth: int = 8) -> bytes:
    """Minimal REAL PNG: signature + CRC-correct IHDR + IEND."""
    import struct
    import zlib

    def chunk(tag: bytes, body: bytes) -> bytes:
        return struct.pack(">I", len(body)) + tag + body + struct.pack(
            ">I", zlib.crc32(tag + body)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, 0)
    return b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")


def _wav_bytes(n_frames: int = 16000, rate: int = 8000, channels: int = 1) -> bytes:
    """REAL WAV via the stdlib writer (silence)."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(channels)
        wv.setsampwidth(2)
        wv.setframerate(rate)
        wv.writeframes(b"\x00\x00" * n_frames * channels)
    return buf.getvalue()


def _mp4_bytes(w: int = 1280, h: int = 720, dur_s: float = 3.5, timescale: int = 1000) -> bytes:
    """REAL minimal MP4/ISO-BMFF: ftyp + moov(mvhd + trak(tkhd)) + mdat,
    spec-correct v0 box layouts (width/height as 16.16 fixed point)."""
    import struct

    def box(tag: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + tag + body

    dur = int(dur_s * timescale)
    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00"  # version 0 + flags
        + struct.pack(">II", 0, 0)  # ctime, mtime
        + struct.pack(">II", timescale, dur)
        + b"\x00" * 80,  # rate, volume, reserved, matrix, predefined, next_track
    )
    tkhd = box(
        b"tkhd",
        b"\x00\x00\x00\x07"  # version 0 + flags (enabled|in movie|in preview)
        + struct.pack(">IIII", 0, 0, 1, 0)  # ctime, mtime, track_id, reserved
        + struct.pack(">I", dur)
        + b"\x00" * 8  # reserved
        + b"\x00" * 8  # layer, alt_group, volume, reserved
        + b"\x00" * 36  # matrix
        + struct.pack(">II", w << 16, h << 16),  # 16.16 fixed-point dims
    )
    return (
        box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
        + box(b"moov", mvhd + box(b"trak", tkhd))
        + box(b"mdat", b"\x00" * 16)
    )


def test_video_moov_decoder():
    """The MP4 decoder REALLY walks the box tree: duration from moov/mvhd,
    16.16 fixed-point dimensions from moov/trak/tkhd."""
    from signalk_parquet_spark.operators.multimodal import (
        parse_video_header,
        video_header_features,
    )

    meta = parse_video_header(_mp4_bytes(1920, 1080, dur_s=7.25))
    assert (meta["format"], meta["width"], meta["height"]) == ("mp4", 1920, 1080)
    assert meta["duration_s"] == 7.25
    assert meta["n_tracks"] == 1
    assert video_header_features(_mp4_bytes(640, 360, 2.0)) == [640.0, 360.0, 2.0, 1.0]
    # corrupt / non-MP4 payloads degrade to None / NaNs, never raise
    assert parse_video_header(b"\x00mp4fake") is None
    assert parse_video_header(b"\x00\x00\x00\x10ftypisom") is None  # no moov
    import math

    assert all(math.isnan(v) for v in video_header_features(b"garbage"))


def test_image_audio_header_decoders():
    """The registered decoders REALLY decode: dims from PNG/JPEG/GIF/BMP
    headers, audio params from WAV."""
    import struct

    from signalk_parquet_spark.operators.multimodal import (
        parse_image_header,
        parse_wav_header,
    )

    png = parse_image_header(_png_bytes(640, 480))
    assert (png["format"], png["width"], png["height"], png["channels"]) == ("png", 640, 480, 4)

    # minimal JPEG: SOI + SOF0 (precision 8, h=33, w=49, 3 components) + EOI
    sof_body = struct.pack(">BHHB", 8, 33, 49, 3) + b"\x01\x11\x00\x02\x11\x00\x03\x11\x00"
    jpeg = (
        b"\xff\xd8" + b"\xff\xc0" + struct.pack(">H", 2 + len(sof_body)) + sof_body + b"\xff\xd9"
    )
    j = parse_image_header(jpeg)
    assert (j["format"], j["width"], j["height"], j["channels"]) == ("jpeg", 49, 33, 3)

    gif = parse_image_header(b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00")
    assert (gif["format"], gif["width"], gif["height"]) == ("gif", 320, 200)

    bmp_hdr = b"BM" + b"\x00" * 16 + struct.pack("<ii", 123, -45) + b"\x00\x00" + struct.pack("<H", 24)
    bmp = parse_image_header(bmp_hdr)
    assert (bmp["format"], bmp["width"], bmp["height"], bmp["channels"]) == ("bmp", 123, 45, 3)

    wav = parse_wav_header(_wav_bytes(n_frames=16000, rate=8000))
    assert (wav["channels"], wav["sample_rate"], wav["duration_s"]) == (1, 8000, 2.0)

    # corrupt payloads degrade to None, never raise
    assert parse_image_header(b"\x89PNGfake") is None
    assert parse_wav_header(b"RIFFfake") is None


def test_multimodal_decode_pipeline(spark):
    from signalk_parquet_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_features,
        frame_sample_plan,
        media_stats,
    )

    rows = [
        (1, "image", "image/png", _png_bytes(640, 480), 640, 480, None, "{}"),
        (2, "video", "video/mp4", _mp4_bytes(1920, 1080, 3.5), 1920, 1080, 3.5, "{}"),
        (3, "audio", "audio/wav", _wav_bytes(16000, 8000), None, None, 2.0, "{}"),
        (4, "hologram", "application/x-unknown", b"\x00mystery", None, None, None, "{}"),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["media_id"]: r["features"] for r in decode_features(df).collect()}
    # image/audio/video run the REAL registered decoders
    assert feats[1] == [640.0, 480.0, 8.0, 4.0]
    assert feats[3] == [1.0, 8000.0, 2.0, 2.0]
    assert feats[2] == [1920.0, 1080.0, 3.5, 1.0]
    # unregistered modality -> deterministic 8-dim stub
    assert len(feats[4]) == 8
    again = {r["media_id"]: r["features"] for r in decode_features(df).collect()}
    assert feats == again
    stats = {r["modality"]: r for r in media_stats(df).collect()}
    assert stats["image"]["n"] == 1
    frames = frame_sample_plan(df, every_s=1.0).collect()
    assert [r["frame_idx"] for r in frames] == [0, 1, 2]


def test_json_csv_sinks_roundtrip(spark, tmp_path):
    from signalk_parquet_spark.sources.sinks import READERS, write_csv, write_json, write_parquet

    df = records_df(spark, scalar_series(T0, [1.0, 2.0])).select(
        "context", "path", "value", "signalk_timestamp"
    )
    for fmt, writer in (("json", write_json), ("csv", write_csv), ("parquet", write_parquet)):
        p = str(tmp_path / fmt)
        writer(df, p)
        back = READERS[fmt](spark, p)
        assert back.count() == 2
        assert {r["value"] for r in back.select("value").collect()} == {1.0, 2.0}


def test_migrations_and_autodiscovery(spark, tmp_path):
    import math

    from signalk_parquet_spark.operators.migrations import (
        AutoDiscovery,
        migrate_position_reaggregation,
        migrate_vector_averaging,
    )
    from tests.records import make_record

    lake = Lake(spark, str(tmp_path / "lake"))
    rows = scalar_series(
        T0, [math.radians(10), math.radians(350)],
        path="navigation.headingMagnetic", meta='{"units":"rad"}',
    )
    rows += [
        make_record(T0 + timedelta(seconds=i), "navigation.position",
                    {"latitude": 47.5 + i * 1e-5, "longitude": 8.7})
        for i in range(3)
    ]
    lake.write_records(records_df(spark, rows), tier="raw")

    dry = migrate_vector_averaging(lake, ["navigation.headingMagnetic"], tiers=("5s",), dry_run=True)
    assert dry["5s"] == 1
    migrate_vector_averaging(lake, ["navigation.headingMagnetic"], tiers=("5s",))
    t5 = lake.read(tier="5s", path="navigation.headingMagnetic")
    row = t5.first()
    assert abs(row["value_sin_avg"]) < 0.2 and row["value_cos_avg"] > 0.9

    pos = migrate_position_reaggregation(lake, tiers=("5s",))
    assert pos["5s"] == 1
    rep = lake.read(tier="5s", path="navigation.position").first()
    assert rep["value_latitude"] == pytest.approx(47.50001)

    ad = AutoDiscovery(include=["navigation.*"], exclude=["navigation.secret*"], cap=2)
    assert ad.check("navigation.speedOverGround")
    assert not ad.check("navigation.secretChannel")
    assert not ad.check("environment.depth")
    assert ad.check("navigation.position")
    assert not ad.check("navigation.courseOverGroundTrue")  # cap reached
    assert ad.check("navigation.speedOverGround")  # already configured


def test_threshold_spatial_operators(spark):
    from tests.records import make_record

    rows = [
        make_record(T0, "navigation.position", {"latitude": 47.5, "longitude": 8.7}),
        make_record(T0 + timedelta(seconds=1), "navigation.position", {"latitude": 10.0, "longitude": 100.0}),
    ]
    df = records_df(spark, rows)
    lat, lon = F.col("value_latitude"), F.col("value_longitude")
    within = threshold_predicate(
        "withinRadius", F.col("value"),
        {"lat_col": lat, "lon_col": lon, "lat": 47.5, "lon": 8.7, "radius_m": 1000.0},
    )
    assert df.filter(within).count() == 1
    outside_box = threshold_predicate(
        "outsideBoundingBox", F.col("value"),
        {"lat_col": lat, "lon_col": lon, "south": 47.0, "north": 48.0, "west": 8.0, "east": 9.0},
    )
    assert df.filter(outside_box).count() == 1


def _png_with_pixels(pixels, color_type, filters, plte=None):
    """Encode a REAL PNG from an (H, W, C) uint8 array, applying the given
    per-row filter types — so the decoder's unfiltering is tested against
    independently-computed filtered bytes."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape[:2]
    c = 1 if px.ndim == 2 else px.shape[2]
    flat = px.reshape(h, w * c).astype(np.int32)
    bpp = c
    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.int32)
    for row in range(h):
        f = filters[row % len(filters)]
        cur = flat[row]
        out = np.zeros(w * c, dtype=np.int32)
        for x in range(w * c):
            a = cur[x - bpp] if x >= bpp else 0
            b = prev[x]
            cc = prev[x - bpp] if x >= bpp else 0
            if f == 0:
                out[x] = cur[x]
            elif f == 1:
                out[x] = cur[x] - a
            elif f == 2:
                out[x] = cur[x] - b
            elif f == 3:
                out[x] = cur[x] - (a + b) // 2
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                out[x] = cur[x] - pred
        raw.append(f)
        raw.extend((out & 0xFF).astype(np.uint8).tobytes())
        prev = cur

    def chunk(tag, body):
        return struct.pack(">I", len(body)) + tag + body + struct.pack(
            ">I", zlib.crc32(tag + body)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    png = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte is not None:
        png += chunk(b"PLTE", bytes(plte))
    png += chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    return png


def test_png_pixel_decode_all_filters():
    """decode_png_pixels must invert every PNG filter type exactly."""
    import numpy as np

    from signalk_parquet_spark.operators.multimodal import decode_png_pixels

    rng = np.random.RandomState(42)
    px = rng.randint(0, 256, size=(10, 7, 3), dtype=np.uint8)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        payload = _png_with_pixels(px, color_type=2, filters=filters)
        got = decode_png_pixels(payload)
        assert got is not None and np.array_equal(got, px), f"filters={filters}"
    # grayscale and RGBA shapes
    g = rng.randint(0, 256, size=(5, 4, 1), dtype=np.uint8)
    assert np.array_equal(decode_png_pixels(_png_with_pixels(g, 0, [4])), g)
    rgba = rng.randint(0, 256, size=(3, 3, 4), dtype=np.uint8)
    assert np.array_equal(decode_png_pixels(_png_with_pixels(rgba, 6, [3])), rgba)


def test_png_pixel_decode_palette_and_features():
    import numpy as np

    from signalk_parquet_spark.operators.multimodal import (
        decode_png_pixels, image_pixel_features,
    )

    # 2-entry palette: index 0 -> red, 1 -> white
    idx = np.array([[0, 1], [1, 0]], dtype=np.uint8).reshape(2, 2, 1)
    payload = _png_with_pixels(idx, color_type=3, filters=[0],
                               plte=[255, 0, 0, 255, 255, 255])
    got = decode_png_pixels(payload)
    assert got.shape == (2, 2, 3)
    assert tuple(got[0, 0]) == (255, 0, 0) and tuple(got[0, 1]) == (255, 255, 255)

    flat = np.full((4, 4, 3), 128, dtype=np.uint8)
    w, h, c, mean, std, mn, mx = image_pixel_features(_png_with_pixels(flat, 2, [1]))
    assert (w, h, c) == (4.0, 4.0, 3.0)
    assert mean == mx == mn and std == 0.0  # uniform image
    # non-PNG payloads degrade to NaN, never raise
    assert all(f != f for f in image_pixel_features(b"\xff\xd8\xffnot-a-png"))


def test_pixel_decode_through_spark_pipeline(spark):
    """The pixel decoder runs inside the same mapInPandas plumbing as the
    header decoders — modality='image_pixels' rows score actual pixels."""
    import numpy as np

    from signalk_parquet_spark.operators.multimodal import MEDIA_SCHEMA, decode_features

    px = np.zeros((2, 2, 3), dtype=np.uint8)
    px[:, :, 0] = 255  # pure red -> luma 0.299*255 everywhere
    payload = _png_with_pixels(px, color_type=2, filters=[0])
    rows = [(1, "image_pixels", "image/png", payload, 2, 2, None, "{}")]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = decode_features(df).collect()[0]["features"]
    w, h, c, mean, std, mn, mx = feats
    assert (w, h, c) == (2.0, 2.0, 3.0)
    assert mean == pytest.approx(0.299 * 255) and std == 0.0


def test_audio_sample_features_known_signal():
    """Sample-level WAV decode: a full-scale square wave has rms == peak
    == 1.0 (within int16 quantization); silence has rms == peak == 0."""
    import io
    import wave

    import numpy as np
    import pytest as _pt

    from signalk_parquet_spark.operators.multimodal import audio_sample_features

    buf = io.BytesIO()
    x = np.tile(np.array([32767, -32768], dtype="<i2"), 4000)
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(8000)
        wv.writeframes(x.tobytes())
    ch, rate, dur, rms, peak = audio_sample_features(buf.getvalue())
    assert (ch, rate, dur) == (1.0, 8000.0, 1.0)
    assert rms == _pt.approx(1.0, abs=1e-4) and peak == _pt.approx(1.0, abs=1e-4)
    sil = audio_sample_features(_wav_bytes(100, 8000))
    assert sil[3] == 0.0 and sil[4] == 0.0
    assert all(f != f for f in audio_sample_features(b"RIFFxxxxNOPE"))
