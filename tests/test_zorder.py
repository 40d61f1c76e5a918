"""Z-order clustering: key correctness vs the driver-side reference, and
the actual data-skipping claim — a bbox query must overlap far fewer files'
min/max stats under Morton layout than under ingest order, while returning
byte-identical results."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from signalk_parquet_spark.registry import load
from signalk_parquet_spark.sources.zorder import (
    morton_key,
    morton_key_py,
    write_zordered,
)


def _positions(spark, sf):
    """The spatial gates' synthetic coordinate convention (queries_spatial)."""
    e = load(spark, sf, "events")
    return e.select(
        "event_id",
        ((F.col("event_id") * 7919 % 18000) / 100.0 - 90.0).alias("lat"),
        ((F.col("event_id") * 104729 % 36000) / 100.0 - 180.0).alias("lon"),
    )


def test_morton_key_matches_reference(spark, sf_smoke):
    rows = (
        _positions(spark, sf_smoke)
        .withColumn("zkey", morton_key("lat", "lon"))
        .limit(500)
        .collect()
    )
    for r in rows:
        assert r["zkey"] == morton_key_py(r["lat"], r["lon"]), r


def _overlap_count(path: str, box: tuple[float, float, float, float]) -> tuple[int, int]:
    """(files overlapping the bbox by lat/lon min-max stats, total files)."""
    lat_lo, lat_hi, lon_lo, lon_hi = box
    files = [f for f in glob.glob(f"{path}/*.parquet")]
    hit = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        cols = {md.schema.column(i).name: i for i in range(md.num_columns)}

        def stat(col, agg):
            vals = [
                getattr(md.row_group(g).column(cols[col]).statistics, agg)
                for g in range(md.num_row_groups)
            ]
            assert all(v is not None for v in vals), f"missing {col} stats in {f}"
            return min(vals) if agg == "min" else max(vals)

        if (
            stat("lat", "max") >= lat_lo
            and stat("lat", "min") <= lat_hi
            and stat("lon", "max") >= lon_lo
            and stat("lon", "min") <= lon_hi
        ):
            hit += 1
    return hit, len(files)


def test_zorder_layout_skips_files_and_preserves_results(spark, sf_smoke, tmp_path):
    pos = _positions(spark, sf_smoke)
    natural = f"{tmp_path}/natural"
    zordered = f"{tmp_path}/zordered"
    # ingest order: range-partitioned by event_id — same file count, so the
    # only difference between the layouts is the clustering key
    (
        pos.repartitionByRange(32, "event_id")
        .sortWithinPartitions("event_id")
        .write.parquet(natural)
    )
    write_zordered(pos, zordered, "lat", "lon")

    # harbor-sized box (2° x 3°)
    box = (40.0, 42.0, -72.0, -69.0)
    nat_hit, nat_total = _overlap_count(natural, box)
    z_hit, z_total = _overlap_count(zordered, box)
    assert nat_total == z_total == 32
    # ingest order scatters the box across (nearly) every file; Morton
    # layout confines it to a handful — the data-skipping claim, measured
    assert nat_hit >= 24, f"natural layout unexpectedly clustered: {nat_hit}"
    assert z_hit <= nat_hit // 4, f"zorder skipped too little: {z_hit} vs {nat_hit}"

    # identical query results on both layouts
    def bbox(path):
        df = spark.read.parquet(path)
        return sorted(
            df.filter(
                (F.col("lat") >= box[0]) & (F.col("lat") <= box[1])
                & (F.col("lon") >= box[2]) & (F.col("lon") <= box[3])
            ).select("event_id").toPandas()["event_id"].tolist()
        )

    ids_nat, ids_z = bbox(natural), bbox(zordered)
    assert ids_nat == ids_z and len(ids_nat) > 0

    # and the predicate actually reaches the scan on the clustered path
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        spark.read.parquet(zordered).filter(
            (F.col("lat") >= box[0]) & (F.col("lat") <= box[1])
        ).explain(mode="formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "GreaterThanOrEqual(lat" in plan
