"""The lake's write-time schema catalog (sources/lake.py).

The writers record each (tier, context, path) directory's columns and its
non-null value_* components as the write job runs. These tests pin what
that buys and what it must keep: History planning and discovery run no
Spark job, every read has the schema a mergeSchema footer probe gives, and
data no catalogued writer wrote is probed once, then read for free.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from datetime import datetime, timedelta

import pytest
from pyspark.sql import types as T

from signalk_parquet_spark import api
from signalk_parquet_spark.operators.lifecycle import retention_cleanup
from signalk_parquet_spark.operators.rollup import rollup_scalar
from signalk_parquet_spark.plans.history import HistoryPlanner
from signalk_parquet_spark.sources import lake as lake_mod
from signalk_parquet_spark.sources.buffer import HotBuffer
from signalk_parquet_spark.sources.hive_paths import unsanitize_context, unsanitize_path
from signalk_parquet_spark.sources.lake import Lake
from tests.records import T0, UTC, make_record, records_df, scalar_series

FROM = "2024-06-01T12:00:00Z"
TO = "2024-06-01T12:01:00Z"
SPEED = "navigation.speedOverGround"


def _jobs(spark, fn):
    """(Spark jobs ``fn`` ran, its result), counted through a job group."""
    sc = spark.sparkContext
    tag = f"catalog-{uuid.uuid4().hex}"
    sc.setJobGroup(tag, "lake catalog job count")
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(tag)), out


def _positions(start, n, context="vessels.test-self"):
    return [
        make_record(start + timedelta(seconds=i), "navigation.position",
                    {"latitude": 47.5 + i * 1e-3, "longitude": 8.7}, context=context)
        for i in range(n)
    ]


def _build(spark, base) -> tuple[Lake, HotBuffer]:
    """Raw (a scalar and an object path, two contexts), a batch 5s tier
    (epoch=0), a streaming-style 60s tier (epoch=3) and a hot buffer, all
    written by the engine's writers."""
    lake = Lake(spark, str(base / "lake"))
    buf = HotBuffer(spark, str(base / "hot"))
    rows = scalar_series(T0, [4.0, 5.0, 6.0, 7.0, 8.0]) + _positions(T0, 4)
    rows += scalar_series(T0, [1.0, 2.0], path="environment.depth", context="vessels.other")
    lake.write_records(records_df(spark, rows), tier="raw")
    scalars = lake.read(tier="raw").filter("path != 'navigation__position'")
    lake.write_rollup(rollup_scalar(scalars, "5s"), "5s")
    lake.write_rollup(rollup_scalar(scalars, "60s"), "60s", epoch=3)
    buf.append(records_df(spark, scalar_series(T0 + timedelta(seconds=30), [2.0, 3.0])))
    return lake, buf


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    return _build(spark, tmp_path_factory.mktemp("catalog"))


def _probe(spark, root, sub):
    """The schema the mergeSchema footer probe gives for ``sub``."""
    return spark.read.option("mergeSchema", "true").option("basePath", root).parquet(sub).schema


def _same_columns(got: T.StructType, want: T.StructType):
    """Same columns, types and nullability; the partition columns last, in
    discovery order (data column order follows file order in a probe)."""
    def cols(s):
        return sorted((f.name, f.dataType.simpleString(), f.nullable) for f in s.fields)

    assert cols(got) == cols(want)
    tail = [f.name for f in want.fields if f.name in lake_mod.LAYOUT_COLS]
    assert [f.name for f in got.fields][-len(tail):] == tail


def _catalog_files(root):
    return sorted(
        os.path.relpath(f, root)
        for f in glob.glob(f"{root}/**/{lake_mod.CATALOG_DIR}/*.json", recursive=True)
    )


def test_planning_and_discovery_run_no_spark_job(spark, built):
    lake, buf = built
    planner = HistoryPlanner(lake, buf)
    n, df = _jobs(spark, lambda: planner.get_values(
        f"{SPEED},navigation.position,environment.depth:max", FROM, TO, resolution_s=60))
    assert n == 0
    assert planner._object_components("navigation.position", None) == [
        "value_latitude", "value_longitude"]
    row = df.filter("bucket_ts = '2024-06-01T12:00:00Z'").first()
    assert row[SPEED] == 2.5  # the hot buffer's bucket wins over the lake's
    n, disc = _jobs(spark, lambda: api.discovery_response(HistoryPlanner(lake, buf)))
    assert n == 0
    assert disc == {
        "contexts": ["vessels.other", "vessels.test:self"],
        "paths": ["environment.depth", "navigation.position", SPEED],
    }


def test_reads_have_the_mergeschema_schema(spark, built):
    lake, buf = built
    root = lake.roots[0]
    for tier in ("raw", "5s", "60s"):
        _same_columns(lake.read(tier=tier).schema, _probe(spark, root, f"{root}/tier={tier}"))
    for path in (SPEED, "navigation.position", "environment.depth"):
        sub = f"{root}/tier=raw/context=*/path={path.replace('.', '__')}"
        got = lake.read(tier="raw", path=path).schema
        assert got == _probe(spark, root, sub)  # one write per path: same order too
    sub = f"{root}/tier=raw/context=vessels__other"
    _same_columns(lake.read(tier="raw", context="vessels.other").schema, _probe(spark, root, sub))
    hot = spark.read.option("mergeSchema", "true").parquet(buf.staging_dir).schema
    assert buf.read().schema == hot


def test_new_value_column_reaches_schema_and_components(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    root = lake.roots[0]
    wind = "environment.wind"
    lake.write_records(records_df(spark, scalar_series(T0, [1.0], path=wind)), tier="raw")
    assert HistoryPlanner(lake)._object_components(wind, None) == []
    obj = make_record(T0 + timedelta(seconds=1), wind, {"speedTrue": 3.0, "angleTrue": 0.5})
    lake.write_records(records_df(spark, [obj]), tier="raw")
    got = lake.read(tier="raw", path=wind).schema
    assert {"value_speedTrue", "value_angleTrue"} <= set(got.names)
    _same_columns(got, _probe(spark, root, f"{root}/tier=raw/context=*/path=environment__wind"))
    assert HistoryPlanner(lake)._object_components(wind, None) == [
        "value_angleTrue", "value_speedTrue"]
    # both writers' records stay: the catalog appends, it never rewrites
    assert len(glob.glob(f"{root}/tier=raw/context=*/path=environment__wind/_catalog/*.json")) == 2


def test_missing_catalog_is_rebuilt_once(spark, tmp_path):
    lake, _ = _build(spark, tmp_path)
    root = lake.roots[0]
    written = _catalog_files(root)
    want = {t: lake.read(tier=t).schema for t in ("raw", "5s", "60s")}
    for d in glob.glob(f"{root}/**/{lake_mod.CATALOG_DIR}", recursive=True):
        shutil.rmtree(d)
    fresh = Lake(spark, root)
    n, df = _jobs(spark, lambda: fresh.read(tier="raw"))
    assert n > 0
    assert df.schema == want["raw"]
    n, df = _jobs(spark, lambda: fresh.read(tier="raw"))
    assert n == 0
    for tier in ("5s", "60s"):
        assert fresh.read(tier=tier).schema == want[tier]
    # the probe records exactly what the writers recorded
    assert _catalog_files(root) == written
    assert HistoryPlanner(fresh)._object_components("navigation.position", None) == [
        "value_latitude", "value_longitude"]


def test_replayed_write_leaves_catalog_unchanged(spark, tmp_path):
    lake, _ = _build(spark, tmp_path)
    root = lake.roots[0]
    before = _catalog_files(root)
    scalars = lake.read(tier="raw").filter("path != 'navigation__position'")
    rolled = rollup_scalar(scalars, "60s")
    batch = spark.createDataFrame(rolled.collect(), rolled.schema)
    lake.write_rollup(batch, "60s", epoch=3)  # a redelivered micro-batch
    lake.write_records(records_df(spark, _positions(T0, 4)), tier="raw", mode="overwrite")
    assert _catalog_files(root) == before


def test_two_roots_union_their_catalogs(spark, tmp_path):
    local, cloud = str(tmp_path / "local"), str(tmp_path / "cloud")
    Lake(spark, local).write_records(records_df(spark, scalar_series(T0, [1.0])), tier="raw")
    Lake(spark, cloud).write_records(
        records_df(spark, _positions(T0 - timedelta(days=30), 2, context="vessels.archived")),
        tier="raw")
    Lake(spark, cloud).write_records(
        records_df(spark, [make_record(T0 - timedelta(days=30), SPEED, {"drift": 0.2})]), tier="raw")
    fed = Lake(spark, local, cloud)
    n, got = _jobs(spark, lambda: (
        fed.discover_contexts(), fed.discover_paths(),
        HistoryPlanner(fed)._object_components(SPEED, None)))
    assert n == 0
    assert got == (["vessels.archived", "vessels.test:self"],
                   ["navigation.position", SPEED], ["value_drift"])
    assert "value_drift" in fed.read(tier="raw", path=SPEED).columns
    assert sorted(r["value"] for r in fed.read(tier="raw", path=SPEED).collect()
                  if r["value"] is not None) == [1.0]


def test_retention_removes_the_directories_it_empties(spark, tmp_path):
    """Retention drops every day of one path (and of one whole context):
    listing-based discovery then answers what a DISTINCT over the data
    answers."""
    lake = Lake(spark, str(tmp_path / "lake"))
    root = lake.roots[0]
    old, new = datetime(2024, 1, 1, 12, tzinfo=UTC), T0
    rows = scalar_series(old, [1.0]) + scalar_series(new, [2.0])
    rows += scalar_series(old, [3.0], path="environment.depth")
    rows += scalar_series(old, [4.0], context="vessels.gone")
    lake.write_records(records_df(spark, rows), tier="raw")
    lake.write_rollup(rollup_scalar(lake.read(tier="raw"), "5s"), "5s")
    retention_cleanup(lake, datetime(2024, 6, 3, tzinfo=UTC), base_days=7)
    assert not glob.glob(f"{root}/tier=*/context=*/path=environment__depth")
    assert not glob.glob(f"{root}/tier=*/context=vessels__gone")
    assert glob.glob(f"{root}/tier=*/context=*/path=*/year=*")  # the kept day stays

    disc = api.discovery_response(HistoryPlanner(lake))
    data = lake.read()
    assert disc == {
        "contexts": sorted(unsanitize_context(r[0]) for r in data.select("context").distinct().collect()),
        "paths": sorted(unsanitize_path(r[0]) for r in data.select("path").distinct().collect()),
    }
    assert disc == {"contexts": ["vessels.test:self"], "paths": [SPEED]}


def test_object_store_branch_round_trips(spark, tmp_path, monkeypatch):
    """The Hadoop FileSystem branch of the catalog's file access, driven
    through a file: URI (object-store roots take this branch)."""
    monkeypatch.setattr(lake_mod, "_local", lambda path: None)
    d = f"file:{tmp_path}/tier=raw/context=c/path=p"
    schema = T.StructType([T.StructField(f"value_{uuid.uuid4().hex}", T.DoubleType())])
    for _ in range(2):  # the second record lands on the same name
        lake_mod.record_catalog(spark, d, schema, [])
    (entries,) = lake_mod.catalog(spark, d).values()
    assert len(entries) == 1 and lake_mod.merged_schema(entries) == schema
    assert not glob.glob(f"{tmp_path}/**/*.tmp", recursive=True)
    assert lake_mod._ls(spark, "s3a://no-such-bucket-anywhere/lake/tier=*") == []


def test_concurrent_writers_keep_every_record(spark, tmp_path):
    """Writers recording into one directory at once (a streaming rollup next
    to a batch write) never lose each other's records: each record is its
    own content-addressed file."""
    import sys
    import threading

    d = str(tmp_path / "tier=raw/context=c/path=p")
    tag = uuid.uuid4().hex

    def writer(w):
        for i in range(20):
            col = T.StructField(f"value_{tag}_{w}_{i}", T.DoubleType())
            lake_mod.record_catalog(spark, d, T.StructType([col]), [])

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer, args=(w,)) for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    (entries,) = lake_mod.catalog(spark, d).values()
    assert len(lake_mod.merged_schema(entries).names) == 8 * 20
