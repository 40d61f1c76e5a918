"""Cloud sync (operators/cloudsync.py) — distributed listing, plan
classification per the reference's rules, distcp-style copy; two local
roots stand in for local↔cloud (the multi-root Lake test convention)."""

from __future__ import annotations

import os

from signalk_parquet_spark.operators.cloudsync import (
    distributed_copy,
    list_files,
    sync_plan,
)
from signalk_parquet_spark.sources.hive_paths import EXCLUDED_SUBDIRS


def _mk(root, rel, content=b"x"):
    p = os.path.join(root, rel)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "wb") as f:
        f.write(content)


def _tree(root):
    _mk(root, "vessels.self/nav.speed/2024/05/01/data.parquet", b"a" * 100)
    _mk(root, "vessels.self/nav.speed/2024/05/02/data.parquet", b"b" * 200)
    _mk(root, "vessels.self/env.wind/2024/05/01/data.parquet", b"c" * 300)
    _mk(root, "processed/old.parquet", b"z")  # excluded subtree
    _mk(root, "vessels.self/nav.speed/failed/bad.parquet", b"z")


def test_listing_is_recursive_and_relative(spark, tmp_path):
    root = str(tmp_path / "lake")
    _tree(root)
    rows = {r["rel_path"]: r["size"] for r in list_files(spark, root).collect()}
    assert rows["vessels.self/nav.speed/2024/05/01/data.parquet"] == 100
    assert rows["processed/old.parquet"] == 1
    assert len(rows) == 5


def test_sync_plan_classifies_like_the_reference(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _tree(src)
    # remote already holds day 01 of nav.speed
    _mk(dst, "vessels.self/nav.speed/2024/05/01/data.parquet", b"a" * 100)
    plan = {
        r["rel_path"]: r["action"]
        for r in sync_plan(list_files(spark, src), list_files(spark, dst)).collect()
    }
    assert plan["vessels.self/nav.speed/2024/05/01/data.parquet"] == "present"
    assert plan["vessels.self/nav.speed/2024/05/02/data.parquet"] == "upload"
    assert plan["vessels.self/env.wind/2024/05/01/data.parquet"] == "upload"
    assert plan["processed/old.parquet"] == "excluded"
    assert plan["vessels.self/nav.speed/failed/bad.parquet"] == "excluded"
    assert set(EXCLUDED_SUBDIRS) == {"processed", "repaired", "failed", "quarantine"}


def test_startup_dir_granularity_skips_whole_synced_dirs(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _tree(src)
    _mk(src, "vessels.self/nav.speed/2024/05/01/data2.parquet", b"d" * 50)
    # remote has ONE file of the 05/01 dir -> the whole dir is "synced"
    # (data-handler.ts:1078-1091), so data2.parquet is skipped too
    _mk(dst, "vessels.self/nav.speed/2024/05/01/data.parquet", b"a" * 100)
    plan = {
        r["rel_path"]: r["action"]
        for r in sync_plan(
            list_files(spark, src), list_files(spark, dst), skip_synced_dirs=True
        ).collect()
    }
    assert plan["vessels.self/nav.speed/2024/05/01/data.parquet"] == "present"
    assert plan["vessels.self/nav.speed/2024/05/01/data2.parquet"] == "present"
    assert plan["vessels.self/nav.speed/2024/05/02/data.parquet"] == "upload"


def test_distributed_copy_round_trip_and_idempotence(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _tree(src)
    plan = sync_plan(list_files(spark, src), list_files(spark, dst))
    stats = distributed_copy(spark, plan, src, dst)
    assert stats == {"uploaded": 3, "bytes": 600}
    for rel in (
        "vessels.self/nav.speed/2024/05/01/data.parquet",
        "vessels.self/env.wind/2024/05/01/data.parquet",
    ):
        with open(os.path.join(src, rel), "rb") as a, open(
            os.path.join(dst, rel), "rb"
        ) as b:
            assert a.read() == b.read()
    # excluded subtrees never copied
    assert not os.path.exists(os.path.join(dst, "processed/old.parquet"))
    # second plan is a no-op: everything uploadable is now present
    plan2 = sync_plan(list_files(spark, src), list_files(spark, dst))
    assert plan2.filter("action = 'upload'").count() == 0
    assert distributed_copy(spark, plan2, src, dst) == {"uploaded": 0, "bytes": 0}


def test_changed_file_same_name_is_reuploaded(spark, tmp_path):
    """A locally rewritten file (re-export/repair) must not hide behind a
    rel_path match: size mismatch ⇒ upload again (code-review finding —
    rel_path-only matching silently diverges the cloud copy forever)."""
    src, dst = str(tmp_path / "s3"), str(tmp_path / "d3")
    rel = "vessels.self/nav.speed/2024/05/01/data.parquet"
    _mk(src, rel, b"new-longer-content")
    _mk(dst, rel, b"old")
    plan = {
        r["rel_path"]: r["action"]
        for r in sync_plan(list_files(spark, src), list_files(spark, dst)).collect()
    }
    assert plan[rel] == "upload"
    distributed_copy(spark, sync_plan(list_files(spark, src), list_files(spark, dst)), src, dst)
    with open(os.path.join(dst, rel), "rb") as f:
        assert f.read() == b"new-longer-content"


def test_listing_seeds_below_single_top_dir(spark, tmp_path):
    """A single-context lake (one vessels.self top dir) must still produce
    multiple listing seeds (the depth-2 fan-out) — and list identically."""
    root = str(tmp_path / "single")
    for p in ("nav.speed", "env.wind", "nav.position"):
        _mk(root, f"vessels.self/{p}/2024/05/01/data.parquet", b"x" * 10)
    df = list_files(spark, root)
    assert df.count() == 3
    assert df.rdd.getNumPartitions() >= 3  # one seed per path subtree


def test_delete_after_on_incremental_sync(spark, tmp_path):
    """Regression (second review, empirically reproduced): the delete phase
    must run on the upload set FROZEN before the copy — an unpersisted plan
    re-lists the destination after the copy, reclassifies every just-copied
    file 'present', and deletes nothing while reporting deleted=0."""
    src, dst = str(tmp_path / "s4"), str(tmp_path / "d4")
    rel_old = "vessels.self/nav.speed/2024/05/01/data.parquet"
    rel_new = "vessels.self/nav.speed/2024/05/02/data.parquet"
    _mk(src, rel_old, b"a" * 100)
    _mk(src, rel_new, b"b" * 200)
    _mk(dst, rel_old, b"a" * 100)  # dst EXISTS and already holds day 01
    plan = sync_plan(list_files(spark, src), list_files(spark, dst))
    stats = distributed_copy(spark, plan, src, dst, delete_after=True)
    assert stats == {"uploaded": 1, "bytes": 200, "deleted": 1}
    assert not os.path.exists(os.path.join(src, rel_new))
    assert os.path.exists(os.path.join(dst, rel_new))
    # day 01 was 'present', not uploaded — its source must survive
    assert os.path.exists(os.path.join(src, rel_old))


def test_delete_after_upload(spark, tmp_path):
    src, dst = str(tmp_path / "s2"), str(tmp_path / "d2")
    _mk(src, "vessels.self/nav.speed/2024/05/03/data.parquet", b"e" * 10)
    plan = sync_plan(list_files(spark, src), list_files(spark, dst))
    stats = distributed_copy(spark, plan, src, dst, delete_after=True)
    assert stats["uploaded"] == 1 and stats["deleted"] == 1
    assert not os.path.exists(
        os.path.join(src, "vessels.self/nav.speed/2024/05/03/data.parquet")
    )
    assert os.path.exists(
        os.path.join(dst, "vessels.self/nav.speed/2024/05/03/data.parquet")
    )
