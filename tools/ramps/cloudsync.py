"""Measured scale ramp for cloud sync (SCALE.md source): N small files in
a hive-shaped tree (contexts x paths x days), listed, planned, and copied
to a second local root. Verifies the distcp-style claims: listing fans out
across seeds, the plan is join-only, copy throughput scales with files,
and a second plan is an exact no-op.

Run: python tools/ramp.py cloudsync
"""

import os
import shutil
import tempfile
from contextlib import contextmanager

from signalk_parquet_spark.operators.cloudsync import distributed_copy, list_files, sync_plan
from tools.ramps import Ramp


def build_tree(root: str, n: int) -> None:
    """n files spread over 4 contexts x 25 paths x days — the lake shape."""
    for i in range(n):
        ctx, pth, day = i % 4, (i // 4) % 25, i // 100
        d = f"{root}/vessels.c{ctx}/path.p{pth}/2024/{day:03d}"
        os.makedirs(d, exist_ok=True)
        with open(f"{d}/f{i}.parquet", "wb") as f:
            f.write(b"x" * (100 + i % 400))


@contextmanager
def tree(spark, n: int):
    base = tempfile.mkdtemp(prefix="sync_ramp_")
    try:
        build_tree(f"{base}/src", n)
        yield base
    finally:
        shutil.rmtree(base)


def copy(spark, base: str) -> dict:
    """list + plan + copy into the empty destination."""
    plan = sync_plan(list_files(spark, f"{base}/src"), list_files(spark, f"{base}/dst"))
    return distributed_copy(spark, plan, f"{base}/src", f"{base}/dst")


def replan(spark, base: str) -> int:
    """Uploads a second plan still finds: 0 when the copy is idempotent."""
    return (
        sync_plan(list_files(spark, f"{base}/src"), list_files(spark, f"{base}/dst"))
        .filter("action = 'upload'")
        .count()
    )


def idempotent(spark, base: str, results: dict) -> dict:
    return {"bytes": results["copy"]["bytes"],
            "listing_partitions": list_files(spark, f"{base}/src").rdd.getNumPartitions(),
            "uploads": results["replan"], "ok": results["replan"] == 0}


RAMPS = {
    "cloudsync": Ramp(
        sizes=(2_000, 8_000, 32_000),
        build=tree,
        variants={"copy": copy, "replan": replan},
        check=idempotent,
    ),
}
