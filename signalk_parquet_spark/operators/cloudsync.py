"""Cloud sync — SURVEY §2.10's second "no" made to work, distcp-style.

The reference uploads hive parquet to S3/R2 by listing cloud keys, dropping
excluded dirs, uploading the set difference 3-at-a-time from the Node
process, optionally deleting local files after upload
(src/data-handler.ts:875-1001 — listCloudKeys/putToCloud/
uploadMissingFiles), and on startup skips whole context/path/year/day
directories already present remotely (:1041-1095). A single-process copy
loop is exactly what breaks first at lake scale, so the Spark split:

- ``list_files``: DISTRIBUTED recursive listing via pyarrow.fs — the
  driver only enumerates first-level entries (cheap: one listing call),
  executors walk the subtrees in parallel. pyarrow.fs speaks local paths
  and s3:// alike, so the same operator lists either side; no container
  network means tests exercise local↔local, the honest analogue of the
  multi-root Lake tests.
- ``sync_plan``: the set difference as an anti-join of two listing frames
  — (rel_path, size, action ∈ upload|present|excluded), with the
  reference's excluded-dir filter and optional DIRECTORY granularity
  (``skip_synced_dirs=True`` = the StartupSync rule: if ANY file of a
  directory is remote, skip the whole directory).
- ``distributed_copy``: executors copy their partition's files through
  pyarrow.fs streams (one task never holds more than ``COPY_CHUNK``
  bytes) — N executors × concurrent tasks instead of one Node loop at
  concurrency 3; ``delete_after`` mirrors deleteAfterUpload.

Scale: listing and copying both shard by file; the only driver state is
the first-level dir list and the plan's action counts. 100 TB of
day-partitioned parquet syncs as embarrassingly parallel per-file work —
which is precisely distcp's design, re-expressed in the engine so retention
(operators/lifecycle) and sync share one plan surface.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.hive_paths import EXCLUDED_SUBDIRS

#: driver-side listing levels enumerated as executor seeds
SEED_DEPTH = 2
#: bytes per read/write piece in the distributed copy
COPY_CHUNK = 8 << 20

_LIST_SCHEMA = T.StructType(
    [
        T.StructField("rel_path", T.StringType()),
        T.StructField("size", T.LongType()),
        T.StructField("mtime_ms", T.LongType()),
    ]
)


def _fs_for(root: str):
    from pyarrow import fs as pafs

    return pafs.FileSystem.from_uri(root) if "://" in root else (
        pafs.LocalFileSystem(), root
    )


def list_files(spark: SparkSession, root: str) -> DataFrame:
    """(rel_path, size, mtime_ms) of every file under ``root``. Seeds are
    enumerated driver-side breadth-first DOWN TO ``SEED_DEPTH`` levels
    (stopping early once there are enough to occupy the executors) so a
    canonical single-context lake (ONE top-level vessels.self dir) still
    fans out across its per-path subdirectories instead of degenerating
    to one task walking the whole tree; each seed's subtree is then
    walked by an executor task (pyarrow.fs recursive selector), one
    output batch per seed (bounded memory)."""
    from pyarrow import fs as pafs

    filesystem, base = _fs_for(root)
    base = base.rstrip("/")
    target = spark.sparkContext.defaultParallelism
    try:
        infos = filesystem.get_file_info(pafs.FileSelector(base, recursive=False))
    except OSError:
        # an absent root lists as empty (first sync to a fresh bucket/dir).
        # OSError, not just FileNotFoundError: pyarrow's S3 filesystem
        # surfaces a missing bucket as a generic IO error. An unlistable
        # root is SAFE to treat as empty on either side — an empty source
        # plans nothing, an empty destination plans a (re-)upload, which
        # the size-checked copy makes idempotent.
        return spark.createDataFrame([], _LIST_SCHEMA)
    seeds = [(i.path, i.type == pafs.FileType.Directory) for i in infos]
    depth = 1
    while depth < SEED_DEPTH and any(d for _, d in seeds) and len(seeds) < target:
        expanded = []
        for path, is_dir in seeds:
            if is_dir:
                expanded.extend(
                    (i.path, i.type == pafs.FileType.Directory)
                    for i in filesystem.get_file_info(
                        pafs.FileSelector(path, recursive=False)
                    )
                )
            else:
                expanded.append((path, False))
        seeds = expanded
        depth += 1
    if not seeds:
        return spark.createDataFrame([], _LIST_SCHEMA)

    def _walk(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyarrow import fs as pafs2

        fs2, _ = _fs_for(root)
        for pdf in it:
            for path, is_dir in zip(pdf["path"].tolist(), pdf["is_dir"].tolist()):
                infos2 = (
                    fs2.get_file_info(pafs2.FileSelector(path, recursive=True))
                    if is_dir
                    else [fs2.get_file_info([path])[0]]
                )
                rows = [
                    (
                        fi.path[len(base) + 1 :],
                        int(fi.size),
                        int(fi.mtime.timestamp() * 1000) if fi.mtime else 0,
                    )
                    for fi in infos2
                    if fi.type == pafs2.FileType.File
                ]
                # one yield per SEED subtree: a task never materializes
                # more than one subtree's listing at once
                yield pd.DataFrame(rows, columns=["rel_path", "size", "mtime_ms"])

    # LocalRelation lift (localrel docstring): a handful of path strings
    # scanned as a pickled RDD forked a Python worker per repartitioned
    # task for ~0 bytes of work — the gpx_import_records class, −52%
    # there; the mapInPandas walk below is the only Python eval left.
    from ..localrel import local_frame

    seed_df = local_frame(spark, seeds, "path string, is_dir boolean")
    n = max(1, min(len(seeds), target))
    return seed_df.repartition(n).mapInPandas(_walk, schema=_LIST_SCHEMA)


def _dir_of(col):
    # context/path/.../file.parquet -> its directory (the StartupSync key)
    return F.regexp_replace(col, "/[^/]+$", "")


def sync_plan(
    local: DataFrame,
    remote: DataFrame,
    skip_synced_dirs: bool = False,
) -> DataFrame:
    """(rel_path, size, action) for every local file: ``excluded`` under
    the reference's excluded subtrees (data-handler.ts:962-975, the same
    ``EXCLUDED_SUBDIRS`` every lake scan skips), ``present`` when the
    same rel_path is remote WITH THE SAME SIZE (a same-name file whose
    bytes changed — re-export, repair — re-uploads rather than silently
    diverging; mtime is deliberately NOT compared, it is not preserved
    across filesystems), else ``upload``. With ``skip_synced_dirs`` the reference's coarser
    StartupSync rule applies instead: ANY remote file sharing the
    directory marks the whole directory synced (data-handler.ts:
    1078-1091) — directory granularity can't compare sizes, faithfully to
    the reference. Pure anti-join shape: the big sides never collect."""
    is_excluded = F.lit(False)
    for d in EXCLUDED_SUBDIRS:
        is_excluded = is_excluded | F.col("rel_path").contains(f"/{d}/") | F.col(
            "rel_path"
        ).startswith(f"{d}/")
    if skip_synced_dirs:
        remote_keys = remote.select(_dir_of(F.col("rel_path")).alias("k")).distinct()
        local_keyed = local.withColumn("k", _dir_of(F.col("rel_path")))
        present = F.col("_remote").isNotNull()
    else:
        remote_keys = remote.select(
            F.col("rel_path").alias("k"), F.col("size").alias("_rsize")
        )
        local_keyed = local.withColumn("k", F.col("rel_path"))
        present = F.col("_rsize") == F.col("size")
    mark = local_keyed.join(
        remote_keys.withColumn("_remote", F.lit(True)), "k", "left"
    )
    return mark.select(
        "rel_path",
        "size",
        F.when(is_excluded, F.lit("excluded"))
        .when(present, F.lit("present"))
        .otherwise(F.lit("upload"))
        .alias("action"),
    )


def distributed_copy(
    spark: SparkSession,
    plan: DataFrame,
    src_root: str,
    dst_root: str,
    delete_after: bool = False,
) -> dict:
    """Execute the plan's ``upload`` rows: each executor task streams its
    files src→dst through pyarrow.fs in ``COPY_CHUNK``-byte pieces (bounded
    memory per task; works local↔local here and local↔s3 when deployed —
    same operator, different URI). Returns {'uploaded': n, 'bytes': b}
    (+ 'deleted' with ``delete_after``).

    ``delete_after`` (the reference's deleteAfterUpload) runs as a SECOND
    distributed phase, never inline with the copy: a Spark task is
    retryable, and a task that deleted sources before dying would make
    every retry fail on the missing file and strand the lake half-moved.
    Both phases are idempotent under retry instead — the copy phase only
    overwrites destinations, and the delete phase removes a source only
    after re-verifying the destination's existence AND size, tolerating
    an already-deleted source (a retried delete task)."""
    # FREEZE the upload set before the copy mutates the destination: the
    # plan's lineage re-lists both roots on every action, so an unpersisted
    # frame re-evaluated by the delete phase would reclassify every
    # just-copied file as 'present' and delete NOTHING (second-review
    # catch, empirically reproduced on an incremental sync; the CLAUDE.md
    # persist-then-count rule). Also saves the redundant re-listing.
    uploads = plan.filter(F.col("action") == "upload").select("rel_path", "size").persist()
    uploads.count()

    def _copy(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sfs, sbase = _fs_for(src_root)
        dfs, dbase = _fs_for(dst_root)
        sbase, dbase = sbase.rstrip("/"), dbase.rstrip("/")
        for pdf in it:
            done = []
            for rel in pdf["rel_path"].tolist():
                src, dst = f"{sbase}/{rel}", f"{dbase}/{rel}"
                parent = dst.rsplit("/", 1)[0]
                dfs.create_dir(parent, recursive=True)
                n = 0
                with sfs.open_input_stream(src) as r, dfs.open_output_stream(dst) as w:
                    while True:
                        buf = r.read(COPY_CHUNK)
                        if not buf:
                            break
                        w.write(buf)
                        n += len(buf)
                done.append((rel, n))
            yield pd.DataFrame(done, columns=["rel_path", "bytes"])

    out = uploads.mapInPandas(_copy, schema="rel_path string, bytes long")
    agg = out.agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("bytes"), F.lit(0)).alias("b")
    ).collect()[0]
    stats = {"uploaded": int(agg["n"]), "bytes": int(agg["b"])}
    if not delete_after:
        uploads.unpersist()
        return stats

    def _delete(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyarrow import fs as pafs

        sfs, sbase = _fs_for(src_root)
        dfs, dbase = _fs_for(dst_root)
        sbase, dbase = sbase.rstrip("/"), dbase.rstrip("/")
        for pdf in it:
            done = []
            for rel, size in zip(pdf["rel_path"].tolist(), pdf["size"].tolist()):
                fi = dfs.get_file_info([f"{dbase}/{rel}"])[0]
                ok = fi.type == pafs.FileType.File and int(fi.size) == int(size)
                if ok:
                    try:
                        sfs.delete_file(f"{sbase}/{rel}")
                    except FileNotFoundError:
                        pass  # a retried delete task — already gone
                done.append((rel, bool(ok)))
            yield pd.DataFrame(done, columns=["rel_path", "deleted"])

    deleted = (
        uploads.mapInPandas(_delete, schema="rel_path string, deleted boolean")
        .filter("deleted")
        .count()
    )
    stats["deleted"] = int(deleted)
    uploads.unpersist()
    return stats
