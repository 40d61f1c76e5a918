"""Training-shard output: deterministic hash sharding + a committed manifest.

The last step of a curation pipeline is writing the corpus as N
fixed-count shards a training job can stream — and doing it so a rerun
(or a resumed 100 TB job) produces byte-stable shard MEMBERSHIP. Both
properties come from the same design choice the sampling/split family
already made: the shard id is a CONTENT HASH of the stable id (48-bit md5
prefix, mod n_shards), not a rand() or a monotonically_increasing_id —
so assignment is reproducible across reruns, task retries, engines, and
cluster sizes, and any single document's shard can be recomputed from its
id alone (the property that makes incremental appends and spot audits
possible without reading the manifest).

Scale shape: ONE hash shuffle (repartition on the shard column — uniform
by construction, so no skew handling needed), then a partitionBy write.
The manifest is built from the WRITTEN FILES (listing + footer row
counts), not from a second scan of the data, and is committed atomically
(tmp + rename) AFTER the data lands — a reader that sees the manifest
sees complete shards, the same _SUCCESS-style contract the lake sinks
use. Verification reads footers only (parquet metadata), never data
pages, so auditing a 100 TB output costs one metadata pass.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, Column
from pyspark.sql import functions as F

#: manifest schema version — readers reject manifests they don't understand
_MANIFEST_VERSION = 1


def shard_id(id_col: str | Column, n_shards: int) -> Column:
    """Deterministic shard assignment: 48-bit md5 prefix of the stable id,
    mod n_shards. Engine-portable (DuckDB twin:
    CAST(concat('0x', substr(md5(CAST(id AS VARCHAR)), 1, 12)) AS BIGINT)
    % n) and uniform to ~2^-24 per shard, so shard sizes concentrate
    tightly around N/n_shards with no skew mitigation needed."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.conv(F.substring(F.md5(c.cast("string")), 1, 12), 16, 10).cast("long")
    return (h % n_shards).alias("shard")


def plan_shards(
    df: DataFrame, id_col: str, n_shards: int, size_col: str | None = None
) -> DataFrame:
    """Per-shard plan the writer (and the shard_plan gate) reports before
    any bytes move: (shard, n_docs, total_chars, min_doc, max_doc). One
    groupBy over n_shards keys — partial aggregation absorbs nearly
    everything map-side."""
    sized = df.select(
        F.col(id_col).alias("_id"),
        (F.col(size_col) if size_col else F.length(F.col(id_col).cast("string"))).alias("_sz"),
        shard_id(id_col, n_shards),
    )
    return sized.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_sz").cast("long").alias("total_chars"),
        F.min("_id").alias("min_doc"),
        F.max("_id").alias("max_doc"),
    )


def write_shards(
    df: DataFrame,
    out_dir: str,
    id_col: str,
    n_shards: int,
) -> dict[str, Any]:
    """Shard the frame by content hash, write shard=K parquet subtrees, and
    commit a _manifest.json describing what landed. Returns the manifest.

    The repartition keys on the shard column so each output task owns whole
    shards (files-per-shard stays 1 at these sizes; at real scale each
    shard is still one task's sequential write, the layout a streaming
    trainer wants). The manifest records per-shard row counts read from the
    WRITTEN parquet footers — so a manifest that verifies is evidence about
    the bytes on disk, not about what the writer intended."""
    import pyarrow.parquet as pq

    # md5(NULL) is NULL, so a NULL id would land in the Hive default
    # partition — mis-sharded data AND a manifest crash AFTER the write.
    # Make it loud up front instead (engine-wide policy).
    n_null = df.filter(F.col(id_col).isNull()).count()
    if n_null:
        raise ValueError(
            f"write_shards: {n_null} row(s) have NULL {id_col!r} — a content-"
            "hash shard id requires a non-null stable id for every row"
        )
    sharded = df.withColumn("shard", shard_id(id_col, n_shards))
    (
        sharded.repartition(n_shards, "shard")
        .write.mode("overwrite")
        .option("compression", "snappy")
        .partitionBy("shard")
        .parquet(out_dir)
    )
    shards: dict[str, Any] = {}
    total_rows = 0
    for name in sorted(os.listdir(out_dir)):
        if not name.startswith("shard="):
            continue
        k = int(name.split("=", 1)[1])
        files = []
        rows = 0
        nbytes = 0
        sub = os.path.join(out_dir, name)
        for f in sorted(os.listdir(sub)):
            if not f.endswith(".parquet"):
                continue
            fp = os.path.join(sub, f)
            rows += pq.read_metadata(fp).num_rows
            nbytes += os.path.getsize(fp)
            files.append(f"{name}/{f}")
        shards[str(k)] = {"files": files, "n_rows": rows, "bytes": nbytes}
        total_rows += rows
    manifest = {
        "version": _MANIFEST_VERSION,
        "n_shards": n_shards,
        "id_col": id_col,
        "total_rows": total_rows,
        "shards": shards,
    }
    tmp = os.path.join(out_dir, "._manifest.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(out_dir, "_manifest.json"))  # atomic commit
    return manifest


def read_manifest(out_dir: str) -> dict[str, Any]:
    with open(os.path.join(out_dir, "_manifest.json")) as fh:
        m = json.load(fh)
    if m.get("version") != _MANIFEST_VERSION:
        raise ValueError(f"unsupported shard manifest version {m.get('version')!r}")
    return m


def verify_shards(out_dir: str) -> dict[str, Any]:
    """Audit the written tree against its manifest using parquet FOOTERS
    only (no data pages): every listed file exists with the recorded size,
    per-shard footer row counts match, no unlisted parquet files crept in.
    Returns {'ok': bool, 'errors': [...]} — a missing manifest raises."""
    import pyarrow.parquet as pq

    m = read_manifest(out_dir)
    errors: list[str] = []
    listed = set()
    for k, info in m["shards"].items():
        rows = 0
        nbytes = 0
        for rel in info["files"]:
            listed.add(rel)
            fp = os.path.join(out_dir, rel)
            if not os.path.exists(fp):
                errors.append(f"shard {k}: missing file {rel}")
                continue
            try:
                rows += pq.read_metadata(fp).num_rows
            except Exception as e:  # truncated/grown file: footer magic gone
                errors.append(f"shard {k}: unreadable footer {rel}: {e}")
            nbytes += os.path.getsize(fp)
        if rows != info["n_rows"]:
            errors.append(f"shard {k}: footer rows {rows} != manifest {info['n_rows']}")
        if nbytes != info["bytes"] and not any(
            e.startswith(f"shard {k}: missing") for e in errors
        ):
            errors.append(f"shard {k}: bytes {nbytes} != manifest {info['bytes']}")
    for name in os.listdir(out_dir):
        if name.startswith("shard="):
            sub = os.path.join(out_dir, name)
            for f in os.listdir(sub):
                if f.endswith(".parquet") and f"{name}/{f}" not in listed:
                    errors.append(f"unlisted file {name}/{f}")
    return {"ok": not errors, "errors": errors, "total_rows": m["total_rows"]}
