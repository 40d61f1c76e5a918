"""The Parquet lake: partitioned write + pruned read over a write-time schema
catalog.

Replaces the reference's glob-construction machinery (S1-S4 in SURVEY §2.1)
with native Spark partition handling:
  - write: df.write.partitionBy("tier","context","path","year","day")
    — atomic via the job commit protocol (replaces temp-file+rename,
    parquet-writer.ts:131-306)
  - catalog: the write job also records, for every (tier, context, path)
    directory it wrote, the data columns it wrote and which value_* columns
    carried non-null data — an Observation on the write, so no extra job.
    Each record is an append-only, content-addressed
    ``<tier>/<context>/<path>/_catalog/<sha1>.json`` file (Spark's file
    index skips ``_`` names), and a directory's schema is the union of its
    records. The reference probes a path's schema once and caches it
    (schema-cache.ts:46-173); here the writer knows it, so no probe runs.
  - read: spark.read.schema(<catalog schema>).parquet(subtree) + ordinary
    filters on the partition columns; Spark infers the partition columns
    from the directory names and Catalyst prunes partitions (replaces
    hive-path-builder.ts:232-393's explicit day globs). No Spark job runs
    until the caller's own action.
  - discovery: contexts and paths are the catalogued directory names — a
    listing, no Spark job.
  - multi-root federation (local ∪ S3): pass several base paths —
    spark.read.parquet(*roots) (replaces HistoryAPI.ts:1461-1467's UNION ALL)

A directory with data but no catalog record (a lake written before the
catalog, or by a foreign writer) is probed once by ``rebuild_catalog`` — the
only mergeSchema read — which then records what it found.

At 100 TB: year/day partition pruning bounds every query to its time range;
context/path partitioning keeps per-series scans file-local. Partition count
stays sane because tier/context/path are low-cardinality (thousands) and
year/day add ~366/year.
"""

from __future__ import annotations

import glob
import hashlib
import json
import logging
import os
import uuid
from datetime import datetime

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .hive_paths import (
    EXCLUDED_SUBDIRS,
    days_in_range,
    sanitize_context,
    sanitize_path,
    unsanitize_context,
    unsanitize_path,
)

PARTITION_COLS = ("tier", "context", "path", "year", "day")
#: every directory level a writer adds (rollup tiers end in epoch=<id>)
LAYOUT_COLS = (*PARTITION_COLS, "epoch")
#: the catalog's directory under each (tier, context, path) directory
CATALOG_DIR = "_catalog"

_LOG = logging.getLogger(__name__)


def partition_values(ts_col: str) -> dict[str, Column]:
    """The (context, path, year, day) partition values of rows keyed by
    ``ts_col`` — the column twins of hive_paths.sanitize_context/
    sanitize_path/day_of_year. Every writer and the incremental
    touched-partition set derive the layout here, so they cannot drift."""
    return {
        "context": F.regexp_replace(F.regexp_replace(F.col("context"), r"\.", "__"), ":", "-"),
        "path": F.regexp_replace(F.col("path"), r"\.", "__"),
        "year": F.year(ts_col),
        "day": F.lpad(F.dayofyear(ts_col).cast("string"), 3, "0"),
    }


# --- catalog files ---------------------------------------------------------
# Local locations go through the OS (no py4j round trip per name, and no
# Hadoop chmod fork per file); any other scheme through the Hadoop
# FileSystem API.


def _local(path: str) -> str | None:
    """The OS path of a local lake location; None for an object-store URI."""
    p = path.removeprefix("file:")
    return None if "://" in p else p


def _hadoop(spark: SparkSession, path: str):
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _ls(spark: SparkSession, pattern: str) -> list[str]:
    """Sorted paths matching a glob; [] when nothing matches or the location
    is unreachable (no s3a jars, auth, network)."""
    local = _local(pattern)
    if local is not None:
        return sorted(glob.glob(local))
    try:
        p, fs = _hadoop(spark, pattern)
        return sorted(str(st.getPath()) for st in fs.globStatus(p) or [])
    except Exception:
        return []


def _get(spark: SparkSession, path: str) -> str:
    local = _local(path)
    if local is not None:
        with open(local) as f:
            return f.read()
    p, fs = _hadoop(spark, path)
    stream = fs.open(p)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _put(spark: SparkSession, path: str, text: str) -> None:
    """Write ``text`` to ``path`` under a temporary name, then rename it into
    place, so a reader never sees a partial record."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    local = _local(path)
    if local is not None:
        os.makedirs(os.path.dirname(local), exist_ok=True)
        with open(_local(tmp), "w") as f:
            f.write(text)
        os.replace(_local(tmp), local)
        return
    p, fs = _hadoop(spark, path)
    t = spark._jvm.org.apache.hadoop.fs.Path(tmp)
    out = fs.create(t, True)
    out.write(bytearray(text.encode()))
    out.close()
    if not fs.rename(t, p):  # already there: same name, same content
        fs.delete(t, False)


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` as a Parquet read returns it: every field and element nullable."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def record_catalog(
    spark: SparkSession, directory: str, schema: T.StructType, nonnull: list[str] | None = None
) -> None:
    """Append one catalog record under ``directory``: the data columns a
    write put there and, when known, the value_* columns that were non-null.
    The file is named by its content hash, so a replayed write re-records
    the same file and concurrent writers never touch each other's."""
    entry = {"schema": _nullable(schema).jsonValue()}
    if nonnull is not None:
        entry["nonnull"] = sorted(nonnull)
    text = json.dumps(entry, sort_keys=True)
    path = f"{directory}/{CATALOG_DIR}/{hashlib.sha1(text.encode()).hexdigest()}.json"
    local = _local(path)
    if local is None or not os.path.exists(local):
        _put(spark, path, text)


#: parsed records by file name — the name is the content hash, so an entry
#: never goes stale
_ENTRIES: dict[str, dict] = {}


def _entry(spark: SparkSession, path: str) -> dict:
    name = path.rsplit("/", 1)[1]
    if name not in _ENTRIES:
        entry = json.loads(_get(spark, path))
        entry["struct"] = T.StructType.fromJson(entry["schema"])
        _ENTRIES[name] = entry
    return _ENTRIES[name]


def catalog(spark: SparkSession, pattern: str, base: str | None = None) -> dict[str, list[dict]]:
    """The catalog records of every directory matching ``pattern``, by
    directory. A directory without records is probed by rebuild_catalog
    first; one with no data files either is left out."""
    def records() -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        for f in _ls(spark, f"{pattern}/{CATALOG_DIR}/*.json"):
            out.setdefault(f.rsplit("/", 2)[0], []).append(_entry(spark, f))
        return out

    found = records()
    missing = [d for d in _ls(spark, pattern) if d not in found]
    if missing:
        rebuild_catalog(spark, missing, base)
        found = records()
    return found


def merged_schema(entries: list[dict]) -> T.StructType:
    """Union of the records' columns; a column's first occurrence fixes its
    position, as StructType.merge does. A column recorded with two types
    raises ValueError, the conflict a mergeSchema read raises."""
    fields: dict[str, T.StructField] = {}
    for e in entries:
        for f in e["struct"].fields:
            if fields.setdefault(f.name, f).dataType != f.dataType:
                raise ValueError(
                    f"column {f.name} recorded as {fields[f.name].dataType} and {f.dataType}"
                )
    return T.StructType(list(fields.values()))


def rebuild_catalog(spark: SparkSession, dirs: list[str], base: str | None = None) -> None:
    """Probe each directory's Parquet footers (a mergeSchema read, one job)
    and record its columns — the catalog's one inference path, for data no
    catalogued writer wrote. ``base`` is the lake root the directories sit
    under: their partition columns are directory names, not data, and their
    non-null value_* columns are counted (one more job) as the lake's
    writers observe them. A directory with no data files is skipped; a
    malformed layout raises here ('Conflicting partition column names')."""
    for d in dirs:
        reader = spark.read.option("mergeSchema", "true")
        if base is not None:
            reader = reader.option("basePath", base)
        try:
            df = reader.parquet(d)
        except AnalysisException as e:
            if "UNABLE_TO_INFER_SCHEMA" in str(e):
                continue
            raise
        data = [f for f in df.schema.fields if base is None or f.name not in LAYOUT_COLS]
        nonnull = None
        if base is not None:
            comps = [f.name for f in data if f.name.startswith("value_")]
            counts = df.select(*[F.count(c).alias(c) for c in comps]).first() if comps else {}
            nonnull = [c for c in comps if counts[c]]
        record_catalog(spark, d, T.StructType(data), nonnull)


class Lake:
    """One Hive-partitioned Parquet store (optionally several roots, e.g.
    local + s3a:// for the cloud supplement)."""

    def __init__(self, spark: SparkSession, *roots: str):
        if not roots:
            raise ValueError("at least one lake root required")
        self.spark = spark
        self.roots = roots

    # --- write -----------------------------------------------------------
    def write_records(self, df: DataFrame, tier: str = "raw", mode: str = "append") -> None:
        """Append DataRecords, deriving partition columns from the data.
        Idempotent day re-export = mode='overwrite' with dynamic partition
        overwrite (replaces the buffer's `exported` flag semantics)."""
        out = df.withColumn("tier", F.lit(tier)).withColumns(
            partition_values("signalk_timestamp")
        )
        # hash-partition by the partition keys so each (context, path, day)
        # is written by ONE task -> one file per partition per batch instead
        # of one per task (the small-file pressure SURVEY §7 flags as the
        # reference model's #1 risk at scale); maxRecordsPerFile caps the
        # skewed-key case
        out = out.repartition(F.col("context"), F.col("path"), F.col("day"))

        def write(observed: DataFrame) -> None:
            writer = (
                observed.write.mode(mode)
                .option("maxRecordsPerFile", 5_000_000)
                .partitionBy(*PARTITION_COLS)
            )
            if mode == "overwrite":
                writer = writer.option("partitionOverwriteMode", "dynamic")
            writer.parquet(self.roots[0])

        self._write(out, tier, write)

    def write_rollup(self, df: DataFrame, tier: str, epoch: int = 0) -> None:
        """Write a rollup tier (bucket_time-partitioned by year/day).

        The trailing epoch=<id> partition level exists for streaming
        foreachBatch sinks: a replayed micro-batch (at-least-once delivery
        after a crash between write and checkpoint commit) dynamically
        overwrites exactly its own epoch partitions with identical content —
        idempotent without a transactional table format. Batch writes use
        epoch=0 so EVERY rollup tier has the same partition depth: Spark's
        partition discovery raises 'Conflicting partition column names' when
        one subtree of a scan has the epoch level and another doesn't, so a
        tier written by both batch and streaming would otherwise become
        unreadable. (Raw stays epoch-free; tier=None reads go subtree-per-
        tier, see read().) compact_partition keeps the epoch level."""
        out = (
            df.withColumn("tier", F.lit(tier))
            .withColumns(partition_values("bucket_time"))
            .withColumn("epoch", F.lit(int(epoch)))
        )

        def write(observed: DataFrame) -> None:
            (
                observed.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(*LAYOUT_COLS)
                .parquet(self.roots[0])
            )

        self._write(out, tier, write)

    def _write(self, out: DataFrame, tier: str, write) -> None:
        """Run ``write`` on ``out`` with an Observation attached — the facts
        arrive with the write's own job — then record a catalog entry per
        (context, path) written: the data columns, and the value_* columns
        that held non-null data there."""
        key = F.struct("context", "path")
        comps = [c for c in out.columns if c.startswith("value_")]
        obs = Observation()
        write(out.observe(
            obs,
            F.collect_set(key).alias("_keys"),
            *[F.collect_set(F.when(F.col(c).isNotNull(), key)).alias(c) for c in comps],
        ))
        seen = obs.get
        nonnull = {c: {tuple(k) for k in seen[c]} for c in comps}
        data = T.StructType([f for f in out.schema.fields if f.name not in LAYOUT_COLS])
        for ctx, path in seen["_keys"]:
            record_catalog(
                self.spark,
                f"{self.roots[0]}/tier={tier}/context={ctx}/path={path}",
                data,
                [c for c in comps if (ctx, path) in nonnull[c]],
            )

    # --- read ------------------------------------------------------------
    def read(
        self,
        tier: str | None = None,
        context: str | None = None,
        path: str | None = None,
        from_ts: datetime | None = None,
        to_ts: datetime | None = None,
    ) -> DataFrame:
        """Partition-pruned scan across all roots, typed by the catalog.

        Every filter lands on a partition column, so Catalyst prunes
        directories before listing files (check `.explain()` for
        PartitionFilters). Excluded maintenance subdirs are dropped the way
        the reference does by filename (HistoryAPI.ts:1452).
        """
        dfs = []
        for root in self.roots:
            for sub, keys in self._scopes(root, tier, context, path):
                df = self._read_subtree(root, sub, keys)
                if df is not None:
                    dfs.append(df)
        if not dfs:
            # nothing on disk for this (tier, context, path): empty relation
            # with the base record shape (reference: parquet side contributes
            # nothing and the buffer answers, HistoryAPI.ts:1865-1919)
            from ..schema import record_schema

            empty = self.spark.createDataFrame([], record_schema())
            for c, t in (("tier", "string"), ("context", "string"), ("path", "string"),
                         ("year", "int"), ("day", "string")):
                empty = empty.withColumn(c, F.lit(None).cast(t))
            return empty
        df = dfs[0]
        for other in dfs[1:]:
            df = df.unionByName(other, allowMissingColumns=True)

        # Maintenance-dir exclusion (processed/quarantine/failed/repaired,
        # HistoryAPI.ts:1452). input_file_name() is NONDETERMINISTIC, and a
        # nondeterministic Filter is a pushdown BARRIER — it silently disables
        # partition pruning and parquet filter pushdown for the whole scan.
        # So add it only when such dirs actually exist (normally never: our
        # lake quarantines to a separate root).
        if self._has_excluded_dirs():
            excl = "|".join(EXCLUDED_SUBDIRS)
            df = df.filter(~F.input_file_name().rlike(f"/({excl})/"))
        if tier:
            df = df.filter(F.col("tier") == tier)
        if context:
            df = df.filter(F.col("context") == sanitize_context(context))
        if path:
            df = df.filter(F.col("path") == sanitize_path(path))
        if from_ts and to_ts:
            days = days_in_range(from_ts, to_ts)
            years = sorted({y for y, _ in days})
            df = df.filter(F.col("year").isin(years))
            if len(days) <= 62:  # bounded day-list pruning, else year-only
                # NB: compare numerically — partition discovery infers the
                # zero-padded day=001 directory value as INTEGER 1, so a
                # padded-string comparison silently drops days < 100
                df = df.filter(
                    F.concat_ws("-", F.col("year"), F.col("day").cast("int")).isin(
                        [f"{y}-{d}" for y, d in days]
                    )
                )
        ts_col = "signalk_timestamp" if tier in (None, "raw") else "bucket_time"
        if from_ts:
            df = df.filter(F.col(ts_col) >= F.lit(from_ts))
        if to_ts:
            df = df.filter(F.col(ts_col) < F.lit(to_ts))  # half-open [from, to)
        return df

    def _scopes(self, root: str, tier, context, path) -> list[tuple[str, str]]:
        """(subtree to read, glob of its (tier, context, path) directories)
        per tier under ``root``.

        The physical read is narrowed to the partition subtree so its schema
        unions only THIS path's catalog records — a lake-wide union would
        make every path appear to carry every other path's value_* columns
        (the reference scopes its globs per path the same way,
        schema-cache.ts:46-173).

        tier=None must NOT use a single tier=* discovery: raw is 5 partition
        levels, rollup tiers are 6 (trailing epoch), and mixed-depth
        discovery raises 'Conflicting partition column names'. Enumerate
        tier subtrees and read each uniformly."""
        ctx = f"context={sanitize_context(context)}" if context else "context=*"
        pth = f"path={sanitize_path(path)}" if path else "path=*"
        out = []
        for base in [f"{root}/tier={tier}"] if tier else self._tier_dirs(root):
            sub = base
            if context or path:
                sub += f"/{ctx}"
            if path:
                sub += f"/{pth}"
            out.append((sub, f"{base}/{ctx}/{pth}"))
        return out

    def _tier_dirs(self, root: str) -> list[str]:
        """``<root>/tier=*`` subtrees (local, file: and object-store roots
        alike). A missing or unreachable root yields [] — the reference's
        hybrid→local fallback skips absent/failed roots too (HistoryAPI falls
        back to local when the cloud supplement errors)."""
        return _ls(self.spark, f"{root}/tier=*")

    def tiers(self) -> set[str]:
        """Tier names with a ``tier=*`` directory under any root — a
        listing, no Spark job. A tier directory without a given path's data
        is fine for routing: the planner falls through to raw per path."""
        return {d.rsplit("tier=", 1)[1] for root in self.roots for d in self._tier_dirs(root)}

    def catalog_entries(
        self, tier: str | None = None, context: str | None = None, path: str | None = None
    ) -> list[dict]:
        """Catalog records of every (tier, context, path) directory in scope,
        over all roots (each: ``schema``, and ``nonnull`` where the writer
        observed it). No Spark job unless a directory needs a rebuild."""
        return [
            e
            for root in self.roots
            for _sub, keys in self._scopes(root, tier, context, path)
            for entries in catalog(self.spark, keys, root).values()
            for e in entries
        ]

    def stored_schema(self, root: str, keys: str) -> T.StructType | None:
        """The data columns recorded for the directories matching ``keys``
        under ``root``; None when none of them holds data."""
        entries = [e for es in catalog(self.spark, keys, root).values() for e in es]
        return merged_schema(entries) if entries else None

    def _read_subtree(self, root: str, sub: str, keys: str) -> DataFrame | None:
        """Read one partition subtree with its stored schema; None when the
        subtree holds no data or its root is unreachable (the hybrid→local
        fallback: connectivity or auth failures on one root must not sink
        the other roots' data).

        The one error that must SURFACE is 'Conflicting partition column
        names' — a malformed layout under a reachable root: a blanket except
        here once turned that layout bug into silently-empty discovery
        results (round-2 advice, high)."""
        try:
            schema = self.stored_schema(root, keys)
            if schema is None:
                return None
            df = self.spark.read.schema(schema).option("basePath", root).parquet(sub)
        except AnalysisException as e:
            msg = str(e)
            if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
                return None  # the one expected skip case: root has no such subtree
            if "conflicting" in msg.lower():
                raise
            # a genuine schema problem (e.g. an incompatible type conflict)
            # must not silently drop this root — surface it in the log
            # before degrading (ADVICE r03)
            _LOG.warning("lake: dropping root %s from the read: %s", sub, msg)
            return None
        except Exception as e:
            if "conflicting" in str(e).lower():
                raise
            _LOG.warning("lake: dropping root %s from the read: %s", sub, e)
            return None  # connectivity/auth/missing fs jars, type conflict
        # records but no data files left: no partition columns to filter on
        return df if "tier" in df.columns else None

    def _has_excluded_dirs(self) -> bool:
        """Driver-side check for maintenance subdirs in local roots (remote
        object-store roots are assumed clean — our lifecycle never writes
        maintenance dirs inside partitions)."""
        if getattr(self, "_excluded_cache", None) is None:
            found = False
            for root in self.roots:
                local = _local(root)
                if local is None:
                    continue
                for _dirpath, dirnames, _ in os.walk(local):
                    if any(d in EXCLUDED_SUBDIRS for d in dirnames):
                        found = True
                        break
                if found:
                    break
            self._excluded_cache = found
        return self._excluded_cache

    def _keys(self) -> list[tuple[str, str]]:
        """(context, path) directory names of every catalogued directory,
        over all tiers and roots."""
        return [
            tuple(part.split("=", 1)[1] for part in key.rsplit("/", 2)[1:])
            for root in self.roots
            for key in catalog(self.spark, f"{root}/tier=*/context=*/path=*", root)
        ]

    def discover_contexts(self) -> list[str]:
        """DISTINCT context over every tier (context-discovery.ts:250-256),
        answered from the catalogued directory names: a listing, no Spark
        job. retention_cleanup removes the directories it empties, so every
        name has data under it."""
        return sorted({unsanitize_context(c) for c, _ in self._keys()})

    def discover_paths(self, context: str | None = None) -> list[str]:
        want = sanitize_context(context) if context else None
        return sorted({unsanitize_path(p) for c, p in self._keys() if want in (None, c)})
