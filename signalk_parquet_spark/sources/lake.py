"""The Parquet lake: partitioned write + pruned, schema-merged read.

Replaces the reference's glob-construction machinery (S1-S4 in SURVEY §2.1)
with native Spark partition handling:
  - write: df.write.partitionBy("tier","context","path","year","day")
    — atomic via the job commit protocol (replaces temp-file+rename,
    parquet-writer.ts:131-306)
  - read: spark.read.option("mergeSchema").parquet(base) + ordinary filters
    on the partition columns; Catalyst prunes partitions (replaces
    hive-path-builder.ts:232-393's explicit day globs)
  - multi-root federation (local ∪ S3): pass several base paths —
    spark.read.parquet(*roots) (replaces HistoryAPI.ts:1461-1467's UNION ALL)

At 100 TB: year/day partition pruning bounds every query to its time range;
context/path partitioning keeps per-series scans file-local. Partition count
stays sane because tier/context/path are low-cardinality (thousands) and
year/day add ~366/year.
"""

from __future__ import annotations

import logging
from datetime import datetime

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .hive_paths import (
    EXCLUDED_SUBDIRS,
    days_in_range,
    sanitize_context,
    sanitize_path,
)

PARTITION_COLS = ("tier", "context", "path", "year", "day")

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
        writer = (
            out.write.mode(mode)
            .option("maxRecordsPerFile", 5_000_000)
            .partitionBy(*PARTITION_COLS)
        )
        if mode == "overwrite":
            writer = writer.option("partitionOverwriteMode", "dynamic")
        writer.parquet(self.roots[0])

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
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*PARTITION_COLS, "epoch")
            .parquet(self.roots[0])
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
        """Partition-pruned, schema-merged scan across all roots.

        Every filter lands on a partition column, so Catalyst prunes
        directories before listing files (check `.explain()` for
        PartitionFilters). Excluded maintenance subdirs are dropped the way
        the reference does by filename (HistoryAPI.ts:1452).
        """
        dfs = []
        for root in self.roots:
            # narrow the physical read to the partition subtree so mergeSchema
            # unions only THIS path's footers — a lake-wide union would make
            # every path appear to carry every other path's value_* columns
            # (the reference scopes its globs per path the same way,
            # schema-cache.ts:46-173)
            if tier:
                tier_bases = [f"{root}/tier={tier}"]
            else:
                # tier=None must NOT use a single tier=* discovery: raw is 5
                # partition levels, rollup tiers are 6 (trailing epoch), and
                # mixed-depth discovery raises 'Conflicting partition column
                # names'. Enumerate tier subtrees and read each uniformly.
                tier_bases = self._tier_dirs(root)
            for base in tier_bases:
                sub = base
                if context:
                    sub += f"/context={sanitize_context(context)}"
                elif path:
                    sub += "/context=*"
                if path:
                    sub += f"/path={sanitize_path(path)}"
                df = self._read_subtree(root, sub)
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

    def _tier_dirs(self, root: str) -> list[str]:
        """List ``<root>/tier=*`` subtrees via the Hadoop FileSystem API (works
        for local, file:, and object-store roots alike). A missing or
        unreachable root yields [] — the reference's hybrid→local fallback
        skips absent/failed roots too (HistoryAPI falls back to local when
        the cloud supplement errors)."""
        try:
            jvm = self.spark._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(root)
            fs = hpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
            if not fs.exists(hpath):
                return []
            return sorted(
                str(st.getPath())
                for st in fs.listStatus(hpath)
                if st.isDirectory() and st.getPath().getName().startswith("tier=")
            )
        except Exception:
            # unreachable scheme/endpoint (no s3a jars, auth, network):
            # degrade to the surviving roots, matching reference behavior
            return []

    def tiers(self) -> set[str]:
        """Tier names with a ``tier=*`` directory under any root — a
        listing, no Spark job. A tier directory without a given path's data
        is fine for routing: the planner falls through to raw per path."""
        return {d.rsplit("tier=", 1)[1] for root in self.roots for d in self._tier_dirs(root)}

    def _read_subtree(self, root: str, sub: str) -> DataFrame | None:
        """Read one partition subtree; None when the subtree doesn't exist or
        its root is unreachable (the hybrid→local fallback: connectivity or
        auth failures on one root must not sink the other roots' data).

        The one error that must SURFACE is 'Conflicting partition column
        names' — a malformed layout under a reachable root: a blanket except
        here once turned that layout bug into silently-empty discovery
        results (round-2 advice, high)."""
        from pyspark.errors import AnalysisException

        try:
            return (
                self.spark.read.option("mergeSchema", "true")
                .option("basePath", root)
                .parquet(sub)
            )
        except AnalysisException as e:
            msg = str(e)
            if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
                return None  # the one expected skip case: root has no such subtree
            if "conflicting" in msg.lower():
                raise
            # a genuine schema problem (e.g. an incompatible mergeSchema type
            # conflict) must not silently drop this root from discovery —
            # surface it in the log before degrading (ADVICE r03)
            _LOG.warning("lake: dropping root %s from discovery: %s", sub, msg)
            return None
        except Exception as e:
            if "conflicting" in str(e).lower():
                raise
            _LOG.warning("lake: unreachable root %s: %s", sub, e)
            return None  # connectivity/auth/missing fs jars

    def _has_excluded_dirs(self) -> bool:
        """Driver-side check for maintenance subdirs in local roots (remote
        object-store roots are assumed clean — our lifecycle never writes
        maintenance dirs inside partitions)."""
        import os

        if getattr(self, "_excluded_cache", None) is None:
            found = False
            for root in self.roots:
                local = root.removeprefix("file:")
                if "://" in local:
                    continue
                for _dirpath, dirnames, _ in os.walk(local):
                    if any(d in EXCLUDED_SUBDIRS for d in dirnames):
                        found = True
                        break
                if found:
                    break
            self._excluded_cache = found
        return self._excluded_cache

    def discover_contexts(self) -> list[str]:
        """DISTINCT context over every tier (context-discovery.ts:250-256).
        Not metadata-only: the distinct plans a scan of every tier's files
        plus an exchange."""
        rows = self.read().select("context").distinct().collect()
        from .hive_paths import unsanitize_context

        return sorted(unsanitize_context(r[0]) for r in rows)

    def discover_paths(self, context: str | None = None) -> list[str]:
        df = self.read(context=context)
        rows = df.select("path").distinct().collect()
        from .hive_paths import unsanitize_path

        return sorted(unsanitize_path(r[0]) for r in rows)
