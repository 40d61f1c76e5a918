"""Hot staging buffer — the Spark-native replacement for the reference's
SQLite WAL buffer (sqlite-buffer.ts; SURVEY §1.3, S5).

Design: a small append-only Parquet staging directory holding today's hot
rows. Federation = hot ∪ cold with the hot side winning per bucket
(operators/federation.priority_dedup), exactly the reference's plan shape.

Exactly-once export (the `exported` flag + markDateExported protocol,
sqlite-buffer.ts:1001-1027) becomes IDEMPOTENT OVERWRITE of the day
partition in the cold lake: re-exporting a day rewrites the same partition
instead of appending dupes — same guarantee, no per-row state.

Every write also records its columns in the staging directory's schema
catalog (sources/lake.py), so a read plans with no footer probe.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lake import Lake, catalog, merged_schema, record_catalog


class HotBuffer:
    def __init__(self, spark: SparkSession, staging_dir: str):
        self.spark = spark
        self.staging_dir = staging_dir

    def append(self, df: DataFrame) -> None:
        self._write(df, self.staging_dir, "append")

    def _write(self, df: DataFrame, directory: str, mode: str) -> None:
        df.write.mode(mode).parquet(directory)
        record_catalog(self.spark, directory, df.schema)

    def read(
        self,
        context: str | None = None,
        path: str | None = None,
        from_ts: datetime | None = None,
        to_ts: datetime | None = None,
    ) -> DataFrame:
        entries = [e for es in catalog(self.spark, self.staging_dir).values() for e in es]
        if not entries:  # no staging dir yet, or no data in it
            return self.spark.createDataFrame([], "context string, path string")
        df = self.spark.read.schema(merged_schema(entries)).parquet(self.staging_dir)
        if context:
            df = df.filter(F.col("context") == context)
        if path:
            df = df.filter(F.col("path") == path)
        if from_ts:
            df = df.filter(F.col("signalk_timestamp") >= F.lit(from_ts))
        if to_ts:
            df = df.filter(F.col("signalk_timestamp") < F.lit(to_ts))
        return df

    def export_day(self, lake: Lake, day: datetime) -> int:
        """Export one day's hot rows to the cold lake. Idempotent: overwrite
        of the day's partitions — running twice leaves one copy (the
        reference proves the same property via its exported flag,
        write-read-pipeline.test.ts:211-222).

        Safe under replay: an at-least-once ingest sink re-appends a
        replayed micro-batch to the buffer, so the day is read through
        dropDuplicates(). Replay duplicates are bit-identical complete
        rows; distinct real observations differ in at least timestamp,
        source or value, so the collapse never merges genuine data."""
        start = day.replace(hour=0, minute=0, second=0, microsecond=0)
        rows = self.read(from_ts=start, to_ts=start + timedelta(days=1)).dropDuplicates()
        n = rows.count()
        if n:
            lake.write_records(rows, tier="raw", mode="overwrite")
        return n

    def retention_cleanup(self, older_than: datetime) -> None:
        """Drop hot rows past the buffer retention window (48 h default in
        the reference, README.md:20) by compacting the staging dir."""
        keep = self.read(from_ts=older_than)
        tmp = self.staging_dir + ".compact"
        self._write(keep, tmp, "overwrite")
        import shutil

        shutil.rmtree(self.staging_dir)
        os.rename(tmp, self.staging_dir)
