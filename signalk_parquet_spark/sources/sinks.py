"""Record sinks beyond Parquet (SURVEY §2.1 S7-S9).

The reference falls back to JSON/CSV record formats
(src/parquet-writer.ts:91-129); here each is one writer call with the same
partition layout, plus the compaction-grade parquet writer with explicit
compression (COPY ... (FORMAT PARQUET, COMPRESSION 'SNAPPY') equivalent,
aggregation-service.ts:423-439)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("compression", "snappy").parquet(path)


def write_json(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def write_csv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("header", "true").csv(path)


READERS = {
    "parquet": lambda spark, path: spark.read.option("mergeSchema", "true").parquet(path),
    "json": lambda spark, path: spark.read.json(path),
    "csv": lambda spark, path: spark.read.option("header", "true").option("inferSchema", "true").csv(path),
}
