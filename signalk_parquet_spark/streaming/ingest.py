"""Streaming ingest — the reference's delta subscription pipeline
(src/data-handler.ts:417-588) as Structured Streaming.

Reference behavior → Spark mapping:
  - per-path streambundle subscription with debounce(1s)   → readStream +
    dropDuplicatesWithinWatermark on (context, path, second)
  - context/source/MMSI filters (:471-518)                 → df.filter chain
  - buffer insert per event, flush 1000 rows / 30 s        → foreachBatch
    append to the hot staging dir, trigger(processingTime=...)
  - 48 h buffer retention bounds late data (README.md:1338-1363)
    → withWatermark("signalk_timestamp", "48 hours")

The file-source form below is what local tests drive (availableNow); on a
real deployment the source line becomes Kafka/socket and nothing else
changes — that separation is the point of Structured Streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.rollup import TIER_MS, _tier_aggs
from ..sources.buffer import HotBuffer


def ingest_filters(
    df: DataFrame,
    context_filter: str | None = None,
    exclude_mmsi_substring: str | None = None,
    source_filter: str | None = None,
) -> DataFrame:
    """The reference's ingest-side filters (data-handler.ts:471-518):
    context equality or vessels.* wildcard, MMSI-substring exclusion,
    source filter; meta-only deltas are skipped."""
    out = df
    if context_filter:
        if context_filter.endswith(".*"):
            out = out.filter(F.col("context").startswith(context_filter[:-2] + "."))
        else:
            out = out.filter(F.col("context") == context_filter)
    if exclude_mmsi_substring:
        out = out.filter(~F.coalesce(F.col("context"), F.lit("")).contains(exclude_mmsi_substring))
    if source_filter:
        out = out.filter(F.col("source_label") == source_filter)
    # meta-delta skip: a record with no value at all is metadata-only
    return out.filter(
        F.col("value").isNotNull()
        | F.col("value_text").isNotNull()
        | F.col("value_bool").isNotNull()
        | F.col("value_json").isNotNull()
    )


def debounce(df: DataFrame, seconds: int = 1) -> DataFrame:
    """The per-path debounceImmediate(1000) (data-handler.ts:537-587):
    keep at most one record per (context, path, debounce-window)."""
    return df.withColumn(
        "__debounce_bucket",
        (F.unix_millis(F.col("signalk_timestamp")) / F.lit(seconds * 1000)).cast("long"),
    ).dropDuplicates(["context", "path", "__debounce_bucket"]).drop("__debounce_bucket")


def streaming_dedup(
    stream: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "signalk_timestamp",
    watermark: str = "48 hours",
) -> DataFrame:
    """Stateful streaming deduplication: drop re-deliveries of the same
    logical record ACROSS micro-batches (``debounce`` is per-batch only —
    an at-least-once source that re-sends a record in a later batch slips
    through it). ``dropDuplicatesWithinWatermark`` keeps one state entry
    per key until the watermark passes it, so state is bounded by the
    lateness horizon — the streaming twin of the batch dedup_exact screen,
    and the Spark-native form of the reference's buffer INSERT OR IGNORE
    re-delivery guard (src/utils/sqlite-buffer.ts upsert path).

    Scale: state lives in the state store partitioned by key hash; with a
    48 h horizon at ~1k records/s that's ~170M entries spread over the
    shuffle partitions — RocksDB state store territory, configured at the
    session, not in this operator.
    """
    if keys is None:
        keys = ["context", "path", ts_col]
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def start_file_ingest(
    spark: SparkSession,
    source_dir: str,
    buffer: HotBuffer,
    schema,
    checkpoint_dir: str,
    available_now: bool = True,
    **filter_kw,
) -> StreamingQuery:
    """readStream(files) → filters → debounce → foreachBatch append to the
    hot buffer, started by :func:`_start_job` (``available_now`` picks its
    trigger)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    stream = ingest_filters(stream, **filter_kw)
    stream = stream.withWatermark("signalk_timestamp", "48 hours")

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        buffer.append(debounce(batch_df))

    return _start_job(stream.writeStream, _sink, checkpoint_dir, available_now)


def _start_job(writer, sink, checkpoint_dir: str, available_now: bool) -> StreamingQuery:
    """Start ``writer`` as a foreachBatch(``sink``) job checkpointed at
    ``checkpoint_dir``: availableNow drains everything then stops (test
    mode); otherwise it micro-batches every 30 s like the reference's
    save loop."""
    writer = writer.foreachBatch(sink).option("checkpointLocation", checkpoint_dir)
    if available_now:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime="30 seconds").start()


def streaming_rollup(
    spark: SparkSession,
    source_dir: str,
    schema,
    tier: str = "5s",
    kind: str = "scalar",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Streaming tier rollup: a watermarked tumbling-window groupBy over
    (context, path, window) — the declarative form of the reference's batch
    raw→tier job + its 48 h lateness bound (SURVEY §2.8). The window width
    is the tier's TIER_MS width and the aggregates are the batch rollup's
    own (rollup._tier_aggs), so a streaming-written tier has exactly the
    batch tier's columns: ``kind='angular'`` persists the sin/cos partials
    reaggregate_angular consumes (A8/A11, aggregation-service.ts:468-528)
    with min/max NULLed ('position' has no streaming form: its neighbor
    windows need the whole bucket). Returns the streaming DataFrame for the
    caller to sink (tests use format('memory') + availableNow); in append
    mode each window emits once, after the watermark closes it."""
    ts = "signalk_timestamp"
    return (
        spark.readStream.schema(schema).parquet(source_dir)
        .withWatermark(ts, watermark)
        .groupBy(
            "context", "path",
            F.window(ts, f"{TIER_MS[tier]} milliseconds").alias("bucket_time"),
        )
        .agg(*_tier_aggs(kind, F.col("value").cast("double"), ts))
        .withColumn("bucket_time", F.col("bucket_time.start"))
    )


def start_rollup_job(
    spark: SparkSession,
    source_dir: str,
    schema,
    lake,
    checkpoint_dir: str,
    tier: str = "5s",
    watermark: str = "10 seconds",
    available_now: bool = True,
    kind: str = "scalar",
) -> StreamingQuery:
    """The reference's ingest→rollup lifecycle (§2.10) as ONE continuously
    running pipeline: readStream → watermarked tumbling-window rollup →
    foreachBatch → Lake.write_rollup, restart-safe.

    Exactly-once bucket semantics without Delta/Iceberg:
      - append output mode emits each window ONCE, after the watermark
        closes it (the checkpoint tracks which windows were emitted, so a
        restart resumes instead of re-emitting);
      - the batch write lands under a trailing epoch=<id> partition, so the
        at-least-once replay of a micro-batch after a crash overwrites its
        own partitions with identical content instead of duplicating rows
        (see Lake.write_rollup).
    Buckets still open at the watermark stay in the state store across
    restarts and emit when later data closes them — nothing is lost.
    """
    agg = streaming_rollup(spark, source_dir, schema, tier, kind, watermark)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        lake.write_rollup(batch_df, tier=tier, epoch=epoch_id)

    return _start_job(agg.writeStream.outputMode("append"), _sink, checkpoint_dir, available_now)


def start_incremental_maintenance(
    spark: SparkSession,
    source_dir: str,
    schema,
    buffer: HotBuffer,
    lake,
    checkpoint_dir: str,
    tier: str = "1h",
    kind: str = "scalar",
    available_now: bool = True,
) -> StreamingQuery:
    """Beyond-watermark late data, handled CONTINUOUSLY — the complement of
    start_rollup_job: that job's watermarked state absorbs lateness within
    its watermark, and anything later is dropped by the stream. This job
    watches the late-arrival feed instead and, per micro-batch:

      1. appends the batch to the hot buffer;
      2. re-exports each touched DAY buffer->raw (HotBuffer.export_day:
         a dynamic partition overwrite, the `exported`-flag equivalent), a
         driver loop bounded by the batch's day spread;
      3. refreshes ONLY the touched tier partitions
         (operators/incremental.rollup_incremental).

    Restart safety: at-least-once replay re-APPENDS the batch to the
    buffer, and HotBuffer.export_day reads the day through
    dropDuplicates(), so the rebuilt day, and hence the scoped recompute
    over it, converge to the exactly-once result without a transactional
    table format.

    Operating envelope (the reference's own): a late row must arrive
    within the buffer's retention of its day, because export_day rebuilds
    the whole day FROM the buffer — the 48 h watermark on the main ingest
    and the 48 h buffer retention define the same window
    (sqlite-buffer.ts README: 48 h default).
    """
    from datetime import datetime, timezone

    from ..operators.incremental import rollup_incremental

    stream = spark.readStream.schema(schema).parquet(source_dir)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        buffer.append(batch_df)
        days = [
            r["d"]
            for r in batch_df.select(
                F.to_date("signalk_timestamp").alias("d")
            ).distinct().collect()
        ]
        for d in days:
            buffer.export_day(lake, datetime(d.year, d.month, d.day, tzinfo=timezone.utc))
        rollup_incremental(lake, batch_df, tier, kind)

    return _start_job(stream.writeStream, _sink, checkpoint_dir, available_now)


def streaming_session_windows(
    spark: SparkSession,
    source_dir: str,
    schema,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Session-window aggregation (SURVEY §2.8: the reference computes
    episodes batch-side; F.session_window is the native streaming form —
    sessions close when no event arrives within ``gap``)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return (
        stream.withWatermark("signalk_timestamp", watermark)
        .groupBy(F.session_window("signalk_timestamp", gap).alias("w"), "context", "path")
        .agg(F.count(F.lit(1)).alias("n_events"), F.avg(F.col("value").cast("double")).alias("value_avg"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "context",
            "path",
            "n_events",
            "value_avg",
        )
    )
