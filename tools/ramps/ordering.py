"""Measured ramp: global shuffle rank vs the global-sort window it avoids.

Same synthetic frame (hash-keyed ids, executor-generated), two plans for
the IDENTICAL permutation position:

  operator:  global_shuffle_rank — hash exchange on the key's 16-bit
             prefix bucket + a buckets-row offset broadcast; parallelism
             = buckets, no range partitioner, no sampling pass;
  window:    row_number() OVER (ORDER BY key, id) — Spark serializes an
             unpartitioned window onto ONE partition (the WindowExec
             warning it prints is the point), the same baseline shape
             the selection ramp uses.

Each row reports both walls plus a DISTRIBUTED differential (join on id,
count positions that disagree — scalar to the driver, never the data).
Measured shape (32-core host, local[32], post-warmup): 2M rows 2.6 s vs
2.8 s, 8M 3.0 s vs 9.9 s, 32M 9.3 s vs 39.6 s — the single-partition
sort grows superlinearly while the bucketed plan tracks data volume. On
a 4-core host (two runs) the window sort wins at 2M (4.0/4.5 s vs
7.9/18.5 s) and ties at 8M (13.9/15.2 s vs 15.0/14.0 s): four cores give
the bucketed plan little to spread its exchange over. At cluster scale the window baseline is additionally
the whole dataset funneled through one machine, i.e. not runnable at all.

Run: python tools/ramp.py ordering   (~2-3 min; prints one table)
"""

from pyspark.sql import Window
from pyspark.sql import functions as F

from signalk_parquet_spark.operators.ordering import global_shuffle_rank
from tools.ramps import Ramp, persisted


def shuffle_rank(spark, df):
    ranked = global_shuffle_rank(df, "doc_id")
    ranked.agg(F.sum("pos")).collect()  # force full compute, scalar back
    return ranked


def window_sort(spark, df):
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("shuffle")))
    win = df.select("doc_id", F.row_number().over(Window.orderBy(key, "doc_id"))
                    .cast("long").alias("wpos"))
    win.agg(F.sum("wpos")).collect()
    return win


def positions_agree(spark, df, results: dict) -> dict:
    mismatches = (
        results["shuffle_rank"].join(results["window_sort"], "doc_id")
        .filter(F.col("pos") != F.col("wpos")).count()
    )
    return {"mismatches": mismatches, "ok": mismatches == 0}


RAMPS = {
    "ordering": Ramp(
        sizes=(2_000_000, 8_000_000, 32_000_000),
        build=lambda spark, n: persisted(
            spark.range(n, numPartitions=32).select(F.col("id").alias("doc_id"))),
        variants={"shuffle_rank": shuffle_rank, "window_sort": window_sort},
        check=positions_agree,
    ),
}
