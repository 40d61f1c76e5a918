"""Bucketed-table co-location — the shuffle-elimination path for the joins
that stay big on both sides at 100 TB.

SCALE.md's plan audit shows every dimension join broadcasts; the one
remaining sort-merge join at scale is fact ⋈ fact (lineitem ⋈ orders,
events ⋈ events-derived). Writing both sides bucketed by the join key with
the same bucket count lets Spark plan that join with NO Exchange on either
side: each task reads matching bucket files directly (hash(key) % n agrees
by construction), so the 100 TB shuffle disappears from the plan instead of
being "merely" optimized.

The reference has no equivalent (single-node DuckDB never shuffles); this is
engine-level capability the Spark target adds. Bucket metadata lives in the
session catalog (`saveAsTable`) — on a real deployment that's the shared
metastore; locally it's the session's warehouse dir.

Sizing rule of thumb at 100 TB: pick num_buckets so a bucket's largest
table slice stays near spark.sql.files.maxPartitionBytes (128 MB default)
— e.g. 60 TB of lineitem → ~500k buckets is too many files; bucket to
~8192 and let each bucket hold ~7 GB split across row groups, or bucket
per-partition (day) so bucket files stay small. Bucketed scans parallelize
per bucket file, so the floor on parallelism is num_buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed+sorted parquet table, replacing any
    table of that name. Sorting by the bucket key inside each bucket file
    lets the join skip its Sort too.

    ``path`` makes the table EXTERNAL at that location — use it when the
    process's working directory (where the default warehouse lives) may
    not be writable, e.g. a caller-owned session in a read-only cwd."""
    spark = df.sparkSession
    # The default in-memory catalog forgets tables across sessions while
    # the table location survives, so a fresh session's CTAS against the
    # same name fails with LOCATION_ALREADY_EXISTS. Drop + clear the
    # stale location (a real metastore deployment's DROP TABLE already
    # removes managed locations — the fs delete is then a no-op).
    # Resolve the database explicitly: managed locations live at
    # <warehouse>[/<db>.db]/<table>, and the DROP must quote each name
    # part or a qualified 'db.tbl' parses as one backticked identifier.
    if "." in table:
        db, name = table.rsplit(".", 1)
    else:
        db, name = spark.catalog.currentDatabase(), table
    spark.sql(f"DROP TABLE IF EXISTS `{db}`.`{name}`")
    if path is not None:
        target = path
    else:
        wh = spark.conf.get("spark.sql.warehouse.dir")
        db_part = "" if db == "default" else f"/{db.lower()}.db"
        target = f"{wh}{db_part}/{name.lower()}"
    loc = spark._jvm.org.apache.hadoop.fs.Path(target)
    fs = loc.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(loc):
        fs.delete(loc, True)
    # pre-shuffle to the bucket layout: without this every write task emits
    # one file per bucket it happens to see (tasks x buckets small files);
    # aligned, each bucket is exactly one file and the bucketed scan's task
    # count equals num_buckets
    writer = (
        df.repartition(num_buckets, *[df[c] for c in bucket_cols])
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def cobucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: list[str],
    how: str = "inner",
) -> DataFrame:
    """Join two co-bucketed tables on their bucket key. When both sides were
    written with the same num_buckets over ``on``, the physical plan carries
    no Exchange (verify with explain-plan tests; tests/test_plans.py locks
    this in).

    The join carries the MERGE hint — scoped to this one join, unlike
    disabling autoBroadcastJoinThreshold session-wide — so a test-scale
    side small enough to broadcast still plans the fact ⋈ fact shape that
    exists at 100 TB (SMJ over co-bucketed scans, zero Exchange)."""
    left = spark.table(left_table).hint("merge")
    return left.join(spark.table(right_table), on=on, how=how)
