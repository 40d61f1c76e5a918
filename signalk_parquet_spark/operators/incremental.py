"""Incremental tier maintenance — recompute ONLY what late data touched.

The reference maintains rollup tiers by re-aggregating FULL days in a loop
(aggregation-service.ts:853-864: per (context, path, day) it re-runs the
whole day's aggregation whenever anything in that day changed). At 100 TB
the scale-correct form bounds the work by the LATE DATA's spread, not by
history size: late rows land in the hot buffer, the `exported` watermark
(sources/buffer.py:53) tells us which rows are new, and only the tier
partitions those rows dirty get recomputed.

Three declarative steps, no driver-side loops:

1. **Changed-partition discovery** — a distinct() over the late rows' tier
   keys. Its size is proportional to the late data, not the lake.
2. **Scoped re-aggregation** — the raw scan LEFT SEMI joined (broadcast)
   against the touched keys on the PARTITION columns, which Spark turns
   into a partition-pruned scan (dynamic partition pruning); then the
   ordinary rollup operator over just those partitions.
3. **Partition overwrite** — mode=overwrite + partitionOverwriteMode=
   dynamic replaces exactly the touched (tier, context, path, year, day)
   directories, atomically per partition; everything else is untouched
   bytes on disk (pinned by tests/test_incremental.py's mtime check).

Correctness contract: incremental-after-late-data == full recompute,
bucket for bucket — the `rollup_incremental_1h` driver gate states it as
an equivalence against a plain full-recompute oracle, and the pytest
states it against the lake round-trip.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.time import bucket_iso, bucket_ts


def _bucket_col(resolution_ms: int, ts_col: str, iso: bool):
    """(column, name): the tier bucket as the reference's ISO string
    (bucketed_stats' key) or as a real timestamp (rollup_*'s bucket_time)."""
    if iso:
        return bucket_iso(ts_col, resolution_ms), "bucket_ts"
    return bucket_ts(ts_col, resolution_ms), "bucket_time"


def touched_buckets(
    late_df: DataFrame,
    resolution_ms: int,
    group_cols: Sequence[str] = ("context", "path"),
    ts_col: str = "signalk_timestamp",
    iso: bool = True,
) -> DataFrame:
    """Distinct tier keys (group_cols + bucket) the late rows dirty —
    the discovery step. Small by construction: bounded by the late rows."""
    col, name = _bucket_col(resolution_ms, ts_col, iso)
    return late_df.select(*group_cols, col.alias(name)).distinct()


def scope_to_touched(
    df: DataFrame,
    touched: DataFrame,
    resolution_ms: int,
    keys: Sequence[str],
    ts_col: str,
    iso: bool = True,
) -> DataFrame:
    """Restrict a raw frame to rows falling in touched buckets: broadcast
    LEFT SEMI on the tier key. The bucket column is derived, joined on,
    and dropped — the caller's re-aggregation re-derives it."""
    col, name = _bucket_col(resolution_ms, ts_col, iso)
    with_b = df.withColumn(name, col)
    return with_b.join(F.broadcast(touched), [*keys, name], "left_semi").drop(name)


def merge_tier(
    initial_tier: DataFrame, recomputed: DataFrame, touched: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Bucket-level merge: keep every initial tier row whose key is NOT
    touched, union the recomputed touched buckets (which cover both updated
    and newly created buckets). The anti side broadcasts the same small
    touched frame the scoping step used."""
    kept = initial_tier.join(F.broadcast(touched), list(keys), "left_anti")
    return kept.unionByName(recomputed)


def rollup_incremental(
    lake,
    late_df: DataFrame,
    tier: str,
    kind: str = "scalar",
    ts_col: str = "signalk_timestamp",
    roll_kwargs: dict | None = None,
) -> int:
    """Lake-level incremental maintenance for one rollup tier. Pre-condition:
    the late rows are already exported to raw (buffer.export_day — the
    `exported`-flag watermark decides what is 'late').

    Recompute granularity is the PHYSICAL partition, (context, path, year,
    day): dynamic partition overwrite replaces whole directories, so each
    touched directory must be rebuilt from all of its raw rows — still
    bounded by the late data's (series, day) spread, never by history.
    Returns the number of touched partitions (0 = nothing to do, no write).

    ``roll_kwargs`` forwards to the tier's rollup operator. Only the
    angular rollup has integer partials: pass {'exact_partials': True}
    there to make incremental == full-recompute exact BY CONSTRUCTION
    (integer partials are summation-order-independent, so the rebuilt
    partitions are bit-identical to what a from-scratch run writes).
    rollup_scalar has no such option: its float average matches a full
    recompute only up to partial-aggregation order."""
    from ..sources.lake import partition_values
    from .rollup import rollup_angular, rollup_position, rollup_scalar

    roll = {"scalar": rollup_scalar, "angular": rollup_angular,
            "position": rollup_position}[kind]
    touched = (
        late_df.select(*(c.alias(n) for n, c in partition_values(ts_col).items()))
        .distinct()
        .persist()
    )
    n = touched.count()  # materialize once; reused by the semi-join broadcast
    if n == 0:
        touched.unpersist()
        return 0
    raw = lake.read(tier="raw")
    scoped = raw.join(
        F.broadcast(touched), ["context", "path", "year", "day"], "left_semi"
    ).drop("tier", "year", "day")
    lake.write_rollup(roll(scoped, tier, ts_col=ts_col, **(roll_kwargs or {})), tier)
    touched.unpersist()
    return n


def full_equals_incremental(
    spark: SparkSession, lake, tier: str, all_raw: DataFrame,
    ts_col: str = "signalk_timestamp",
) -> bool:
    """Test helper: does the maintained tier equal a from-scratch recompute?
    (exceptAll both ways — order-free multiset equality)."""
    from .rollup import rollup_scalar

    want = rollup_scalar(all_raw, tier, ts_col=ts_col)
    got = lake.read(tier=tier).select(*want.columns)
    return got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
