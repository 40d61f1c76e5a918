"""Storage lifecycle: retention cleanup, compaction, migration
(SURVEY §2.10 — data management, not query).

Reference semantics:
  - retention: per-tier multipliers of retentionDays (raw x1 / 5s x2 /
    60s x4 / 1h x12, aggregation-service.ts:49-54), with per-path glob rules
    where the MOST SPECIFIC matching pattern wins (retention-rules.ts:52-143);
    cutoff at day granularity.
  - compaction: merge a (tier, context, path, year)'s day files into one
    time-sorted file (compaction-service.ts:650-752) — small-file pressure
    is the #1 operational risk of the one-file-per-day model at 100 TB.
"""

from __future__ import annotations

import fnmatch
import shutil
from dataclasses import dataclass
from datetime import datetime, timedelta
from pathlib import Path

from pyspark.sql import functions as F

from ..sources.hive_paths import unsanitize_path
from ..sources.lake import CATALOG_DIR, Lake, partition_values

TIER_RETENTION_MULTIPLIER = {"raw": 1, "5s": 2, "60s": 4, "1h": 12}


@dataclass(frozen=True)
class RetentionRule:
    """Per-path override: glob pattern over SignalK paths + days to keep."""

    pattern: str  # e.g. "navigation.*", "*", "navigation.position"
    days: int

    @property
    def specificity(self) -> int:
        """More literal characters = more specific (retention-rules.ts:96-143:
        exact > prefix-glob > catch-all)."""
        return len(self.pattern.replace("*", ""))


def effective_retention_days(
    path: str, tier: str, base_days: int = 7, rules: list[RetentionRule] | None = None
) -> int:
    """Tier-multiplied default unless a path rule overrides; among matching
    rules the most specific wins, ties broken by longer pattern."""
    matching = [r for r in (rules or []) if fnmatch.fnmatch(path, r.pattern)]
    if matching:
        best = max(matching, key=lambda r: (r.specificity, len(r.pattern)))
        return best.days * TIER_RETENTION_MULTIPLIER[tier]
    return base_days * TIER_RETENTION_MULTIPLIER[tier]


def retention_cleanup(
    lake: Lake,
    now: datetime,
    base_days: int = 7,
    rules: list[RetentionRule] | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Drop whole (tier, context, path, year, day) partitions older than the
    effective retention — a partition-directory delete, never a row scan
    (day-granularity cutoff like the reference). A year, path or context
    directory left without data goes too (a path's catalog goes with it),
    so every directory name the lake's discovery lists has data under it."""
    removed: list[str] = []
    root = Path(lake.roots[0])
    for day_dir in sorted(root.glob("tier=*/context=*/path=*/year=*/day=*")):
        parts = dict(p.split("=", 1) for p in day_dir.relative_to(root).parts)
        tier = parts["tier"]
        path = unsanitize_path(parts["path"])
        keep_days = effective_retention_days(path, tier, base_days, rules)
        cutoff = (now - timedelta(days=keep_days)).date()
        day_date = datetime.strptime(f"{parts['year']}-{int(parts['day']):03d}", "%Y-%j").date()
        if day_date < cutoff:
            removed.append(str(day_dir))
            if not dry_run:
                shutil.rmtree(day_dir)
                for parent in day_dir.parents[:3]:  # year, path, context
                    if any(e.name != CATALOG_DIR for e in parent.iterdir()):
                        break
                    shutil.rmtree(parent)
    return sorted(removed)


def compact_partition(lake: Lake, tier: str, context_s: str, path_s: str, year: int) -> int:
    """Merge one (tier, context, path, year)'s files into one time-sorted
    file per leaf partition — per day, and per epoch in a rollup tier
    (coalesce(1) + dynamic partition overwrite — the atomic-rename protocol
    is Spark's job commit). The output keeps the writers' layout: the levels
    down to year live only in the directory names, a rollup tier keeps its
    trailing epoch level (a tier of mixed depth is unreadable, see
    Lake.write_rollup) and day stays zero-padded. Returns rows compacted."""
    root = lake.roots[0]
    key = f"{root}/tier={tier}/context={context_s}/path={path_s}"
    src = f"{key}/year={year}"
    # read at the year directory with the catalog's data columns: the
    # discovered partition columns are the leaf levels, and the stored
    # schema never holds the upper ones, which also heals files an older
    # compaction wrote with them as data columns
    df = lake.spark.read.schema(lake.stored_schema(root, key)).parquet(src)
    n = df.count()
    ts_col = "signalk_timestamp" if tier == "raw" else "bucket_time"
    leaf = [c for c in ("day", "epoch") if c in df.columns]
    (
        # discovery reads day=005 as the integer 5; derive the padded value
        df.withColumn("day", partition_values(ts_col)["day"])
        .sort(ts_col)
        .coalesce(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*leaf)
        .parquet(src + ".compact")
    )
    shutil.rmtree(src)
    shutil.move(src + ".compact", src)
    return n


def migrate_flat_to_hive(lake: Lake, flat_dir: str, tier: str = "raw") -> int:
    """One-time migration of legacy flat files (vessels/{id}/{path}/*.parquet)
    into the Hive layout (migration-service.ts:64-414) — a single partitioned
    rewrite instead of per-file moves."""
    df = lake.spark.read.option("mergeSchema", "true").parquet(flat_dir)
    n = df.count()
    lake.write_records(df, tier=tier, mode="append")
    return n
