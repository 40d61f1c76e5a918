"""The History query planner — SURVEY §3 entry point 1, Spark-shaped:

request → PathSpec parse → tier routing → per-spec federated DataFrame
(cold lake tier ∪ hot buffer, each aggregated independently, priority pick)
→ optional spatial semi-filter → k-way alignment join → smoothing →
one wide DataFrame [bucket_ts, <col per spec>].

Differences from the reference, by design:
  - the JS k-way merge (HistoryAPI.ts:1992-2013) is a distributed outer join
  - the JS Set spatial filter (:1925-1946) is a left_semi join
  - EMA/SMA run on the bucketed series (bounded cardinality), SMA as a
    window aggregate, EMA as a grouped pandas UDF
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geo import bbox_predicate, radius_predicate
from ..functions.time import bucket_iso
from ..operators.aggregate import bucketed_agg
from ..operators.align import align_join
from ..operators.federation import priority_dedup
from ..operators.rollup import reaggregate_angular, reaggregate_scalar
from ..operators.smoothing import ema, sma
from ..schema import is_position_path, is_string_path
from ..sources.buffer import HotBuffer
from ..sources.lake import Lake
from .pathspec import PathSpec, parse_paths_param
from .tiers import route_tier
from .timerange import TimeRange, resolve_resolution_ms, resolve_time_range


class HistoryPlanner:
    def __init__(
        self,
        lake: Lake,
        buffer: HotBuffer | None = None,
        units_by_path: dict[str, str] | None = None,
    ):
        self.lake = lake
        self.buffer = buffer
        self.units_by_path = units_by_path or {}
        self._tiers_cache: set[str] | None = None
        self._comp_cache: dict[tuple[str | None, str], list[str]] = {}

    # ------------------------------------------------------------------
    def available_tiers(self) -> set[str]:
        if self._tiers_cache is None:
            self._tiers_cache = self.lake.tiers()
        return self._tiers_cache

    def _is_angular(self, path: str) -> bool:
        return self.units_by_path.get(path) == "rad"

    def _object_components(self, path: str, context: str | None) -> list[str]:
        """Discover a path's flattened value_* component columns — the
        reference's schema probe (union of value_* columns across the path's
        files, cached 30 min; schema-cache.ts:46-173). Ingest batches can
        union schemas across paths, so presence isn't enough: a component
        counts only if it carries ANY non-null data for this path — a fact
        the lake's writers record in its catalog, so no Spark job runs."""
        key = (context, path)
        if key not in self._comp_cache:
            nonnull = {
                c
                for e in self.lake.catalog_entries(tier="raw", context=context, path=path)
                for c in e.get("nonnull", ())
            }
            self._comp_cache[key] = sorted(nonnull - {"value_text", "value_bool", "value_json"})
        return self._comp_cache[key]

    # ------------------------------------------------------------------
    def get_values(
        self,
        paths: str | list[PathSpec],
        from_iso: str | None = None,
        to_iso: str | None = None,
        duration: str | int | None = None,
        resolution_s: float | None = None,
        context: str | None = None,
        bbox: tuple[float, float, float, float] | None = None,  # (south, north, west, east)
        radius: tuple[float, float, float] | None = None,  # (lat, lon, meters)
        now: datetime | None = None,
    ) -> DataFrame:
        specs = parse_paths_param(paths) if isinstance(paths, str) else list(paths)
        rng = resolve_time_range(from_iso, to_iso, duration, now=now)
        res_ms = resolve_resolution_ms(rng, resolution_s)

        area_buckets = self._spatial_prepass(specs, rng, res_ms, context, bbox, radius)

        frames: dict[str, DataFrame] = {}
        for spec in specs:
            series = self._series_for(spec, rng, res_ms, context)
            if area_buckets is not None and not is_position_path(spec.path):
                series = series.join(area_buckets, "bucket_ts", "left_semi")
            frames[spec.column_name] = series

        wide = align_join(frames, "bucket_ts", "value")
        wide = self._apply_smoothing(wide, specs)
        return wide.orderBy("bucket_ts")

    # ------------------------------------------------------------------
    def _series_for(
        self, spec: PathSpec, rng: TimeRange, res_ms: int, context: str | None
    ) -> DataFrame:
        angular = self._is_angular(spec.path)
        comp_cols = self._object_components(spec.path, context)
        is_obj = bool(comp_cols) and not is_string_path(spec.path)
        tier = route_tier(spec, res_ms, self.available_tiers(), is_object_path=is_obj)
        sources: list[tuple[DataFrame, int]] = []

        cold = self.lake.read(
            tier=tier, context=context, path=spec.path, from_ts=rng.from_ts, to_ts=rng.to_ts
        )
        if tier != "raw" and "bucket_time" not in cold.columns:
            # tier exists lake-wide but not for THIS path — the reference's
            # per-path fall-through to the best existing tier dir
            # (HistoryAPI.ts:748-782); raw always answers
            tier = "raw"
            cold = self.lake.read(
                tier="raw", context=context, path=spec.path, from_ts=rng.from_ts, to_ts=rng.to_ts
            )
        if spec.source_ref is not None:
            # absent column => parquet side contributes nothing (path-filters.ts:48-157)
            if "source_label" in cold.columns:
                cold = cold.filter(F.col("source_label") == spec.source_ref)
            else:
                cold = cold.limit(0)
        sources.append((self._aggregate(cold, spec, res_ms, tier, angular, comp_cols if is_obj else None), 1))

        if self.buffer is not None:
            hot = self.buffer.read(
                context=context, path=spec.path, from_ts=rng.from_ts, to_ts=rng.to_ts
            )
            if "signalk_timestamp" in hot.columns:
                if spec.source_ref is not None and "source_label" in hot.columns:
                    hot = hot.filter(F.col("source_label") == spec.source_ref)
                sources.append((self._aggregate(hot, spec, res_ms, "raw", angular, comp_cols if is_obj else None), 2))

        if len(sources) == 1:
            return sources[0][0]
        # buffer beats parquet per bucket (HistoryAPI.ts:1683-1693)
        return priority_dedup(sources, ["bucket_ts"])

    def _aggregate(
        self,
        df: DataFrame,
        spec: PathSpec,
        res_ms: int,
        tier: str,
        angular: bool,
        comp_cols: list[str] | None = None,
    ) -> DataFrame:
        if comp_cols:
            return self._aggregate_object(df, spec, res_ms, comp_cols)
        if tier == "raw":
            value_col = "value_text" if is_string_path(spec.path) else "value"
            method = spec.method
            if is_string_path(spec.path) and method in ("average", "mid"):
                method = "first"  # string paths aggregate FIRST, never AVG
            out = bucketed_agg(
                df, "signalk_timestamp", value_col, res_ms, method, angular=angular
            )
            return out.select("bucket_ts", "value")
        # tier read path: lossless weighted re-aggregation (A8/A9)
        reagg = reaggregate_angular(df, res_ms) if angular else reaggregate_scalar(df, res_ms)
        value = {
            "average": F.col("value"),
            "min": F.col("value_min"),
            "max": F.col("value_max"),
            "count": F.col("sample_count"),
        }.get(spec.method, F.col("value"))
        return reagg.select(
            F.date_format("bucket", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("bucket_ts"),
            value.alias("value"),
        )

    def _aggregate_object(
        self, df: DataFrame, spec: PathSpec, res_ms: int, comp_cols: list[str]
    ) -> DataFrame:
        """SURVEY A13 — object paths aggregate per flattened value_* component
        (requested method for numeric components, FIRST for strings), then the
        object is reconstructed from the aggregated components
        (HistoryAPI.ts:1578-1717,2560-2577)."""
        from pyspark.sql import types as T

        from ..operators.aggregate import method_agg

        ts = F.col("signalk_timestamp").cast("timestamp")
        schema = df.schema
        aggs = []
        for c in comp_cols:
            if c not in schema.names:
                # a side (the hot buffer) whose rows never held this path's
                # objects lacks the column; it has no rows to aggregate
                aggs.append(F.first(F.lit(None)).alias(c))
                continue
            numeric = isinstance(schema[c].dataType, (T.DoubleType, T.FloatType))
            method = spec.method if numeric else "first"
            aggs.append(method_agg(method, F.col(c), ts).alias(c))
        agged = df.groupBy(bucket_iso("signalk_timestamp", res_ms).alias("bucket_ts")).agg(*aggs)
        obj = F.to_json(
            F.struct(*[F.col(c).alias(c[len("value_"):]) for c in comp_cols])
        )
        return agged.select("bucket_ts", obj.alias("value"))

    # ------------------------------------------------------------------
    def _spatial_prepass(
        self,
        specs: list[PathSpec],
        rng: TimeRange,
        res_ms: int,
        context: str | None,
        bbox: tuple[float, float, float, float] | None,
        radius: tuple[float, float, float] | None,
    ) -> DataFrame | None:
        """Two-phase spatial correlation (HistoryAPI.ts:788-941): a cheap
        bucketed scan of raw positions yields the in-area bucket set used to
        semi-filter every non-position series."""
        if bbox is None and radius is None:
            return None
        pos_paths = [s.path for s in specs if is_position_path(s.path)] or ["navigation.position"]
        pos = self.lake.read(
            tier="raw", context=context, path=pos_paths[0], from_ts=rng.from_ts, to_ts=rng.to_ts
        )
        lat = F.col("value_latitude").cast("double")
        lon = F.col("value_longitude").cast("double")
        if bbox is not None:
            pred = bbox_predicate(lat, lon, *bbox)
        else:
            clat, clon, r = radius
            pred = radius_predicate(lat, lon, clat, clon, r)
        return (
            pos.filter(pred)
            .select(bucket_iso("signalk_timestamp", res_ms).alias("bucket_ts"))
            .distinct()
        )

    # ------------------------------------------------------------------
    def _apply_smoothing(self, wide: DataFrame, specs: list[PathSpec]) -> DataFrame:
        for spec in specs:
            if not spec.smoothing:
                continue
            col = spec.column_name
            out_col = f"{col}__smoothed"
            if spec.smoothing == "sma":
                wide = sma(wide, "bucket_ts", col, spec.smoothing_window or 5, out_col=out_col)
            else:
                # α comes from the request (path:ema:0.3), defaulting to the
                # reference's defaultEmaAlpha (HistoryAPI.ts:2061-2063)
                wide = ema(wide, "bucket_ts", col, alpha=spec.ema_alpha, out_col=out_col)
            if spec.smoothing_only:
                # official syntax replaces the series with its smoothed form
                wide = wide.drop(col).withColumnRenamed(out_col, col)
        return wide
