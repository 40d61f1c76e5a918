"""signalk_parquet_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of the reference `motamman/signalk-parquet`
(a SignalK marine time-series lakehouse: Hive-partitioned Parquet store,
multi-resolution rollup tiers, a History aggregation API, spatial filtering,
and hot/cold federation), re-expressed Spark-first.

Layers (see SURVEY.md §7):
  - sources/   : Hive-partitioned Parquet lake (tier/context/path/year/day),
                 hot staging buffer, value typing & object flattening
  - functions/ : column-expression builders (time bucketing, angular math,
                 haversine geo, text analytics, vector similarity)
  - operators/ : composed DataFrame operators (bucketed aggregation, priority
                 dedup federation, alignment/pivot, smoothing, episodes,
                 spatial correlation, rollups, dedup, similarity search)
  - plans/     : PathSpec grammar, time-range parsing, tier routing, the
                 History query planner
  - streaming/ : Structured Streaming ingest & rollup jobs

Everything here is plain PySpark DataFrame/SQL; Catalyst does the physical
planning the reference delegated to DuckDB.
"""

__version__ = "0.1.0"
