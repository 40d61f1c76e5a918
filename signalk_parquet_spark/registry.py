"""Query registry — the driver contract surface.

Every implemented operator from SURVEY.md §2 registers here as
  name -> (spark_fn(spark, sf_dir) -> DataFrame, duckdb_oracle_sql | None)
The oracle SQL runs against DuckDB views named after the parquet tables
(region nation customer supplier part orders lineitem events documents
embeddings). Column names and rounding are aligned on both sides so the
driver's order-insensitive value-hash matches.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}

#: TRUE registration order (module import order × in-module order) —
#: REGISTRY itself is reordered by _apply_window_order, so anything that
#: needs the un-rotated order (window_check --suggest's tie-break, family
#: contiguity reasoning) must read this, not REGISTRY/queries() order.
_REGISTRATION_ORDER: list[str] = []


def register(name: str, sql: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        if name not in REGISTRY:
            _REGISTRATION_ORDER.append(name)
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def registration_order() -> list[str]:
    """All registered names in true registration order (imports everything)."""
    _import_all()
    return list(_REGISTRATION_ORDER)


#: tables whose queries do heavy map-side CPU work (shingling, hashing,
#: vector math) before any shuffle — spreading their single-row-group scan
#: across cores pays for the one-time shuffle many times over. Narrow-agg
#: tables (events/lineitem/orders) are NOT spread: their queries shuffle
#: almost immediately, and 32 cached partitions just tax every tiny stage
#: with task-scheduling overhead (measured +0.4-0.7 s/query at sf0.1).
_SPREAD_TABLES = ("documents", "embeddings")


_NANO_COLS_CACHE: dict[str, list[str]] = {}
#: session-level table cache (the reference's LRU data buffers / file-list
#: caches, cache-defaults.ts:9-37). Keyed by (session id, path); fully
#: materialized at first use so self-joins never see a partially-built cache.
_TABLE_CACHE: dict[tuple[str, str], DataFrame] = {}


def _nano_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark can't read those
    natively, so we read them as long (nanosAsLong) and convert."""
    if path not in _NANO_COLS_CACHE:
        import pyarrow.dataset as ds
        import pyarrow.types as pat

        schema = ds.dataset(path).schema
        _NANO_COLS_CACHE[path] = [
            f.name for f in schema if pat.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    return _NANO_COLS_CACHE[path]


def load(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    ts_range: tuple[str, str | None, str | None] | None = None,
) -> DataFrame:
    """Read one testdata table, converting TIMESTAMP(NANOS) columns (stored
    as long under nanosAsLong) to real timestamps.

    ``ts_range=(col, from_iso, to_iso)`` applies the half-open time filter
    IN RAW NANO SPACE, BEFORE the conversion — Catalyst cannot push a
    predicate through timestamp_micros(ns DIV 1000), so filtering on the
    converted column would reach the parquet scan as no filter at all
    (verified: PushedFilters goes empty). The raw-long filter pushes into
    row-group pruning. Our own lake stores real TimestampType, so this
    workaround is only for the driver-generated bench tables.
    """
    from pyspark.sql import functions as F

    from .functions.time import parse_iso
    from .session import ensure_query_confs

    ensure_query_confs(spark)
    path = f"{sf_dir}/{table}.parquet"
    # applicationId, not id(spark): CPython reuses addresses after a stopped
    # session is collected, which could hand a new session a dead frame
    app = spark.sparkContext.applicationId
    cache_key = (app, path)
    if ts_range is None and cache_key in _TABLE_CACHE:
        return _TABLE_CACHE[cache_key]
    for stale in [k for k in _TABLE_CACHE if k[0] != app]:
        del _TABLE_CACHE[stale]
    df = spark.read.parquet(path)
    nano_cols = _nano_timestamp_cols(path)
    if ts_range is not None:
        col, lo, hi = ts_range
        is_nano = col in nano_cols
        def _bound(iso: str):
            dt = parse_iso(iso)
            if is_nano:
                return F.lit(int(dt.timestamp() * 1_000_000) * 1000)
            # string literal implicit-casts to the column's own timestamp
            # flavor (NTZ or LTZ) and still pushes into the parquet scan
            return F.lit(dt.strftime("%Y-%m-%d %H:%M:%S.%f"))

        if lo is not None:
            df = df.filter(F.col(col) >= _bound(lo))
        if hi is not None:
            df = df.filter(F.col(col) < _bound(hi))
    for c in nano_cols:
        # integer ns -> µs truncation, matching DuckDB's ns->µs read behavior
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    if ts_range is None:
        # cache the unfiltered table for the session (driver runs ~60 queries
        # against the same few tables); ts_range reads stay uncached so
        # their filters keep reaching the parquet scan
        if table in _SPREAD_TABLES:
            target = spark.sparkContext.defaultParallelism
            if df.rdd.getNumPartitions() < target:
                # a single small parquet file (one row group) scans as ONE
                # partition, and persist() would freeze that layout — every
                # downstream CPU-heavy stage (shingling, trig, pair joins)
                # then runs on one core. Spread the cached table across the
                # executor cores once, up front; at real scale inputs arrive
                # in thousands of splits and this is a no-op.
                df = df.repartition(target)
        df = df.persist()
        df.count()  # materialize fully before anyone self-joins it
        _TABLE_CACHE[cache_key] = df
    return df


def evict_tables(spark: SparkSession, sf_dir: str) -> None:
    """Unpersist and drop this session's cached tables under one sf dir.
    Ramp/tool loops that write a throwaway corpus, query it, and rmtree it
    must call this first: load() persisted those frames, and a block
    evicted under memory pressure would otherwise recompute against
    deleted files (FileNotFoundException) while the stale cache skews
    later iterations' memory headroom."""
    app = spark.sparkContext.applicationId
    prefix = f"{sf_dir}/"
    for key in [k for k in _TABLE_CACHE if k[0] == app and k[1].startswith(prefix)]:
        _TABLE_CACHE.pop(key).unpersist()


def dd_bucket(resolution_ms: int) -> str:
    """DuckDB expression over column ``ts`` equal to functions.time.bucket_iso
    — the reference's bucket rendering (src/HistoryAPI.ts:1776-1777)."""
    return (
        f"strftime(epoch_ms(CAST(floor(epoch_ms(ts)/{resolution_ms})*{resolution_ms} AS BIGINT)), "
        f"'%Y-%m-%dT%H:%M:%SZ')"
    )


def micro_avg(col):
    """ORDER-INDEPENDENT, micro-GRID average for gate queries: per-row round
    to exact integer micro-units (safe — k.5 micro values are exactly
    representable doubles below 2^52, where Spark's HALF_UP and DuckDB's
    half-away agree, incl. negatives), exact BIGINT sum, ONE deterministic
    IEEE division, round THAT to an integer (still in micro space — integer
    .5 boundaries are exactly representable, so both engines' half-away
    agree), then divide by 1e6. Plain float avg() is summation-ORDER-
    dependent: at sf0.1 a 170-row bucket's partial-aggregate sum differs
    from DuckDB's by an ULP and a round(·, 6) boundary straddle flips the
    6th decimal — found by the first full value-compare at sf0.1 (r8; 8
    gates, all this class; invisible at the driver's sf0.01).

    The r8 form returned the raw quotient and let gates apply
    round(·, 6) — the exact final-step-float-round rule 2 warns about: a
    quotient landing on a .5-of-the-7th-decimal halfway point (NOT exactly
    representable) could split Spark's shortest-decimal HALF_UP from
    DuckDB's binary round (r8 ADVICE). Now the value is ON the micro grid
    by construction, so any outer round(·, 6) is a provable no-op: the
    nearest double to k/1e6 is ≥ ~0.5e-6 − ULP away from every 7th-decimal
    halfway point, and its shortest-decimal repr IS "k/1e6". Twin:
    :func:`dd_micro_avg`, which must keep the identical operation order."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    s = F.sum(F.round(c * 1_000_000).cast("long")).cast("double")
    return F.round(s / F.count(c), 0).cast("long") / 1_000_000.0


def micro_grid(col):
    """Put ANY double on the 6-decimal grid in INTEGER space (round(x*1e6)
    -> BIGINT -> /1e6): given bit-identical inputs on both engines this is
    exact by construction — integer .5 boundaries are exactly representable,
    where Spark's HALF_UP and DuckDB's half-away agree — unlike round(x, 6),
    whose .5-of-the-7th-decimal boundaries are NOT representable and can
    split shortest-decimal from binary rounding (rule 2). The gate-side
    closer for trig outputs (atan2 of deterministic quotients)."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 1_000_000.0).cast("long") / 1_000_000.0


def dd_micro_grid(expr: str) -> str:
    """DuckDB twin of :func:`micro_grid`."""
    return f"CAST(round(({expr}) * 1000000.0) AS BIGINT) / 1000000.0"


def nano_avg(col):
    """ORDER-INDEPENDENT mean of a TRIG output column (|x| <= 1): per-row
    round to exact NANO integers (k.5 at |k| <= 1e9 is exactly
    representable, so both engines' rounding agrees given bit-identical
    trig values), BIGINT sum, one deterministic division order. The angular
    twin of :func:`micro_avg` — nano because unit-interval values need the
    headroom, and the quotient feeds ATAN2, not a value hash. Twin:
    :func:`dd_nano_avg` (identical operation order)."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    s = F.sum(F.round(c * 1_000_000_000).cast("long")).cast("double")
    return s / F.count(c) / 1e9


def dd_nano_avg(expr: str) -> str:
    """DuckDB twin of :func:`nano_avg`."""
    return (
        f"CAST(sum(CAST(round(({expr}) * 1000000000) AS BIGINT)) AS DOUBLE)"
        f" / count({expr}) / 1000000000.0"
    )


def dd_micro_avg(expr: str) -> str:
    """DuckDB twin of :func:`micro_avg` — same micro round, exact sum, same
    single division, integer-space round, then /1e6 (reassociating any of
    it would change the double)."""
    return (
        f"CAST(round(CAST(sum(CAST(round({expr} * 1000000) AS BIGINT)) AS DOUBLE)"
        f" / count({expr}), 0) AS BIGINT) / 1000000.0"
    )


def queries() -> dict[str, QueryFn]:
    _import_all()
    return {k: v[0] for k, v in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _import_all()
    return {k: v[1] for k, v in REGISTRY.items() if v[1] is not None}


#: The driver correctness-checks the FIRST 50 registered queries only, so
#: window membership is managed EXPLICITLY here instead of via module
#: import order (the r1-r4 mechanism — it required moving queries between
#: files to rotate the window). Names listed here are pulled to the front
#: of the registry, in this order; everything else keeps registration
#: order behind them. Rotation policy per round: (1) every NEW or
#: semantics-EDITED gate, (2) gates with no driver row in any round, then
#: (3) fill to 50 with the gates whose last green row is OLDEST.
#: tools/window_check.py prints the result; a name listed here that is not
#: registered raises at import (typo guard).
#:
#: r13 window (27 edited + 23 r09 = 50), generated from
#: `tools/window_check.py --suggest` over the CORRECTNESS_r01-r12 union.
#: No NEW gates (optimization round). EDITED, two cohorts: (a) the 25
#: gates the r12 optimization sweep plan-changed while proving them
#: value-identical (LocalRelation/litfast lifts, containment stream
#: prefix, CC probe fusion, materialize=False, bloom inline probe, BPE
#: local rung — driver_sim 175/175 exact at sf0.001+sf0.01 both rounds;
#: GATE_FINGERPRINTS was deliberately left un-refreshed in r12 so
#: --suggest would rank exactly these EDIT and hand them driver slots
#: under their new plans), and (b) the two gates edited THIS round:
#: dedup_jaccard_prefix (prefix_jaccard_pairs flipped to the rarest-first
#: prefix — the standing flip-on-re-window TODO — in the containment_join
#: stream form) and ivf_kmeans_recall (the kmeans_centroids driver-local
#: Lloyd rung changes this oracle-less gate's declared recall values;
#: re-declared floor in test_ivf_kmeans_recall_floor — the VERDICT-r12
#: #7 slot, consumed consciously; its oracle-exact twin ann_ivf_kmeans
#: is centroid-independent by construction and sits beside it). Fill to
#: 50 with the 23 stalest r09 gates in suggestion order (angular family
#: leads, then the rollup/smoothing cohort, then tpch; the last two
#: suggested fills, shard_plan and wordpiece_pair_scores, gave their
#: slots to the this-round edits). After r13 no gate's evidence predates
#: r9 except that cohort tail.
#:
#: Bench-attribution notes for this order: dedup_containment stays the
#: shingle memo's first consumer; decontaminate_bm25 still precedes
#: bm25_topk (charged the memoized BM25 top-10 build); the media
#: decision gates and their CC labels now run inside the window.
_WINDOW_FIRST: tuple[str, ...] = (
    # --- edited r12/r13, suggestion order; jaccard_prefix slotted with
    # --- its shingle-memo family (r13's one deliberate plan change) ---
    "dedup_containment",
    "group_mad_outliers",
    "decontaminate_bm25",
    "decontaminate_containment",
    "dedup_jaccard_prefix",
    "bm25_topk",
    "ann_ivf_kmeans",
    "ivf_kmeans_recall",
    "dedup_keep_longest",
    "dedup_keep_corpus",
    "semdedup_recall",
    "dedup_cluster_cc",
    "group_kth_values",
    "group_length_clip",
    "corpus_shuffle_rank",
    "global_kth_values",
    "gpx_import_records",
    "delta_ingest_records",
    "heavy_hitters_2pass",
    "grouped_heavy_hitters",
    "decontaminate_bloom",
    "bloom_fp_rate",
    "bpe_train_merges",
    "image_dedup_decisions",
    "audio_dedup_decisions",
    "video_dedup_decisions",
    "image_dedup_decisions_phash",
    # --- fill to 50: 23 of the r09 cohort in suggestion order ---
    "angular_avg",
    "weighted_reagg_1h",
    "tier_rollup_stats_5m",
    "tier_rollup_angular_1h",
    "angular_reagg_3h",
    "priority_dedup_1h",
    "history_v2_blend",
    "align_pivot_1h",
    "episodes_error",
    "sma_1h_w5",
    "ema_1h_a02",
    "ema_pathspec_a05",
    "union_by_name",
    "anti_join_users",
    "rollup_incremental_1h",
    "jsonl_source_records",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "semi_join_orders",
    "rank_orders_per_customer",
    "quality_c4",
)


def _apply_window_order() -> None:
    missing = [n for n in _WINDOW_FIRST if n not in REGISTRY]
    if missing:
        # every module is imported, so a missing name is a TYPO
        raise KeyError(f"_WINDOW_FIRST names not registered: {missing}")
    front = {n: REGISTRY[n] for n in _WINDOW_FIRST}
    rest = {n: v for n, v in REGISTRY.items() if n not in front}
    REGISTRY.clear()
    REGISTRY.update(front)
    REGISTRY.update(rest)


def _import_all() -> None:
    # Module import order is now only the fallback ordering BEHIND the
    # explicit _WINDOW_FIRST block above (and it still decides bench.py's
    # run order for non-window queries, so family grouping stays intact).
    for mod in (
        "queries_dedup",
        "queries_similarity",
        "queries_advanced",
        "queries_pipeline",
        "queries_pq",
        "queries_lm",
        "queries_tpch2",
        "queries_bucketed",
        "queries_spatial",
        "queries_core",
        "queries_tpch",
        "queries_curation",
        "queries_text",
        "queries_bpe",
        "queries_ivfpq",  # post-window: window is full this round (docstring)
        "queries_transform",  # post-window: same reason (docstring)
        "queries_media",
        "queries_replay",  # post-window r5: rotates into the r6 window
    ):
        __import__(f"{__package__}.{mod}")
    _apply_window_order()
