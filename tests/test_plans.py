"""Plan-shape regression tests — lock in the physical properties SCALE.md
claims: partition pruning, parquet filter pushdown, broadcast joins for
dims, no cartesian products, and skew-safe salted aggregation correctness."""

from __future__ import annotations

import contextlib
import io
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from signalk_parquet_spark import registry
from signalk_parquet_spark.sources.lake import Lake
from tests.records import T0, records_df, scalar_series

SF = "/root/testdata/sf0.001"


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_q6_time_filter_reaches_parquet_scan(spark):
    plan = formatted_plan(registry.queries()["tpch_q6"](spark, SF))
    assert "GreaterThanOrEqual(l_shipdate" in plan, "shipdate lower bound not pushed"
    assert "LessThan(l_shipdate" in plan, "shipdate upper bound not pushed"


def test_q6_reads_only_needed_columns(spark):
    plan = formatted_plan(registry.queries()["tpch_q6"](spark, SF))
    scan_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_schemas and "l_orderkey" not in scan_schemas[0], "column pruning failed"


def test_q5_dimension_joins_are_broadcast(spark):
    plan = formatted_plan(registry.queries()["tpch_q5"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_proximity_join_is_not_cartesian(spark):
    plan = formatted_plan(registry.queries()["proximity_pairs"](spark, SF))
    assert "CartesianProduct" not in plan, "proximity must equi-join on bucket"


def test_interval_join_is_equi_join(spark):
    plan = formatted_plan(registry.queries()["interval_join_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lake_read_prunes_partitions(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    lake.write_records(records_df(spark, scalar_series(T0, [1.0, 2.0])), tier="raw")
    df = lake.read(
        tier="raw",
        path="navigation.speedOverGround",
        from_ts=datetime(2024, 6, 1, tzinfo=timezone.utc),
        to_ts=datetime(2024, 6, 2, tzinfo=timezone.utc),
    )
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan
    # partition filters must mention the partition columns, not just data filters
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "tier" in pf_line and "path" in pf_line and "year" in pf_line


def test_lake_timestamp_pushdown(spark, tmp_path):
    # OUR lake stores real timestamps — the time predicate must reach the scan
    lake = Lake(spark, str(tmp_path / "lake"))
    lake.write_records(records_df(spark, scalar_series(T0, [1.0, 2.0])), tier="raw")
    df = lake.read(
        tier="raw",
        from_ts=datetime(2024, 6, 1, 12, 0, tzinfo=timezone.utc),
        to_ts=datetime(2024, 6, 1, 13, 0, tzinfo=timezone.utc),
    )
    plan = formatted_plan(df)
    assert "GreaterThanOrEqual(signalk_timestamp" in plan


def test_salted_agg_matches_plain_agg(spark):
    from signalk_parquet_spark.operators.skew import salted_agg

    e = registry.load(spark, SF, "events")
    plain = {r["event_type"]: r["a"] for r in
             e.groupBy("event_type").agg(F.round(F.avg("value"), 6).alias("a")).collect()}
    skewed = salted_agg(
        e,
        ["event_type"],
        partials={"s": F.sum("value"), "n": F.count("value")},
        merges={"a": F.round(F.sum("s") / F.sum("n"), 6)},
        buckets=8,
    )
    got = {r["event_type"]: r["a"] for r in skewed.collect()}
    assert got == pytest.approx(plain)


def test_salted_join_matches_plain_join(spark):
    from signalk_parquet_spark.operators.skew import salted_join_big_small

    li = registry.load(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    orders = registry.load(spark, SF, "orders").select("l_orderkey", "o_totalprice") \
        if "l_orderkey" in registry.load(spark, SF, "orders").columns else \
        registry.load(spark, SF, "orders").select(F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
    plain = li.join(orders, "l_orderkey").count()
    assert salted_join_big_small(li, orders, "l_orderkey", buckets=4).count() == plain


def test_maintenance_dir_exclusion_still_works(spark, tmp_path):
    # when a quarantine dir DOES exist, its rows must be excluded (the
    # nondeterministic filter is added only then — pushdown traded for
    # correctness, matching reference semantics)
    import shutil

    lake = Lake(spark, str(tmp_path / "lake"))
    lake.write_records(records_df(spark, scalar_series(T0, [1.0, 2.0])), tier="raw")
    day_dir = next(
        p for p in (tmp_path / "lake").glob("tier=raw/context=*/path=*/year=*/day=*") if p.is_dir()
    )
    q = day_dir / "quarantine"
    q.mkdir()
    for f in day_dir.glob("*.parquet"):
        shutil.copy(f, q / f.name)  # duplicate rows into quarantine/
    assert lake.read(tier="raw").count() == 2  # quarantined copies invisible


def test_write_records_one_file_per_partition(spark, tmp_path):
    # a single ingest batch must not spray one file per task
    lake = Lake(spark, str(tmp_path / "lake"))
    lake.write_records(records_df(spark, scalar_series(T0, [float(i) for i in range(200)])), tier="raw")
    files = list((tmp_path / "lake").glob("tier=raw/context=*/path=*/year=*/day=*/*.parquet"))
    assert len(files) == 1, f"expected 1 file, got {len(files)}"
    assert lake.read(tier="raw").count() == 200


def test_ann_ivf_is_one_fused_map_stage(spark):
    """The fused numpy IVF path runs assignment + probe-membership + scoring
    in ONE Arrow-batched map over the collection scan: no join of any kind,
    and the only algorithmic shuffle is the top-k window — with a partial
    per-partition WindowGroupLimit ahead of it so only k rows per query per
    partition cross the wire."""
    plan = formatted_plan(registry.queries()["ann_ivf"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # assignment/probes fused into the map stage
    assert "MapInPandas" in plan
    assert "WindowGroupLimit" in plan  # partial top-k before the exchange


def test_decontaminate_is_hash_equi_join(spark):
    plan = formatted_plan(registry.queries()["decontaminate_ngram"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_curation_split_is_single_shuffle(spark):
    """Map-side hash + CASE, one groupBy rollup — one aggregation shuffle
    (the plan prints each node twice: tree + detail; the cached table's
    one-time spread repartition also shows, so count the hash-partitioned
    agg exchange specifically)."""
    plan = formatted_plan(registry.queries()["curation_hash_split"](spark, SF))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_q7_q10_dimension_joins_are_broadcast(spark):
    for name in ("tpch_q7", "tpch_q10"):
        plan = formatted_plan(registry.queries()[name](spark, SF))
        assert plan.count("BroadcastHashJoin") >= 3, name
        assert "CartesianProduct" not in plan, name


def test_q18_agg_screen_broadcasts_back(spark):
    # the HAVING-screened aggregate is tiny — it must broadcast against
    # orders, not shuffle the fact table a second time
    plan = formatted_plan(registry.queries()["tpch_q18"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q4_semi_join_with_correlated_condition_pushes_date_filter(spark):
    # the EXISTS decorrelates to a left_semi whose non-equi correlation
    # (l_shipdate > o_orderdate) rides the equi-join as a post-condition —
    # never a cartesian — and the orders date window reaches the scan.
    # Spark's CacheManager would substitute a session-cached orders table
    # into the fresh read (hiding PushedFilters); clear it so the assertion
    # sees the real parquet scan.
    spark.catalog.clearCache()
    plan = formatted_plan(registry.queries()["tpch_q4"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan, "orders date window not pushed"


def test_q8_q9_dimension_joins_are_broadcast(spark):
    for name in ("tpch_q8", "tpch_q9"):
        plan = formatted_plan(registry.queries()[name](spark, SF))
        assert plan.count("BroadcastHashJoin") >= 4, name
        assert "CartesianProduct" not in plan, name


def test_scalar_threshold_queries_broadcast_the_scalar(spark):
    # q11/q15/q22: the 1-row scalar (global total / max / avg) must come
    # back as a broadcast nested-loop over one row, never a CartesianProduct
    for name in ("tpch_q11", "tpch_q15", "tpch_q22"):
        plan = formatted_plan(registry.queries()[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, name


def test_q17_threshold_table_is_broadcast(spark):
    # the decorrelated per-part AVG threshold (~|part| rows) broadcasts
    # against the fact stream; brand filter rides the broadcast part dim
    plan = formatted_plan(registry.queries()["tpch_q17"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_q21_decorrelation_is_all_equi_joins(spark):
    # EXISTS/NOT EXISTS decorrelate to per-order aggregates joined back on
    # the order key — every join is an equi-join on that key
    plan = formatted_plan(registry.queries()["tpch_q21"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cloud_supplement_federation(spark, tmp_path):
    """Two-root federation where root B plays the S3/R2 cloud supplement
    holding OLDER days only (reference: local ∪ S3 union with per-root day
    scoping, HistoryAPI.ts:1387-1426 / 1461-1467). No network needed — the
    root is just a second path string, exactly how an s3a:// root plugs in."""
    from datetime import timedelta

    local_root = str(tmp_path / "local")
    cloud_root = str(tmp_path / "cloud")
    t_old = T0 - timedelta(days=30)  # May 2 — archived to "cloud" only
    t_new = T0                       # Jun 1 — still on "local" only
    Lake(spark, cloud_root).write_records(
        records_df(spark, scalar_series(t_old, [1.0, 2.0, 3.0])), tier="raw"
    )
    Lake(spark, local_root).write_records(
        records_df(spark, scalar_series(t_new, [10.0, 20.0])), tier="raw"
    )

    fed = Lake(spark, local_root, cloud_root)

    # union across roots: full window sees both segments
    both = fed.read(
        tier="raw",
        path="navigation.speedOverGround",
        from_ts=t_old - timedelta(days=1),
        to_ts=t_new + timedelta(days=1),
    )
    vals = sorted(r["value"] for r in both.collect())
    assert vals == [1.0, 2.0, 3.0, 10.0, 20.0]

    # an old-days-only window answers purely from the cloud root
    old_only = fed.read(
        tier="raw",
        path="navigation.speedOverGround",
        from_ts=t_old - timedelta(days=1),
        to_ts=t_old + timedelta(days=1),
    )
    assert sorted(r["value"] for r in old_only.collect()) == [1.0, 2.0, 3.0]

    # and partition pruning holds on BOTH sides of the union: every scan in
    # the plan carries partition filters on tier/path/year
    plan = formatted_plan(old_only)
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert len(pf_lines) >= 2, "expected a pruned scan per root"
    for line in pf_lines:
        assert "tier" in line and "path" in line and "year" in line

    # a root that is missing entirely (cloud outage) degrades to local-only
    degraded = Lake(spark, local_root, str(tmp_path / "missing")).read(
        tier="raw", path="navigation.speedOverGround"
    )
    assert sorted(r["value"] for r in degraded.collect()) == [10.0, 20.0]


def test_cobucketed_join_has_no_shuffle(spark, tmp_path):
    """Fact ⋈ fact without Exchange: both sides bucketed by the join key
    with equal bucket counts -> the SMJ reads matching bucket files
    directly. This is the 100 TB story for the one join that can't
    broadcast (SCALE.md: lineitem ⋈ orders)."""
    from signalk_parquet_spark.sources.bucketed import cobucketed_join, write_bucketed

    orders = registry.load(spark, SF, "orders").select("o_orderkey", "o_orderdate", "o_totalprice")
    li = registry.load(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed(orders.withColumnRenamed("o_orderkey", "k"), "b_orders", ["k"], 8)
        write_bucketed(li.withColumnRenamed("l_orderkey", "k"), "b_lineitem", ["k"], 8)
        # force the join shape that exists at scale (no broadcast escape)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = cobucketed_join(spark, "b_orders", "b_lineitem", ["k"])
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "co-bucketed join must not shuffle"
        # correctness: same result as the plain join
        expect = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).count()
        assert joined.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_cobucketed_gate_query_plan_and_shape(spark):
    """The cobucketed_revenue GATE query (queries_bucketed.py) runs on the
    Exchange-free co-bucketed path: a SortMergeJoin over bucket-local scans
    with exactly one Exchange in the whole plan — the 5-row priority
    aggregation. Locks the zero-shuffle join into driver-checked surface."""
    from signalk_parquet_spark.queries_bucketed import cobucketed_revenue

    df = cobucketed_revenue(spark, SF)
    plan = formatted_plan(df)
    assert "SortMergeJoin" in plan
    assert "SelectedBucketsCount: 16 out of 16" in plan  # bucket-local scans
    # exactly ONE Exchange in the whole plan (formatted mode prints each
    # node twice: tree + detail), and it's the tiny agg — the join's inputs
    # reach the SMJ through Sort only
    assert plan.count("Exchange") == 2, f"unexpected shuffle; plan:\n{plan}"
    assert "hashpartitioning(o_orderpriority" in plan
    rows = {r["o_orderpriority"]: r for r in df.collect()}
    assert len(rows) == 5  # all five TPC-H priorities survive the join


def test_bucketed_writes_inherit_the_session(spark):
    """The two bucketed-write threads are wrapped with the session, so its
    job tags reach their jobs: PySpark warns when a thread target is
    wrapped without one."""
    import warnings

    from signalk_parquet_spark.memo import MEMO
    from signalk_parquet_spark.queries_bucketed import ensure_bucketed_facts

    MEMO.evict(spark, f"bucketed_facts:{SF}")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        ensure_bucketed_facts(spark, SF)
    assert not [w for w in caught if "Spark session is not provided" in str(w.message)]


def test_pipeline_gates_plan_shapes(spark):
    """The queries_pipeline gates keep their SCALE.md shapes: no cartesian
    or nested-loop joins anywhere; tfidf's vocabulary-sized df table joins
    broadcast; the funnel's click-purchase pairing stays an equi join."""
    qs = registry.queries()
    for name in ("cohort_retention", "funnel_conversion", "vector_centroid",
                 "tfidf_top_terms"):
        plan = formatted_plan(qs[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    tfidf_plan = formatted_plan(qs["tfidf_top_terms"](spark, SF))
    assert "BroadcastHashJoin" in tfidf_plan, "df table must broadcast"


def test_sample_stratified_is_map_only(spark):
    """The deterministic sampler must be a pure projection over the cached
    table — no Exchange beyond the table cache's one-time spread."""
    plan = formatted_plan(registry.queries()["sample_stratified"](spark, SF))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 0


def test_pack_sequences_single_shard_shuffle(spark):
    """Token-stream packing is ONE window over the shard key: exactly one
    hash-partitioned exchange, no joins."""
    plan = formatted_plan(registry.queries()["pack_sequences"](spark, SF))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # tree + detail print


def test_winnowing_and_spans_are_equi_joins(spark):
    for name in ("dedup_winnowing", "dedup_substring_spans", "dedup_jaccard_prefix"):
        plan = formatted_plan(registry.queries()[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_ann_scalar_quant_is_broadcast_map_topk(spark):
    """int8 ANN mirrors the knn shape: broadcast query set (no shuffle of
    the collection), partial top-k ahead of the single window exchange."""
    plan = formatted_plan(registry.queries()["ann_scalar_quant"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # != join over broadcast queries
    assert "WindowGroupLimit" in plan


def test_semantic_dedup_fused_is_single_exchange_no_joins(spark):
    """The numpy SemDeDup path must be: map-only assignment (mapInPandas)
    -> ONE groupBy(cid) exchange -> local per-cell decisions
    (FlatMapGroupsInPandas). Zero joins anywhere — the property that makes
    it scale (SCALE.md: 30x data -> 1.2x wall)."""
    plan = formatted_plan(registry.queries()["dedup_semantic"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    # one hash exchange (the groupBy(cid)); the only join anywhere is the
    # gate's broadcast of the skinny documents id side
    assert plan.count("hashpartitioning(cid") == 1
    assert plan.count("BroadcastHashJoin Inner") == 1  # tree line; detail echoes the name
    assert "MapInPandas" in plan and "FlatMapGroupsInPandas" in plan


def test_ann_pq_is_map_encode_broadcast_score_topk(spark):
    """PQ/ADC must keep the ann-family scale shape: ONE Arrow map stage
    (quantize + encode + ADC-score against the broadcast codebook/LUTs),
    partial top-k, exactly one exchange — zero joins of any kind."""
    plan = formatted_plan(registry.queries()["ann_pq"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "Join" not in plan  # the LUTs ride along in the map stage
    assert "MapInPandas" in plan
    assert "WindowGroupLimit" in plan  # partial top-k before the exchange


def test_ann_ivfpq_is_single_map_stage_topk(spark):
    """The composed IVF-PQ gate fuses cell assignment, probe pruning, PQ
    encoding, and ADC scoring into ONE Arrow map stage — zero joins of any
    kind, partial top-k before the only exchange (the ann_pq fused shape
    with pruning riding inside the same stage)."""
    plan = formatted_plan(registry.queries()["ann_ivfpq"](spark, SF))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    assert "WindowGroupLimit" in plan


def test_pii_scrub_is_map_then_partial_agg(spark):
    """Scrubbing is a narrow transform: the gate's plan must be scan ->
    project (regex columns) -> partial aggregate -> one exchange on the
    low-cardinality source key — no joins, no window, no second shuffle."""
    plan = formatted_plan(registry.queries()["pii_scrub"](spark, SF))
    assert "Join" not in plan
    assert "Window" not in plan
    # exactly one hash exchange (the source groupBy); the load()-cache's
    # round-robin repartition inside InMemoryRelation doesn't count
    assert plan.count("hashpartitioning") == 1
    assert "partial_sum" in plan  # map-side combine before the group shuffle


def test_media_neardup_joins_are_equi_joins(spark):
    """The three media near-dup rungs must candidate-generate through
    equality joins (band / (pos, sub) buckets) — never a cartesian or
    broadcast-nested-loop over payload rows — and verify via a pair join,
    not a second decode pass."""
    import numpy as np

    from signalk_parquet_spark.operators.audio import audio_neardup_pairs
    from signalk_parquet_spark.operators.multimodal import image_neardup_pairs
    from signalk_parquet_spark.operators.video import video_neardup_pairs

    df = spark.createDataFrame(
        [(1, bytearray(b"x")), (2, bytearray(b"y"))],
        "media_id long, payload binary",
    )
    for op in (image_neardup_pairs, audio_neardup_pairs, video_neardup_pairs):
        plan = formatted_plan(op(df))
        assert "CartesianProduct" not in plan, op.__name__
        assert "BroadcastNestedLoopJoin" not in plan, op.__name__
        assert "MapInPandas" in plan, op.__name__  # one Arrow decode stage


def test_media_decision_gates_plan_clean(spark):
    """The keep/drop end products must stay equi-join-only: generation/
    decode/hash in Arrow map stages, candidates from band-bucket equality
    joins, decisions from the label join — no cartesian anywhere."""
    from signalk_parquet_spark.queries_media import (
        audio_dedup_decisions,
        image_dedup_decisions,
        video_dedup_decisions,
    )

    for gate in (image_dedup_decisions, audio_dedup_decisions, video_dedup_decisions):
        plan = formatted_plan(gate(spark, SF))
        assert "CartesianProduct" not in plan, gate.__name__
        assert "BroadcastNestedLoopJoin" not in plan, gate.__name__


def test_kmeans_ivf_gate_plan_clean(spark):
    """The learned-quantizer IVF gate runs the EXPR path (load-bearing for
    its oracle — real inverted lists, see the gate docstring): centroids
    broadcast to the assignment, candidates from the cell equi-join,
    never a cartesian over the collection."""
    from signalk_parquet_spark.queries_similarity import ann_ivf_kmeans

    plan = formatted_plan(ann_ivf_kmeans(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # probe x inverted-list cell join


def test_bloom_screen_is_all_broadcast_joins(spark):
    """The bloom probe must stay map-only. Since r12 the gate-sized filter
    (2048 words <= _LIT_WORD_CAP) is inlined as ONE dense array literal,
    so the probe itself has ZERO joins (pure GetArrayItem expressions);
    the only join left is the exact-differential's te BroadcastHashJoin.
    No SortMergeJoin, no nested-loop, no cartesian anywhere."""
    for name in ("decontaminate_bloom", "bloom_fp_rate"):
        plan = formatted_plan(registry.queries()[name](spark, SF))
        # te differential join (+ the memoized split subtree's own join at
        # most): DOWN from the former 4+ (K probe joins are gone)
        assert plan.count("BroadcastHashJoin") <= 2, name
        assert "element_at" in plan, name  # the literal-array probe
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_bloom_wide_filter_keeps_broadcast_join_path(spark):
    """Above _LIT_WORD_CAP words the probe must fall back to the K
    word-table BroadcastHashJoins (a multi-MB plan literal would slow
    analysis more than the joins cost)."""
    from signalk_parquet_spark import queries_curation as qc

    s = qc._bloom_split(spark, SF)
    te = qc._bloom_test_shingles(s)
    wide_bits = 32 * (qc._LIT_WORD_CAP + 1)
    filt = qc._bloom_filter_words(te, bits=wide_bits)
    tr = s.limit(10).select("doc_id", F.explode("sh").alias("g"))
    plan = formatted_plan(qc._with_bloom_hit(tr, filt, bits=wide_bits))
    assert plan.count("BroadcastHashJoin") >= qc._BLOOM_K


def test_dsir_broadcasts_stats_and_totals(spark):
    """dsir_weights joins the 64-row bucket stats (hash broadcast) and the
    one-row corpus totals (a bounded BroadcastNestedLoopJoin is the
    expected physical form of a 1-row crossJoin — anything more is a
    regression)."""
    plan = formatted_plan(registry.queries()["dsir_weights"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # tree + detail


def test_perplexity_approx_drops_the_ntile_window(spark):
    """The production twin must have NO per-language ntile window (that is
    its reason to exist); cutpoints come back as a broadcast join. The
    exact gate keeps ntile. (Match 'ntile(' — plain 'ntile' is a substring
    of 'percentile_approx'.)"""
    from signalk_parquet_spark.queries_lm import perplexity_buckets_approx

    exact = formatted_plan(registry.queries()["perplexity_buckets"](spark, SF))
    approx = formatted_plan(perplexity_buckets_approx(spark, SF))
    assert "ntile(" in exact
    assert "ntile(" not in approx
    assert "BroadcastHashJoin" in approx


def test_decontaminate_semantic_broadcasts_eval_side(spark):
    """The exact embedding-decontamination plan must be a BNLJ with the
    SMALL eval side broadcast (SCALE.md r8): one map-side pass over the
    train embeddings, no shuffle of the big side past the shared load."""
    plan = formatted_plan(registry.queries()["decontaminate_semantic"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "BuildRight" in plan  # test side is the join's right/broadcast input
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_decontaminate_semantic_ivf_is_cell_equi_join(spark):
    """The IVF-screened twin must meet on the cell-id EQUI-join (hash or
    broadcast), never a nested-loop pass over train x eval."""
    from signalk_parquet_spark.queries_curation import decontaminate_semantic_ivf

    plan = formatted_plan(decontaminate_semantic_ivf(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "Join" in plan  # hash/broadcast equi-join on cell


def test_position_rollup_windows_share_one_exchange(spark):
    """Reference-exact A12 (r8): the neighbor window, the pick window, and
    its WindowGroupLimit all run on ONE (context, path, bucket_time)
    exchange — window partitions bound by bucket width, not series
    lifetime (SCALE.md r8)."""
    plan = formatted_plan(registry.queries()["position_rollup_1h"](spark, SF))
    assert plan.count("Window") >= 2
    assert "WindowGroupLimit" in plan  # rn=1 pushed into the sort
    # exactly one shuffle exchange feeds the window pair; the only other
    # exchanges are the stats aggregate's partial/final pair
    n_shuffles = sum(
        1 for l in plan.splitlines()
        if l.strip().startswith("(") and ") Exchange" in l
    )
    assert n_shuffles <= 3, plan


def test_quality_c4_is_map_only(spark):
    """The C4 filter must stay a zero-shuffle map plan (SCALE claim: the
    first thing a 100 TB corpus runs, before any exchange)."""
    from signalk_parquet_spark.queries_curation import c4_metrics

    # run the OPERATOR on a plain frame: the gate wraps it in registry.load,
    # whose one-time spread repartition injects an Exchange that belongs to
    # the table layout (and appears inline or inside an InMemoryRelation
    # depending on cache state), not to c4's logic
    docs = spark.range(8).select(
        F.col("id").alias("doc_id"), F.lit("Some text here.").alias("text")
    )
    body = formatted_plan(c4_metrics(docs)).split("== Physical Plan ==")[-1]
    assert "Exchange" not in body, body


def test_incremental_scoping_joins_are_broadcast(spark):
    """rollup_incremental_1h's scoping must be a broadcast LEFT SEMI and
    its merge a broadcast LEFT ANTI — never a sort-merge shuffle of the
    raw side against the tiny touched frame."""
    plan = formatted_plan(registry.queries()["rollup_incremental_1h"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_jsonl_scan_has_no_inference_prescan(spark, tmp_path):
    """read_jsonl_records must carry the EXPLICIT schema into the scan —
    a schema-inference pre-scan would show up as a second job; here we
    assert the scan's ReadSchema is the declared feed shape."""
    import json

    from signalk_parquet_spark.sources.formats import read_jsonl_records

    p = tmp_path / "f.jsonl"
    p.write_text(json.dumps({
        "ts": "2024-07-01T06:00:00Z", "context": "vessels.a",
        "path": "p", "value": 1.0, "value_text": None, "source_label": "s",
    }) + "\n")
    plan = formatted_plan(read_jsonl_records(spark, str(p)))
    assert "Scan json" in plan and "ReadSchema" in plan
    body = plan.split("== Physical Plan ==")[-1]
    assert "Exchange" not in body  # record projection is map-only too


def test_heavy_hitters_recount_is_broadcast_semi_join(spark):
    """Pass 2 of the MG 2-pass must stay a broadcast LEFT SEMI against the
    ≤ m candidate keys — a shuffled join here would reintroduce the full
    token exchange the sketch exists to delete."""
    plan = formatted_plan(registry.queries()["heavy_hitters_2pass"](spark, SF))
    assert "LeftSemi" in plan, "candidate filter is not a semi join"
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, (
        "candidate set not broadcast"
    )


def test_shard_plan_single_exchange_partial_agg(spark):
    """The shard rollup is ONE hash exchange over n_shards keys with the
    partial aggregate absorbing map-side (HashAggregate below and above
    the exchange); any second data exchange means the plan regressed."""
    plan = formatted_plan(registry.queries()["shard_plan"](spark, SF))
    body = plan.split("===== Subqueries =====")[0]
    assert "HashAggregate" in body
    # exactly ONE data shuffle, keyed on the shard column — counting raw
    # "Exchange" lines is cache-state-dependent (the table cache's build
    # plan renders inline with its own spread-repartition exchange), so
    # count hash-partitioned exchanges on the agg key instead
    n_shard_exchange = body.count("hashpartitioning(shard")
    assert n_shard_exchange == 1, f"expected one shard-keyed exchange:\n{body}"
