"""Similarity search over the `embeddings` table (array<float>, 64-dim):
brute-force cosine top-k as the exact baseline, and an LSH-bucketed ANN
variant as the scale path (BASELINE extension set).

Scale notes: brute-force is a broadcast of the (small) query set against the
full collection — a map-only scan, no shuffle of the big side. The ANN
variant replaces the scan with an equality join on hyperplane buckets.
Cosine scores are rounded to 4 decimals before ranking with a vec_id
tie-break, so ranking is deterministic across engines (float sums are
order-dependent at ~1e-15; 1e-4 rounding absorbs that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.vectors import as_double, cosine, dot, hyperplane_bits, make_planes, norm_sq
from .memo import MEMO
from .registry import load, register

# ranked top-k frames shared across similarity gates are memoized in MEMO
# (multitable ANN by ann_lsh_multitable + ann_recall; exact knn by
# knn_bruteforce + ann_recall)

_NQ = 20  # query set: vec_id < 20
_TOPK = 5
# None -> HOF dot (interpreted per element, but a tiny expression tree).
# At sf0.1 (2k vectors) plan compile time dominates, so the unrolled form
# (dim=64) is a net LOSS here; it wins only at >~10^6 rows where per-row
# cost dominates. operators/similarity exposes dim for that regime.
_DIM = None

_DD_COS = (
    "list_dot_product(ea, eb) / sqrt(list_dot_product(ea, ea) * list_dot_product(eb, eb))"
)


@register(
    "knn_bruteforce",
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings
    ), q AS (SELECT vec_id AS query_id, emb AS ea FROM e WHERE vec_id < {_NQ}),
    pairs AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round({_DD_COS.replace("eb", "e.emb")} , 4) AS cos4
      FROM q JOIN e ON e.vec_id <> q.query_id
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos4 DESC, neighbor_id) AS rank
      FROM pairs
    )
    SELECT query_id, neighbor_id, cos4, rank FROM r WHERE rank <= {_TOPK}
    """,
)
def knn_bruteforce(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cosine top-k: broadcast the query set, scan the collection once,
    rank per query. The big side never shuffles. Norms are precomputed per
    ROW before the join — computing them per PAIR would triple the inner-loop
    work (the value is identical, so oracle parity is unaffected). The ranked
    result is session-memoized: it doubles as the ground truth ann_recall
    re-reads."""

    def build() -> DataFrame:
        e = load(spark, sf, "embeddings").select(
            "vec_id", as_double("embedding").alias("emb")
        ).withColumn("n2", norm_sq(F.col("emb"), _DIM))
        q = e.filter(F.col("vec_id") < _NQ).select(
            F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb"), F.col("n2").alias("qn2")
        )
        pairs = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot(F.col("qemb"), F.col("emb"), _DIM) / F.sqrt(F.col("qn2") * F.col("n2")), 4
            ).alias("cos4"),
        )
        w = Window.partitionBy("query_id").orderBy(F.col("cos4").desc(), "neighbor_id")
        return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= _TOPK)

    return MEMO.get_or_build(spark, f"knn_topk|{sf}", build)


_PLANES = make_planes(8, 64)
_DD_PLANES = ", ".join(
    "[" + ", ".join(f"{x}.0" for x in p) + "]" for p in _PLANES
)


def _dd_ann_sql() -> str:
    bits = " + ".join(
        f"(CASE WHEN list_dot_product(emb, planes[{j + 1}]) >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(8)
    )
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
             [{_DD_PLANES}]::DOUBLE[][] AS planes
      FROM embeddings
    ), b AS (
      SELECT vec_id, emb, CAST({bits} AS BIGINT) AS bucket FROM e
    ), q AS (SELECT vec_id AS query_id, emb AS ea, bucket FROM b WHERE vec_id < {_NQ}),
    pairs AS (
      SELECT q.query_id, b.vec_id AS neighbor_id,
             round({_DD_COS.replace("eb", "b.emb")}, 4) AS cos4
      FROM q JOIN b ON b.bucket = q.bucket AND b.vec_id <> q.query_id
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos4 DESC, neighbor_id) AS rank
      FROM pairs
    )
    SELECT query_id, neighbor_id, cos4, rank FROM r WHERE rank <= {_TOPK}
    """


@register("ann_lsh_bucketed", _dd_ann_sql())
def ann_lsh_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """ANN via random-hyperplane LSH: 8 integer-weight hyperplanes → 256
    buckets → candidates share the query's bucket (equality join replaces the
    full scan) → exact cosine re-rank. Integer plane weights make every
    bucket bit an exact-arithmetic sign test — deterministic across engines."""
    e = load(spark, sf, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    ).withColumn("n2", norm_sq(F.col("emb"), _DIM))
    b = e.withColumn("bucket", hyperplane_bits(F.col("emb"), _PLANES))
    q = b.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb"),
        F.col("n2").alias("qn2"), F.col("bucket"),
    )
    pairs = b.join(F.broadcast(q), ["bucket"]).filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            dot(F.col("qemb"), F.col("emb"), _DIM) / F.sqrt(F.col("qn2") * F.col("n2")), 4
        ).alias("cos4"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos4").desc(), "neighbor_id")
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= _TOPK)


@register(
    "embedding_neardup",
    f"""
    WITH e AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label = b.label AS same_label,
           round({_DD_COS.replace("ea", "a.emb").replace("eb", "b.emb")}, 4) AS cos4
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_DD_COS.replace("ea", "a.emb").replace("eb", "b.emb")} >= 0.3
    """,
)
def embedding_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, label-blocked (candidates share the
    cluster label; at scale the blocking key would be an LSH bucket)."""
    e = load(spark, sf, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("emb")
    ).withColumn("n2", norm_sq(F.col("emb"), _DIM))
    a, b = e.alias("a"), e.alias("b")
    cos = dot(F.col("a.emb"), F.col("b.emb"), _DIM) / F.sqrt(F.col("a.n2") * F.col("b.n2"))
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .filter(cos >= 0.3)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (F.col("a.label") == F.col("b.label")).alias("same_label"),
            F.round(cos, 4).alias("cos4"),
        )
    )


@register(
    "ann_hard_negatives",
    f"""
    WITH e AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, label AS qlabel, emb AS ea FROM e WHERE vec_id < {_NQ}
    ), pairs AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round({_DD_COS.replace("eb", "e.emb")}, 4) AS cos4
      FROM q JOIN e ON e.vec_id <> q.query_id AND e.label <> q.qlabel
    ), r AS (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos4 DESC, neighbor_id)
                     AS BIGINT) AS rank
      FROM pairs
    )
    SELECT query_id, neighbor_id, cos4, rank FROM r WHERE rank <= {_TOPK}
    """,
)
def ann_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining (contrastive/embedding-training data prep,
    DPR-style): per query, the top-5 most-similar vectors of a DIFFERENT
    label — the wrong-class examples a triplet/InfoNCE loss learns most
    from. The label-mismatch predicate rides the same broadcast of the
    query set as the id-inequality, so the collection side stays one
    map-only scan (no label x label pair list, no shuffle of the big
    side); top-k goes through retrieval.topk_per_key, so the
    WindowGroupLimit bound holds per query. The operator's
    ``bucketed=True`` twin swaps the scan for the LSH-bucket equality
    join when the query set itself is corpus-sized (recall measured with
    topk_recall, like the ann family's other approximate rungs)."""
    from .operators.similarity import hard_negatives

    e = load(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < _NQ)
    res = hard_negatives(
        e, q, id_col="vec_id", vec_col="embedding", label_col="label",
        k=_TOPK, dim=_DIM,
    )
    return res.select(
        "query_id", "neighbor_id", F.col("cos").alias("cos4"), "rank"
    )


#: 10 tables x 8 planes + radius-1 multiprobe: on near-uniform vectors (the
#: hard case) a top-5 neighbor sits at cos ~0.35 => P(bit agrees) p ~0.62.
#: Without probing, per-table collision p^8 ~ 0.02; probing each bucket's
#: 8 one-bit-flip neighbors too lifts it to p^8 + 8 p^7 (1-p) ~ 0.13, so
#: candidate recall 1-(1-0.13)^10 ~ 0.75 at a ~
#: 10 x 9/256 ~ 1/3 candidate fraction — versus 0.02 single-table and
#: ~0.35 for the unprobed 8x6 config (r03). The probe expansion is
#: query-side only, so the collection index and the equi-join shape are
#: unchanged. Real embedding corpora (tighter neighbors) sit far above
#: this floor.
_N_TABLES = 10
_N_PLANES_MT = 8
_PROBE_RADIUS = 1


def _dd_multitable_sql() -> str:
    """Ranked multi-table multiprobe top-k as a self-contained query —
    embedded whole by both the ann_lsh_multitable gate and the ann_recall
    oracle (DuckDB allows a WITH inside a parenthesized subquery)."""

    def planes_lit(seed: int) -> str:
        return ", ".join(
            "[" + ", ".join(f"{x}.0" for x in p) + "]"
            for p in make_planes(_N_PLANES_MT, 64, seed=seed)
        )

    def bits(tbl: str) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product(emb, {tbl}[{j + 1}]) >= 0 THEN {1 << j} ELSE 0 END)"
            for j in range(_N_PLANES_MT)
        )

    per_table = " UNION ALL ".join(
        f"SELECT vec_id, emb, {t} AS t, CAST({bits(f'p{t}')} AS BIGINT) AS bucket FROM e"
        for t in range(_N_TABLES)
    )
    plane_cols = ", ".join(
        f"[{planes_lit(t)}]::DOUBLE[][] AS p{t}" for t in range(_N_TABLES)
    )
    flips = [0]
    if _PROBE_RADIUS >= 1:
        flips += [1 << j for j in range(_N_PLANES_MT)]
    flip_list = ", ".join(str(x) for x in flips)
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
             {plane_cols}
      FROM embeddings
    ), bt AS ({per_table}),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM bt q
      CROSS JOIN (SELECT unnest([{flip_list}]) AS flip) f
      JOIN bt b ON b.t = q.t AND b.bucket = xor(q.bucket, CAST(f.flip AS BIGINT))
               AND b.vec_id <> q.vec_id
      WHERE q.vec_id < {_NQ}
    ), pairs AS (
      SELECT c.query_id, c.neighbor_id,
             round(list_dot_product(qe.emb, ne.emb)
                   / sqrt(list_dot_product(qe.emb, qe.emb) * list_dot_product(ne.emb, ne.emb)),
                   4) AS cos4
      FROM cand c
      JOIN e qe ON qe.vec_id = c.query_id
      JOIN e ne ON ne.vec_id = c.neighbor_id
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos4 DESC, neighbor_id) AS rank
      FROM pairs
    )
    SELECT query_id, neighbor_id, cos4, rank FROM r WHERE rank <= {_TOPK}
    """


@register("ann_lsh_multitable", _dd_multitable_sql())
def ann_lsh_multitable(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-table LSH ANN with radius-1 multiprobe (OR-amplification over
    independent plane tables, plus query-side probing of each bucket's
    one-bit-flip neighbors — operators.similarity.ann_topk_multitable): a
    candidate collides with ANY probed bucket of ANY table, fixing
    single-table LSH's recall collapse on not-extremely-close neighbors.
    Measured mean recall@5 vs the exact top-k at sf0.01: 0.02 single-table
    → 0.38 (8x6 unprobed, r03) → see ann_recall for the current config
    (test_multitable_lsh_beats_single_table pins the ordering).

    The ranked result is session-memoized: ann_recall re-reads this exact
    top-k (one bucket+re-rank pipeline, two gate views)."""
    from .operators.similarity import ann_topk_multitable

    def build() -> DataFrame:
        e = load(spark, sf, "embeddings")
        q = e.filter(F.col("vec_id") < _NQ)
        out = ann_topk_multitable(
            e, q, "vec_id", "embedding",
            k=_TOPK, n_tables=_N_TABLES, n_planes=_N_PLANES_MT, dim=64,
            probe_radius=_PROBE_RADIUS,
        )
        return out.withColumnRenamed("cos", "cos4")

    return MEMO.get_or_build(spark, f"mt_topk|{sf}", build)


def _dd_recall_sql() -> str:
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings
    ), xq AS (SELECT vec_id AS query_id, emb AS ea FROM e WHERE vec_id < {_NQ}),
    xr AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round({_DD_COS.replace("eb", "e.emb")}, 4) DESC, e.vec_id
               ) AS rank
        FROM xq q JOIN e ON e.vec_id <> q.query_id
      ) WHERE rank <= {_TOPK}
    ),
    ar AS (
      SELECT query_id, neighbor_id FROM ({_dd_multitable_sql()})
    )
    SELECT xr.query_id,
           count(*) AS n_exact,
           count(ar.neighbor_id) AS n_hit,
           CAST(count(ar.neighbor_id) AS DOUBLE) / count(*) AS recall
    FROM xr LEFT JOIN ar
      ON ar.query_id = xr.query_id AND ar.neighbor_id = xr.neighbor_id
    GROUP BY xr.query_id
    """


@register("ann_recall", _dd_recall_sql())
def ann_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@{k} of the deployed ANN config (multi-table + multiprobe —
    ann_lsh_multitable) against the exact brute-force top-k, per query
    (operators.similarity.topk_recall) — the evaluation loop an ANN
    deployment runs to tune tables/planes/probes. Measured mean recall@5:
    0.02 single-table → 0.38 (8x6 unprobed, r03) → ~0.7 (10x8 + radius-1
    probe, r04; test_multitable_lsh_beats_single_table pins ≥0.5). Both
    top-k inputs are deterministic across engines (4-decimal rounding +
    id tie-break), so per-query recall is an exact integer-derived ratio
    the oracle reproduces bit-for-bit."""
    from .operators.similarity import topk_recall

    return topk_recall(ann_lsh_multitable(spark, sf), knn_bruteforce(spark, sf))


_STRIDE = 125  # centroids = embeddings with vec_id % 125 == 0 (16 at sf0.1)
_NPROBE = 3


def _dd_ivf_sql() -> str:
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings
    ), c AS (
      SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id % {_STRIDE} = 0
    ), ad AS (
      SELECT e.vec_id, e.emb, c.cid,
             list_dot_product(c.cemb, c.cemb) - 2 * list_dot_product(e.emb, c.cemb) AS d
      FROM e CROSS JOIN c
    ), assign AS (
      SELECT vec_id, emb, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM ad
      ) WHERE rn = 1
    ), probe AS (
      SELECT vec_id AS query_id, emb AS qemb, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM ad WHERE vec_id < {_NQ}
      ) WHERE rn <= {_NPROBE}
    ), pairs AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             round(list_dot_product(p.qemb, a.emb)
                   / sqrt(list_dot_product(p.qemb, p.qemb) * list_dot_product(a.emb, a.emb)),
                   4) AS cos4
      FROM probe p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos4 DESC, neighbor_id) AS rank
      FROM pairs
    )
    SELECT query_id, neighbor_id, cos4, rank FROM r WHERE rank <= {_TOPK}
    """


@register("ann_ivf", _dd_ivf_sql())
def ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN (the >10^7-vector scale path, BASELINE extension set): a
    deterministic stride coarse quantizer (SQL-expressible, so the oracle is
    exact — swap in operators.similarity.kmeans_centroids for a learned one),
    map-side argmin cell assignment, 3-cell probe, exact cosine re-rank.
    Same output contract as knn_bruteforce/ann_lsh_bucketed. Assignment runs
    the numpy path — since r4 it accumulates dim-ordered, so it is
    bit-identical to the expr/oracle form AND the deployment-speed path
    (no more parity-vs-speed trade)."""
    from .operators.similarity import ivf_topk, stride_centroids

    e = load(spark, sf, "embeddings")
    cent = stride_centroids(e, "vec_id", "embedding", _STRIDE)
    q = e.filter(F.col("vec_id") < _NQ)
    out = ivf_topk(
        e, q, cent, "vec_id", "embedding",
        k=_TOPK, n_probe=_NPROBE, dim=_DIM, assign="numpy",
    )
    return out.withColumnRenamed("cos", "cos4")


def _dd_ivf_recall_sql() -> str:
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings
    ), xq AS (SELECT vec_id AS query_id, emb AS ea FROM e WHERE vec_id < {_NQ}),
    xr AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round({_DD_COS.replace("eb", "e.emb")}, 4) DESC, e.vec_id
               ) AS rank
        FROM xq q JOIN e ON e.vec_id <> q.query_id
      ) WHERE rank <= {_TOPK}
    ),
    ar AS (
      SELECT query_id, neighbor_id FROM ({_dd_ivf_sql()})
    )
    SELECT xr.query_id,
           count(*) AS n_exact,
           count(ar.neighbor_id) AS n_hit,
           CAST(count(ar.neighbor_id) AS DOUBLE) / count(*) AS recall
    FROM xr LEFT JOIN ar
      ON ar.query_id = xr.query_id AND ar.neighbor_id = xr.neighbor_id
    GROUP BY xr.query_id
    """


@register("ivf_recall", _dd_ivf_recall_sql())
def ivf_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@{k} of the IVF rung against the exact top-k — completes the
    honest-evaluation set (ann_recall covers the LSH rung, this covers
    IVF): the number a deployment watches while tuning n_probe vs the
    number of cells. Per-query ratios are exact integer-derived values on
    both engines (deterministic 4-decimal + id tie-break top-k inputs).
    The exact side re-reads the session-memoized knn_bruteforce frame."""
    from .operators.similarity import topk_recall

    return topk_recall(ann_ivf(spark, sf), knn_bruteforce(spark, sf))


# --- int8 scalar-quantized ANN (the memory-compression scale path) ---------------------
def _dd_sq_sql() -> str:
    return f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(greatest(-1.0, least(1.0, CAST(x AS DOUBLE))) * 127 + 0.5) AS INT)) AS qv
      FROM embeddings
    ), qs AS (
      SELECT vec_id AS query_id, qv AS qa FROM e WHERE vec_id < {_NQ}
    ), pairs AS (
      SELECT qs.query_id, e.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(range(1, len(qs.qa) + 1),
                                          i -> CAST(qs.qa[i] AS BIGINT) * e.qv[i])) AS BIGINT) AS iscore
      FROM qs JOIN e ON e.vec_id <> qs.query_id
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY iscore DESC, neighbor_id) AS rank
      FROM pairs
    )
    SELECT query_id, neighbor_id, iscore, rank FROM r WHERE rank <= {_TOPK}
    """


@register("ann_scalar_quant", _dd_sq_sql())
def ann_scalar_quant(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k similarity over int8 scalar-quantized embeddings — the 4x
    memory-compression deployment path (quantize once at ingest; score with
    integer dot products). Same broadcast-queries map-only shape as
    knn_bruteforce, but the scores are EXACT integers: no float summation
    order, no rounding, so the oracle hash-matches with zero tolerance —
    and at 100 TB the collection cache shrinks 4x while the inner loop
    becomes integer multiply-adds (functions.vectors.int8_quantize/int_dot)."""
    from .functions.vectors import int8_quantize, int_dot

    e = load(spark, sf, "embeddings").select(
        "vec_id", int8_quantize("embedding").alias("qv")
    )
    q = e.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qa")
    )
    pairs = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        int_dot(F.col("qa"), F.col("qv"), _DIM).alias("iscore"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("iscore").desc(), "neighbor_id")
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= _TOPK)


# --- learned (k-means) coarse quantizer — the actual 100 TB deployment path ------
_KMEANS_K = 8
_KM_NPROBE = 2  # the approximate setting the recall gate measures


def _kmeans_cents(spark: SparkSession, sf: str) -> DataFrame:
    """Fitted centroid frame shared by both kmeans gates (one MLlib
    fit/session)."""

    def build() -> DataFrame:
        from .operators.similarity import kmeans_centroids

        e = load(spark, sf, "embeddings")
        # no inner persist: get_or_build(materialize=True) persists and
        # counts the built frame itself
        return kmeans_centroids(e, "vec_id", "embedding", k=_KMEANS_K, seed=7)

    return MEMO.get_or_build(spark, f"kmeans_cents|{sf}", build)


@register(
    "ann_ivf_kmeans",
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings
    ), q AS (SELECT vec_id AS query_id, emb AS ea FROM e WHERE vec_id < {_NQ}),
    pairs AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round({_DD_COS.replace("eb", "e.emb")} , 4) AS cos4
      FROM q JOIN e ON e.vec_id <> q.query_id
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos4 DESC, neighbor_id) AS rank
      FROM pairs
    )
    SELECT query_id, neighbor_id, cos4, rank FROM r WHERE rank <= {_TOPK}
    """,
)
def ann_ivf_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """IVF over a LEARNED k-means coarse quantizer (MLlib KMeans — the real
    deployment path SCALE.md documents behind the stride stand-in), run
    end-to-end with n_probe = K so EVERY cell is probed. With all cells
    probed the result equals exact top-k if and only if the assignment
    step lands every vector in exactly ONE inverted list — a vector
    assigned to two cells duplicates a candidate pair and corrupts the
    rank column; a dropped vector loses a neighbor. k-means centroids are
    not SQL-expressible, which is exactly why the gate is framed so the
    ORACLE doesn't need them.

    assign="expr" is LOAD-BEARING here, not a speed choice: only the expr
    path materializes real inverted lists (groupBy-argmin assignment +
    equi-join on cell id) where that partition property can actually
    break; the fused numpy path computes one argmin per vector, which
    cannot duplicate or drop by construction, and would make this oracle
    vacuous (r5 code-review finding). numpy≡expr is pinned separately by
    test_ivf_numpy_assignment_matches_expr, and the expr path costs
    2.2-2.8 s at these SFs (the 215 s HOF figure is the 60k x 480 ramp).
    What the oracle still can't see is centroid QUALITY — that's
    ivf_kmeans_recall's job (approximate n_probe < K setting, pytest
    floor)."""
    from .operators.similarity import ivf_topk

    e = load(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < _NQ)
    out = ivf_topk(
        e, q, _kmeans_cents(spark, sf), "vec_id", "embedding",
        k=_TOPK, n_probe=_KMEANS_K, dim=_DIM, assign="expr",
    )
    return out.withColumnRenamed("cos", "cos4")


@register("ivf_kmeans_recall")  # no oracle: k-means centroids aren't SQL-expressible
def ivf_kmeans_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@k of the learned-quantizer IVF at the APPROXIMATE setting
    (n_probe=2 of K=8 cells) against exact top-k — the number a
    deployment tunes n_probe by. No DuckDB oracle is possible (a
    deliberate gap besides approx_stats, CLAUDE.md): MLlib's k-means||
    init and float reduction order cannot be reproduced in SQL, so the
    driver records the weaker rows-only check; the measured-recall FLOOR
    is pinned by tests/test_similarity_ops.py instead, and
    ann_ivf_kmeans (exact oracle) covers the same code path's
    correctness. Evaluation cost is n_queries x k rows — corpus-size
    independent (topk_recall)."""
    from .operators.similarity import ivf_topk, topk_recall

    e = load(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < _NQ)
    approx = ivf_topk(
        e, q, _kmeans_cents(spark, sf), "vec_id", "embedding",
        k=_TOPK, n_probe=_KM_NPROBE, dim=_DIM, assign="numpy",
    )
    return topk_recall(approx, knn_bruteforce(spark, sf))


# --- cluster-balanced subsampling (data balancing over embedding cells) ---------------
_BAL_QUOTA = 40


@register(
    "cluster_balanced_sample",
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings
    ), c AS (
      SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id % {_STRIDE} = 0
    ), ad AS (
      SELECT e.vec_id, c.cid,
             list_dot_product(c.cemb, c.cemb) - 2 * list_dot_product(e.emb, c.cemb) AS d
      FROM e CROSS JOIN c
    ), assign AS (
      SELECT vec_id, cid, d FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM ad
      ) WHERE rn = 1
    ), r AS (
      SELECT cid, vec_id AS id,
             row_number() OVER (PARTITION BY cid ORDER BY d, vec_id) AS rank
      FROM assign
    )
    SELECT cid, id, rank FROM r WHERE rank <= {_BAL_QUOTA}
    """,
)
def cluster_balanced_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-balanced data selection: cap every embedding cell at the same
    budget, keeping the quota most-CENTRAL vectors per cell (rank by
    distance-to-centroid, id tie-break) — the balancing step an
    embedding-curated training mix runs after dedup, so no semantic region
    dominates (operators.sampling.cluster_quota_sample; the SemDeDup
    complement — that rung removes near-duplicates inside a cell, this one
    caps the cell itself). Deterministic stride centroids keep the oracle
    exact (a learned quantizer slots in via kmeans_centroids, same plan);
    distances share _cell_dist_structs' sequential IEEE construction, so
    the DuckDB ranking is bit-identical and the output is integer-only
    (cid, id, rank). Plan shape: map-only assignment + ONE window keyed by
    cell — WindowGroupLimit truncates to quota per map task before the
    exchange, so the shuffle is bounded by quota x cells, not corpus size."""
    from .operators.sampling import cluster_quota_sample
    from .operators.similarity import stride_centroids

    e = load(spark, sf, "embeddings")
    cent = stride_centroids(e, "vec_id", "embedding", _STRIDE)
    return cluster_quota_sample(e, cent, "vec_id", "embedding", _BAL_QUOTA, dim=_DIM)
