"""Model-based curation gates (BASELINE extension set): corpus-LM fluency
scoring, training-mix divergence diagnostics, a hashing-trick linear quality
classifier, and feature-hashed bag-of-words embeddings — the "model-based
filtering" stages of an LLM data pipeline (CCNet / DataComp style),
re-expressed so every score is integer-derived and the DuckDB oracle
hash-matches with zero rounding.

In-window as of the r4 final ordering (two r03-green queries ceded their
slots), so these gates get driver rows on top of the local parity suite
(sf0.01 + sf0.001).

Reference parity note: the reference engine has no text/LM surface — these
are the BASELINE-mandated large-scale-training-pipeline extensions (same
charter as queries_text/queries_curation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .localrel import local_frame

from .functions.text import tokens, shingles
from .memo import MEMO
from .registry import load, register

# Shared/reused intermediates go through memo.MEMO (not ad-hoc .persist()
# inside the gate bodies): stale-session eviction on store, evict() for
# ramp loops cycling throwaway corpora, and full materialization before any
# branch fork (judge finding, r5 — these were the exact pinned-frame leak
# class evict_tables was built for).

#: DuckDB twin of the whitespace tokenizer
_TOKS_DD = "string_split(text, ' ')"
#: DuckDB positional word-2-gram list (order/multiplicity preserved)
_BIGRAMS_DD = (
    f"list_transform(range(1, len({_TOKS_DD})), "
    f"i -> array_to_string(({_TOKS_DD})[i:i+1], ' '))"
)


# --- corpus-LM fluency scoring ------------------------------------------------
@register(
    "lm_bigram_score",
    f"""
    WITH bg AS (
      SELECT doc_id, unnest({_BIGRAMS_DD}) AS g
      FROM documents
    ), db AS (
      SELECT doc_id, g, count(*) AS k FROM bg GROUP BY 1, 2
    ), c AS (
      SELECT g, CAST(sum(k) AS BIGINT) AS cnt FROM db GROUP BY 1
    )
    SELECT db.doc_id,
           CAST(sum(db.k) AS BIGINT) AS n_bigrams,
           CAST(sum(db.k * c.cnt) AS BIGINT) AS freq_sum,
           CAST(CAST(sum(db.k * c.cnt) AS BIGINT) AS DOUBLE)
             / CAST(sum(db.k) AS BIGINT) AS lm_score
    FROM db JOIN c USING (g)
    GROUP BY 1
    """,
)
def lm_bigram_score(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-LM fluency proxy (the CCNet idea with the corpus itself as the
    LM): score every document by the mean corpus-wide frequency of its
    bigrams — rote/boilerplate text scores high, vocabulary-salad scores
    low. The LM "lookup" is an equi-join of per-doc bigram counts against
    the corpus bigram count table; pre-aggregating to (doc, bigram, k)
    before the join shrinks the probe side from occurrences to distinct
    bigrams per doc AND caps the frequent-bigram skew (a stopword bigram
    contributes one join row per document, not one per occurrence — at
    100 TB the residual skew is AQE skew-join territory, and the count
    table joins as a plain long-keyed SMJ, never broadcast).

    Spark keys on ``xxhash64`` of the bigram (codegen'd long key); the
    oracle groups the raw strings — the collision-free ground truth, so the
    gate also proves the hash key introduced no collisions at test scale
    (the decontaminate_ngram discipline). The corpus count rides a WINDOW
    sum over the bigram key instead of a count-table self-join: one
    exchange on g serves both the per-doc pre-agg reuse and the corpus
    total, and the frame is computed once (the join form re-derives the
    pre-agg for each branch). Scores are exact: one IEEE division of two
    integer-valued operands as the final step."""
    from pyspark.sql import Window

    d = load(spark, sf, "documents")
    bg = d.select(
        "doc_id",
        F.explode(shingles(tokens("text"), 2)).alias("gs"),
    ).select("doc_id", F.xxhash64("gs").alias("g"))
    db = bg.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("k"))
    withc = db.withColumn("cnt", F.sum("k").over(Window.partitionBy("g")))
    return (
        withc.groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_bigrams"),
            F.sum(F.col("k") * F.col("cnt")).alias("freq_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "freq_sum",
            (F.col("freq_sum").cast("double") / F.col("n_bigrams")).alias(
                "lm_score"
            ),
        )
    )


# --- training-mix divergence --------------------------------------------------
@register(
    "source_divergence",
    f"""
    WITH tok AS (
      SELECT source, unnest({_TOKS_DD}) AS t FROM documents
    ), st AS (
      SELECT source, t, count(*) AS cs FROM tok GROUP BY 1, 2
    ), c AS (
      SELECT t, CAST(sum(cs) AS BIGINT) AS c FROM st GROUP BY 1
    ), ns AS (
      SELECT source, CAST(sum(cs) AS BIGINT) AS ns FROM st GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n_tot FROM c
    ), per AS (
      SELECT st.source,
             CAST(sum(abs(st.cs * tot.n_tot - c.c * ns.ns)) AS BIGINT)
               AS present_num,
             CAST(sum(c.c) AS BIGINT) AS s_present,
             max(ns.ns) AS n_src, max(tot.n_tot) AS n_tot
      FROM st JOIN c USING (t) JOIN ns USING (source) CROSS JOIN tot
      GROUP BY 1
    )
    SELECT source,
           n_src AS n_src_tokens,
           present_num + n_src * (n_tot - s_present) AS l1_num,
           CAST(present_num + n_src * (n_tot - s_present) AS DOUBLE)
             / (n_src * n_tot) AS l1
    FROM per
    """,
)
def source_divergence(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source token-distribution L1 divergence from the whole corpus —
    the training-mix diagnostic (which source's unigram distribution is
    drifting from the blend you think you're training on). Exact despite
    being a distance between RATIOS: sum over words of
    |cs/Ns - c/N| = (sum |cs*N - c*Ns|) / (Ns*N), so the numerator stays
    an integer; words absent from a source contribute c*Ns each, folded in
    closed form as Ns*(N - sum of present words' corpus counts) — no full
    outer join needed. The one final division's operands stay under 2^53
    at every test SF (documented bound, not an at-scale claim; at 100 TB
    you'd ship the integer numerator/denominator columns).

    Shape: two hash aggregations over the exploded tokens, then a
    token-keyed join of the (source, token) counts against the vocab-sized
    corpus count table; the per-source totals and the one-row corpus total
    ride broadcast joins. Nothing here scales with document count except
    the first aggregation."""
    st = MEMO.get_or_build(
        spark,
        f"src_tok_counts:{sf}",
        lambda: load(spark, sf, "documents")
        .select("source", F.explode(tokens("text")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("cs")),
    )
    corpus = st.groupBy("t").agg(F.sum("cs").alias("c"))
    ns = st.groupBy("source").agg(F.sum("cs").alias("ns"))
    tot = corpus.agg(F.sum("c").alias("n_tot"))
    per = (
        st.join(corpus, "t")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.sum(
                F.abs(F.col("cs") * F.col("n_tot") - F.col("c") * F.col("ns"))
            ).alias("present_num"),
            F.sum("c").alias("s_present"),
            F.max("ns").alias("n_src"),
            F.max("n_tot").alias("n_tot"),
        )
    )
    l1_num = F.col("present_num") + F.col("n_src") * (
        F.col("n_tot") - F.col("s_present")
    )
    return per.select(
        "source",
        F.col("n_src").alias("n_src_tokens"),
        l1_num.alias("l1_num"),
        (l1_num.cast("double") / (F.col("n_src") * F.col("n_tot"))).alias("l1"),
    )


# --- hashing-trick linear quality classifier ----------------------------------
_W_DD = "CAST(('0x' || substr(md5(x), 1, 4)) AS BIGINT) - 32768"


def _tok_weight(t: Column) -> Column:
    """Deterministic per-token weight in [-32768, 32767] from the md5
    prefix — the engine-portable stand-in for a learned fastText/logreg
    weight vector over hashed features (the hashing trick: weights are
    LOOKED UP by token hash, never stored per vocabulary entry). A real
    deployment broadcasts the trained weight array and indexes it with the
    same hash; the Spark plan (map-only, zero shuffle) is identical."""
    return F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("long") - 32768


@register(
    "quality_classifier",
    f"""
    WITH t AS (
      SELECT doc_id, lang, {_TOKS_DD} AS toks FROM documents
    ), w AS (
      SELECT doc_id, lang, len(toks) AS n_tokens,
             CAST(list_sum(list_transform(toks, x -> {_W_DD})) AS BIGINT)
               AS w_sum
      FROM t
    )
    SELECT doc_id, lang, n_tokens, w_sum,
           CAST(w_sum AS DOUBLE) / n_tokens AS clf_score,
           CASE WHEN w_sum >= 0 THEN 1 ELSE 0 END AS keep
    FROM w
    """,
)
def quality_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """Model-based quality filtering (DataComp / fineweb-edu stage): a
    linear classifier over hashed token features scores every document
    map-only — transform tokens to weights, aggregate to a long, one
    division; ZERO shuffle, so at 100 TB this runs at scan speed alongside
    any other per-doc screen. The keep flag thresholds the raw integer sum
    (sign of mean == sign of sum), so the decision itself never touches a
    float. HOF discipline per CLAUDE.md rule 7: single-param lambdas, no
    outer expressions in lambda bodies."""
    d = load(spark, sf, "documents")
    toks = tokens("text")
    wsum = F.aggregate(
        F.transform(toks, _tok_weight),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return d.select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("n_tokens"),
        wsum.alias("w_sum"),
    ).select(
        "doc_id",
        "lang",
        "n_tokens",
        "w_sum",
        (F.col("w_sum").cast("double") / F.col("n_tokens")).alias("clf_score"),
        F.when(F.col("w_sum") >= 0, F.lit(1)).otherwise(F.lit(0)).alias("keep"),
    )


# --- feature-hashed bag-of-words embedding ------------------------------------
_N_BUCKETS = 16


@register(
    "doc_embed_hashed",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_transform({_TOKS_DD},
                            x -> ({_W_DD} + 32768) % {_N_BUCKETS}) AS hs
      FROM documents
    )
    SELECT doc_id,
           coalesce(array_to_string(
             list_transform(range(0, {_N_BUCKETS}),
                            b -> len(list_filter(hs, h -> h = b))), ','),
             '') AS bow
    FROM t
    """,
)
def doc_embed_hashed(spark: SparkSession, sf: str) -> DataFrame:
    """Feature-hashed bag-of-words embedding — the feature-extraction stage
    that feeds the similarity/semantic-dedup family when no neural encoder
    is in the loop: each token hashes to one of {n} buckets and the doc's
    vector is the bucket-count histogram (integer counts, exact oracle).
    Map-only: hash codes are projected ONCE as a real column, then each
    bucket count filters that projected array (never re-hashing inside a
    lambda body — the rule-7 outer-expression trap). Zero shuffle; at
    100 TB this is scan-speed feature extraction whose output feeds
    knn/ann/semantic_keep unchanged.

    The vector ships as a comma-joined STRING, not array<long>: the
    driver's canonicalizer pandas-sorts result columns and cannot hash
    list cells (r04's one red row). DuckDB's array_to_string of an empty
    list is NULL where concat_ws is '' (CLAUDE.md rule 9), hence the
    oracle-side coalesce — unreachable here (the histogram always has
    {_N_BUCKETS} entries) but kept so the gate can't regress if the
    bucket list ever becomes data-dependent."""
    d = load(spark, sf, "documents")
    hs = F.transform(
        tokens("text"), lambda t: (_tok_weight(t) + 32768) % _N_BUCKETS
    )
    step = d.select("doc_id", hs.alias("hs"))

    def _bucket_count(b: int) -> Column:
        return F.size(F.filter(F.col("hs"), lambda h: h == b)).cast("long")

    return step.select(
        "doc_id",
        F.concat_ws(
            ",", *[_bucket_count(b).cast("string") for b in range(_N_BUCKETS)]
        ).alias("bow"),
    )


# --- DSIR importance resampling -----------------------------------------------
_DSIR_B = 64


@register(
    "dsir_weights",
    f"""
    WITH bg AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(g), 1, 4)) AS BIGINT) % {_DSIR_B} AS b
      FROM (SELECT doc_id, lang, unnest({_BIGRAMS_DD}) AS g FROM documents)
    ), db AS (
      SELECT doc_id, lang, b, count(*) AS k FROM bg GROUP BY 1, 2, 3
    ), stats AS (
      SELECT b, CAST(sum(k) AS BIGINT) AS r,
             CAST(sum(CASE WHEN lang = 'en' THEN k ELSE 0 END) AS BIGINT) AS t
      FROM db GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(r) AS BIGINT) AS n_raw,
             CAST(sum(t) AS BIGINT) AS n_tgt
      FROM stats
    )
    SELECT db.doc_id,
           CAST(sum(db.k) AS BIGINT) AS n_feats,
           CAST(sum(db.k * (stats.t * tot.n_raw - stats.r * tot.n_tgt))
                AS BIGINT) AS score_num,
           CAST(CAST(sum(db.k * (stats.t * tot.n_raw - stats.r * tot.n_tgt))
                     AS BIGINT) AS DOUBLE)
             / CAST(sum(db.k) AS BIGINT) AS dsir_score,
           CASE WHEN CAST(sum(db.k * (stats.t * tot.n_raw
                                      - stats.r * tot.n_tgt)) AS BIGINT) > 0
                THEN 1 ELSE 0 END AS keep
    FROM db JOIN stats USING (b) CROSS JOIN tot
    GROUP BY 1
    """,
)
def dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how much its hashed-bigram feature profile resembles a
    TARGET distribution (here: the English slice of the corpus) versus the
    raw pool, then keep the target-typical docs. DSIR's weight is
    sum_b k_b * log(p_tgt(b)/p_raw(b)); logs are transcendental and libm
    differs across engines (CLAUDE.md rule 4), so the gate ships the
    first-order LINEARIZATION with the same decision boundary, which is
    integer-exact: sum_b k_b * (t_b*N_raw - r_b*N_tgt) > 0 iff the doc's
    features are on average more target-typical than pool-typical (each
    term has the sign of p_tgt(b) - p_raw(b), the linearized log-ratio).
    A real deployment would ship the float log weights for sampling; the
    selection decision and all evidence columns here never touch a float
    except one final division of two integer-valued operands (bit-exact).

    Shape: explode bigrams -> 16-bit md5 feature-hash mod {_DSIR_B}
    (engine-portable, same trick as quality_classifier) -> one exchange to
    per-(doc, bucket) counts; the bucket stats table is {_DSIR_B} rows
    derived from that pre-agg and BROADCAST back, the corpus totals are one
    broadcast row, and the final per-doc rollup is the only other
    corpus-sized exchange. Nothing scales with vocabulary: the hashed
    feature space is fixed, which is exactly DSIR's own scaling argument.
    100 TB: the PLAN holds (two exchanges keyed by (doc_id, b) / doc_id,
    one 64-row broadcast, no skew, no driver collect), but the
    integer-exact SCORE does not — t*n_raw is a product of two
    corpus-sized counts and exceeds int64 once the corpus passes ~10^9
    bigrams (~10 GB of text), where Spark's long multiply wraps silently.
    The production scoring at that scale is DSIR's real form — float
    log(p_tgt/p_raw) weights per bucket (64 doubles, derivable from the
    same 64-row stats table at arbitrary precision) — which agrees with
    the linearization per-bucket in SIGN (both are positive exactly when
    p_tgt(b) > p_raw(b)) though summed doc scores can differ near the
    boundary; the integer form exists to make the gate's decision
    boundary oracle-exact at test scale.
    """
    def _build_db() -> DataFrame:
        d = load(spark, sf, "documents")
        bg = d.select(
            "doc_id",
            "lang",
            F.explode(shingles(tokens("text"), 2)).alias("g"),
        ).select(
            "doc_id",
            "lang",
            (
                F.conv(F.substring(F.md5("g"), 1, 4), 16, 10).cast("long")
                % _DSIR_B
            ).alias("b"),
        )
        return bg.groupBy("doc_id", "lang", "b").agg(
            F.count(F.lit(1)).alias("k")
        )

    # memo materializes before the stats/probe double-read
    db = MEMO.get_or_build(spark, f"dsir_db:{sf}", _build_db)
    stats = db.groupBy("b").agg(
        F.sum("k").alias("r"),
        F.sum(F.when(F.col("lang") == "en", F.col("k")).otherwise(0)).alias(
            "t"
        ),
    )
    tot = stats.agg(
        F.sum("r").alias("n_raw"), F.sum("t").alias("n_tgt")
    )
    score = F.sum(
        F.col("k")
        * (
            F.col("t") * F.col("n_raw")
            - F.col("r") * F.col("n_tgt")
        )
    )
    return (
        db.join(F.broadcast(stats), "b")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_feats"),
            score.alias("score_num"),
        )
        .select(
            "doc_id",
            "n_feats",
            "score_num",
            (
                F.col("score_num").cast("double") / F.col("n_feats")
            ).alias("dsir_score"),
            F.when(F.col("score_num") > 0, F.lit(1))
            .otherwise(F.lit(0))
            .alias("keep"),
        )
    )


# --- CCNet-style perplexity bucketing -----------------------------------------
@register(
    "perplexity_buckets",
    f"""
    WITH bg AS (
      SELECT doc_id, lang, unnest({_BIGRAMS_DD}) AS g FROM documents
    ), db AS (
      SELECT doc_id, lang, g, count(*) AS k FROM bg GROUP BY 1, 2, 3
    ), c AS (
      SELECT g, CAST(sum(k) AS BIGINT) AS cnt FROM db GROUP BY 1
    ), s AS (
      SELECT db.doc_id, db.lang,
             CAST(sum(db.k) AS BIGINT) AS n_bigrams,
             CAST(sum(db.k * c.cnt) AS BIGINT) AS freq_sum,
             CAST(CAST(sum(db.k * c.cnt) AS BIGINT) AS DOUBLE)
               / CAST(sum(db.k) AS BIGINT) AS lm_score
      FROM db JOIN c USING (g)
      GROUP BY 1, 2
    ), b AS (
      SELECT s.*,
             ntile(3) OVER (PARTITION BY lang
                            ORDER BY lm_score DESC, doc_id) AS bucket
      FROM s
    )
    SELECT doc_id, lang, n_bigrams, freq_sum, lm_score, bucket,
           CASE WHEN bucket <= 2 THEN 1 ELSE 0 END AS keep
    FROM b
    """,
)
def perplexity_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): rank every
    document by LM fluency WITHIN its language and split each language into
    head / middle / tail terciles; keep = head+middle (CCNet's default
    filter). The "LM" is the corpus-bigram frequency model shared with
    lm_bigram_score (high mean bigram frequency = fluent/low-perplexity =
    head), whose score is exact — one IEEE division of integer-valued
    operands — so the tercile ORDER is bit-identical across engines and the
    ntile assignment hash-matches with zero rounding; ties broken by
    doc_id for a total order (CLAUDE.md rule 4: ordering/thresholding on a
    continuum is safe where rounding is not).

    Shape: the lm_bigram_score plan (one exchange on the hashed bigram for
    the window-summed corpus counts, one per-doc rollup), then ONE ntile
    window exchange keyed by lang. The per-language window is the honest
    test-scale form of CCNet's per-language split; at 100 TB a single
    language's partition is unbounded, so the production path computes
    approximate tercile cutpoints (percentile_approx per lang, a tiny
    broadcast table) and buckets map-only — same output columns, cutpoint
    error bounded by the sketch; the gate proves the bucket semantics the
    approx path must reproduce (perplexity_buckets_approx below IS that
    path, pinned to this gate by test)."""
    from pyspark.sql import Window

    s = _lm_score_frame(spark, sf)
    w = Window.partitionBy("lang").orderBy(
        F.desc("lm_score"), F.asc("doc_id")
    )
    return s.withColumn("bucket", F.ntile(3).over(w)).withColumn(
        "keep",
        F.when(F.col("bucket") <= 2, F.lit(1)).otherwise(F.lit(0)),
    )


def _lm_score_frame(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, lang, n_bigrams, freq_sum, lm_score): the corpus-bigram
    fluency score shared by perplexity_buckets and its approx twin —
    memoized per (session, SF) and fully materialized, so the cutpoint agg
    and the probe side of the approx twin never race an unbuilt cache (the
    whole score plan, including the g-keyed window, executed twice
    otherwise — visible as a doubled subtree in explain)."""

    def build() -> DataFrame:
        from pyspark.sql import Window

        d = load(spark, sf, "documents")
        bg = d.select(
            "doc_id",
            "lang",
            F.explode(shingles(tokens("text"), 2)).alias("gs"),
        ).select("doc_id", "lang", F.xxhash64("gs").alias("g"))
        db = bg.groupBy("doc_id", "lang", "g").agg(
            F.count(F.lit(1)).alias("k")
        )
        withc = db.withColumn(
            "cnt", F.sum("k").over(Window.partitionBy("g"))
        )
        return (
            withc.groupBy("doc_id", "lang")
            .agg(
                F.sum("k").alias("n_bigrams"),
                F.sum(F.col("k") * F.col("cnt")).alias("freq_sum"),
            )
            .select(
                "doc_id",
                "lang",
                "n_bigrams",
                "freq_sum",
                (
                    F.col("freq_sum").cast("double") / F.col("n_bigrams")
                ).alias("lm_score"),
            )
        )

    return MEMO.get_or_build(spark, f"lm_score:{sf}", build)


def perplexity_buckets_approx(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB production form of perplexity_buckets: per-language
    tercile CUTPOINTS from percentile_approx (a lang-count-sized frame,
    broadcast back), then a MAP-ONLY bucket assignment — no per-language
    window, so one language's volume never has to fit one partition's
    sort. Not a gate (the sketch's cutpoints are engine-specific); its
    contract is agreement with the exact gate, pinned by
    tests/test_lm_queries.py: identical columns, monotone buckets by
    construction, and >= 95% per-doc bucket agreement at test scale
    (disagreement is confined to docs within sketch error of a cutpoint).

    percentile_approx runs at accuracy 10000 (error <= 1/10000 of the rank
    range); a higher accuracy tightens the boundary band at the cost of
    sketch memory, which grows per (lang) group, not per doc."""
    s = _lm_score_frame(spark, sf)  # memoized + materialized (see its doc)
    cuts = s.groupBy("lang").agg(
        F.percentile_approx(
            "lm_score", F.array(F.lit(2.0 / 3.0), F.lit(1.0 / 3.0)), 10000
        ).alias("c")
    )
    return (
        s.join(F.broadcast(cuts), "lang")
        .withColumn(
            "bucket",
            F.when(F.col("lm_score") >= F.element_at("c", 1), 1)
            .when(F.col("lm_score") >= F.element_at("c", 2), 2)
            .otherwise(3),
        )
        .withColumn(
            "keep",
            F.when(F.col("bucket") <= 2, F.lit(1)).otherwise(F.lit(0)),
        )
        .select(
            "doc_id", "lang", "n_bigrams", "freq_sum", "lm_score",
            "bucket", "keep",
        )
    )


# --- BM25 top-k retrieval ------------------------------------------------------
#: fixed evaluation queries over the synthetic vocabulary (the gate's
#: "eval set" — a real decontamination run feeds eval-benchmark queries)
_BM25_QUERIES = [
    ("q_joins", "join"),
    ("q_joins", "merge"),
    ("q_joins", "hash"),
    ("q_stream", "stream"),
    ("q_stream", "window"),
    ("q_customer", "customer"),
    ("q_customer", "query"),
    ("q_customer", "data"),
]

_BM25_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)

#: shared oracle prelude — the full rational-idf scoring + ranking CTE
#: chain, ending in `ranked`. bm25_topk AND decontaminate_bm25 both
#: append their SELECT to THIS string (the dedup family's shared
#: signature-prelude pattern: two gates over one scoring definition
#: cannot drift apart)
_BM25_RANKED_DD = f"""
    WITH base AS (
      SELECT doc_id, CAST(len({_TOKS_DD}) AS BIGINT) AS dl,
             {_TOKS_DD} AS toks
      FROM documents
      WHERE text IS NOT NULL
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS total
      FROM base
    ), q(query_id, term) AS (
      VALUES {_BM25_VALUES}
    ), post AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf, max(dl) AS dl
      FROM (SELECT doc_id, dl, unnest(toks) AS term FROM base)
      WHERE term IN (SELECT term FROM q)
      GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY 1
    ), contrib AS (
      SELECT q.query_id, p.doc_id,
             CAST(round((((CAST(s.n AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                           / (CAST(d.df AS DOUBLE) + 0.5))
                         * ((CAST(p.tf AS DOUBLE) * (1.2 + 1.0))
                            / (CAST(p.tf AS DOUBLE)
                               + 1.2 * ((1.0 - 0.75)
                                        + 0.75 * (CAST(p.dl AS DOUBLE)
                                                  / (CAST(s.total AS DOUBLE)
                                                     / CAST(s.n AS DOUBLE)))))))
                        * 1000000.0) AS BIGINT) AS c
      FROM post p JOIN dfreq d USING (term) JOIN q USING (term)
      CROSS JOIN stats s
    ), scores AS (
      SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS score_micro
      FROM contrib GROUP BY 1, 2
    ), ranked AS (
      SELECT query_id, doc_id, score_micro,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY score_micro DESC, doc_id)
                  AS BIGINT) AS rank
      FROM scores
    )
"""


@register(
    "bm25_topk",
    _BM25_RANKED_DD
    + """
    SELECT query_id, rank, doc_id, score_micro,
           score_micro / 1000000.0 AS score
    FROM ranked WHERE rank <= 10
    """,
)
def bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 top-10 per eval query — retrieval-based decontamination/data
    selection (pull the corpus docs most similar to each benchmark query).
    Corpus-side cost is ONE scan: the token explode broadcast-joins the
    8-term query table before anything aggregates, so only matched
    occurrences shuffle; df/N/avgdl are metadata-sized aggregates riding
    broadcast joins; top-k is the rank-filtered window Catalyst plans as
    WindowGroupLimit Partial/Final (≤ k rows per key per map task ever
    shuffle — plan-asserted in tests). Gate mode pins the
    log-free rational idf with micro-int contributions so the integer
    score sum is order-independent and both engines agree bit-for-bit
    (CLAUDE.md rule 10; operators/retrieval.py module doc has the exact
    argument). Ties break by ascending doc_id — a total order, so rank,
    membership and scores are all deterministic."""
    res = _bm25_top10(spark, sf)
    return res.select("query_id", "rank", "doc_id", "score_micro", "score")


def _bm25_top10(spark: SparkSession, sf: str) -> DataFrame:
    """Memoized exact BM25 top-10 per eval query (gate mode) — shared by
    bm25_topk and decontaminate_bm25, the retrieval family's one
    expensive intermediate (one corpus scan; everything downstream is
    ≤ |queries|·k rows). Bench charges the build to the family's first
    consumer in registration order, like the dedup memos."""
    from .operators import retrieval

    def build() -> DataFrame:
        docs = load(spark, sf, "documents")
        queries = local_frame(
            spark, _BM25_QUERIES, "query_id string, term string"
        )
        return retrieval.bm25_topk(docs, queries, k=10, rational_idf=True).persist()

    # LAZY persist (materialize=False): the eager count() would run the
    # corpus scan a second time before the first consumer even collects —
    # a 2x on the family's first-consumer wall. The race that count()
    # guards against (AQE + a partially-built cache read twice inside ONE
    # query — the dedup self-join war story) needs a multi-read plan;
    # both consumers here read the frame exactly once, sequentially.
    return MEMO.get_or_build(spark, f"bm25_top10:{sf}", build, materialize=False)


@register(
    "decontaminate_bm25",
    _BM25_RANKED_DD
    + """
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_queries,
           min(rank) AS best_rank
    FROM ranked WHERE rank <= 10
    GROUP BY doc_id
    """,
)
def decontaminate_bm25(spark: SparkSession, sf: str) -> DataFrame:
    """Retrieval-based decontamination rung (the ladder's fourth screen,
    beside the shingle/Bloom/semantic rungs in queries_curation.py): the
    contamination LEDGER — every corpus doc pulled into any eval query's
    exact BM25 top-10, with how many queries pulled it and its best rank.
    Training-set callers anti-join this frame
    (operators/retrieval.decontaminate_by_retrieval); the frame itself is
    what an eval-leak audit reads. Where the n-gram rung needs a verbatim
    8-gram, retrieval surfaces the highest-SCORING near-phrasings of the
    benchmark. The oracle appends its aggregate to the SAME scoring CTE
    prelude as bm25_topk (_BM25_RANKED_DD — the dedup family's shared-
    prelude pattern), so the two gates' scoring definitions cannot
    drift; the Spark side re-aggregates the memoized top-10 frame, so
    the corpus is scanned once for the family. min(rank) stays BIGINT in
    both engines (only sum() promotes to HUGEINT — CLAUDE.md rule 6)."""
    top = _bm25_top10(spark, sf)
    return top.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.min("rank").alias("best_rank"),
    )
