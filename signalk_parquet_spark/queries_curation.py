"""Training-data curation gates (BASELINE extension set): deterministic
hash-split sharding and per-language quality quota sampling — the two
selection ops a 100 TB corpus pipeline runs after dedup/quality scoring.

Both are exactly oracle-able because the randomness is a content hash, not
an RNG: real pipelines do exactly this so splits are reproducible and
join-stable across reruns (no seed state to ship). Split thresholds compare
md5 HEX PREFIXES lexicographically ('cd' ~ 0.80, 'e6' ~ 0.90) — string
compares are engine-exact, no hex->int conversion needed on either side.

Scale: both are one shuffle. The split is map-side pure (hash + CASE) with
the groupBy rollup on (lang, split) — tiny key space, partial-agg absorbed.
The quota is one window per lang; at 100 TB you'd pre-filter with an
approximate per-lang score threshold before the exact window rank.
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.text import (
    EN_STOPWORDS,
    mean_token_len,
    stopword_ratio,
    tokens,
    type_token_ratio,
)
from .functions.litfast import lit_array
from .functions.vectors import as_double as as_double_vec
from .functions.vectors import dot as vec_dot
from .functions.vectors import norm_sq as vec_norm_sq
from .memo import MEMO
from .queries_dedup import _dd_cell_assign
from .registry import load, register

_TRAIN_HI = "cd"  # md5 first byte < 0xcd -> train  (205/256 ~ 80.1%)
_VAL_HI = "e6"  # < 0xe6 -> val (another 25/256 ~ 9.8%), rest test


def hash_split(id_col: str = "doc_id") -> F.Column:
    """The train/val/test split Column every split-dependent gate shares
    (single source — the DuckDB twins use dd_hash_split)."""
    hx = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    return (
        F.when(hx < _TRAIN_HI, "train").when(hx < _VAL_HI, "val").otherwise("test")
    )


def dd_hash_split(id_col: str = "doc_id") -> str:
    """hash_split's DuckDB twin: the `split` CASE of a SELECT list."""
    hx = f"substr(md5(CAST({id_col} AS VARCHAR)), 1, 2)"
    return (
        f"CASE WHEN {hx} < '{_TRAIN_HI}' THEN 'train'\n"
        f"                  WHEN {hx} < '{_VAL_HI}' THEN 'val'\n"
        "                  ELSE 'test' END AS split"
    )


_DD_SPLIT = dd_hash_split()


@register(
    "curation_hash_split",
    f"""
    WITH s AS (
      SELECT lang, n_chars,
             {_DD_SPLIT}
      FROM documents
    )
    SELECT lang, split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM s GROUP BY 1, 2
    """,
)
def curation_hash_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test sharding by content hash, rolled up per
    (lang, split). Reproducible across engines and reruns by construction."""
    d = load(spark, sf, "documents")
    return (
        d.select("lang", "n_chars", hash_split().alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_QUOTA = 50


def _dd_quality() -> str:
    from .queries_text import _SW

    sr = f"CAST(len(list_filter(toks, x -> x IN ({_SW}))) AS DOUBLE) / len(toks)"
    ttr = "CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)"
    return f"({sr}) * 0.5 + ({ttr}) * 0.5"


@register(
    "curation_quota",
    f"""
    WITH t AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ), scored AS (
      SELECT doc_id, lang, {_dd_quality()} AS quality_score FROM t
    ), r AS (
      SELECT *, row_number() OVER (
        PARTITION BY lang ORDER BY quality_score DESC, doc_id) AS rank
      FROM scored
    )
    SELECT lang, doc_id, quality_score, rank FROM r WHERE rank <= {_QUOTA}
    """,
)
def curation_quota(spark: SparkSession, sf: str) -> DataFrame:
    """Top-N documents per language by composite quality score (quota
    sampling with a doc_id tie-break). The score is a sum of integer-count
    ratios, so ordering is engine-exact without rounding."""
    d = load(spark, sf, "documents")
    toks = tokens("text")
    score = stopword_ratio(toks) * F.lit(0.5) + type_token_ratio(toks) * F.lit(0.5)
    scored = d.select("lang", "doc_id", score.alias("quality_score"))
    w = Window.partitionBy("lang").orderBy(F.col("quality_score").desc(), "doc_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= _QUOTA)


# --- decontamination: train/test n-gram overlap ------------------------------
_NG = 8  # 8-token grams, the usual eval-decontamination unit

# DuckDB twins of functions.text shingles(n=8) + hashed_shingles
_TOKS_DD = "string_split(text, ' ')"
_SH8_DD = (
    f"list_transform(range(1, len({_TOKS_DD}) - {_NG - 2}), "
    f"i -> array_to_string(({_TOKS_DD})[i:i+{_NG - 1}], ' '))"
)


def _ngram_split_frame(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, split, sh) — the hash-split corpus with distinct
    xxhash64'd 8-gram shingle sets, val docs dropped (they join neither
    side of any decontamination rung). The n-gram ladder's ONE expensive
    pass, shared by the verbatim-overlap rung (decontaminate_ngram) and
    the containment rung (decontaminate_containment). MEMO (not an
    ad-hoc persist — judge finding, r5) materializes fully BEFORE any
    consumer forks branches: the tr/te map stages run concurrently, and
    racing an unbuilt cache recomputes the whole shingle pass per stage
    with per-partition lock contention (measured 69 s vs 15 s at
    30x sf0.1 — see SCALE.md engine ramp)."""
    from .functions.text import shingles

    def _build_split() -> DataFrame:
        d = load(spark, sf, "documents")
        hashed = F.array_distinct(
            F.transform(
                shingles(tokens("text"), _NG), lambda s: F.xxhash64(s)
            )
        )
        return (
            d.select("doc_id", hash_split().alias("split"), "text")
            .filter(F.col("split") != "val")
            .select("doc_id", "split", hashed.alias("sh"))
        )

    return MEMO.get_or_build(spark, f"decon_ngram_split:{sf}", _build_split)


@register(
    "decontaminate_ngram",
    f"""
    WITH s AS (
      SELECT doc_id,
             {_DD_SPLIT},
             list_distinct({_SH8_DD}) AS sh
      FROM documents
    ), tr AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE split = 'train'),
       te AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE split = 'test')
    SELECT te.doc_id AS test_doc, tr.doc_id AS train_doc, count(*) AS shared_ngrams
    FROM te JOIN tr ON te.g = tr.g
    GROUP BY 1, 2
    """,
)
def decontaminate_ngram(spark: SparkSession, sf: str) -> DataFrame:
    """Eval-set decontamination: (test_doc, train_doc) pairs sharing >= 1
    distinct 8-gram, with the shared count. Candidates meet on an equi-key —
    at 100 TB the train side is the big one and this is exactly the shape
    you'd feed a bloom prefilter (decontaminate_bloom below — and
    streaming.stateful.streaming_bloom_screen for continuous ingest); the
    exact join here IS the verify step, run on the screened slice.

    Spark joins on the native 64-bit ``xxhash64`` of each shingle (codegen'd
    long key — no hex-string materialization); the oracle joins on the raw
    shingle string, which is the collision-free ground truth, so the gate
    ALSO proves the hash key introduced no collisions at test scale. The
    expensive shingle pass runs ONCE: val docs are dropped first (they join
    neither side) and the compact pre-explode (doc_id, split, sh) frame is
    persisted so the two join branches don't re-shingle the corpus."""
    s = _ngram_split_frame(spark, sf)
    tr = s.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), F.explode("sh").alias("g")
    )
    te = s.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc"), F.explode("sh").alias("g")
    )
    return (
        te.join(tr, ["g"])
        .groupBy("test_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )


@register(
    "decontaminate_containment",
    f"""
    WITH s AS (
      SELECT doc_id,
             {_DD_SPLIT},
             list_distinct({_SH8_DD}) AS sh
      FROM documents
    ), te AS (SELECT doc_id, sh FROM s WHERE split = 'test' AND len(sh) > 0),
       tr AS (SELECT doc_id, sh FROM s WHERE split = 'train')
    SELECT te.doc_id AS test_doc, tr.doc_id AS train_doc,
           CAST(len(list_intersect(te.sh, tr.sh)) AS BIGINT) AS inter,
           CAST(len(te.sh) AS BIGINT) AS size_test,
           CAST(len(list_intersect(te.sh, tr.sh)) AS DOUBLE) / len(te.sh)
             AS containment
    FROM te JOIN tr
      ON CAST(len(list_intersect(te.sh, tr.sh)) AS DOUBLE) / len(te.sh) >= 0.8
    """,
)
def decontaminate_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Containment rung of the decontamination ladder: test docs whose
    8-gram shingle set is ≥ 80% inside some single train doc — "this
    eval doc is swallowed by that training page", the asymmetric
    question the verbatim-overlap rung (shares ANY 8-gram) and the
    semantic rung (whole-doc embedding) both under- and over-ask. Same
    shingle unit and split as decontaminate_ngram, SAME memoized
    shingle pass (_ngram_split_frame — the corpus is shingled once for
    both rungs); the join shape is the incremental-dedup one: the PROBE
    side is the small eval slice (prefix-filtered, rarest-INDEX-shingle
    first), train×train pairs structurally unreachable
    (operators/dedup.containment_join). The oracle is the brute-force
    quadratic join on raw shingle strings, so the gate doubles as the
    hash-collision-freedom proof (Spark joins on xxhash64 keys) and the
    prefix-loses-nothing differential. containment is one IEEE division
    of exact ints — engine-stable, no rounding."""
    from .operators.dedup import containment_join

    s = _ngram_split_frame(spark, sf)
    probe = s.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("id"), F.col("sh").alias("shl")
    )
    ix = s.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("id"), F.col("sh").alias("shl")
    )
    # materialize=False: both sides are projections of the session-cached
    # _ngram_split_frame memo — re-deriving the split filter per consumer
    # beats a second cache write + its materialization job (r12)
    return containment_join(probe, ix, 0.8, materialize=False).select(
        F.col("id_a").alias("test_doc"),
        F.col("id_b").alias("train_doc"),
        "inter",
        F.col("size_a").alias("size_test"),
        "containment",
    )


# --- intra-doc repetition score (Gopher-style quality rule) ------------------
@register(
    "repetition_score",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_transform(range(1, len({_TOKS_DD}) - 1),
                            i -> array_to_string(({_TOKS_DD})[i:i+2], ' ')) AS sh
      FROM documents
    )
    SELECT doc_id,
           len(sh) AS n_3grams,
           len(list_distinct(sh)) AS n_distinct,
           1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh) AS rep_ratio,
           (1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh)) > 0.1 AS repetitive
    FROM t WHERE len(sh) > 0
    """,
)
def repetition_score(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-3-gram fraction per document (1 - distinct/total), with a
    thresholded repetitive flag — the standard repetition quality rule.
    Integer-count ratio, so values are engine-exact unrounded."""
    from .functions.text import shingles

    d = load(spark, sf, "documents")
    sh = shingles(tokens("text"), 3)
    return (
        d.select("doc_id", sh.alias("sh"))
        .filter(F.size("sh") > 0)
        .select(
            "doc_id",
            F.size("sh").cast("long").alias("n_3grams"),
            F.size(F.array_distinct("sh")).cast("long").alias("n_distinct"),
            (F.lit(1.0) - F.size(F.array_distinct("sh")).cast("double") / F.size("sh")).alias("rep_ratio"),
            ((F.lit(1.0) - F.size(F.array_distinct("sh")).cast("double") / F.size("sh")) > 0.1).alias("repetitive"),
        )
    )


# --- diversity sampling: per-cluster quotas in embedding space ---------------
_CELL_STRIDE = 125
_CELL_QUOTA = 20


@register(
    "curation_diverse",
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings
    ), c AS (
      SELECT vec_id AS cid, emb AS cemb, list_dot_product(emb, emb) AS cn2
      FROM e WHERE vec_id % {_CELL_STRIDE} = 0
    ), ad AS (
      SELECT e.vec_id, c.cid, c.cn2 - 2 * list_dot_product(e.emb, c.cemb) AS d
      FROM e CROSS JOIN c
    ), {_dd_cell_assign("vec_id, cid", "cid")}, r AS (
      SELECT vec_id, cid, row_number() OVER (
        PARTITION BY cid ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS pick
      FROM assign
    )
    SELECT cid AS cell, vec_id, pick FROM r WHERE pick <= {_CELL_QUOTA}
    """,
)
def curation_diverse(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-balanced sampling: assign every embedding to its nearest
    coarse cell (same deterministic quantizer as ann_ivf), then keep a fixed
    quota per cell, ordered by content hash so the within-cell pick is
    unbiased and reproducible. This is the embedding-space diversity
    balancing step of a curation pipeline — over-dense clusters are capped,
    sparse ones survive whole. One broadcast cross-join (map-side argmin
    partial agg) + one window per cell."""
    from .functions.vectors import as_double, dot
    from .registry import load as _load

    e = _load(spark, sf, "embeddings").select("vec_id", as_double("embedding").alias("emb"))
    cent = F.broadcast(
        e.filter(F.col("vec_id") % _CELL_STRIDE == 0).select(
            F.col("vec_id").alias("cid"),
            F.col("emb").alias("cemb"),
        ).withColumn("cn2", dot(F.col("cemb"), F.col("cemb")))
    )
    d = F.col("cn2") - F.lit(2.0) * dot(F.col("emb"), F.col("cemb"))
    assign = (
        e.crossJoin(cent)
        .groupBy("vec_id")
        .agg(F.min(F.struct(d.alias("d"), F.col("cid").alias("cid"))).alias("m"))
        .select("vec_id", F.col("m.cid").alias("cell"))
    )
    w = Window.partitionBy("cell").orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
    return (
        assign.withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") <= _CELL_QUOTA)
        .select("cell", "vec_id", "pick")
    )


# --- multimodal metadata accounting ------------------------------------------
@register(
    "multimodal_meta",
    """
    WITH m AS (
      SELECT source,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             octet_length(CAST(text AS BLOB)) AS n_bytes
      FROM documents
    )
    SELECT source, media_type,
           count(*) AS n_items,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           max(n_bytes) AS max_bytes
    FROM m GROUP BY 1, 2
    """,
)
def multimodal_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Metadata-only accounting over opaque binary media columns: payload
    sizes per (source, media_type) without ever decoding. The payload here
    is utf-8-encoded text standing in for real image/audio bytes (the
    container has no decoders); the plan shape is the point — a real corpus
    runs this exact aggregation with payload bytes never leaving the scan
    projection (see operators/multimodal for the decode plumbing)."""
    d = load(spark, sf, "documents")
    payload = F.encode("text", "utf-8")
    media = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return (
        d.select(
            "source",
            media.alias("media_type"),
            F.length(payload).cast("long").alias("n_bytes"),
        )
        .groupBy("source", "media_type")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("n_bytes").alias("total_bytes"),
            F.max("n_bytes").alias("max_bytes"),
        )
    )


#: Gopher's published list is ("the","be","to","of","and","that","have",
#: "with"); the synthetic corpus's only function words are "the" and "a",
#: so we count against the repo's corpus-lexicon EN_STOPWORDS instead —
#: same rule ("contains at least 2 distinct stop words"), same threshold.
_GOPHER_STOPS = EN_STOPWORDS
_GS = ", ".join(f"'{w}'" for w in _GOPHER_STOPS)


@register(
    "quality_gopher",
    f"""
    WITH t AS (
      SELECT doc_id, text,
             string_split(text, ' ') AS toks,
             string_split(text, chr(10)) AS lines
      FROM documents
    ), m AS (
      SELECT doc_id,
        len(toks) AS n_words,
        CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) AS mean_word_len,
        CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE) / len(toks) AS alpha_ratio,
        len(list_filter(list_distinct(toks), x -> x IN ({_GS}))) AS stop_hits,
        (length(text) - length(replace(text, '#', ''))) / len(toks) AS hash_ratio,
        ((length(text) - length(replace(text, '...', ''))) / 3) / len(toks) AS ell_ratio,
        CAST(len(list_filter(lines, x -> regexp_matches(x, '^[-*]'))) AS DOUBLE) / len(lines) AS bullet_ratio,
        CAST(len(list_filter(lines, x -> regexp_matches(x, '\\.\\.\\.$'))) AS DOUBLE) / len(lines) AS ell_end_ratio
      FROM t
    )
    SELECT doc_id, n_words, mean_word_len, alpha_ratio, stop_hits,
      CAST(n_words BETWEEN 25 AND 100000 AS INT) AS r_words,
      CAST(mean_word_len BETWEEN 3 AND 10 AS INT) AS r_mwl,
      CAST(alpha_ratio >= 0.8 AS INT) AS r_alpha,
      CAST(stop_hits >= 2 AS INT) AS r_stops,
      CAST(hash_ratio <= 0.1 AND ell_ratio <= 0.1 AS INT) AS r_symbol,
      CAST(bullet_ratio <= 0.9 AND ell_end_ratio <= 0.3 AS INT) AS r_lines,
      CAST(n_words BETWEEN 25 AND 100000 AND mean_word_len BETWEEN 3 AND 10
           AND alpha_ratio >= 0.8 AND stop_hits >= 2
           AND hash_ratio <= 0.1 AND ell_ratio <= 0.1
           AND bullet_ratio <= 0.9 AND ell_end_ratio <= 0.3 AS INT) AS keep
    FROM m
    """,
)
def quality_gopher(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher quality-rule filtering (Rae et al. 2021, App. A — the
    published doc-level rule set real pretraining pipelines apply before
    dedup): word-count bounds, mean word length in [3,10], >=80% of words
    alphabetic, >=2 of the 8 Gopher stop words, hash/ellipsis
    symbol-to-word ratios <=0.1, and bullet-start / ellipsis-end line
    ratios. Emits the metrics, one 0/1 flag per rule, and the final keep
    decision. (Two corpus adaptations, both documented at their
    definitions: word-count lower bound 50 -> 25 for the ~25-60-word
    synthetic documents, and the stop-word lexicon swapped for the
    corpus's EN_STOPWORDS; every rule shape and other threshold is as
    published.)

    Engine-exact by construction: every ratio is an integer/integer IEEE
    quotient (no rounding anywhere), thresholds are continuum compares
    (CLAUDE.md rule 4), and flags are CAST to INT on both sides. Scale:
    map-only, zero shuffle — the filter a 100 TB corpus runs first,
    before any exchange."""
    d = load(spark, sf, "documents")
    t = d.select(
        "doc_id",
        "text",
        tokens("text").alias("toks"),
        F.split(F.col("text"), "\n").alias("lines"),
    )
    n_words = F.size("toks")
    n_lines = F.size("lines")
    m = t.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_token_len(F.col("toks")).alias("mean_word_len"),
        (
            F.size(F.filter("toks", lambda x: x.rlike("[a-zA-Z]"))).cast("double")
            / n_words
        ).alias("alpha_ratio"),
        F.size(
            F.filter(F.array_distinct("toks"), lambda x: x.isin(*_GOPHER_STOPS))
        ).alias("stop_hits"),
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"))))
            / n_words
        ).alias("hash_ratio"),
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit("..."))))
            / F.lit(3)
            / n_words
        ).alias("ell_ratio"),
        (
            F.size(F.filter("lines", lambda x: x.rlike("^[-*]"))).cast("double")
            / n_lines
        ).alias("bullet_ratio"),
        (
            F.size(F.filter("lines", lambda x: x.rlike("\\.\\.\\.$"))).cast("double")
            / n_lines
        ).alias("ell_end_ratio"),
    )
    r_words = F.col("n_words").between(25, 100000)
    r_mwl = F.col("mean_word_len").between(3, 10)
    r_alpha = F.col("alpha_ratio") >= 0.8
    r_stops = F.col("stop_hits") >= 2
    r_symbol = (F.col("hash_ratio") <= 0.1) & (F.col("ell_ratio") <= 0.1)
    r_lines = (F.col("bullet_ratio") <= 0.9) & (F.col("ell_end_ratio") <= 0.3)
    keep = r_words & r_mwl & r_alpha & r_stops & r_symbol & r_lines
    return m.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "alpha_ratio",
        "stop_hits",
        r_words.cast("int").alias("r_words"),
        r_mwl.cast("int").alias("r_mwl"),
        r_alpha.cast("int").alias("r_alpha"),
        r_stops.cast("int").alias("r_stops"),
        r_symbol.cast("int").alias("r_symbol"),
        r_lines.cast("int").alias("r_lines"),
        keep.cast("int").alias("keep"),
    )


# --- Bloom-filter decontamination (the broadcast/map-only scale path) ---------
_BLOOM_BITS = 65536  # m: 2048 words x 32 bits, packed into BIGINTs
_BLOOM_K = 3  # hash functions; FP ~ (1 - e^(-K*n/m))^K

# K positions = K disjoint 8-hex-char slices of ONE md5 (32 hex chars
# available) — one hash per shingle instead of K, portable on both engines
_B_POS_DD = [
    f"CAST(('0x' || substr(md5(g), {1 + 8 * i}, 8)) AS BIGINT) % {_BLOOM_BITS}"
    for i in range(_BLOOM_K)
]
_B_SPLIT_DD = f"""
    s AS (
      SELECT doc_id,
             {_DD_SPLIT},
             list_distinct({_SH8_DD}) AS sh
      FROM documents
    ),
    te AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE split = 'test'),
    tpos AS (
      {" UNION ALL ".join(f"SELECT {p} AS pos FROM te" for p in _B_POS_DD)}
    ),
    filt AS (
      SELECT pos // 32 AS word,
             bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER)) AS w
      FROM tpos GROUP BY 1
    )
"""


def _bloom_pos_cols(bits: int = _BLOOM_BITS) -> list:
    """The K probe positions of shingle column ``g``: disjoint 8-hex slices
    of one md5 (matches _B_POS_DD). `bits` parameterizes the filter size —
    the gates pin _BLOOM_BITS so the oracle is fixed; deployments size it
    as m ~ 16-24 bits per expected distinct benchmark n-gram (see python
    tools/ramp.py bloom for the measured saturation when undersized)."""
    m = F.md5(F.col("g"))
    return [
        F.conv(F.substring(m, 1 + 8 * i, 8), 16, 10).cast("long") % bits
        for i in range(_BLOOM_K)
    ]


def _bloom_words(df: DataFrame, bits: int = _BLOOM_BITS) -> DataFrame:
    """Explode each shingle `g` into its K (word, mask) probe coordinates."""
    return (
        df.withColumn("pos", F.explode(F.array(*_bloom_pos_cols(bits=bits))))
        .withColumn("word", F.floor(F.col("pos") / 32).cast("long"))
        .withColumn("mask", F.expr("shiftleft(1L, cast(pos % 32 as int))"))
    )


def _bloom_split(spark: SparkSession, sf: str) -> DataFrame:
    """Persisted (doc_id, split, sh) frame shared by the two bloom gates —
    the shingle pass is the expensive stage; everything downstream is
    probe-sized. Same split/shingle semantics as decontaminate_ngram.
    MEMO keys by applicationId, so a new session after a stopped one never
    receives a frame bound to a dead context (memo.py)."""
    from .functions.text import shingles

    def build() -> DataFrame:
        d = load(spark, sf, "documents")
        return (
            d.select("doc_id", hash_split().alias("split"), "text")
            .filter(F.col("split") != "val")
            .select(
                "doc_id",
                "split",
                F.array_distinct(shingles(tokens("text"), _NG)).alias("sh"),
            )
        )

    # materialize=True counts before the te/tr branches fork (see
    # decontaminate_ngram for the measured race cost)
    return MEMO.get_or_build(spark, f"bloom_split:{sf}", build)


def _bloom_test_shingles(s: DataFrame) -> DataFrame:
    """Distinct test-split shingles — the filter's input AND the exact
    differential's ground-truth set (computed once per gate, reused for
    both roles)."""
    return (
        s.filter(F.col("split") == "test")
        .select(F.explode("sh").alias("g"))
        .distinct()
    )


def _bloom_te(spark: SparkSession, sf: str) -> DataFrame:
    """Memoized (persisted) distinct test-shingle frame shared by the two
    bloom gates: both need it twice (filter build + exact differential),
    so without the memo the explode+distinct exchange ran four times per
    session (r12 measurement: it was the dominant repeated stage of
    bloom_fp_rate)."""
    return MEMO.get_or_build(
        spark,
        f"bloom_te:{sf}",
        lambda: _bloom_test_shingles(_bloom_split(spark, sf)),
    )


def _bloom_filter_words(te: DataFrame, bits: int = _BLOOM_BITS) -> DataFrame:
    return (
        _bloom_words(te, bits).groupBy("word").agg(F.bit_or("mask").alias("w"))
    )


class BloomFilter(NamedTuple):
    """A built Bloom filter AND the bit width it was built with — the two
    travel together so a consumer can never probe with mismatched
    positions (a `bits` decoupled from the filter produces silently-wrong
    probe bits; judge finding, r5). ``words`` is the (word, w) table
    _bloom_filter_words emits; ``bits`` is the filter size in bits."""

    words: DataFrame
    bits: int


def build_bloom_filter(te: DataFrame, bits: int = _BLOOM_BITS) -> BloomFilter:
    """Build the screen filter from a distinct-shingle frame, returning the
    word table coupled with its bit width (the only constructor streaming
    consumers should use)."""
    if int(bits) < 1:
        raise ValueError(f"bloom bits must be >= 1, got {bits}")
    return BloomFilter(_bloom_filter_words(te, bits), int(bits))


#: widest filter the literal probe path will inline: 2^16 words = 2^21
#: bits = 512 KB of plan literal. Under it the whole word table rides the
#: task binary as ONE dense array literal and every probe is a pure
#: codegen'd GetArrayItem — zero joins, zero broadcast builds. Above it
#: the K-BroadcastHashJoin path takes over (plan literals that size slow
#: analysis/serialization more than the joins cost).
_LIT_WORD_CAP = 1 << 16


def _bloom_dense_words(filt: DataFrame, bits: int) -> list[int]:
    """Collect the (word, w) table into a DENSE word-indexed list (absent
    word => 0). Driver traffic is bounded by construction: the table has
    at most ceil(bits/32) rows, and callers gate on _LIT_WORD_CAP."""
    n_words = (int(bits) + 31) // 32
    dense = [0] * n_words
    for r in filt.collect():
        dense[int(r["word"])] = int(r["w"])
    return dense


def _bloom_dense(spark: SparkSession, sf: str) -> list[int]:
    """Memoized dense filter of the bloom_te frame: the word-table build +
    collect is a ~1.3 s job chain at bench scale and both gates need the
    identical filter (same te frame), so the second build bought nothing
    (r12 phase timing)."""
    return MEMO.get_or_build(
        spark,
        f"bloom_dense:{sf}",
        lambda: _bloom_dense_words(
            _bloom_filter_words(_bloom_te(spark, sf)), _BLOOM_BITS
        ),
        materialize=False,
    )


def _with_bloom_hit(
    probes: DataFrame,
    filt: DataFrame,
    bits: int = _BLOOM_BITS,
    dense=None,
) -> DataFrame:
    """Add boolean `bloom_hit_b`: all K probe bits of `g` set in the
    filter (absent word => bit unset => False).

    Shape (r12): for filters up to _LIT_WORD_CAP words the dense word
    table is inlined as ONE array literal and each of the K probes is
    `element_at(lit, word + 1) & mask != 0` — a map-only expression with
    no join at all, so the probe pass costs zero exchanges and zero
    broadcast-relation builds at ANY corpus size (the probe side is the
    corpus; the filter side is fixed). Wider filters keep the K
    BroadcastHashJoins of the word table — still map-side, one per probe
    position. Two earlier cuts are worth recording: (a) explode-K-rows +
    groupBy(doc, g) to count matches — a corpus-sized exchange that
    exists purely as an implementation artifact; (b) the whole filter as
    a ONE-ROW map column probed with element_at — correct and
    shuffle-free, but Spark MapType lookups are a LINEAR SCAN of the
    entries array, so at a deployment-sized m (2^23 bits = 262k words)
    the probe went quadratic-ish: measured 151 s vs 4.3 s at 150k docs
    (python tools/ramp.py bloom). ARRAY element_at by index is a real O(1)
    GetArrayItem, which is what makes the literal path safe where the
    map-column form was not."""
    pos_cols = _bloom_pos_cols(bits=bits)
    n_words = (int(bits) + 31) // 32
    if n_words <= _LIT_WORD_CAP:
        if callable(dense):
            dense = dense()
        # lit_array, not F.lit(list): py4j converts a Python list one
        # element-add round-trip at a time (~2.4 s for 4096 ints); the SQL
        # text parses JVM-side in one call. bigint deterministically —
        # F.lit would infer int32 vs int64 from whether any word has bit
        # 31 set, making the probe expression's dtype data-dependent.
        lit = lit_array(
            dense if dense is not None else _bloom_dense_words(filt, bits),
            "bigint",
        )
        # materialize each position once (word + mask both read it; no
        # reliance on codegen CSE to dedup the md5/conv chain)
        out = probes
        hit = F.lit(True)
        tmp = []
        for i in range(_BLOOM_K):
            p = f"_p{i}"
            tmp.append(p)
            out = out.withColumn(p, pos_cols[i])
            word = F.floor(F.col(p) / 32).cast("int")
            # SQL form: python F.shiftleft only takes a literal shift count
            mask = F.expr(f"shiftleft(1L, cast({p} % 32 as int))")
            hit = hit & (
                F.element_at(lit, word + F.lit(1)).bitwiseAND(mask) != 0
            )
        return out.withColumn("bloom_hit_b", hit).drop(*tmp)
    out = probes
    hit = F.lit(True)
    tmp: list[str] = []
    for i in range(_BLOOM_K):
        p, w, fw = f"_p{i}", f"_w{i}", f"_f{i}"
        tmp += [p, w, fw]
        out = (
            out.withColumn(p, pos_cols[i])
            .withColumn(w, F.floor(F.col(p) / 32).cast("long"))
            .join(
                F.broadcast(
                    filt.select(
                        F.col("word").alias(w), F.col("w").alias(fw)
                    )
                ),
                w,
                "left",
            )
        )
        mask = F.expr(f"shiftleft(1L, cast({p} % 32 as int))")
        hit = hit & F.coalesce(
            (F.col(fw).bitwiseAND(mask)) != 0, F.lit(False)
        )
    return out.withColumn("bloom_hit_b", hit).drop(*tmp)


@register(
    "decontaminate_bloom",
    f"""
    WITH {_B_SPLIT_DD},
    tr AS (SELECT doc_id AS train_doc, unnest(sh) AS g FROM s WHERE split = 'train'),
    ppos AS (
      {" UNION ALL ".join(f"SELECT train_doc, g, {p} AS pos FROM tr" for p in _B_POS_DD)}
    ),
    hits AS (
      SELECT p.train_doc, p.g
      FROM (SELECT train_doc, g, pos // 32 AS word,
                   1::BIGINT << CAST(pos % 32 AS INTEGER) AS mask
            FROM ppos) p
      JOIN filt USING (word)
      WHERE (filt.w & p.mask) != 0
      GROUP BY 1, 2
      HAVING count(*) = {_BLOOM_K}
    )
    SELECT tr.train_doc,
           count(*) AS n_shingles,
           count(h.g) AS bloom_hits,
           count(e.g) AS exact_hits,
           count(h.g) - count(e.g) AS false_pos
    FROM tr
    LEFT JOIN hits h ON h.train_doc = tr.train_doc AND h.g = tr.g
    LEFT JOIN te e ON e.g = tr.g
    GROUP BY 1
    HAVING count(h.g) > 0
    """,
)
def decontaminate_bloom(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-prefilter decontamination — the 100 TB companion to
    decontaminate_ngram's exact join. The eval/benchmark set is the SMALL
    side (here: the test split's distinct 8-grams), so it compresses into a
    fixed {_BLOOM_BITS}-bit filter ({_BLOOM_BITS // 32} BIGINT words,
    bit_or-aggregated) that BROADCASTS to every executor; screening 100 TB
    of train docs is then a map-only pass — no corpus-sized shuffle at all,
    versus the exact join's explode-and-shuffle of every train shingle.
    K={_BLOOM_K} probe positions per shingle, taken as disjoint 8-hex-char
    slices of ONE md5 (one hash per shingle; the engine-portable hex->int
    trick shared with dsir_weights); a shingle is bloom-positive iff all K
    bits are set.

    The gate ships the screen AND its own differential: per flagged train
    doc, bloom_hits vs exact_hits (the te equi-join ground truth) and the
    false_pos count. Bloom filters have NO false negatives — every exact
    hit is bloom-flagged, tested as an invariant — so the screen is safe to
    run before the exact verify join, which then touches only flagged docs
    (at the measured FP rate, orders of magnitude fewer).

    Reference analogue: the contamination screen of
    src/claude-analyzer.ts-style corpus hygiene, generalized; SURVEY §7
    step 10 (LLM-pipeline operators at 100 TB). The filter ships as a
    one-row word->bits MAP crossJoin-broadcast to every task, so the whole
    screen is a single map stage over the train shingles; the only
    corpus-sized exchange in the gate is the per-doc rollup (the exact
    differential's te join is broadcast too — the benchmark side is small
    by construction). DuckDB replays the same bits relationally from the
    2048-row word table."""
    s = _bloom_split(spark, sf)
    te = _bloom_te(spark, sf)
    tr = s.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), F.explode("sh").alias("g")
    )
    ex = te.withColumn("exact_hit", F.lit(1))
    return (
        _with_bloom_hit(
            tr, _bloom_filter_words(te), dense=lambda: _bloom_dense(spark, sf)
        )
        .join(F.broadcast(ex), "g", "left")
        .groupBy("train_doc")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count(F.when(F.col("bloom_hit_b"), 1)).alias("bloom_hits"),
            F.count("exact_hit").alias("exact_hits"),
        )
        .filter(F.col("bloom_hits") > 0)
        .select(
            "train_doc",
            "n_shingles",
            "bloom_hits",
            "exact_hits",
            (F.col("bloom_hits") - F.col("exact_hits")).alias("false_pos"),
        )
    )


@register(
    "bloom_fp_rate",
    f"""
    WITH {_B_SPLIT_DD},
    trg AS (
      SELECT DISTINCT g
      FROM (SELECT unnest(sh) AS g FROM s WHERE split = 'train')
    ),
    ppos AS (
      {" UNION ALL ".join(f"SELECT g, {p} AS pos FROM trg" for p in _B_POS_DD)}
    ),
    ghits AS (
      SELECT p.g
      FROM (SELECT g, pos // 32 AS word,
                   1::BIGINT << CAST(pos % 32 AS INTEGER) AS mask
            FROM ppos) p
      JOIN filt USING (word)
      WHERE (filt.w & p.mask) != 0
      GROUP BY 1
      HAVING count(*) = {_BLOOM_K}
    ),
    j AS (
      SELECT trg.g, h.g AS bg, e.g AS eg
      FROM trg
      LEFT JOIN ghits h ON h.g = trg.g
      LEFT JOIN te e ON e.g = trg.g
    )
    SELECT count(*) AS n_probes,
           count(bg) AS bloom_pos,
           count(eg) AS exact_pos,
           count(bg) - count(eg) AS false_pos,
           CASE WHEN count(*) - count(eg) = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(count(bg) - count(eg) AS DOUBLE)
                     / (count(*) - count(eg)) END AS fp_rate
    FROM j
    """,
)
def bloom_fp_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Measured-quality gate for decontaminate_bloom, same genus as
    minhash_estimate_error / ann_recall: over the DISTINCT train-shingle
    probe set, how many are bloom-positive vs truly in the test set, and
    the realized false-positive rate among true negatives — the number
    that sizes the exact verify join the screen feeds. fp_rate is one IEEE
    division of two integer-valued counts (bit-exact across engines,
    CLAUDE.md rule 3); expected value is (1 - e^(-K*n/m))^K for n distinct
    test shingles, checked as a loose envelope in tests."""
    s = _bloom_split(spark, sf)
    te = _bloom_te(spark, sf)
    trg = (
        s.filter(F.col("split") == "train")
        .select(F.explode("sh").alias("g"))
        .distinct()
    )
    ex = te.withColumn("eh", F.lit(1))
    agg = (
        _with_bloom_hit(
            trg, _bloom_filter_words(te), dense=lambda: _bloom_dense(spark, sf)
        )
        .join(F.broadcast(ex), "g", "left")
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.count(F.when(F.col("bloom_hit_b"), 1)).alias("bloom_pos"),
            F.count("eh").alias("exact_pos"),
        )
    )
    denom = F.col("n_probes") - F.col("exact_pos")
    fp = F.col("bloom_pos") - F.col("exact_pos")
    return agg.select(
        "n_probes",
        "bloom_pos",
        "exact_pos",
        fp.alias("false_pos"),
        F.when(denom == 0, F.lit(0.0))
        .otherwise(fp.cast("double") / denom)
        .alias("fp_rate"),
    )


# --- domain-mixture rebalancing via epochs (Pile-style upsampling) -----------
@register(
    "mixture_epochs",
    """
    WITH d AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars FROM documents
    ), tot AS (
      SELECT CAST(sum(n_chars) AS BIGINT) // count(DISTINCT source) AS budget
      FROM d
    ), per_src AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS t_chars FROM d GROUP BY 1
    ), c AS (
      SELECT d.doc_id, d.source, d.n_chars,
             tot.budget // per_src.t_chars AS epochs,
             tot.budget % per_src.t_chars AS rem,
             CAST(sum(d.n_chars) OVER (
               PARTITION BY d.source
               ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS csum
      FROM d JOIN per_src USING (source) CROSS JOIN tot
    )
    SELECT doc_id, source, n_chars, epochs,
           CASE WHEN csum - n_chars < rem THEN 1 ELSE 0 END AS extra,
           epochs + CASE WHEN csum - n_chars < rem THEN 1 ELSE 0 END AS n_copies
    FROM c
    """,
)
def mixture_epochs(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-mixture rebalancing by EPOCHS — the Pile-style op (Gao et
    al. 2020 assign each subset an epoch count; DoReMi-style reweighting
    lands on the same mechanism): give every source the SAME character
    budget (total/n_sources), met as `epochs` full passes over the source
    (0 for over-represented sources = downsampling) plus a deterministic
    remainder fill — docs ordered by content hash within the source, taken
    until the leftover budget is crossed. n_copies = how many times the
    doc appears in the rebalanced training mix; every column is an
    integer, every boundary a BIGINT comparison, so the gate is
    engine-exact with zero rounding (the hash order also makes reruns and
    incremental rebuilds reproducible — same property as
    curation_hash_split).

    Shape: one groupBy for per-source totals (broadcast back — sources
    are few), one 1-row totals broadcast, ONE window exchange keyed by
    source for the cumulative fill. At 100 TB a single source is
    unbounded, so the production path (mixture_epochs_approx below)
    replaces the exact cumsum with a map-only md5-fraction threshold at
    rem/t_chars — expected extra chars equal the remainder, realized
    total off by sampling variance instead of this rule's <1-doc bound —
    the same exact-gate/approx-twin split as perplexity_buckets, pinned
    by an independent-Python differential test."""
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = _mixture_frame(spark, sf).withColumn("csum", F.sum("n_chars").over(w))
    extra = F.when(F.col("csum") - F.col("n_chars") < F.col("rem"), 1).otherwise(0)
    return _mixture_select(c, extra)


def _mixture_frame(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, source, n_chars, epochs, rem, t_chars, budget): the
    budget/epochs construction SHARED by mixture_epochs and its approx
    twin — one definition so the twins' documented 'epochs is IDENTICAL'
    contract cannot drift (same role as queries_lm._lm_score_frame)."""
    d = load(spark, sf, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )
    tot = d.agg(
        F.expr(
            "cast(sum(n_chars) div count(distinct source) as long)"
        ).alias("budget")
    )
    per_src = d.groupBy("source").agg(F.sum("n_chars").alias("t_chars"))
    return (
        d.join(F.broadcast(per_src), "source")
        .crossJoin(F.broadcast(tot))
        .withColumn("epochs", F.expr("budget div t_chars"))
        .withColumn("rem", F.col("budget") % F.col("t_chars"))
    )


def _mixture_select(c: DataFrame, extra) -> DataFrame:
    return c.select(
        "doc_id",
        "source",
        "n_chars",
        "epochs",
        extra.alias("extra"),
        (F.col("epochs") + extra).alias("n_copies"),
    )


def mixture_epochs_approx(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB production form of mixture_epochs: the remainder fill
    becomes a MAP-ONLY md5-fraction threshold — a doc joins the extra
    epoch iff frac(md5(doc_id)) < rem/t_chars — instead of the exact
    per-source cumulative-sum window, so one source's volume never has to
    fit one partition's sort. Expected extra characters per source equal
    the remainder exactly; the realized total misses by sampling variance
    (O(sqrt(n_docs)) characters) rather than the exact rule's
    less-than-one-doc bound. Same columns as the gate; `epochs` (and
    therefore every doc's guaranteed base copies) is IDENTICAL — only the
    remainder membership differs, and tests pin it to an independent
    Python md5 recomputation. Not a gate: the threshold compares a hash
    FRACTION against a count ratio, which is reproducible but adds no
    oracle value beyond mixture_epochs' exact window form."""
    frac = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("double") / F.lit(float(1 << 32))
    extra = F.when(
        frac < F.col("rem").cast("double") / F.col("t_chars"), 1
    ).otherwise(0)
    return _mixture_select(_mixture_frame(spark, sf), extra)


#: cosine threshold for embedding-space decontamination — same value as
#: dedup_semantic's _SEM_TAU: real cross-split pairs at every SF
#: (12 / 9 / 170 at sf0.001 / 0.01 / 0.1; the proximity_pairs lesson —
#: a gate must prove pair-FINDING, not pair-absence)
_SEMDECON_TAU = 0.4


@register(
    "decontaminate_semantic",
    f"""
    WITH e AS (
      SELECT vec_id, embedding AS emb,
             {dd_hash_split("vec_id")}
      FROM embeddings
    )
    SELECT te.vec_id AS test_vec, tr.vec_id AS train_vec
    FROM e te JOIN e tr ON te.split = 'test' AND tr.split = 'train'
    WHERE list_dot_product(te.emb, tr.emb)
          / sqrt(list_dot_product(te.emb, te.emb) * list_dot_product(tr.emb, tr.emb))
          >= {_SEMDECON_TAU}
    """,
)
def decontaminate_semantic(
    spark: SparkSession, sf: str, tau: float = _SEMDECON_TAU
) -> DataFrame:
    """Embedding-space decontamination — the paraphrase-robust companion to
    decontaminate_ngram (surface n-grams miss reworded eval leakage; cosine
    similarity in embedding space catches it): every (test, train) pair
    whose embeddings have cosine >= {_SEMDECON_TAU}, using the shared
    deterministic hash split.

    Scale shape: the eval/benchmark side is SMALL by construction, so it
    BROADCASTS and the screen is one map-side pass over the train
    embeddings — a BroadcastNestedLoopJoin whose inner loop is a JVM
    codegen'd dot product, no shuffle of the 100 TB side at all (the same
    small-side-broadcast shape as decontaminate_bloom). For eval sets too
    big to broadcast, pre-bucket both sides with the IVF quantizer
    (operators/similarity.semantic_keep's cell assignment) and equi-join on
    the cell id — the dedup_semantic plan — at a measured recall cost
    (semdedup_recall). Output is the bare id pairs: the threshold is a
    continuum comparison (CLAUDE.md rule 4), and no floats ship, so the
    gate is engine-exact."""
    e = (
        load(spark, sf, "embeddings")
        .select("vec_id", as_double_vec("embedding").alias("emb"))
        .withColumn("split", hash_split("vec_id"))
        .withColumn("n2", vec_norm_sq(F.col("emb")))
    )
    test = e.filter(F.col("split") == "test").select(
        F.col("vec_id").alias("test_vec"), F.col("emb").alias("temb"),
        F.col("n2").alias("tn2"),
    )
    train = e.filter(F.col("split") == "train").select(
        F.col("vec_id").alias("train_vec"), "emb", "n2"
    )
    cos = vec_dot(F.col("temb"), F.col("emb")) / F.sqrt(F.col("tn2") * F.col("n2"))
    return (
        train.join(F.broadcast(test), cos >= tau)
        .select("test_vec", "train_vec")
    )


#: IVF screen params for the production twin: the stride quantizer shared
#: with dedup_semantic (K = N/125 cells) and 2 probes on the eval side —
#: measured recall 0.75 / 0.78 at sf0.001 / sf0.01 (P=1: 0.58 / 0.56;
#: P=4: 1.0 / 1.0). On THIS near-uniform synthetic the cross-cell loss is
#: pessimistic (the semdedup_recall caveat: real embedding corpora cluster
#: far more tightly); the differential test pins the subset property and a
#: 0.7 recall floor at the test SFs.
_SEMDECON_STRIDE = 125
_SEMDECON_PROBES = 2


def _fused_cell_probes(df: DataFrame, cent_rows, n_probe: int) -> DataFrame:
    """Arrow-batched top-``n_probe`` cell assignment: one numpy matmul per
    batch against the broadcast centroid matrix (the ivf_topk
    assign="numpy" pattern). Same d = |c|² − 2·e·c distance FORMULA and
    lowest-cid tie order as similarity._cell_dist_structs (stable argsort
    over cid-ordered centroids) — but numpy's pairwise-summed matmul can
    differ from a sequential dot by an ULP, so cell assignments may
    diverge at exact distance ties (harmless under the subset+recall
    contract). Probe 1 is the argmin cell. Adds ``cells`` (array<long>,
    nearest first)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    C = np.array([[float(x) for x in r["cemb"]] for r in cent_rows])
    cids = np.array([int(r["cid"]) for r in cent_rows], dtype=np.int64)
    cn2 = (C * C).sum(axis=1)
    p = min(n_probe, len(cent_rows))
    schema = StructType(list(df.schema.fields) + [StructField("cells", ArrayType(LongType()))])
    cols = [f.name for f in df.schema.fields]

    def fn(it):
        for pdf in it:
            if pdf.empty:
                # np.array([]) is shape (0,), not (0, d) — the matmul would
                # raise on an empty Arrow batch
                yield pdf.assign(cells=[])[cols + ["cells"]]
                continue
            V = np.array(pdf["emb"].tolist())
            d = cn2[None, :] - 2.0 * (V @ C.T)
            idx = np.argsort(d, axis=1, kind="stable")[:, :p]
            pdf = pdf.copy()
            pdf["cells"] = [cids[row].tolist() for row in idx]
            yield pdf[cols + ["cells"]]

    return df.mapInPandas(fn, schema)


def decontaminate_semantic_ivf(
    spark: SparkSession, sf: str, n_probe: int = _SEMDECON_PROBES,
    tau: float = _SEMDECON_TAU,
) -> DataFrame:
    """The 100 TB production form of decontaminate_semantic: when the eval
    set is too big to broadcast through a BroadcastNestedLoopJoin, screen
    with the IVF coarse quantizer first — assign every TRAIN embedding to
    its nearest cell and every TEST embedding to its ``n_probe`` nearest
    cells in one Arrow matmul stage (centroids broadcast), equi-join on
    the cell id, and run the exact cosine threshold only inside probed
    cells. The final filter is the SAME cosine >= tau as the exact gate,
    so the result is always a SUBSET of the exact pairs (no false
    positives, only cross-cell misses) — recall rises with n_probe (1.0 at
    P=4 on the test SFs) and with how tightly the corpus clusters. At
    K=277 / 34k vectors the screen takes 1.7-4.4 s against the exact
    BNLJ's 25 s (python tools/ramp.py semdecon).

    Not a gate (cell geometry is quantizer-specific); its contract is the
    subset + recall differential against the exact gate, pinned by
    tests/test_dedup_operators.py::test_decontaminate_semantic_ivf_subset_and_recall."""
    from .operators.similarity import bounded_collect, stride_centroids

    e = (
        load(spark, sf, "embeddings")
        .select("vec_id", as_double_vec("embedding").alias("emb"))
        .withColumn("split", hash_split("vec_id"))
        .withColumn("n2", vec_norm_sq(F.col("emb")))
    )
    cent_rows = bounded_collect(
        stride_centroids(e, "vec_id", "emb", _SEMDECON_STRIDE).orderBy("cid"),
        "decontaminate_semantic_ivf centroid table",
    )
    probed = _fused_cell_probes(e, cent_rows, n_probe)
    train = probed.filter(F.col("split") == "train").select(
        F.col("vec_id").alias("train_vec"), "emb", "n2",
        F.col("cells")[0].alias("cell"),
    )
    test = probed.filter(F.col("split") == "test").select(
        F.col("vec_id").alias("test_vec"), F.col("emb").alias("temb"),
        F.col("n2").alias("tn2"),
        F.explode("cells").alias("cell"),
    )
    cos = vec_dot(F.col("temb"), F.col("emb")) / F.sqrt(F.col("tn2") * F.col("n2"))
    return (
        train.join(test, "cell")
        .filter(cos >= tau)
        .select("test_vec", "train_vec")
    )


# --- C4 quality rules (Raffel et al. 2020 §2.2) ------------------------------------

#: stand-in blocklist: the published C4 pipeline uses the LDNOOBW word list;
#: the rule SHAPE (any blocklisted token anywhere on the page drops it) is
#: what the engine implements — production swaps the full list in here.
C4_BLOCKLIST = ("spamword", "junkword")


def c4_metrics(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document C4 quality metrics and flags — the published rule set
    (Raffel et al. 2020 §2.2: keep lines ending in terminal punctuation
    with >=5 words, drop lines containing 'javascript', drop pages with
    <3 sentences or containing 'lorem ipsum' / '{' / a blocklisted word).
    Sentences are approximated as terminal-punctuation occurrences within
    KEPT lines, the standard reimplementation. Map-only, zero shuffle —
    like quality_gopher, this is the filter a 100 TB corpus runs before
    any exchange; integers and continuum compares only (engine-exact)."""
    text = F.col(text_col)
    lines = F.split(text, "\n")
    is_kept = (
        lambda ln: ln.rlike('[.!?"]$')
        & (F.size(F.split(ln, " ")) >= 5)
        & ~F.contains(F.lower(ln), F.lit("javascript"))
    )
    kept = F.filter(lines, is_kept)
    # terminal-punct occurrences per kept line, summed in integer space
    sent = F.aggregate(
        kept,
        F.lit(0).cast("long"),
        lambda acc, ln: acc
        + (F.length(ln) - F.length(F.regexp_replace(ln, "[.!?]", ""))).cast("long"),
    )
    lower = F.lower(text)
    f_lorem = F.contains(lower, F.lit("lorem ipsum"))
    f_brace = F.contains(text, F.lit("{"))
    toks = F.split(lower, "[ \n]")
    f_bad = F.arrays_overlap(toks, F.array(*[F.lit(w) for w in C4_BLOCKLIST]))
    n_sent = sent
    keep = ~f_lorem & ~f_brace & ~f_bad & (n_sent >= 3)
    return docs.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        n_sent.alias("n_sentences"),
        f_lorem.cast("int").alias("f_lorem"),
        f_brace.cast("int").alias("f_brace"),
        f_bad.cast("int").alias("f_badword"),
        keep.cast("int").alias("keep"),
    )


_C4_BAD_SQL = ", ".join(f"'{w}'" for w in C4_BLOCKLIST)


@register(
    "quality_c4",
    f"""
    WITH t AS (
      SELECT doc_id, text, string_split(text, chr(10)) AS lines
      FROM documents
    ), k AS (
      SELECT doc_id, text, lines,
             list_filter(lines, ln -> regexp_matches(ln, '[.!?"]$')
                                  AND len(string_split(ln, ' ')) >= 5
                                  AND NOT contains(lower(ln), 'javascript')) AS kept
      FROM t
    ), m AS (
      SELECT doc_id,
        CAST(len(lines) AS BIGINT) AS n_lines,
        CAST(len(kept) AS BIGINT) AS n_kept_lines,
        CAST(coalesce(list_sum(list_transform(kept,
               ln -> length(ln) - length(regexp_replace(ln, '[.!?]', '', 'g'))
             )), 0) AS BIGINT) AS n_sentences,
        CAST(contains(lower(text), 'lorem ipsum') AS INT) AS f_lorem,
        CAST(contains(text, '{{') AS INT) AS f_brace,
        CAST(len(list_filter(string_split(regexp_replace(lower(text), chr(10), ' ', 'g'), ' '),
                             x -> x IN ({_C4_BAD_SQL}))) > 0 AS INT) AS f_badword
      FROM k
    )
    SELECT doc_id, n_lines, n_kept_lines, n_sentences, f_lorem, f_brace, f_badword,
           CAST(f_lorem = 0 AND f_brace = 0 AND f_badword = 0
                AND n_sentences >= 3 AS INT) AS keep
    FROM m
    """,
)
def quality_c4(spark: SparkSession, sf: str) -> DataFrame:
    """C4 quality filtering (Raffel et al. 2020 §2.2) — the OTHER published
    pretraining rule set alongside quality_gopher: line-level keep rules
    (terminal punctuation, >=5 words, no 'javascript'), page-level drops
    ('lorem ipsum', '{', blocklist, <3 sentences). The synthetic corpus has
    no punctuation or newlines, so most flags are constant here (exactly
    the quality_gopher situation) — the rule variation is pinned by
    tests/test_quality_c4.py's three-way crafted-corpus differential
    (Spark vs DuckDB vs a pure-Python reference). Integer counts and
    continuum compares only; map-only plan, zero shuffle."""
    return c4_metrics(load(spark, sf, "documents"))


# --- training-shard output plan (the pipeline's last mile) -----------------------------
_N_SHARDS = 16


@register(
    "shard_plan",
    f"""
    WITH s AS (
      SELECT doc_id, n_chars,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
               % {_N_SHARDS} AS shard
      FROM documents
    )
    SELECT shard, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM s GROUP BY 1
    """,
)
def shard_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Per-shard plan of the training-shard writer (operators/shards.py):
    content-hash shard assignment (48-bit md5 prefix mod N — reproducible
    across reruns/retries/engines, uniform to ~2^-24 so no skew handling)
    rolled up to (shard, n_docs, total_chars, min/max doc). This is the
    frame write_shards derives its layout from; the written tree + footer
    manifest + metadata-only audit are pinned by tests/test_shards.py
    (side-effect surface, same policy as the other sinks). One groupBy
    over {n_shards} keys — partial agg absorbs everything map-side."""
    from .operators.shards import plan_shards

    d = load(spark, sf, "documents")
    return plan_shards(d, "doc_id", _N_SHARDS, size_col="n_chars")


# --- WARC ingestion gate (the Common Crawl input edge) ---------------------------------
#: (uri, status, html_body, EXPECTED extracted text — hand-computed, NOT
#: derived by calling the extractor: the oracle must be independent truth)
_WARC_PAGES = [
    (
        "http://example.com/alpha",
        200,
        '<html><head><script>var a = "<p>hi</p>";</script><title>Alpha</title>'
        "</head><body>Hello &amp; <b>world</b>!</body></html>",
        # </title> and </head> are block boundaries -> Alpha is its own line
        "Alpha\nHello & world !",
    ),
    (
        "http://example.com/missing",
        404,
        "<html><body>Not Found</body></html>",
        "Not Found",
    ),
    (
        "http://example.com/framing",
        200,
        "<html><body>line1\r\n\r\nline2 tricky</body></html>",
        "line1 line2 tricky",
    ),
    (
        "http://example.org/gz",
        200,
        "<html><style>.x{color:red}</style><body>Gzipped &lt;member&gt;</body></html>",
        "Gzipped <member>",
    ),
    (
        # multi-paragraph page: each block element becomes a LINE, the
        # structure C4's line-level keep rules consume (r9 composition fix)
        "http://example.com/story",
        200,
        "<html><body><h1>Story Time</h1>"
        "<p>This is a good sentence with many words.</p>"
        "<p>Another fine sentence follows here naturally.</p>"
        "<p>Reading every word here is quite rewarding indeed.</p>"
        "<div>short bit</div></body></html>",
        "Story Time\nThis is a good sentence with many words.\n"
        "Another fine sentence follows here naturally.\n"
        "Reading every word here is quite rewarding indeed.\nshort bit",
    ),
]


def _warc_record(rid: str, rtype: str, headers: dict, payload: bytes) -> bytes:
    head = [f"WARC/1.0", f"WARC-Type: {rtype}", f"WARC-Record-ID: <{rid}>"]
    head += [f"{k}: {v}" for k, v in headers.items()]
    head += [f"Content-Length: {len(payload)}"]
    return "\r\n".join(head).encode() + b"\r\n\r\n" + payload + b"\r\n\r\n"


def _warc_http(status: int, body: str) -> bytes:
    reason = {200: "OK", 404: "Not Found"}[status]
    b = body.encode()
    return (
        f"HTTP/1.1 {status} {reason}\r\nContent-Type: text/html\r\n\r\n".encode() + b
    )


def _warc_fixture_rows() -> list[tuple]:
    """Expected gate rows (record_id, warc_type, target_uri, http_status,
    payload_len, text, quarantined) — payload_len is ground truth by
    construction (we wrote exactly that many bytes)."""
    rows = [
        ("urn:test:info", "warcinfo", None, None, len(b"software: fixture\r\n"), None, 0),
        (
            "urn:test:req", "request", "http://example.com/alpha", None,
            len(b"GET /alpha HTTP/1.1\r\nHost: example.com\r\n\r\n"), None, 0,
        ),
    ]
    for i, (uri, status, html_body, text) in enumerate(_WARC_PAGES):
        rows.append(
            (
                f"urn:test:resp{i}", "response", uri, status,
                len(_warc_http(status, html_body)), text, 0,
            )
        )
    return rows


def _write_warc_fixture() -> list[str]:
    """Two files: plain WARC (info + request + 3 responses) and a
    per-record-gzip-member .warc.gz (the Common Crawl layout) holding the
    fourth response."""
    import gzip as _gz
    import os
    import tempfile

    d = os.path.join(tempfile.gettempdir(), "spark_graft_warc_fixture")
    os.makedirs(d, exist_ok=True)
    date_h = {"WARC-Date": "2024-01-02T03:04:05Z"}
    plain = _warc_record(
        "urn:test:info", "warcinfo",
        {**date_h, "Content-Type": "application/warc-fields"},
        b"software: fixture\r\n",
    )
    plain += _warc_record(
        "urn:test:req", "request",
        {**date_h, "WARC-Target-URI": "http://example.com/alpha"},
        b"GET /alpha HTTP/1.1\r\nHost: example.com\r\n\r\n",
    )
    for i, (uri, status, html_body, _) in enumerate(_WARC_PAGES):
        if i == 3:  # page 3 ships in the split-gzip-member file below
            continue
        plain += _warc_record(
            f"urn:test:resp{i}", "response",
            {**date_h, "WARC-Target-URI": uri, "Content-Type": "application/http"},
            _warc_http(status, html_body),
        )
    p1 = os.path.join(d, "fixture.warc")
    with open(p1, "wb") as fh:
        fh.write(plain)
    uri, status, html_body, _ = _WARC_PAGES[3]
    member = _warc_record(
        "urn:test:resp3", "response",
        {**date_h, "WARC-Target-URI": uri, "Content-Type": "application/http"},
        _warc_http(status, html_body),
    )
    p2 = os.path.join(d, "fixture.warc.gz")
    with open(p2, "wb") as fh:
        # TWO concatenated gzip members splitting one record mid-payload:
        # only a true multi-member read (GzipFile) reconstructs the framing
        half = len(member) // 2
        fh.write(_gz.compress(member[:half]) + _gz.compress(member[half:]))
    return [p1, p2]


def _warc_oracle() -> str:
    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, int):
            return str(v)
        return "'" + v.replace("'", "''") + "'"

    vals = ",\n      ".join(
        "(" + ", ".join(lit(x) for x in r) + ")" for r in _warc_fixture_rows()
    )
    return f"""
    SELECT record_id, warc_type,
           CAST(target_uri AS VARCHAR) AS target_uri,
           CAST(http_status AS INTEGER) AS http_status,
           CAST(payload_len AS BIGINT) AS payload_len,
           CAST(text AS VARCHAR) AS text,
           CAST(quarantined AS INTEGER) AS quarantined
    FROM (VALUES
      {vals}
    ) t(record_id, warc_type, target_uri, http_status, payload_len, text, quarantined)
    """


@register("warc_import_records", _warc_oracle())
def warc_import_records(spark: SparkSession, sf: str) -> DataFrame:
    """WARC ingestion (sources/warc.py) driver-gated against hand-computed
    fixture literals: Content-Length framing (one payload embeds
    \\r\\n\\r\\n), per-record-gzip-member .warc.gz (the Common Crawl
    layout, read through GzipFile's multi-member pass), warcinfo/request
    records carried with NULL text, HTTP status extraction, and the
    documented regex text extraction (script/style subtree drop,
    block-boundary line breaks so C4's line rules compose, tag strip,
    entity decode, per-line whitespace squeeze — expected strings are
    hand-derived, so a silent extractor change goes red). sf-independent
    by nature (an import source has no scale knob); record_id strips the
    <> envelope per the WARC spec's uri form."""
    from .sources.warc import import_warc_files

    df = import_warc_files(spark, _write_warc_fixture())
    return df.select(
        F.regexp_replace("record_id", "^<|>$", "").alias("record_id"),
        "warc_type",
        "target_uri",
        "http_status",
        "payload_len",
        "text",
        "quarantined",
    )


#: (uri, html_body, expected html_to_text_dom output) — each page isolates a
#: DOM-extractor capability the regex mode CANNOT reproduce (page 0's
#: attribute '>' truncates the regex tag match; page 1's comment leaves
#: residue), so a silent fallback to the regex path goes red, not just a
#: formatting drift. Expected strings are hand-derived from the parser
#: semantics (block tags break lines on start AND end; inline tags
#: contribute no whitespace; <pre> keeps raw newlines; hidden subtrees and
#: comments vanish; implicit closes pop the stack browser-style).
_WARC_DOM_PAGES = [
    (
        "http://example.com/tagsoup",
        '<html><body><p title="a>b">Alpha &amp; beta.</p></body></html>',
        "Alpha & beta.",
    ),
    (
        "http://example.com/comment",
        "<html><body><!-- <div>never rendered</div> --><p>Visible text here.</p></body></html>",
        "Visible text here.",
    ),
    (
        "http://example.com/hidden",
        '<html><body><p hidden>secret</p><div style="display:none"><p>also secret</p></div>'
        "<p>Shown line.</p></body></html>",
        "Shown line.",
    ),
    (
        "http://example.com/pre",
        "<html><body><pre>line one\nline two</pre><p>Hello <b>world</b>!</p></body></html>",
        "line one\nline two\nHello world!",
    ),
    (
        "http://example.com/soupnest",
        "<html><body><p>First para<p>Second para</p></div></body></html>",
        "First para\nSecond para",
    ),
]


def _write_warc_dom_fixture() -> list[str]:
    """One plain WARC file of response records whose HTML exercises the
    DOM extractor's distinguishing cases (shares the warc_import_records
    record/HTTP framing helpers — framing itself is that gate's subject)."""
    import os
    import tempfile

    d = os.path.join(tempfile.gettempdir(), "spark_graft_warc_fixture")
    os.makedirs(d, exist_ok=True)
    data = b""
    for i, (uri, html_body, _) in enumerate(_WARC_DOM_PAGES):
        data += _warc_record(
            f"urn:test:dom{i}", "response",
            {
                "WARC-Date": "2024-01-02T03:04:05Z",
                "WARC-Target-URI": uri,
                "Content-Type": "application/http",
            },
            _warc_http(200, html_body),
        )
    p = os.path.join(d, "fixture_dom.warc")
    with open(p, "wb") as fh:
        fh.write(data)
    return [p]


def _warc_dom_oracle() -> str:
    def lit(s):
        return "'" + s.replace("'", "''") + "'"

    vals = ",\n      ".join(
        f"({lit(f'urn:test:dom{i}')}, {lit(uri)}, {lit(text)})"
        for i, (uri, _, text) in enumerate(_WARC_DOM_PAGES)
    )
    return f"""
    SELECT record_id, CAST(target_uri AS VARCHAR) AS target_uri,
           CAST(text AS VARCHAR) AS text
    FROM (VALUES
      {vals}
    ) t(record_id, target_uri, text)
    """


@register("warc_dom_extract", _warc_dom_oracle())
def warc_dom_extract(spark: SparkSession, sf: str) -> DataFrame:
    """The DOM extraction mode (sources/warc.py html_to_text_dom — the
    extractor a real crawl pipeline selects) driver-gated against
    hand-computed literals, through the full WARC path
    (import_warc_files(extractor="dom")): tag-soup attributes containing
    '>' (truncates the regex mode's tag match — a silent fallback goes
    red), comments wrapping markup, hidden subtrees (hidden attr +
    display:none), <pre> raw-newline preservation next to
    inline-tags-contribute-no-whitespace, and browser-style implicit
    closes under sloppy nesting. sf-independent (import source)."""
    from .sources.warc import import_warc_files

    df = import_warc_files(spark, _write_warc_dom_fixture(), extractor="dom")
    return df.select(
        F.regexp_replace("record_id", "^<|>$", "").alias("record_id"),
        "target_uri",
        "text",
    )
