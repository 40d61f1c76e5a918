"""Measured ramp: BM25 retrieval — each scale claim isolated.

Two tables, because the operator makes two separable claims and an
end-to-end wall at local[32] with a handful of queries measures neither
(the scoring scan dominates and swings with host load — first lesson of
this ramp):

TABLE 1 — corpus side: postings-for-query-terms-only vs "build the full
index, then look up". Synthetic power-law corpus (term = floor(V·u³) on
a uniform per-position hash — head-heavy like real token streams); the
operator's posting build broadcast-joins the query terms BEFORE any
aggregate, the fullindex plan shoves the whole token stream through a
(doc, term) groupBy first. Both end at identical scores (same
arithmetic); the differential below pins the operator's picks against
the direct-window form.

TABLE 2 — top-k stage, on a PRE-PERSISTED scored frame with ONE hot key
(the decontamination shape: one eval query matching a huge corpus
slice): topk_per_key (row_number ≤ k, which Catalyst rewrites to
WindowGroupLimit Partial/Final — at most k rows per key per map task
ever shuffle) vs the SAME semantics with the rewrite defeated (rank via
sum(1) over a rows-unbounded-preceding frame — not rank-like, so the
full window runs and the hot key's whole volume funnels through one
task's sort). This table is why the first version of this operator —
a hand-built salted two-pass — was DELETED: it measured strictly slower
than the built-in rewrite (same bound, one extra exchange), so the
operator now pins the rewrite with a plan assertion instead of
re-implementing it.

Run: python tools/ramp.py retrieval_postings   # table 1
     python tools/ramp.py retrieval_topk       # table 2
"""

from pyspark.sql import Window
from pyspark.sql import functions as F

from signalk_parquet_spark.operators import retrieval
from tools.ramps import Ramp, persisted

VOCAB = 10_000
QUERIES = [
    ("q_hot", "t0"),        # the hottest term (power-law head)
    ("q_hot", "t7"),
    ("q_mid", "t311"),
    ("q_mid", "t1204"),
    ("q_rare", "t8117"),
    ("q_rare", "t9533"),
]


def corpus(spark, n: int):
    """n docs, 20-60 tokens each; term id = floor(V * u^3) over a uniform
    per-position hash — ~head-heavy like real token streams."""
    dl = (F.pmod(F.xxhash64("id"), F.lit(41)) + 20).cast("int")
    u = F.pmod(F.xxhash64("doc_id", "pos"), F.lit(1_000_000)).cast("double") / 1e6
    term = F.concat(F.lit("t"), F.floor(F.lit(float(VOCAB)) * u * u * u).cast("long"))
    return persisted(
        spark.range(n, numPartitions=32)
        .select(F.col("id").alias("doc_id"), F.explode(F.sequence(F.lit(1), dl)).alias("pos"))
        .select("doc_id", "pos", term.alias("term"))
        .groupBy("doc_id")
        .agg(F.concat_ws(" ", F.collect_list("term")).alias("text"))
    )


def queries(spark):
    return spark.createDataFrame(QUERIES, "query_id string, term string")


def computed(df):
    """``df`` persisted and counted: the variant's result, for the check."""
    df.persist().count()
    return df


def fullindex(spark, docs):
    """The whole token stream through a (doc, term) agg, then the same
    arithmetic and the direct-window top 20."""
    qdf, toks = queries(spark), F.split("text", " ")
    index = computed(  # the index build IS the cost being measured
        docs.select("doc_id", F.size(toks).cast("long").alias("dl"),
                    F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    post = index.join(F.broadcast(qdf.select("term").distinct()), "term")
    dfreq = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = docs.select(F.size(toks).cast("long").alias("dl")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("total"))
    scored = (
        post.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(qdf), "term")
        .crossJoin(F.broadcast(stats))
    )
    n_d, df_d = F.col("n").cast("double"), F.col("df").cast("double")
    tf_d, dl_d = F.col("tf").cast("double"), F.col("dl").cast("double")
    avgdl = F.col("total").cast("double") / n_d
    c = F.log(F.lit(1.0) + (n_d - df_d + F.lit(0.5)) / (df_d + F.lit(0.5))) * (
        (tf_d * F.lit(2.2))
        / (tf_d + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * (dl_d / avgdl)))
    )
    fi_scores = (
        scored.select("query_id", "doc_id", c.alias("c"))
        .groupBy("query_id", "doc_id").agg(F.sum("c").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    fi = computed(
        fi_scores.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 20)
        .select("query_id", "rank", "doc_id")
    )
    index.unpersist()
    return fi


def hot_key(spark, n: int):
    # key must be non-literal or Catalyst folds the whole window to
    # TakeOrderedAndProject (measured — an even stronger rewrite, but
    # not the multi-key shape being ramped)
    return persisted(spark.range(n, numPartitions=32).select(
        F.concat(F.lit("q"), (F.col("id") % 1).cast("string")).alias("key"),
        F.col("id"),
        F.pmod(F.xxhash64("id"), F.lit(1_000_000_000)).cast("double").alias("score"),
    ))


def order():
    return [F.col("score").desc(), F.col("id").asc()]


def grouplimit(spark, scored):
    lim = retrieval.topk_per_key(scored, "key", order(), 100)
    plan = lim._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, "rewrite did not fire"
    return computed(lim.select("key", "rank", "id"))


def unbounded(spark, scored):
    w = (Window.partitionBy("key").orderBy(*order())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return computed(
        scored.withColumn("rank", F.sum(F.lit(1)).over(w).cast("long"))
        .filter(F.col("rank") <= 100)
        .select("key", "rank", "id")
    )


def same_rows(spark, inp, results: dict) -> dict:
    a, b = results.values()
    mismatches = a.exceptAll(b).count() + b.exceptAll(a).count()
    a.unpersist(), b.unpersist()
    return {"mismatches": mismatches, "ok": mismatches == 0}


RAMPS = {
    "retrieval_postings": Ramp(
        sizes=(100_000, 400_000, 1_600_000),
        build=corpus,
        variants={
            "operator": lambda spark, docs: computed(retrieval.bm25_topk(
                docs, queries(spark), k=20).select("query_id", "rank", "doc_id")),
            "fullindex": fullindex,
        },
        check=same_rows,
    ),
    "retrieval_topk": Ramp(
        sizes=(2_000_000, 8_000_000, 32_000_000),
        build=hot_key,
        variants={"grouplimit": grouplimit, "unbounded": unbounded},
        check=same_rows,
    ),
}
