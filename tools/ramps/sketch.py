"""Measured ramp: Misra–Gries 2-pass exact frequent tokens vs the naive
full groupBy, as the VOCABULARY grows (the axis that actually costs).

The bench corpus's 31-token vocabulary is the degenerate case for the
naive plan — partial aggregation collapses everything map-side and the
exchange carries ~31 rows/partition. Real corpora have 10^6..10^9 distinct
tokens; then the groupBy exchange carries ~distinct-per-partition rows
and the reduce side builds a corpus-sized hash table. The MG pass exchanges
NOTHING (pass 1 is map-only; the driver collect is partitions × m rows)
and pass 2's exchange is ≤ m keys.

Corpus: executor-generated docs of 100 Zipf(1.3)-distributed tokens over a
V-token vocabulary (heavy head, so true heavy hitters exist at every V).
Per row we report both walls, the EXCHANGE-ROW proxies (distinct tokens vs
partitions × m + m), and a set-equality differential of the two outputs.

Honesty note: pass 1's token loop is Python (Arrow-batched); the naive
groupBy's map side is JVM codegen. On local[32] with zero network cost the
JVM constant can win on wall even while shuffling 10^6 rows — the claim
this ramp quantifies is the EXCHANGE-VOLUME asymmetry (what a 1000-executor
network pays), not a local-wall win. Read both columns.

Run: python tools/ramp.py sketch            (~2-4 min; one line per vocab)
     python tools/ramp.py sketch_tree_merge  # the forced tree-merge rung
     python tools/ramp.py sketch_groups      # per-language heavy hitters
"""

from contextlib import contextmanager

from pyspark.sql import functions as F

from signalk_parquet_spark.operators import sketch as sk
from tools.ramps import Ramp, persisted, same_results

N_DOCS = 40_000
TOK_PER_DOC = 100
M = 64
PARTS = 32
VOCAB = 100_000  # of the tree-merge and grouped ramps


def corpus(spark, vocab: int, n_groups: int = 0):
    """Executor-generated Zipf(1.3) corpus — deterministic per partition.
    With ``n_groups`` each doc is also tagged with a language; group sizes
    are made uneven (zipf over the group index) so per-group thresholds
    genuinely differ."""

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            texts, langs = [], []
            for pid in pdf["id"].tolist():
                rng = np.random.default_rng((5000 if n_groups else 1000) + pid)
                n = N_DOCS // PARTS
                draws = rng.zipf(1.3, size=(n, TOK_PER_DOC))
                draws = np.minimum(draws, vocab) - 1  # cap tail into the vocab
                texts.extend(" ".join(f"w{t}" for t in doc) for doc in draws)
                if n_groups:
                    gidx = np.minimum(rng.zipf(1.5, size=n), n_groups) - 1
                    langs.extend(f"g{g}" for g in gidx)
            yield pd.DataFrame({"lang": langs, "text": texts} if n_groups else {"text": texts})

    schema = "lang string, text string" if n_groups else "text string"
    return persisted(spark.range(PARTS).repartition(PARTS).mapInPandas(gen, schema))


def naive_exact(df, keys=()):
    """The full groupBy the sketch avoids, per ``keys`` group (or global)."""
    keys = list(keys)
    totals = df.groupBy(*keys).agg(
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("total"))
    counts = (df.select(*keys, F.explode(F.split("text", " ")).alias("token"))
              .groupBy(*keys, "token").agg(F.count(F.lit(1)).alias("cnt")))
    return (
        (counts.join(F.broadcast(totals), keys) if keys
         else counts.crossJoin(F.broadcast(totals)))
        .filter(F.col("cnt") * F.lit(M + 1) > F.col("total"))
        .select(*keys, "token", "cnt")
    )


def counts(frame, keys=()) -> dict:
    return {(*(r[k] for k in keys), r["token"]): r["cnt"] for r in frame.collect()}


def mg(spark, df) -> dict:
    return counts(sk.frequent_tokens_exact(df, "text", M))


def distinct_tokens(df, keys=()) -> int:
    return df.select(*keys, F.explode(F.split("text", " "))).distinct().count()


def forced_tree(spark, df) -> dict:
    """The tree-merge rung, forced on via a zero driver budget."""
    old, sk._DRIVER_MERGE_MAX_ROWS = sk._DRIVER_MERGE_MAX_ROWS, 0
    try:
        return mg(spark, df)
    finally:
        sk._DRIVER_MERGE_MAX_ROWS = old


@contextmanager
def repartitioned(spark, parts: int):
    with corpus(spark, VOCAB) as base:
        yield base.repartition(parts)


def driver_rows(spark, df, results: dict) -> dict:
    """Driver-collect rows: P*m direct vs sqrt(P)*m after the tree merge."""
    sketches = sk.partition_sketches(df, "text", M)
    groups = max(1, int(df.rdd.getNumPartitions() ** 0.5))
    return {**same_results(spark, df, results), "direct_rows": sketches.count(),
            "tree_rows": sk.tree_merge_sketches(sketches, M, groups).count()}


def grouped_mg(force_tree_merge: bool):
    return lambda spark, df: counts(sk.grouped_frequent_tokens_exact(
        df, "text", "lang", M, force_tree_merge=force_tree_merge), ("lang",))


RAMPS = {
    # exchange-row proxies: distinct tokens (what the naive groupBy
    # shuffles) vs partitions x m + m (the MG path)
    "sketch": Ramp(
        sizes=(1_000, 100_000, 2_000_000),
        build=corpus,
        variants={"naive": lambda spark, df: counts(naive_exact(df)), "mg": mg},
        check=lambda spark, df, r: {
            **same_results(spark, df, r), "xchg_naive": distinct_tokens(df),
            "xchg_mg": sk.partition_sketches(df, "text", M).count() + M},
    ),
    # The driver merge collects partitions x m sketch rows — the family's
    # only O(P) driver-side step. The rung (forced on) collapses to
    # sqrt(P) x m BEFORE the collect; the PODS'12 merge guarantee
    # composes, so the exact output is unchanged.
    "sketch_tree_merge": Ramp(
        sizes=(128, 512),
        build=repartitioned,
        variants={"direct": mg, "tree": forced_tree},
        check=driver_rows,
    ),
    # per-language heavy hitters vs the per-group shuffle; the sketch
    # path's only exchange (rung mode) is the sketch rows themselves
    "sketch_groups": Ramp(
        sizes=(4, 64, 512),
        build=lambda spark, n_groups: corpus(spark, VOCAB, n_groups),
        variants={
            "naive": lambda spark, df: counts(naive_exact(df, ("lang",)), ("lang",)),
            "mg": grouped_mg(False),
            "mg_tree": grouped_mg(True),
        },
        check=lambda spark, df, r: {
            **same_results(spark, df, r), "xchg_naive": distinct_tokens(df, ("lang",)),
            "xchg_mg": sk.grouped_partition_sketches(df, "text", "lang", M).count()},
    ),
}
