"""Measured ramp: decontaminate_bloom (broadcast-bitset screen, map-only
probe) vs decontaminate_ngram (exact shuffle join) as the corpus grows.

Replicates sf0.1's documents with distinct doc_ids and a per-replica seam
phrase (so each replica contributes some new distinct shingles, the way a
real corpus grows a long vocabulary tail), writes a ramp dir shaped like an
sf dir, and times both gates end-to-end cold. The bloom side's only
corpus-sized exchange is the per-doc rollup; the exact join shuffles every
train shingle — the gap should widen with N.

Run: python tools/ramp.py bloom  (~2-4 min; prints one table)
"""

import math
import os
import shutil
import tempfile
from contextlib import contextmanager
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from signalk_parquet_spark import queries_curation as qc
from signalk_parquet_spark import registry
from signalk_parquet_spark.memo import MEMO
from tools.ramps import Ramp

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def gate(name: str):
    return registry.queries()[name]


def build(spark, n_rep: int, out_dir: str) -> int:
    d = registry.load(spark, SRC, "documents")
    big = reduce(DataFrame.unionByName, [
        d.select(
            (F.col("doc_id") + r * 10_000_000).alias("doc_id"),
            F.concat("text", F.lit(
                f" ramp{r} corpus seam alpha{r} beta{r} gamma{r} "
                f"delta{r} epsilon{r} zeta{r} eta{r} theta{r}")).alias("text"),
            "lang", "source", "n_chars")
        for r in range(n_rep)
    ])
    big.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")
    # count the WRITTEN files (parquet footers) — big.count() would
    # re-execute the whole n_rep-way union a second time
    return spark.read.parquet(f"{out_dir}/documents.parquet").count()


@contextmanager
def ramp_dir(spark, n_rep: int):
    tmp = tempfile.mkdtemp(prefix=f"bloomramp{n_rep}x_")
    try:
        yield tmp, build(spark, n_rep, tmp)
    finally:
        # every memo entry built over this corpus (the bloom gates'
        # split, test-shingle and dense-filter entries, and
        # decontaminate_ngram's shingle split), then the documents
        # frame load() persisted — all before deleting the files
        for tag in ("bloom_split", "bloom_te", "bloom_dense", "decon_ngram_split"):
            MEMO.evict(spark, f"{tag}:{tmp}")
        registry.evict_tables(spark, tmp)
        shutil.rmtree(tmp, ignore_errors=True)


def sized_filter(spark, tmp: str):
    """The deployment-sized variant: m ~ 16 bits per distinct test shingle
    (rounded up to a power of two), built from the same helpers the gate
    uses. Returns (test shingles, train shingles, filter words, bits)."""
    s = qc._bloom_split(spark, tmp)
    te = qc._bloom_test_shingles(s)
    bits = 1 << max(16, math.ceil(math.log2(16 * max(te.count(), 1))))
    tr = s.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), F.explode("sh").alias("g")
    )
    return te, tr, qc._bloom_filter_words(te, bits), bits


def sized_screen(spark, inp) -> dict:
    _, tr, filt, bits = sized_filter(spark, inp[0])
    flagged = (
        qc._with_bloom_hit(tr, filt, bits)
        .filter(F.col("bloom_hit_b"))
        .select("train_doc")
        .distinct()
        .count()
    )
    return {"bits": bits, "flagged": flagged}


def sized_fp(spark, tmp: str) -> float:
    """Probe-level fp of the sized filter over distinct train shingles."""
    te, tr, filt, bits = sized_filter(spark, tmp)
    ex = te.withColumn("eh", F.lit(1))
    row = (
        qc._with_bloom_hit(tr.select("g").distinct(), filt, bits)
        .join(F.broadcast(ex), "g", "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("bloom_hit_b"), 1)).alias("bp"),
            F.count("eh").alias("ep"),
        )
        .collect()[0]
    )
    return (row["bp"] - row["ep"]) / max(row["n"] - row["ep"], 1)


def no_false_negatives(spark, inp, results: dict) -> dict:
    """Every train doc the exact join pairs is flagged by the fixed screen."""
    tmp, docs = inp
    missed = (
        gate("decontaminate_ngram")(spark, tmp).select("train_doc").distinct()
        .join(gate("decontaminate_bloom")(spark, tmp), "train_doc", "left_anti")
        .count()
    )
    sized = results["sized"]
    return {"docs": docs,
            "fix_fp": gate("bloom_fp_rate")(spark, tmp).collect()[0]["fp_rate"],
            "sized_m": sized["bits"], "sized_fp": sized_fp(spark, tmp),
            "flagged": sized["flagged"], "pairs": results["exact"],
            "missed": missed, "ok": missed == 0}


RAMPS = {
    "bloom": Ramp(
        sizes=(1, 8, 30),
        build=ramp_dir,
        variants={
            "fixed": lambda spark, inp: gate("decontaminate_bloom")(spark, inp[0]).count(),
            "sized": sized_screen,
            "exact": lambda spark, inp: gate("decontaminate_ngram")(spark, inp[0]).count(),
        },
        check=no_false_negatives,
    ),
}
