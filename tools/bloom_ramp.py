"""Measured ramp: decontaminate_bloom (broadcast-bitset screen, map-only
probe) vs decontaminate_ngram (exact shuffle join) as the corpus grows.

Replicates sf0.1's documents with distinct doc_ids and a per-replica seam
phrase (so each replica contributes some new distinct shingles, the way a
real corpus grows a long vocabulary tail), writes a ramp dir shaped like an
sf dir, and times both gates end-to-end cold. The bloom side's only
corpus-sized exchange is the per-doc rollup; the exact join shuffles every
train shingle — the gap should widen with N.

Run: python tools/bloom_ramp.py  (~2-4 min; prints one table)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from signalk_parquet_spark import queries_curation as qc  # noqa: E402
from signalk_parquet_spark import registry  # noqa: E402
from signalk_parquet_spark.memo import MEMO  # noqa: E402
from signalk_parquet_spark.session import get_spark  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def build(spark, n_rep: int, out_dir: str) -> int:
    d = registry.load(spark, SRC, "documents")
    parts = []
    for r in range(n_rep):
        parts.append(
            d.select(
                (F.col("doc_id") + r * 10_000_000).alias("doc_id"),
                F.concat(
                    "text",
                    F.lit(
                        f" ramp{r} corpus seam alpha{r} beta{r} gamma{r} "
                        f"delta{r} epsilon{r} zeta{r} eta{r} theta{r}"
                    ),
                ).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )
    # count the WRITTEN files (parquet footers) — big.count() would
    # re-execute the whole n_rep-way union a second time
    return spark.read.parquet(f"{out_dir}/documents.parquet").count()


def sized_screen(spark, tmp: str):
    """The deployment-sized variant: m ~ 16 bits per distinct test shingle
    (rounded up to a power of two), built from the same helpers the gate
    uses. Returns (bits, wall_s, flagged_docs, probe_fp_rate)."""
    import math

    s = qc._bloom_split(spark, tmp)
    te = qc._bloom_test_shingles(s)
    n_test = te.count()
    bits = 1 << max(16, math.ceil(math.log2(16 * max(n_test, 1))))
    t0 = time.time()
    filt = qc._bloom_filter_words(te, bits)
    tr = s.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), F.explode("sh").alias("g")
    )
    flagged = (
        qc._with_bloom_hit(tr, filt, bits)
        .filter(F.col("bloom_hit_b"))
        .select("train_doc")
        .distinct()
        .count()
    )
    wall = time.time() - t0
    # probe-level fp over distinct train shingles
    ex = te.withColumn("eh", F.lit(1))
    trg = tr.select("g").distinct()
    row = (
        qc._with_bloom_hit(trg, filt, bits)
        .join(F.broadcast(ex), "g", "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("bloom_hit_b"), 1)).alias("bp"),
            F.count("eh").alias("ep"),
        )
        .collect()[0]
    )
    fp = (row["bp"] - row["ep"]) / max(row["n"] - row["ep"], 1)
    return bits, wall, flagged, fp


def main() -> None:
    spark = get_spark("bloom-ramp")
    qs = registry.queries()
    print(f"src={SRC}")
    print(
        f"{'docs':>8} {'fix_s':>7} {'fix_fp':>8} {'sized_m':>9} "
        f"{'sized_s':>8} {'sized_fp':>9} {'flagged':>8} {'exact_s':>8} "
        f"{'pairs':>9}"
    )
    for n_rep in (1, 8, 30):
        tmp = tempfile.mkdtemp(prefix=f"bloomramp{n_rep}x_")
        try:
            n_docs = build(spark, n_rep, tmp)
            t0 = time.time()
            qs["decontaminate_bloom"](spark, tmp).count()
            t_fix = time.time() - t0
            fp_fix = qs["bloom_fp_rate"](spark, tmp).collect()[0]["fp_rate"]
            bits, t_sized, flagged, fp_sized = sized_screen(spark, tmp)
            t0 = time.time()
            pairs = qs["decontaminate_ngram"](spark, tmp).count()
            t_exact = time.time() - t0
            print(
                f"{n_docs:>8} {t_fix:>7.2f} {fp_fix:>8.5f} {bits:>9} "
                f"{t_sized:>8.2f} {fp_sized:>9.5f} {flagged:>8} "
                f"{t_exact:>8.2f} {pairs:>9}"
            )
        finally:
            # every memo entry built over this corpus (the bloom gates'
            # split, test-shingle and dense-filter entries, and
            # decontaminate_ngram's shingle split), then the documents
            # frame load() persisted — all before deleting the files
            for tag in ("bloom_split", "bloom_te", "bloom_dense", "decon_ngram_split"):
                MEMO.evict(spark, f"{tag}:{tmp}")
            registry.evict_tables(spark, tmp)
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
