"""Measured ramp: incremental cross-snapshot dedup vs full re-dedup, as
the CORPUS grows and the snapshot stays fixed — the axis a recurring
pipeline actually lives on (every week: same-sized crawl, ever-bigger
corpus).

  full:        re-derive shingles + signatures for (existing ∪ new) and
               run the whole band self-join + verify — the plan a
               non-incremental engine pays every snapshot;
  incremental: the existing corpus's band rows + hashed shingles are
               PRE-BUILT and persisted (simulating the index read a
               production run does); per snapshot we derive only the
               new slice's signatures and run
               incremental_minhash_drops — new-vs-all band join,
               existing x existing structurally unreachable.

Differential per row: the incremental drop set must equal the decisions
derived from the FULL pair set under the same priority
(existing-outranks-new, keep-first among new).

Expected shape: full grows with corpus size (it recomputes and re-pairs
everything); incremental's recompute is snapshot-sized and its join
probe is snapshot-sized — its only corpus-sized term is the scan of the
persisted band index (4 metadata rows/doc), so the curve flattens hard.

Run: python tools/ramp.py snapshot_dedup   (~3-5 min; one line per size)
"""

from contextlib import contextmanager

from pyspark.sql import DataFrame, functions as F

from signalk_parquet_spark.functions.text import minhash_signature
from signalk_parquet_spark.operators.dedup import (
    incremental_minhash_drops,
    minhash_lsh_pairs,
    shingled,
)
from tools.ramps import Ramp

SNAPSHOT = 5_000
DUP_EVERY = 5  # every 5th new doc copies an existing doc (near-dup load)
K, BANDS = 8, 4


def synth_docs(spark, n: int, seed: str, id_start: int) -> DataFrame:
    """n docs of 30 hash-generated tokens; ids id_start..id_start+n-1."""
    dl = 30
    u = F.pmod(F.xxhash64(F.col("doc_id"), F.col("pos"), F.lit(seed)), F.lit(5000))
    term = F.concat(F.lit("t"), u)
    return (
        spark.range(n, numPartitions=32)
        .select((F.col("id") + id_start).alias("doc_id"))
        .select("doc_id", F.explode(F.sequence(F.lit(1), F.lit(dl))).alias("pos"))
        .select("doc_id", term.alias("term"))
        .groupBy("doc_id")
        .agg(F.concat_ws(" ", F.collect_list("term")).alias("text"))
    )


def index_form(docs: DataFrame):
    """(id, band rows) + (id, shl) — the persisted-index derivation."""
    sh = shingled(docs, "doc_id", "text")
    sig = sh.select(
        "id", *[c.alias(f"mh{i}") for i, c in enumerate(minhash_signature(F.col("sh"), K))]
    )
    for j in range(BANDS):
        sig = sig.withColumn(
            f"band{j}",
            F.md5(F.concat(F.col(f"mh{2 * j}"), F.lit("|"), F.col(f"mh{2 * j + 1}"))),
        )
    bands = sig.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(F.lit(j).alias("band_idx"), F.col(f"band{j}").alias("band_val"))
                for j in range(BANDS)
            ])
        ).alias("b"),
    ).select("id", "b.band_idx", "b.band_val").persist()
    bands.count()
    return bands, sh.select("id", "shl")


@contextmanager
def corpus(spark, n_existing: int):
    """The existing corpus, its index (built OUTSIDE the timed region — a
    production run reads it from the lake) and a new snapshot in which
    every DUP_EVERY-th doc copies an existing text."""
    try:
        existing = synth_docs(spark, n_existing, "corpus", 0).persist()
        existing.count()
        fresh = synth_docs(spark, SNAPSHOT, "snap", 1_000_000)
        copies = (
            synth_docs(spark, SNAPSHOT, "corpus", 0)  # same seed => same texts
            .withColumn("src", F.col("doc_id"))
            .select((F.col("src") + 1_000_000).alias("doc_id"), "text")
            .filter(F.col("doc_id") % DUP_EVERY == 0)
        )
        new = (
            fresh.filter(F.col("doc_id") % DUP_EVERY != 0)
            .unionByName(copies)
            .persist()
        )
        new.count()
        eb, ed = index_form(existing)
        ed = ed.persist(); ed.count()
        yield existing, new, eb, ed
    finally:
        # shingled()/index_form persist internally with no outer
        # handle — clear the SQL CacheManager between sizes
        # (catalog-level, NOT the forbidden RDD-level sweep) so a
        # leaked cache can't skew the next size's memory headroom
        spark.catalog.clearCache()


def incremental(spark, inp) -> set:
    _, new, eb, ed = inp
    nb, nd = index_form(new)
    return {r["doc_id"] for r in incremental_minhash_drops(eb, nb, ed, nd).collect()}


def full(spark, inp) -> set:
    """Full-plan decisions for the new slice: existing ids < 1M < new ids
    here, so under existing-outranks-new + keep-first a verified pair
    drops exactly its larger (new) member."""
    existing, new, _, _ = inp
    pairs = minhash_lsh_pairs(existing.unionByName(new), "doc_id", "text", threshold=0.6)
    return {
        r["id_b"]
        for r in pairs.filter(F.col("id_b") >= 1_000_000).select("id_b").distinct().collect()
    }


RAMPS = {
    "snapshot_dedup": Ramp(
        sizes=(20_000, 80_000, 320_000, 1_280_000),
        build=corpus,
        variants={"incremental": incremental, "full": full},
    ),
}
