"""Measured ramp: prefix-filtered containment join vs the full-probe
inverted index, as the corpus grows — the axis the SSJoin prefix filter
is for.

Both plans share the same index side (every shingle of every doc — the
thing containment can't shrink, since a contained doc may sit anywhere
inside an arbitrarily large container) and the same exact verify; the
ONLY difference is the probe side:

  full-probe:  the probe explodes ALL its shingles — candidates are
               every doc pair sharing any shingle (naive inverted-index
               AllPairs);
  prefix:      the probe explodes only its pigeonhole prefix
               (|A| − ceil(t·|A|) + 1 shingles) — df-ordered
               rarest-first (the operator's order; classic AllPairs
               ordering) and, as a reference built here, hash-ordered
               (a slice of the sorted shingle array).

Differential per row: identical (id_a, id_b, inter) output sets — the
prefix provably loses nothing; this ramp re-proves it at every size
while measuring what the filter actually buys: candidate volume and
wall. The corpus plants one 12-token quote (+2 noise tokens) per 10
docs, sliced from a real corpus doc, so the true pair set is non-empty
and containment ≈ 10/12 per planted pair.

Run: python tools/ramp.py containment   (~4-6 min; one line per size)

The full-probe column stops at 160k: its candidate join grows with the
square of shingle heat and already times a sandbox out past that — which
is the point being measured. The 320k row shows the ordering trade:
rare-first candidates stay ~= the true pair count (linear growth; 693x
under hash order), while its reorder pass costs more LOCAL wall than the
avoided join below ~1M docs — at cluster scale candidate volume is the
exchange, so rare-first is the operator's only order. Past FULL_MAX the
hash-ordered reference is the differential.
"""

from contextlib import contextmanager
from types import SimpleNamespace

from pyspark.sql import DataFrame, functions as F

from signalk_parquet_spark.functions.text import distinct_shingles, hashed_shingles
from signalk_parquet_spark.operators.dedup import containment_pairs
from tools.ramps import Ramp, persisted

T = 0.8
DOC_LEN = 40
VOCAB = 50_000
QUOTE_EVERY = 10
#: the full probe is already quadratic-dead past this size; it is skipped
FULL_MAX = 160_000


def synth_corpus(spark, n: int) -> DataFrame:
    """n base docs of DOC_LEN tokens — natural-text-like mix: 60% of
    positions draw from a 40-term stopword pool (so shingles REPEAT
    across unrelated docs, the regime where candidate filtering earns
    its keep), 40% from a VOCAB-term rare pool — plus n/QUOTE_EVERY
    quote docs: a 12-token contiguous slice of base doc (7919·q mod n)
    with 2 noise tokens appended."""
    h = F.xxhash64(F.col("doc_id"), F.col("pos"), F.lit("corp"))
    stop = F.concat(F.lit("s"), F.pmod(h, F.lit(40)))
    rare = F.concat(F.lit("t"), F.pmod(h, F.lit(VOCAB)))
    term = F.when(F.pmod(F.xxhash64(h), F.lit(5)) < 3, stop).otherwise(rare)
    base = (
        spark.range(n, numPartitions=32)
        .select(F.col("id").alias("doc_id"))
        .select("doc_id", F.explode(F.sequence(F.lit(1), F.lit(DOC_LEN))).alias("pos"))
        .select("doc_id", term.alias("term"))
        .groupBy("doc_id")
        .agg(F.concat_ws(" ", F.collect_list("term")).alias("text"))
    )
    src = F.pmod(F.col("doc_id") * 7919, F.lit(n))
    quotes = (
        spark.range(n // QUOTE_EVERY, numPartitions=32)
        .select((F.col("id") + n).alias("doc_id"))
        .withColumn("src", src)
        .join(base.select(F.col("doc_id").alias("src"), F.col("text").alias("src_text")), "src")
        .select(
            "doc_id",
            F.concat(
                F.concat_ws(" ", F.slice(F.split("src_text", " "), 6, 12)),
                F.lit(" q"), F.col("doc_id"), F.lit(" r"), F.col("doc_id"),
            ).alias("text"),
        )
    )
    return base.unionByName(quotes)


def candidates(d: DataFrame, probe: DataFrame, probe_col: str = "shl") -> DataFrame:
    """Distinct (id_a, id_b) candidates when ``probe`` explodes
    ``probe_col`` (every shingle, or "pre": its pigeonhole prefix) against
    every shingle of ``d``."""
    m_req = F.ceil(F.col("sz") * F.lit(T) - F.lit(1e-9)).cast("long")
    probe = probe.withColumn("pre", F.slice("shl", 1, (F.col("sz") - m_req + 1).cast("int")))
    a = probe.select("id", "sz", F.explode(probe_col).alias("tok")).alias("a")
    b = d.select("id", "sz", F.explode("shl").alias("tok")).alias("b")
    return (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") != F.col("b.id"))
               & (F.col("b.sz") >= F.lit(T - 1e-9) * F.col("a.sz")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")).distinct()
    )


def verified_pairs(d: DataFrame, probe_col: str = "shl") -> DataFrame:
    """The operator's verify on ``candidates(d, d, probe_col)``: FULL-probe
    candidates (every shared shingle) or, with "pre", the hash-ordered
    prefix's — identical output, different probe volume."""
    da = d.select(F.col("id").alias("id_a"), F.col("shl").alias("shl_a"),
                  F.col("sz").alias("size_a"))
    db = d.select(F.col("id").alias("id_b"), F.col("shl").alias("shl_b"))
    inter = F.size(F.array_intersect(F.col("shl_a"), F.col("shl_b"))).cast("long")
    return (
        candidates(d, d, probe_col).join(da, "id_a").join(db, "id_b")
        .select("id_a", "id_b", inter.alias("inter"), "size_a",
                (inter / F.col("size_a")).alias("containment"))
        .filter(F.col("containment") >= T)
    )


@contextmanager
def corpus(spark, n: int):
    """The corpus, its sorted hashed-shingle frame and that frame's
    df-ordered twin (the operator's rarest-first order), all persisted."""
    docs = synth_corpus(spark, n)
    d = (
        docs.select("doc_id", hashed_shingles(distinct_shingles("text")).alias("shl"))
        .select(F.col("doc_id").alias("id"), F.sort_array("shl").alias("shl"))
        .withColumn("sz", F.size("shl").cast("long"))
        .filter(F.col("sz") > 0)
    )
    ex = d.select("id", F.explode("shl").alias("tok"))
    dfreq = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
    order = (
        ex.join(dfreq, "tok").groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("_df", "tok"))).alias("_st"))
        .select("id", F.transform(F.col("_st"), lambda s: s["tok"]).alias("_o"))
    )
    d_rare = d.join(order, "id").withColumn("shl", F.col("_o")).drop("_o")
    with persisted(docs, d, d_rare):
        yield SimpleNamespace(n=n, docs=docs, d=d, d_rare=d_rare)


def pair_map(pairs: DataFrame) -> dict:
    return {(r["id_a"], r["id_b"]): r["inter"] for r in pairs.collect()}


def prefix_loses_nothing(spark, inp, results: dict) -> dict:
    """Both prefix orders give the full probe's pairs (past FULL_MAX, the
    hash-ordered pairs stand in for it)."""
    got, got_h = results["rare"], results["hash"]
    want = got_h if results["full"] is None else results["full"]
    mism = len(set(got) ^ set(want)) + len(set(got_h) ^ set(want)) + sum(
        1 for k in got if k in want and got[k] != want[k]
    )
    return {
        "rare_cand": candidates(inp.d, inp.d_rare, "pre").count(),
        "hash_cand": candidates(inp.d, inp.d, "pre").count(),
        "full_cand": candidates(inp.d, inp.d).count() if inp.n <= FULL_MAX else -1,
        "pairs": len(got),
        "mismatches": mism,
        "ok": mism == 0,
    }


RAMPS = {
    "containment": Ramp(
        sizes=(10_000, 40_000, 160_000, 320_000),
        build=corpus,
        variants={
            "rare": lambda spark, inp: pair_map(
                containment_pairs(inp.docs, "doc_id", "text", [], T)),
            "hash": lambda spark, inp: pair_map(verified_pairs(inp.d, "pre")),
            "full": lambda spark, inp: (
                pair_map(verified_pairs(inp.d)) if inp.n <= FULL_MAX else None),
        },
        check=prefix_loses_nothing,
    ),
}
