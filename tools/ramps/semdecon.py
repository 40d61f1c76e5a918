"""Embedding-decontamination scale ramp: exact broadcast screen vs the
IVF-screened production twin on a PLANTED-TRUTH corpus (r8).

Why planted truth: at the gate's tau=0.4 on the near-uniform synthetic
embeddings, the cosine pair relation is just the bulk distribution's tail
(~5e-4 of ALL candidate pairs qualify), so any replication grows "true"
pairs quadratically and the ramp measures output size, not the engine —
two harness drafts hit exactly that (a component-0 "+i*7" nudge aligned
every high-replica vector: 2.8M pairs at x4; a plain cyclic shift left the
background rate intact: 14x pairs at x4). Real decontamination hunts
near-identical leakage (verbatim/paraphrase, cosine >= ~0.9), so the ramp
plants it: every test-split vector gets a jittered twin pushed into the
TRAIN side, and both screens run at tau=0.9 where the background is
empty — true pairs == planted pairs, linear in N by construction (the
media-ramp planted-truth method).

Corpus build per factor n: replicas get offset vec_ids (the md5 split
re-rolls) and a CYCLIC COMPONENT SHIFT by i (orthogonal — within-replica
cosines preserved exactly, cross-replica decorrelated; refuses n > dim,
the shift's period). Planted twins: component 0 scaled by 1.25 (cosine
~0.998 to the source), vec_id offset by 10M, kept only when the new id
hashes to the train split (~80% — the split is content-addressed, you
don't get to choose it).

One JSON line per factor: exact wall (BroadcastNestedLoopJoin), IVF wall
at 1 and 2 probes (cell equi-join), true/planted/screened pair counts and
recall (screened/true — the twin is subset-by-construction).

Run: python tools/ramp.py semdecon              # factors 1,4,16
     python tools/ramp.py semdecon --sizes 1,4
"""

import os
import shutil
from contextlib import contextmanager
from functools import reduce

from pyspark.sql import functions as F

from signalk_parquet_spark import registry
from signalk_parquet_spark.queries_curation import (
    decontaminate_semantic, decontaminate_semantic_ivf, hash_split)
from tools.ramps import Ramp

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch_semdecon",
)
PLANT_OFF = 10_000_000
TAU = 0.9


def build_corpus(spark, n: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    if n > dim:
        raise ValueError(f"replication factor {n} exceeds the cyclic shift's"
                         f" period (dim={dim}); extend build_corpus first")
    vec_ids = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    parts = []
    for i in range(n):
        shifted = (
            F.col("embedding") if i == 0
            else F.concat(F.slice("embedding", i + 1, dim - i), F.slice("embedding", 1, i))
        )
        parts.append(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * vec_ids))
            .withColumn("embedding", shifted)
        )
    base = reduce(lambda a, b: a.unionByName(b), parts)
    jitter = F.concat(
        F.array((F.col("embedding")[0] * F.lit(1.25)).cast("float")),
        F.slice("embedding", 2, dim - 1),
    )
    planted = (
        base.filter(hash_split("vec_id") == "test")
        .withColumn("vec_id", F.col("vec_id") + F.lit(PLANT_OFF))
        .withColumn("embedding", jitter)
        .filter(hash_split("vec_id") == "train")
    )
    base.unionByName(planted).coalesce(8).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )
    open(f"{out_dir}/.done", "w").close()


@contextmanager
def corpus(spark, n: int):
    """The factor-n corpus, built once per source dir and kept under
    SCRATCH for reuse."""
    step = f"{SCRATCH}/{os.path.basename(SF_DIR.rstrip('/'))}_x{n}"
    if not os.path.exists(f"{step}/.done"):
        shutil.rmtree(step, ignore_errors=True)
        build_corpus(spark, n, step)
    try:
        e = registry.load(spark, step, "embeddings")
        yield step, e.count(), e.filter(F.col("vec_id") >= PLANT_OFF).count()
    finally:
        registry.evict_tables(spark, step)


def ivf(n_probe: int):
    return lambda spark, inp: decontaminate_semantic_ivf(
        spark, inp[0], n_probe=n_probe, tau=TAU
    ).count()


def screened_subset(spark, inp, results: dict) -> dict:
    """The exact screen finds exactly the planted pairs, and each IVF
    screen at most those (its pairs are a subset by construction); recall
    is screened / true."""
    _, n_vectors, planted = inp
    n_true = results["exact"]
    screens = {k: v for k, v in results.items() if k != "exact"}
    return {"n_vectors": n_vectors, "planted": planted, "true_pairs": n_true,
            **{f"recall_{k}": round(v / n_true, 3) if n_true else None
               for k, v in screens.items()},
            "ok": n_true == planted and all(v <= n_true for v in screens.values())}


RAMPS = {
    "semdecon": Ramp(
        sizes=(1, 4, 16),
        build=corpus,
        variants={
            "exact": lambda spark, inp: decontaminate_semantic(spark, inp[0], tau=TAU).count(),
            **{f"ivf_p{p}": ivf(p) for p in (1, 2)},
        },
        check=screened_subset,
    ),
}
