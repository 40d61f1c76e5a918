"""Reusable dedup/similarity operator APIs — behavior on controlled inputs
(known duplicates, known nearest neighbors) rather than differential oracles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")  # one token differs
    far = "completely different content with nothing shared at all whatsoever here now"
    rows = [(1, base), (2, base), (3, near), (4, far)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_operator(spark, docs):
    from signalk_parquet_spark.operators.dedup import exact_dedup

    out = {r["keeper_id"]: r["n_copies"] for r in exact_dedup(docs, "doc_id", "text").collect()}
    assert out[1] == 2  # docs 1 and 2 identical -> keeper 1
    assert out[3] == 1 and out[4] == 1


def test_minhash_lsh_operator_finds_near_dup(spark, docs):
    from signalk_parquet_spark.operators.dedup import minhash_lsh_pairs

    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0  # exact dup
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0  # near dup
    assert not any(4 in p for p in pairs)  # unrelated doc never pairs


def test_blocked_jaccard_operator(spark, docs):
    from signalk_parquet_spark.operators.dedup import blocked_jaccard_pairs

    d = docs.withColumn("lang", F.lit("en"))
    pairs = {(r["id_a"], r["id_b"]) for r in
             blocked_jaccard_pairs(d, "doc_id", "text", ["lang"], threshold=0.5).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs


def test_knn_and_ann_operators(spark):
    from signalk_parquet_spark.operators.dedup import exact_dedup  # noqa: F401
    from signalk_parquet_spark.operators.similarity import ann_topk, knn_topk

    # 4-dim toy embeddings: 0 and 1 nearly parallel, 2 orthogonal, 3 opposite
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") == 0)
    knn = knn_topk(emb, q, "vec_id", "embedding", k=3).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in knn] == [1, 2, 3]
    assert knn[0]["cos"] == pytest.approx(0.995, abs=0.005)

    ann = ann_topk(emb, q, "vec_id", "embedding", k=3, dim=4).collect()
    # ANN only sees same-bucket candidates; vector 1 (nearly parallel) must
    # share vector 0's bucket and be found
    assert any(r["neighbor_id"] == 1 for r in ann)


def test_ivf_operator_with_learned_and_stride_quantizers(spark):
    from signalk_parquet_spark.operators.similarity import (
        ivf_topk, kmeans_centroids, knn_topk, stride_centroids,
    )

    # two tight clusters far apart: IVF with 2 cells must keep same-cluster
    # neighbors even probing a single cell
    rows = [(i, [10.0 + 0.01 * i, 0.0, 0.0, 1.0]) for i in range(6)] + [
        (i, [-10.0 - 0.01 * i, 5.0, 0.0, 1.0]) for i in range(6, 12)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id").isin(0, 6))

    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in knn_topk(emb, q, "vec_id", "embedding", k=3).collect()
    }

    stride = stride_centroids(emb, "vec_id", "embedding", 6)  # vec 0 and 6
    ivf_s = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(emb, q, stride, "vec_id", "embedding", k=3, n_probe=1).collect()
    }
    assert ivf_s == exact  # clusters are clean -> IVF@1probe == exact top-3

    learned = kmeans_centroids(emb, "vec_id", "embedding", k=2, seed=7)
    ivf_k = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(emb, q, learned, "vec_id", "embedding", k=3, n_probe=1).collect()
    }
    assert ivf_k == exact

    # determinism: same seed -> same centroids -> same result
    learned2 = kmeans_centroids(emb, "vec_id", "embedding", k=2, seed=7)
    ivf_k2 = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(emb, q, learned2, "vec_id", "embedding", k=3, n_probe=1).collect()
    }
    assert ivf_k2 == ivf_k


def test_kmeans_local_rung_matches_python_reference(spark):
    """r13: kmeans_centroids' driver-local Lloyd rung must implement the
    declared algorithm exactly — same seeded init (k distinct input rows),
    same argmin assignment with ties to the lowest centroid id, same
    empty-cell-keeps-previous rule, id-sorted summation order — pinned by
    an independent pure-Python reference (the BPE differential pattern)."""
    import numpy as np
    from signalk_parquet_spark.operators.similarity import kmeans_centroids

    rng_data = np.random.default_rng(3)
    x = rng_data.normal(size=(80, 6))
    rows = [(i, [float(v) for v in x[i]]) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["cid"]: r["cemb"]
        for r in kmeans_centroids(emb, "vec_id", "embedding", k=5, seed=7).collect()
    }

    # independent reference: plain-Python loops, same rules
    rng = np.random.default_rng(7)
    cents = [list(x[int(i)]) for i in rng.choice(80, size=5, replace=False)]
    for _ in range(5):
        assign = []
        for v in x:
            best, best_d = 0, None
            for ci, c in enumerate(cents):
                d = sum(cc * cc for cc in c) - 2.0 * sum(a * b for a, b in zip(v, c))
                if best_d is None or d < best_d:
                    best, best_d = ci, d
            assign.append(best)
        for ci in range(5):
            members = [v for v, a in zip(x, assign) if a == ci]
            if members:
                cents[ci] = [
                    sum(m[j] for m in members) / len(members) for j in range(6)
                ]
    assert sorted(got) == [0, 1, 2, 3, 4]
    for ci in range(5):
        assert np.allclose(got[ci], cents[ci], rtol=0, atol=1e-9), (
            f"centroid {ci}: {got[ci]} != {cents[ci]}"
        )


def test_local_lloyd_independent_of_row_order():
    """The driver-local Lloyd rung sorts by (id, vector components), so
    with REPEATED ids the centroids still cannot depend on arrival order
    (which follows scan partitioning): two permutations of one frame give
    bit-identical centroids."""
    import numpy as np
    import pandas as pd

    from signalk_parquet_spark.operators.similarity import _local_lloyd

    rng = np.random.default_rng(5)
    ids = [i // 3 for i in range(60)]  # every id three times
    vecs = [[float(v) for v in rng.normal(size=4)] for _ in ids]
    pdf = pd.DataFrame({"id": ids, "v": vecs})
    runs = [
        _local_lloyd(pdf.iloc[perm].reset_index(drop=True), 4, 7, 5)
        for perm in (np.arange(60), rng.permutation(60))
    ]
    assert runs[0] == runs[1]


def test_prefix_len_absorbs_float_error(spark):
    """0.07 * 100 is 7.000000000000001 in IEEE doubles; the pigeonhole
    prefix must still require 7 shared tokens, not 8: 100 - 7 + 1 = 94."""
    from pyspark.sql import functions as F

    from signalk_parquet_spark.operators.dedup import prefix_len

    row = spark.range(1).select(
        prefix_len(F.lit(100), 0.07).alias("a"), prefix_len(F.lit(10), 0.5).alias("b")
    ).first()
    assert (row["a"], row["b"]) == (94, 6)


def test_kmeans_both_rungs_serve_ivf(spark):
    """The distributed MLlib rung (local_threshold=0) and the driver-local
    rung produce different-but-valid quantizers: both must carry the IVF
    operator to the exact answer on clean two-cluster data."""
    from signalk_parquet_spark.operators.similarity import (
        ivf_topk, kmeans_centroids, knn_topk,
    )

    rows = [(i, [10.0 + 0.01 * i, 0.0, 0.0, 1.0]) for i in range(6)] + [
        (i, [-10.0 - 0.01 * i, 5.0, 0.0, 1.0]) for i in range(6, 12)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id").isin(0, 6))
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in knn_topk(emb, q, "vec_id", "embedding", k=3).collect()
    }
    for thr in (100_000, 0):  # local rung, then forced-distributed MLlib
        cents = kmeans_centroids(
            emb, "vec_id", "embedding", k=2, seed=7, local_threshold=thr
        )
        got = {
            (r["query_id"], r["rank"]): r["neighbor_id"]
            for r in ivf_topk(
                emb, q, cents, "vec_id", "embedding", k=3, n_probe=1
            ).collect()
        }
        assert got == exact, f"local_threshold={thr}"


def test_ivf_kmeans_recall_floor(spark, sf_smoke):
    """The learned-quantizer gate pair: ann_ivf_kmeans is oracle-exact (all
    cells probed), so this pins the other half — approximate-probe recall
    must clear a floor on real testdata (r13 re-declaration for the
    driver-local Lloyd rung: measured 0.51-0.58 mean across
    sf0.001/0.01/0.1, vs 0.57-0.65 under the MLlib fit; floor set with
    margin). This is the measured-quality gate the no-oracle
    ivf_kmeans_recall query points at."""
    from signalk_parquet_spark.queries_similarity import ivf_kmeans_recall

    rows = ivf_kmeans_recall(spark, sf_smoke).collect()
    assert len(rows) == 20
    mean = sum(r["recall"] for r in rows) / len(rows)
    assert mean >= 0.35, f"kmeans-IVF mean recall collapsed: {mean}"


def test_ivf_numpy_assignment_matches_expr(spark):
    from signalk_parquet_spark.operators.similarity import ivf_topk, stride_centroids

    rows = [(i, [float((i * 13 + j * 7) % 10) - 4.5 for j in range(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 4)
    cent = stride_centroids(emb, "vec_id", "embedding", 15)
    key = lambda df: {(r["query_id"], r["rank"]): r["neighbor_id"] for r in df.collect()}
    expr = key(ivf_topk(emb, q, cent, "vec_id", "embedding", k=3, n_probe=2, assign="expr"))
    npy = key(ivf_topk(emb, q, cent, "vec_id", "embedding", k=3, n_probe=2, assign="numpy"))
    assert npy == expr


# local_threshold=0 forces the distributed min-label loop; the default takes
# the driver union-find fast path — both strategies must agree everywhere.
@pytest.mark.parametrize("thr", [1_000_000, 0])
def test_connected_components_transitive_closure(spark, thr):
    from signalk_parquet_spark.operators.dedup import connected_components

    # path graph 1-2-3 (1 and 3 never share an edge) + separate pair 7-8
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    labels = {
        r["node"]: r["label"]
        for r in connected_components(edges, local_threshold=thr).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


@pytest.mark.parametrize("thr", [1_000_000, 0])
def test_connected_components_long_chain(spark, thr):
    from signalk_parquet_spark.operators.dedup import connected_components

    # diameter-9 chain: takes several propagation rounds, not one
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 19)], "id_a long, id_b long"
    )
    labels = {
        r["node"]: r["label"]
        for r in connected_components(edges, local_threshold=thr).collect()
    }
    assert set(labels.values()) == {10} and len(labels) == 10


def test_connected_components_screen_computed_once_large_branch(spark):
    """r13 (VERDICT r12 what's-wrong #2): the >threshold branch must compute
    the upstream pair screen exactly once. The r12 shape probed the UNCACHED
    relation then persist+count'ed it — the large branch re-ran the whole
    screen subtree. Now the persist fronts the probe, so the probe's
    partitions land in cache and count() computes only the rest. The
    accumulator counts screen-task executions: each of the 4 partitions
    must be computed exactly once across probe + count + the CC loop."""
    from signalk_parquet_spark.operators.dedup import connected_components

    acc = spark.sparkContext.accumulator(0)
    base = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    ).repartition(4)

    def screen(it):
        acc.add(1)  # once per computed partition (task)
        for pdf in it:
            yield pdf

    edges = base.mapInPandas(screen, "id_a long, id_b long")
    # threshold 5 << 40 rows forces the distributed branch
    labels = {
        r["node"]: r["label"]
        for r in connected_components(edges, local_threshold=5).collect()
    }
    assert set(labels.values()) == {0} and len(labels) == 41
    assert acc.value == 4, f"screen partitions computed {acc.value}x, want 4 (once each)"


def test_blocked_jaccard_boundary_straddle_recall(spark):
    """Two near-identical docs whose lengths straddle a length-bucket
    boundary (buckets differ by 1) MUST still pair — the ±1 adjacent-bucket
    probe exists exactly for this; exact-bucket blocking silently drops it."""
    from signalk_parquet_spark.operators.dedup import blocked_jaccard_pairs

    # 19 words vs 21 words, sharing all 3-gram shingles of the common prefix.
    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike november oscar papa quebec romeo sierra".split()
    a_text = " ".join(words)              # 19 words
    b_text = " ".join(words + ["tango", "uniform"])  # 21 words
    rows = [(1, a_text, "en"), (2, b_text, "en")]
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    # sanity: the pair really does straddle a bucket edge at width 20
    la, lb = len(a_text), len(b_text)
    assert la // 20 != lb // 20, (la, lb)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             blocked_jaccard_pairs(d, "doc_id", "text", ["lang"], threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.5


def test_dedup_corpus_transitive_keep_decision(spark):
    """A~B and B~C (A and C never matching directly) must collapse to one
    cluster keeping only A; a near-dup-free document keeps itself."""
    from signalk_parquet_spark.operators.dedup import dedup_corpus

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    chain_b = base.replace("mu", "nu")          # ~base
    chain_c = chain_b.replace("alpha", "omega")  # ~chain_b, farther from base
    lone = "totally unrelated words live in this short document of its own kind"
    rows = [(10, base), (20, chain_b), (30, chain_c), (40, lone)]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "lang", F.lit("en")
    )
    out = {r["id"]: r for r in dedup_corpus(df, "doc_id", "text", ["lang"]).collect()}
    assert len(out) == 4  # one decision row per document, always
    assert out[10]["kept"] and out[10]["cluster_rep"] == 10
    assert not out[20]["kept"] and out[20]["cluster_rep"] == 10
    assert not out[30]["kept"] and out[30]["cluster_rep"] == 10
    assert out[40]["kept"] and out[40]["cluster_rep"] == 40


def test_dedup_corpus_no_pairs_keeps_everything(spark):
    """An edge-free corpus (no near-dups at all) must terminate immediately
    (the empty-graph sum(label) is None — the convergence guard must treat
    that as converged, not spin max_iter rounds) and keep every document."""
    rows = [
        (1, "first entirely unique sentence about astronomy and planets"),
        (2, "second text covering maritime navigation topics instead"),
        (3, "third document on cooking techniques and kitchen tools"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "lang", F.lit("en")
    )
    from signalk_parquet_spark.operators.dedup import connected_components, dedup_corpus

    out = {r["id"]: r for r in dedup_corpus(df, "doc_id", "text", ["lang"]).collect()}
    assert len(out) == 3
    assert all(out[i]["kept"] and out[i]["cluster_rep"] == i for i in (1, 2, 3))

    empty_edges = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty_edges).count() == 0


def test_multitable_lsh_beats_single_table(spark):
    """OR-amplification must pay off: multi-table LSH recall@5 against the
    exact top-5 strictly beats the single-table variant on the bench
    embeddings (whose near-uniform vectors are exactly the hard case that
    collapses single-table recall)."""
    from signalk_parquet_spark.queries_similarity import (
        ann_lsh_bucketed,
        ann_lsh_multitable,
        knn_bruteforce,
    )
    from signalk_parquet_spark.operators.similarity import topk_recall

    sf = "/root/testdata/sf0.01"
    exact = knn_bruteforce(spark, sf)
    exact.persist().count()

    def mean_recall(approx):
        rows = topk_recall(approx, exact).collect()
        return sum(r["recall"] for r in rows) / len(rows)

    single = mean_recall(ann_lsh_bucketed(spark, sf))
    multi = mean_recall(ann_lsh_multitable(spark, sf))
    exact.unpersist()
    assert multi > single + 0.1, (single, multi)
    # deployed config (10 tables x 8 planes, radius-1 multiprobe) must hold
    # a genuinely useful recall on the near-uniform (hard-case) bench data
    assert multi >= 0.5, multi


def test_ivf_recall_measured(spark):
    """topk_recall works across ANN variants: IVF at 3-probe recovers most
    of the exact top-5 (its cell-local candidates are far better targeted
    than hyperplane buckets on this data)."""
    from signalk_parquet_spark.operators.similarity import topk_recall
    from signalk_parquet_spark.queries_similarity import ann_ivf, knn_bruteforce

    sf = "/root/testdata/sf0.01"
    exact = knn_bruteforce(spark, sf)
    exact.persist().count()
    rows = topk_recall(ann_ivf(spark, sf), exact).collect()
    exact.unpersist()
    mean = sum(r["recall"] for r in rows) / len(rows)
    assert mean >= 0.6, mean
    assert all(0.0 <= r["recall"] <= 1.0 and r["n_exact"] == 5 for r in rows)


@pytest.mark.parametrize("thr", [1_000_000, 0])
def test_connected_components_matches_union_find(spark, thr):
    """Differential ground truth: BOTH strategies (driver union-find fast
    path and distributed min-label propagation) must agree with an
    independent Python union-find on random graphs (chains, cliques,
    isolated pairs, self-contradicting orderings — whatever the seed
    produces)."""
    import random

    from signalk_parquet_spark.operators.dedup import connected_components

    rnd = random.Random(42)
    for _ in range(3):
        n = 30
        edges = [(rnd.randrange(n), rnd.randrange(n)) for _ in range(25)]
        edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["node"]: r["label"]
            for r in connected_components(df, local_threshold=thr).collect()
        }

        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)  # root stays the min id
        want = {x: find(x) for x in parent}
        assert got == want, (sorted(edges), got, want)


def test_substring_span_stats_full_and_zero_dup(spark):
    from signalk_parquet_spark.operators.spans import substring_span_stats

    w = " ".join(f"w{i}" for i in range(12))  # 12 tokens -> 5 distinct 8-windows
    other = " ".join(f"x{i}" for i in range(12))
    rows = [(1, w), (2, w), (3, other)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in substring_span_stats(df, "doc_id", "text", 8).collect()}
    assert out[1]["n_spans"] == 5 and out[1]["dup_frac"] == 1.0  # fully copied
    assert out[2]["dup_frac"] == 1.0
    assert out[3]["n_dup_spans"] == 0 and out[3]["dup_frac"] == 0.0


def test_winnowing_shared_run_guarantee(spark):
    """Any shared token run of length >= w + n - 1 (= 6 for n=3, w=4) must
    produce at least one shared fingerprint — the winnowing guarantee."""
    from signalk_parquet_spark.operators.spans import winnowing_pairs

    shared = "alpha beta gamma delta epsilon zeta"  # 6-token shared run
    a = "one two three four five " + shared + " six seven eight nine ten"
    b = "red green blue cyan magenta " + shared + " yellow black white pink gray"
    c = "nothing in common with the others at all in any way whatsoever"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["n_shared"]
             for r in winnowing_pairs(df, "doc_id", "text", 3, 4, min_shared=1).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert not any(3 in p for p in pairs)


def test_stratified_sample_deterministic_and_scoped(spark):
    from signalk_parquet_spark.operators.sampling import stratified_sample

    rows = [(i, "en" if i % 2 == 0 else "fr") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out1 = stratified_sample(df, "doc_id", "lang", {"en": 0.25}).collect()
    out2 = stratified_sample(df, "doc_id", "lang", {"en": 0.25}).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))  # hash-stable
    by = {}
    for r in out1:
        by.setdefault(r["stratum"], []).append(r["kept"])
    assert all(by["fr"])  # default rate 1.0 keeps everything
    frac_en = sum(by["en"]) / len(by["en"])
    assert 0.1 < frac_en < 0.4  # ~25% of the md5-uniform hash space


def test_pack_token_stream_invariants(spark):
    from signalk_parquet_spark.operators.sampling import pack_token_stream

    rows = [(i, "s", 10 + (i * 7) % 90) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, shard string, n_tok long")
    out = sorted(pack_token_stream(df, "doc_id", "shard", "n_tok", 256).collect(),
                 key=lambda r: r["id"])
    cum = 0
    for r in out:
        assert r["chunk_id"] == cum // 256 and r["tok_offset"] == cum % 256
        cum += r["n_tok"]
    assert out[-1]["chunk_id"] > 0  # the stream really spans multiple chunks


def test_winnowing_stop_fingerprint_cap(spark):
    """max_df must drop boilerplate fingerprints (shared by > max_df docs)
    while keeping pairs that share uncommon spans."""
    from signalk_parquet_spark.operators.spans import winnowing_pairs

    boiler = "common header text repeated on every single page here"
    # tails fully distinct per doc, so docs 1-8 share ONLY boilerplate grams
    rows = [(i, boiler + f" tail{i}a tail{i}b tail{i}c tail{i}d tail{i}e") for i in range(1, 9)]
    # docs 100/101 share a long UNCOMMON run on top of the boilerplate
    rare = "remarkably distinctive shared passage nobody else has anywhere"
    rows += [(100, boiler + " " + rare), (101, boiler + " " + rare)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {(r["id_a"], r["id_b"]) for r in
              winnowing_pairs(df, "doc_id", "text", 3, 4, min_shared=1, max_df=5).collect()}
    assert (100, 101) in capped  # uncommon shared span survives the cap
    # boilerplate-only pairs (both docs < 9) must all be gone: their only
    # shared fingerprints come from the >5-doc header
    assert not any(a < 9 and b < 9 for a, b in capped)
    uncapped = {(r["id_a"], r["id_b"]) for r in
                winnowing_pairs(df, "doc_id", "text", 3, 4, min_shared=1, max_df=None).collect()}
    assert any(a < 9 and b < 9 for a, b in uncapped)  # cap is what removed them


def test_prefix_jaccard_matches_bruteforce(spark):
    """The prefix-filtered set-similarity join must equal the quadratic
    brute-force join exactly (AllPairs correctness) on adversarial data:
    near-dups, exact dups, disjoint docs, and very different lengths."""
    import itertools
    from signalk_parquet_spark.operators.dedup import prefix_jaccard_pairs

    words = [f"w{i}" for i in range(30)]
    rows = []
    rng_state = 7
    for i in range(40):
        rng_state = (rng_state * 1103515245 + 12345) % (1 << 31)
        n = 6 + rng_state % 25
        toks = [words[(rng_state // (j + 1)) % 30] for j in range(n)]
        rows.append((i, " ".join(toks)))
    rows += [(100, rows[0][1]), (101, rows[1][1] + " extra tail")]  # dup + near-dup
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "lang", F.lit("xx")
    )
    got = {(r["id_a"], r["id_b"]) for r in
           prefix_jaccard_pairs(df, "doc_id", "text", ["lang"], 0.5).collect()}
    # brute force over collected shingle sets
    from signalk_parquet_spark.functions.text import distinct_shingles, hashed_shingles
    sets = {r["doc_id"]: set(r["shl"]) for r in df.select(
        "doc_id", hashed_shingles(distinct_shingles("text")).alias("shl")).collect()}
    want = set()
    for x, y in itertools.combinations(sorted(sets), 2):
        a, b = sets[x], sets[y]
        if a and b and len(a & b) / len(a | b) >= 0.5:
            want.add((x, y))
    assert got == want and (0, 100) in want


def semantic_keep_reference(vecs, cents, tau):
    """Driver-side brute force of the SemDeDup rule over ``{id: vec}`` and
    ``[(cid, cvec)]``: argmin cell assignment (lowest-cid tie-break), drop
    iff a lower-id same-cell vector has cosine >= tau. Every sum runs
    sequentially in dim order, the arithmetic semantic_keep reproduces, so
    the two agree bit for bit. Returns ``{id: (cid, keep)}``."""
    import math

    def assign(v):
        return min(
            (sum(c * c for c in ce) - 2 * sum(a * b for a, b in zip(v, ce)), cid)
            for cid, ce in cents
        )[1]

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b)) / math.sqrt(
            sum(x * x for x in a) * sum(y * y for y in b)
        )

    cells = {i: assign(v) for i, v in vecs.items()}
    want = {}
    for i, v in vecs.items():
        dropped = any(
            cells[j] == cells[i] and j < i and cos(vecs[j], v) >= tau for j in vecs
        )
        want[i] = (cells[i], not dropped)
    return want


def test_semantic_keep_matches_bruteforce(spark):
    """semantic_keep (SemDeDup) must equal a driver-side brute-force of the
    same rule — argmin cell assignment (lowest-cid tie-break), drop iff a
    lower-id same-cell vector has cosine >= tau — and the min-id member of
    every cell is always kept."""
    from signalk_parquet_spark.operators.similarity import semantic_keep

    vecs = {
        0: [1.0, 0.0, 0.0, 0.0],
        1: [0.99, 0.1, 0.0, 0.0],    # near 0 -> dropped
        2: [0.0, 1.0, 0.0, 0.0],
        3: [0.05, 0.99, 0.0, 0.0],   # near 2 -> dropped
        4: [0.6, 0.62, 0.0, 0.0],    # between cones
        5: [-1.0, 0.05, 0.0, 0.0],   # anti-parallel: same cell, low cos -> kept
        6: [0.0, 0.0, 1.0, 0.0],     # orthogonal to everything
    }
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    tau = 0.9

    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    cdf = spark.createDataFrame(cents, "cid long, cemb array<double>")
    got = {
        r["id"]: (r["cid"], r["keep"])
        for r in semantic_keep(df, cdf, "vec_id", "embedding", tau).collect()
    }
    want = semantic_keep_reference(vecs, cents, tau)
    assert got == want
    # sanity on the fixture itself: both decisions occur, and every cell's
    # min-id member is kept
    assert {k for k, (_, kp) in want.items() if not kp} == {1, 3}
    for c in {0, 1}:
        members = [i for i, (cid, _) in want.items() if cid == c]
        assert want[min(members)][1] is True


def test_semantic_keep_with_learned_quantizer(spark):
    """The 'production swaps in kmeans_centroids unchanged' claim: the
    learned quantizer must plug into semantic_keep, whose decisions must
    equal the driver-side reference over the same centroids."""
    from signalk_parquet_spark.operators.similarity import kmeans_centroids, semantic_keep
    from signalk_parquet_spark.registry import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    cents = kmeans_centroids(e, "vec_id", "embedding", k=4, seed=7, fit_fraction=0.5)
    cent_rows = [(r["cid"], list(r["cemb"])) for r in cents.orderBy("cid").collect()]
    assert len(cent_rows) == 4  # sampled fit still yields k centroids
    got = {r["id"]: (r["cid"], r["keep"])
           for r in semantic_keep(e, cents, "vec_id", "embedding", 0.4).collect()}
    vecs = {r["vec_id"]: list(r["embedding"])
            for r in e.select("vec_id", "embedding").collect()}
    assert got == semantic_keep_reference(vecs, cent_rows, 0.4)
    assert len(got) == len(vecs)  # exactly one decision per vector
    assert any(not k for _, k in got.values())  # the threshold actually bites


def test_semantic_keep_cell_cap_guards_duplicate_flood(spark):
    """The m² trap (VERDICT r6 Next #4): a duplicate-flood cell must not
    silently do m² work on one task. Crafted flood: 60 near-identical
    vectors all landing in one cell with max_cell=16. Contract:
    (a) it RAISES by default, naming the prescription;
    (b) on_oversize='shard' completes with bounded shards, keeps the
        cid/keep schema, decides every vector exactly once, and only ever
        UNDER-drops (every drop it makes is one the uncapped run makes);
    (c) a corpus with no oversized cell is decision-identical under every
        max_cell setting (the gate-parity guarantee)."""
    import pytest

    from signalk_parquet_spark.operators.similarity import semantic_keep

    # 60 vectors in a tight cone around e1 (cosine ~1 pairwise) + 3 around
    # e2: cell 0 floods, cell 1 stays tiny
    rows = [(i, [1.0, i * 1e-6, 0.0, 0.0]) for i in range(60)]
    rows += [(100 + i, [i * 1e-6, 1.0, 0.0, 0.0]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cdf = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "cid long, cemb array<double>",
    )

    with pytest.raises(Exception, match="exact_dedup"):
        semantic_keep(df, cdf, "vec_id", "embedding", 0.9, max_cell=16).collect()

    # uncapped ground truth (the flood is only 60 rows here, so max_cell=None
    # is safe in-test): every non-min flood member drops
    full = {
        r["id"]: (r["cid"], r["keep"])
        for r in semantic_keep(
            df, cdf, "vec_id", "embedding", 0.9, max_cell=None
        ).collect()
    }
    assert [k for k, (_, kp) in full.items() if kp and full[k][0] == 0] == [0]

    sharded = {
        r["id"]: (r["cid"], r["keep"])
        for r in semantic_keep(
            df, cdf, "vec_id", "embedding", 0.9,
            max_cell=16, on_oversize="shard",
        ).collect()
    }
    assert set(sharded) == set(full)  # one decision per vector
    assert all(sharded[i][0] == full[i][0] for i in full)  # cells agree
    # under-dropping only: sharding may KEEP a vector the full run
    # drops (its near-dup landed in another shard), never the reverse
    for i in full:
        if not sharded[i][1]:
            assert not full[i][1]
    # each shard still collapses internally: at most one keeper per
    # shard (ceil(1.25*60/16) = 5 shards with the headroom factor),
    # far fewer than the 60-member flood; the tiny cell is untouched
    assert sum(1 for i, (c, kp) in sharded.items() if c == 0 and kp) <= 5
    # the under-capacity cell is bit-identical to the uncapped run
    assert all(sharded[i] == full[i] for i in (100, 101, 102))

    # no-oversized-cell corpora are identical under every setting
    small = df.filter(F.col("vec_id") >= 100)
    base = sorted(
        map(tuple, semantic_keep(small, cdf, "vec_id", "embedding", 0.9).collect())
    )
    for kw in ({"max_cell": None}, {"max_cell": 16, "on_oversize": "shard"}):
        got = sorted(
            map(tuple, semantic_keep(small, cdf, "vec_id", "embedding", 0.9, **kw).collect())
        )
        assert got == base


def test_bounded_collect_enforces_broadcast_contract(spark):
    """The ANN family's driver-side tables (centroids, codebooks, query
    sets) are broadcast BY CONTRACT with documented growth limits; r7 makes
    the limit enforced (the SemDeDup max_cell lesson). Under the cap the
    helper returns the complete ORDERED set; over it, a ValueError names
    the remedies instead of flooding the driver."""
    import pytest

    from signalk_parquet_spark.operators.similarity import bounded_collect

    df = spark.range(100).selectExpr("id AS cid").orderBy("cid")
    rows = bounded_collect(df, "test table", max_rows=100)
    assert [r["cid"] for r in rows] == list(range(100))  # complete + ordered
    with pytest.raises(ValueError, match="kmeans_centroids"):
        bounded_collect(df, "test table", max_rows=99)


def test_pq_topk_compression_and_recall(spark):
    """PQ sanity on clustered toy data: same-cluster neighbors must fill the
    top-k (subspace codewords separate the clusters), and the encoded width
    really is n_sub codes. Then the honest number at corpus scale: recall@5
    vs the exact int8 ranking on the real embeddings table."""
    from pyspark.sql import functions as F
    from signalk_parquet_spark.operators.similarity import pq_topk, topk_recall
    from signalk_parquet_spark.queries_similarity import ann_scalar_quant
    from signalk_parquet_spark.registry import load

    # two tight 64-dim clusters; stride 6 makes one codeword per cluster
    rows = [(i, [0.9 - 0.001 * i] * 32 + [0.1] * 32) for i in range(6)] + [
        (i, [-0.1] * 32 + [0.8 + 0.001 * i] * 32) for i in range(6, 12)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id").isin(0, 6))
    got = pq_topk(emb, q, "vec_id", "embedding", stride=6, n_sub=4, k=3)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert by_q[0] <= {1, 2, 3, 4, 5} and len(by_q[0]) == 3
    assert by_q[6] <= {7, 8, 9, 10, 11} and len(by_q[6]) == 3

    sf = "/root/testdata/sf0.01"
    e = load(spark, sf, "embeddings")
    exact = ann_scalar_quant(spark, sf)

    def rec(stride):
        approx = pq_topk(e, e.filter(F.col("vec_id") < 20), "vec_id", "embedding", stride)
        return topk_recall(approx, exact).agg(F.avg("recall")).collect()[0][0]

    # codebook size is THE quality lever: measured 0.04 (K=4) -> 0.11 (K=20)
    # -> 0.28 (K=50) on near-uniform synthetic vectors (real corpora cluster).
    # Pin the monotone ordering and the K=50 floor, with slack for the int8
    # quantizer's tie shuffling.
    r4, r50 = rec(125), rec(10)
    assert r50 > r4, (r4, r50)
    assert r50 >= 0.2, r50


def test_ivfpq_composes_pruning_and_codes(spark):
    """IVF-PQ: cell pruning must actually prune (every scored candidate sits
    in one of the query's n_probe cells) while PQ codes still rank
    same-cluster neighbors on top; and on the real table the candidate set
    must shrink versus unpruned PQ with recall above the random floor."""
    from pyspark.sql import functions as F
    from signalk_parquet_spark.operators.similarity import ivfpq_topk, pq_topk
    from signalk_parquet_spark.registry import load

    rows = [(i, [0.9 - 0.001 * i] * 32 + [0.1] * 32) for i in range(6)] + [
        (i, [-0.1] * 32 + [0.8 + 0.001 * i] * 32) for i in range(6, 12)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id").isin(0, 6))
    got = ivfpq_topk(emb, q, "vec_id", "embedding",
                     cell_stride=6, code_stride=6, n_probe=1, k=3)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # probing ONE cell: only same-cluster neighbors are even candidates
    assert by_q[0] == {1, 2, 3} and by_q[6] == {7, 8, 9}

    sf = "/root/testdata/sf0.01"
    e = load(spark, sf, "embeddings")
    qs = e.filter(F.col("vec_id") < 20)
    pruned = ivfpq_topk(e, qs, "vec_id", "embedding",
                        cell_stride=125, code_stride=10, n_probe=2, k=5)
    full = pq_topk(e, qs, "vec_id", "embedding", stride=10, k=5)
    # the pruned result never surfaces a candidate outside the probed cells,
    # and overlaps substantially with unpruned PQ (same codebook)
    both = pruned.select("query_id", "neighbor_id").intersect(
        full.select("query_id", "neighbor_id")).count()
    assert pruned.count() == 100 and both >= 40, both


_EMPTY_INPUT_CASES = [
    pytest.param(
        "pq_topk",
        "struct<query_id:bigint,neighbor_id:bigint,pq_score:bigint,rank:int>",
        id="pq_topk-empty-queries",
    ),
    pytest.param(
        "ivfpq_topk",
        "struct<query_id:bigint,neighbor_id:bigint,cell:bigint,pq_score:bigint,rank:int>",
        id="ivfpq_topk-empty-queries",
    ),
    pytest.param(
        "semantic_keep",
        "struct<id:bigint,cid:bigint,keep:boolean>",
        id="semantic_keep-empty-collection",
    ),
    pytest.param(
        "ivf_topk",
        "struct<query_id:bigint,neighbor_id:bigint,cos:double,rank:int>",
        id="ivf_topk-numpy-empty-queries",
    ),
    pytest.param(
        "ann_topk_multitable",
        "struct<query_id:bigint,neighbor_id:bigint,cos:double,rank:int>",
        id="ann_topk_multitable-empty-queries",
    ),
]


@pytest.mark.parametrize("op,schema", _EMPTY_INPUT_CASES)
def test_vector_index_empty_input_gives_empty_frame(spark, op, schema):
    """An empty query set (PQ, IVF-PQ, IVF, multi-table LSH) or an empty
    collection (SemDeDup) yields an empty frame with the documented
    columns, not an exception:
    a driver-collected empty set must still broadcast as a (0, dim)
    matrix."""
    from signalk_parquet_spark.operators import similarity as sim

    rows = [(i, [0.9 - 0.001 * i] * 32 + [0.1] * 32) for i in range(6)] + [
        (i, [-0.1] * 32 + [0.8 + 0.001 * i] * 32) for i in range(6, 12)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    none = emb.filter(F.lit(False))
    if op == "pq_topk":
        out = sim.pq_topk(emb, none, "vec_id", "embedding", stride=6)
    elif op == "ivfpq_topk":
        out = sim.ivfpq_topk(emb, none, "vec_id", "embedding",
                             cell_stride=6, code_stride=6, n_probe=1, k=3)
    elif op == "ivf_topk":
        cents = sim.stride_centroids(emb, "vec_id", "embedding", 6)
        out = sim.ivf_topk(emb, none, cents, "vec_id", "embedding",
                           k=3, n_probe=1, assign="numpy")
    elif op == "ann_topk_multitable":
        out = sim.ann_topk_multitable(emb, none, "vec_id", "embedding",
                                      k=3, n_tables=2, n_planes=4, dim=64)
    else:
        cents = sim.stride_centroids(emb, "vec_id", "embedding", 6)
        out = sim.semantic_keep(none, cents, "vec_id", "embedding", 0.9)
    assert out.schema.simpleString() == schema
    assert out.collect() == []


_EMPTY_TABLE_CASES = [
    pytest.param("pq_topk", "PQ codebook", id="pq_topk-empty-codebook"),
    pytest.param("ivfpq_topk-cells", "IVF-PQ coarse centroid table",
                 id="ivfpq_topk-empty-cells"),
    pytest.param("ivfpq_topk-codes", "IVF-PQ fine codebook", id="ivfpq_topk-empty-codebook"),
    pytest.param("semantic_keep", "semantic_keep centroid table",
                 id="semantic_keep-empty-centroids"),
]


@pytest.mark.parametrize("op,table", _EMPTY_TABLE_CASES)
def test_vector_index_empty_table_raises_naming_it(spark, op, table):
    """An empty codebook or centroid table (a stride above every id, an
    empty centroid frame) leaves nothing to score against: a ValueError
    that names the table, not an IndexError from a (0,) matrix."""
    from signalk_parquet_spark.operators import similarity as sim

    # ids 1..6: a stride of 100 selects no row (id 0 would be in every stride)
    rows = [(i, [0.9 - 0.001 * i] * 32 + [0.1] * 32) for i in range(1, 7)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match=f"{table} is empty"):
        if op == "pq_topk":
            sim.pq_topk(emb, emb, "vec_id", "embedding", stride=100)
        elif op == "ivfpq_topk-cells":
            sim.ivfpq_topk(emb, emb, "vec_id", "embedding",
                           cell_stride=100, code_stride=2, n_probe=1, k=3)
        elif op == "ivfpq_topk-codes":
            sim.ivfpq_topk(emb, emb, "vec_id", "embedding",
                           cell_stride=2, code_stride=100, n_probe=1, k=3)
        else:
            cents = sim.stride_centroids(emb, "vec_id", "embedding", 100)
            sim.semantic_keep(emb, cents, "vec_id", "embedding", 0.9)


def test_remove_duplicate_spans_transform(spark):
    """The Lee-et-al transform: two docs sharing an 8-word run lose every
    position covered by a duplicated window (including each doc's
    surrounding overlap windows); unique and short docs pass through."""
    from signalk_parquet_spark.operators.spans import remove_duplicate_spans

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h tail one"),
            (2, "x a b c d e f g h tail two"),
            (3, "unrelated words entirely different from others here now"),
            (4, "short doc"),
        ],
        "doc_id long, text string",
    )
    rows = {r["id"]: r for r in remove_duplicate_spans(df, "doc_id", "text", 8).collect()}
    # docs 1/2 share windows "a..h" and "b..tail": covered = union of both
    assert rows[1]["cleaned"] == "one" and rows[1]["n_removed"] == 9
    assert rows[2]["cleaned"] == "x two" and rows[2]["n_removed"] == 9
    assert rows[3]["n_removed"] == 0 and rows[3]["cleaned"].startswith("unrelated")
    assert rows[4]["n_removed"] == 0 and rows[4]["cleaned"] == "short doc"
    # intra-document repetition of a window counts as duplication
    rep = spark.createDataFrame(
        [(7, " ".join(["p q r s t u v w"] * 2 + ["end"]))], "doc_id long, text string"
    )
    r7 = remove_duplicate_spans(rep, "doc_id", "text", 8).collect()[0]
    assert r7["n_removed"] > 0


def test_remove_duplicate_spans_differential_random(spark):
    """Differential vs an independent pure-Python replication on seeded
    random corpora from a tiny vocabulary (forcing shared windows):
    coverage, counts, and the cleaned strings must match exactly."""
    import numpy as np

    from signalk_parquet_spark.operators.spans import remove_duplicate_spans

    rng = np.random.RandomState(5)
    vocab = list("abcdefgh")
    k = 4
    for trial in range(3):
        docs = []
        for i in range(30):
            n = rng.randint(1, 14)
            docs.append((i, " ".join(rng.choice(vocab, size=n))))
        # pure-Python reference
        from collections import Counter

        win = {
            i: [tuple(t.split()[p : p + k]) for p in range(len(t.split()) - k + 1)]
            for i, t in docs
        }
        freq = Counter(w for ws in win.values() for w in ws)
        want = {}
        for i, t in docs:
            words = t.split()
            cov = set()
            for p, w in enumerate(win[i]):
                if freq[w] > 1:
                    cov.update(range(p, p + k))
            kept = [w for j, w in enumerate(words) if j not in cov]
            want[i] = (len(words), len(words) - len(kept), " ".join(kept))
        got = {
            r["id"]: (r["n_words"], r["n_removed"], r["cleaned"])
            for r in remove_duplicate_spans(
                spark.createDataFrame(docs, "doc_id long, text string"),
                "doc_id", "text", k,
            ).collect()
        }
        assert got == want, f"trial {trial}"


def test_decontaminate_semantic_ivf_subset_and_recall(spark, sf_smoke):
    """The IVF-screened production twin (one Arrow matmul stage assigns the
    cells) must return a SUBSET of the exact gate's pairs (the final
    cosine filter is identical — losses are only cross-cell misses) with
    recall >= 0.7 at the test SFs for the default 2 probes (measured
    0.75 / 0.78 at sf0.001 / sf0.01; 1.0 at n_probe=4 — also asserted).
    The near-uniform synthetic embeddings make the cross-cell loss
    PESSIMISTIC (the semdedup_recall caveat)."""
    from signalk_parquet_spark import registry
    from signalk_parquet_spark.queries_curation import decontaminate_semantic_ivf

    exact = {
        (r["test_vec"], r["train_vec"])
        for r in registry.queries()["decontaminate_semantic"](spark, sf_smoke).collect()
    }
    assert exact, "exact gate must find pairs (pair-FINDING, not absence)"
    screened = {
        (r["test_vec"], r["train_vec"])
        for r in decontaminate_semantic_ivf(spark, sf_smoke).collect()
    }
    assert screened <= exact
    assert len(screened) / len(exact) >= 0.7, (len(screened), len(exact))
    full = {
        (r["test_vec"], r["train_vec"])
        for r in decontaminate_semantic_ivf(spark, sf_smoke, n_probe=4).collect()
    }
    assert full == exact  # measured: every pair recovered at P=4


def _bands_and_shingles(spark, rows):
    """Derive the persisted-index form ((id, band_idx, band_val) + (id,
    shl)) the incremental operator consumes, with the gate's signature
    parameters (k=8, 4 bands of 2 rows)."""
    from signalk_parquet_spark.functions.text import minhash_signature
    from signalk_parquet_spark.operators.dedup import shingled

    df = spark.createDataFrame(rows, "doc_id long, text string")
    docs = shingled(df, "doc_id", "text")
    sig = docs.select(
        "id", *[c.alias(f"mh{i}") for i, c in enumerate(minhash_signature(F.col("sh"), 8))]
    )
    for j in range(4):
        sig = sig.withColumn(
            f"band{j}",
            F.md5(F.concat(F.col(f"mh{2 * j}"), F.lit("|"), F.col(f"mh{2 * j + 1}"))),
        )
    bands = sig.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(F.lit(j).alias("band_idx"), F.col(f"band{j}").alias("band_val"))
                for j in range(4)
            ])
        ).alias("b"),
    ).select("id", "b.band_idx", "b.band_val")
    return bands, docs.select("id", "shl")


def test_incremental_minhash_drops_decisions(spark):
    """Planted snapshot scenario: new near-dup of existing content drops
    (even when the existing id is LARGER — existing outranks new), new
    near-dup of an earlier new doc drops with the earlier doc as keeper,
    unique new content survives, and existing docs never appear in the
    output even when similar to each other."""
    from signalk_parquet_spark.operators.dedup import incremental_minhash_drops

    base = "the quick brown fox jumps over the lazy dog again and again today"
    uniq = "completely different content with nothing shared at all whatsoever here now"
    other = "sailing vessels report wind speed and heading every few seconds at sea"
    existing = [
        (14, base),                       # id LARGER than its new dup
        (2, other),
        (7, other.replace("sea", "port")),  # similar pair WITHIN existing
    ]
    new = [
        (6, uniq),                         # unique -> kept
        (9, uniq.replace("now", "then")),  # near-dup of earlier NEW 6
        (12, base),                        # exact dup of EXISTING 14
    ]
    eb, ed = _bands_and_shingles(spark, existing)
    nb, nd = _bands_and_shingles(spark, new)
    out = {
        r["doc_id"]: (r["dup_of"], r["n_dup_partners"], r["jac"])
        for r in incremental_minhash_drops(eb, nb, ed, nd).collect()
    }
    assert set(out) == {9, 12}
    assert out[12][0] == 14 and out[12][2] == 1.0  # existing outranks new
    assert out[9][0] == 6 and 0.5 <= out[9][2] < 1.0
    assert 6 not in out and 2 not in out and 7 not in out


def test_incremental_minhash_fuzz_matches_full_plan(spark):
    """Seeded fuzz differential: random corpora with planted near-dups,
    split into existing/new — the incremental drop set must equal the
    decisions derived from the FULL minhash_lsh_pairs pair set under the
    same priority (existing-outranks-new, keep-first among new), for
    every seed. One spark session, pure-python truth derivation."""
    import random

    from signalk_parquet_spark.operators.dedup import (
        incremental_minhash_drops,
        minhash_lsh_pairs,
    )

    vocab = [f"w{i}" for i in range(40)]
    for seed in range(4):
        rng = random.Random(100 + seed)
        base_rows = []
        for i in range(30):
            n = rng.randint(8, 20)
            base_rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
        rows = list(base_rows)
        nid = 100
        for i, text in base_rows:
            if rng.random() < 0.4:  # plant a near/exact dup with a new id
                toks = text.split(" ")
                if rng.random() < 0.5 and len(toks) > 3:
                    toks[rng.randrange(len(toks))] = rng.choice(vocab)
                rows.append((nid, " ".join(toks)))
                nid += 1
        # membership: even ids existing, odd ids new (mixes id order so
        # existing ids sit both above and below new ids)
        existing = [(i, t) for i, t in rows if i % 2 == 0]
        new = [(i, t) for i, t in rows if i % 2 == 1]
        if not new:
            continue
        e_df = spark.createDataFrame(existing, "doc_id long, text string")
        n_df = spark.createDataFrame(new, "doc_id long, text string")
        eb, ed = _bands_and_shingles(spark, existing)
        nb, nd = _bands_and_shingles(spark, new)
        got = {
            r["doc_id"]: r["dup_of"]
            for r in incremental_minhash_drops(eb, nb, ed, nd).collect()
        }
        all_df = e_df.unionByName(n_df)
        pairs = [
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(all_df, "doc_id", "text", threshold=0.6).collect()
        ]
        new_ids = {i for i, _ in new}
        want: dict[int, int] = {}
        for a, b in pairs:  # a < b always
            for nid_, pid in ((b, a), (a, b)):
                if nid_ in new_ids and (pid not in new_ids or pid < nid_):
                    want[nid_] = min(want.get(nid_, pid), pid)
        assert got == want, f"seed={seed}"


def test_incremental_minhash_input_contract(spark):
    from signalk_parquet_spark.operators.dedup import incremental_minhash_drops

    bands = spark.createDataFrame(
        [(1, 0, "x")], "id long, band_idx int, band_val string"
    )
    docs = spark.createDataFrame([(1, [1, 2])], "id long, shl array<long>")
    bad = spark.createDataFrame([(1, "x")], "id long, wrong string")
    with pytest.raises(ValueError, match="new_bands is missing"):
        incremental_minhash_drops(bands, bad, docs, docs)
    with pytest.raises(ValueError, match="existing_docs is missing"):
        incremental_minhash_drops(bands, bands, bad, docs)


def test_hard_negatives_operator(spark):
    """Hard-negative mining: per query, the most-similar DIFFERENT-label
    rows — same-label near-dups must never appear, ranking is by cosine
    with id tie-break, and the exact mode matches a python truth."""
    import math

    from signalk_parquet_spark.operators.similarity import hard_negatives

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.99, 0.1, 0.0, 0.0], 0),   # same-label near-dup of 0: excluded
        (2, [0.9, 0.2, 0.0, 0.0], 1),    # the hardest negative for 0
        (3, [0.0, 1.0, 0.0, 0.0], 1),
        (4, [-1.0, 0.0, 0.0, 0.0], 2),
        (5, [0.5, 0.5, 0.0, 0.0], 2),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    q = emb.filter(F.col("vec_id") < 2)
    got = hard_negatives(
        emb, q, id_col="vec_id", vec_col="embedding", label_col="label", k=3, dim=4
    ).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / math.sqrt(sum(x * x for x in a) * sum(x * x for x in b))

    want = {}
    for qid, qv, ql in rows[:2]:
        neg = [
            (round(cos(qv, v), 4), nid)
            for nid, v, lb in rows
            if nid != qid and lb != ql
        ]
        want[qid] = [n for _, n in sorted(neg, key=lambda t: (-t[0], t[1]))[:3]]
    assert by_q == want
    # the same-label near-dup (1 for query 0) is structurally absent
    assert 1 not in by_q[0]

    # bucketed twin: a subset of the exact candidates, and the nearly
    # parallel different-label vector 2 must share query 0's bucket
    ann = hard_negatives(
        emb, q, id_col="vec_id", vec_col="embedding", label_col="label",
        k=3, dim=4, bucketed=True,
    ).collect()
    # different-label contract holds in bucketed mode too
    labels = {nid: lb for nid, _, lb in rows}
    qlabels = {0: 0, 1: 0}
    assert all(labels[r["neighbor_id"]] != qlabels[r["query_id"]] for r in ann)
    got0 = [r["neighbor_id"] for r in ann if r["query_id"] == 0]
    assert 2 in got0 and 1 not in got0


def test_hard_negatives_plan_shape(spark):
    """100 TB invariants: query side broadcast (the one sanctioned BNLJ in
    exact mode), top-k rides the WindowGroupLimit rewrite, no range
    exchange, nothing row-at-a-time."""
    from signalk_parquet_spark.operators.similarity import hard_negatives

    rows = [(i, [float(i % 7), 1.0, 0.5, 0.0], i % 3) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    q = emb.filter(F.col("vec_id") < 3)
    plan = (
        hard_negatives(emb, q, "vec_id", "embedding", "label", k=5, dim=4)
        ._jdf.queryExecution().executedPlan().toString().lower()
    )
    assert "windowgrouplimit" in plan
    assert "rangepartitioning" not in plan
    assert "batchevalpython" not in plan
    assert plan.count("broadcastnestedloopjoin") <= 1
    # bucketed mode trades the BNLJ for a bucket equi-join
    bplan = (
        hard_negatives(emb, q, "vec_id", "embedding", "label", k=5, dim=4, bucketed=True)
        ._jdf.queryExecution().executedPlan().toString().lower()
    )
    assert "broadcastnestedloopjoin" not in bplan
    assert "broadcasthashjoin" in bplan


def _py_containment(rows, t, n=3):
    """Brute-force containment truth over word n-gram shingle SETS."""
    def sh(text):
        toks = text.split(" ")
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    sets = {i: sh(tx) for i, tx, *_ in rows}
    out = {}
    for a, sa in sets.items():
        if not sa:
            continue
        for b, sb in sets.items():
            if a == b:
                continue
            inter = len(sa & sb)
            if inter / len(sa) >= t:
                out[(a, b)] = (inter, len(sa))
    return out


def test_containment_pairs_matches_bruteforce(spark):
    """The prefix-filtered candidate generation must reproduce the
    quadratic truth exactly — including the planted quote case Jaccard
    misses (short doc inside a long one) and the exact-boundary pair."""
    from signalk_parquet_spark.operators.dedup import containment_pairs

    long_doc = " ".join(f"w{i}" for i in range(60))
    quote = " ".join(f"w{i}" for i in range(20, 32))          # inside long_doc
    half_in = " ".join(f"w{i}" for i in range(55, 70))        # straddles the end
    rows = [
        (1, long_doc),
        (2, quote),                      # contained: C(2->1) = 1.0
        (3, half_in),                    # partial overlap
        (4, "a b"),                      # < 3 tokens -> empty shingle set
        (5, quote + " tail0 tail1 tail2"),  # mostly contained in 1
        (6, " ".join(f"z{i}" for i in range(30))),  # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.8, 0.5):
        got = {
            (r["id_a"], r["id_b"]): (r["inter"], r["size_a"])
            for r in containment_pairs(df, "doc_id", "text", [], t).collect()
        }
        assert got == _py_containment(rows, t), f"t={t}"
    # the asymmetry is real: 2->1 contained, 1->2 not
    t08 = _py_containment(rows, 0.8)
    assert (2, 1) in t08 and (1, 2) not in t08
    # materialize=False (the gates' cached-memo path, r12) is a pure
    # execution-strategy switch: identical output, no persist jobs
    got_nomat = {
        (r["id_a"], r["id_b"]): (r["inter"], r["size_a"])
        for r in containment_pairs(
            df, "doc_id", "text", [], 0.8, materialize=False
        ).collect()
    }
    assert got_nomat == t08


def test_containment_boundary_and_jaccard_blindspot(spark):
    """(a) containment EXACTLY at the threshold is kept in both engines'
    arithmetic (one division of exact ints vs the same literal); (b) the
    kept quote pair has Jaccard far below any near-dup cut — the reason
    this family exists."""
    from signalk_parquet_spark.operators.dedup import containment_pairs

    # doc 2 has 5 shingles, exactly 4 shared with doc 1 -> C = 0.8
    base = "w0 w1 w2 w3 w4 w5"            # shingles: 4 trigrams
    rows = [
        (1, " ".join(f"w{i}" for i in range(40))),
        (2, base + " q0"),                # 5 shingles, 4 in doc 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, "doc_id", "text", [], 0.8).collect()
    }
    assert got[(2, 1)] == 4 / 5
    sa = {f"w{i} w{i+1} w{i+2}" for i in range(4)} | {"w4 w5 q0", "w3 w4 w5"}
    sb = {f"w{i} w{i+1} w{i+2}" for i in range(38)}
    jac = len(sa & sb) / len(sa | sb)
    assert jac < 0.15  # invisible to the 0.5-Jaccard screens


def test_containment_plan_shape(spark):
    from signalk_parquet_spark.operators.dedup import containment_pairs

    rows = [(i, " ".join(f"w{(i * 3 + j) % 50}" for j in range(25))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plan = (
        containment_pairs(df, "doc_id", "text", [], 0.8)
        ._jdf.queryExecution().executedPlan().toString().lower()
    )
    assert "cartesianproduct" not in plan
    assert "broadcastnestedloopjoin" not in plan
    assert "batchevalpython" not in plan


def test_containment_join_cross_frame(spark):
    """Probe-vs-index form: probe x probe pairs structurally unreachable,
    index-side df ordering handles probe tokens ABSENT from the index
    (df 0 — they sort into the prefix and generate zero candidates), and
    results match the brute-force cross truth."""
    from signalk_parquet_spark.operators.dedup import containment_join
    from signalk_parquet_spark.functions.text import distinct_shingles, hashed_shingles

    long_doc = " ".join(f"w{i}" for i in range(50))
    probe_rows = [
        (100, " ".join(f"w{i}" for i in range(10, 22))),   # inside the index doc
        (101, " ".join(f"z{i}" for i in range(12))),       # all tokens absent
        (102, " ".join(f"w{i}" for i in range(10, 20)) + " z0 z1"),  # partial
    ]
    index_rows = [(1, long_doc), (2, " ".join(f"y{i}" for i in range(30)))]

    def prep(rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return df.select(
            F.col("doc_id").alias("id"),
            hashed_shingles(distinct_shingles("text")).alias("shl"),
        )

    got = {
        (r["id_a"], r["id_b"]): (r["inter"], r["size_a"])
        for r in containment_join(prep(probe_rows), prep(index_rows), 0.6).collect()
    }

    def sh(text):
        t = text.split(" ")
        return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}

    want = {}
    for a, ta in probe_rows:
        sa = sh(ta)
        for b, tb in index_rows:
            inter = len(sa & sh(tb))
            if sa and inter / len(sa) >= 0.6:
                want[(a, b)] = (inter, len(sa))
    assert got == want
    assert (100, 1) in got            # the planted swallow
    assert not any(k[0] == 101 for k in got)  # absent-token probe: nothing
