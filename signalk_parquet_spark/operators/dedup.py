"""Reusable dedup operators over any document DataFrame (BASELINE extension
set) — the engine API behind the `dedup_*` gate queries.

Every variant is candidates-by-equality-join (content hash / length bucket /
LSH band / simhash value), never an O(n²) cross join; pairwise verify runs
on 48-bit integer-hashed shingle sets (see SCALE.md).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    distinct_shingles,
    hashed_shingles,
    jaccard,
    minhash_signature,
)


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content with the
    keeper id (lowest) and copy count."""
    return df.groupBy(F.md5(text_col).alias("content_hash")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min(id_col).alias("keeper_id"),
    )


def shingled(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shl) frame with integer-hashed n-gram shingle sets — the shared
    input of the pairwise variants. Persisted and fully materialized so
    self-joins reuse one computation."""
    out = (
        df.select(F.col(id_col).alias("id"), distinct_shingles(text_col, n).alias("sh"))
        .withColumn("shl", hashed_shingles(F.col("sh")))
        .persist()
    )
    out.count()
    return out


def verify_pairs(cand: DataFrame, docs: DataFrame, threshold: float) -> DataFrame:
    """cand(id_a, id_b) ⋈ shingle sets → exact Jaccard ≥ threshold."""
    da = docs.select(F.col("id").alias("id_a"), F.col("shl").alias("shl_a"))
    db = docs.select(F.col("id").alias("id_b"), F.col("shl").alias("shl_b"))
    jac = jaccard(F.col("shl_a"), F.col("shl_b"))
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def prefix_len(sz: Column, t: float) -> Column:
    """Pigeonhole prefix length ``sz − ⌈t·sz⌉ + 1`` (bigint): a set that
    must share ≥ ⌈t·sz⌉ of its sz tokens with a partner shares at least
    one of any sz − ⌈t·sz⌉ + 1 of them taken in a common order. The 1e-9
    absorbs float error in t·sz (0.07·100 = 7.000000000000001 must ceil
    to 7, not 8 — 8 would cut the prefix one token short and lose true
    pairs); it can only lengthen a prefix, which the verify absorbs."""
    return sz - F.ceil(sz * F.lit(t) - F.lit(1e-9)).cast("long") + 1


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.6,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: signature → band keys → bucket equi-join
    candidates → exact-Jaccard verify."""
    docs = shingled(df, id_col, text_col)
    sig = docs.select(
        "id", *[c.alias(f"mh{i}") for i, c in enumerate(minhash_signature(F.col("sh"), k))]
    )
    rows_per_band = max(k // bands, 1)
    for j in range(bands):
        parts = [F.col(f"mh{j * rows_per_band + r}") for r in range(rows_per_band)]
        sig = sig.withColumn(f"band{j}", F.md5(F.concat_ws("|", *parts)))
    cand = lsh_band_pairs(lsh_band_rows(sig, "id", bands), "id", "id_a", "id_b")
    return verify_pairs(cand, docs, threshold)


def lsh_band_rows(sig: DataFrame, id_col: str, bands: int) -> DataFrame:
    """(id_col, band_idx, band_val): one row per LSH band of each
    signature row, read from its ``band0 .. band{bands-1}`` columns."""
    return sig.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(F.lit(j).alias("band_idx"), F.col(f"band{j}").alias("band_val"))
                for j in range(bands)
            ])
        ).alias("b"),
    ).select(id_col, "b.band_idx", "b.band_val")


def lsh_band_pairs(band_rows: DataFrame, id_col: str, out_a: str, out_b: str) -> DataFrame:
    """The LSH band self-join: distinct (out_a, out_b) id pairs, out_a <
    out_b, that share some (band_idx, band_val) bucket."""
    a, b = band_rows.alias("a"), band_rows.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias(out_a), F.col(f"b.{id_col}").alias(out_b))
        .distinct()
    )


def _shingle_frame(
    prepared: DataFrame | None, df: DataFrame, id_col: str, text_col: str,
    block_cols: list[str], *extra: Column,
) -> DataFrame:
    """``prepared`` when given, else ``df`` as the (id, *block_cols,
    *extra, shl) hashed-shingle frame the pairwise screens consume."""
    if prepared is not None:
        return prepared
    return df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in block_cols],
        *extra,
        hashed_shingles(distinct_shingles(text_col)).alias("shl"),
    )


def blocked_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    len_bucket_width: int = 20,
    threshold: float = 0.5,
    prepared: DataFrame | None = None,
) -> DataFrame:
    """Length-and-attribute-blocked pairwise Jaccard (the cheap screen when
    a natural blocking key exists).

    Recall: one side explodes to its ±1 adjacent length buckets (the
    proximity_pairs lat-band pattern), so two near-identical documents whose
    lengths straddle a bucket boundary (e.g. 39 vs 41 chars at width 20) are
    still compared — exact-bucket equality would silently never pair them.
    Guarantee: any pair with |len_a - len_b| < len_bucket_width is probed;
    larger gaps imply a Jaccard far below useful thresholds. Each unordered
    pair matches exactly once (the exploded bucket values are distinct), so
    the join needs no de-dup and the key stays an EQUI join.

    ``prepared``: an already-materialized shingle frame with columns
    (id, *block_cols, len_bucket, shl) — pass it when several screens run
    over one corpus in a session so the shingling (the dominant map-side
    cost) is computed once (see queries_dedup._shingled_docs).
    """
    d = _shingle_frame(
        prepared, df, id_col, text_col, block_cols,
        F.floor(F.length(text_col) / len_bucket_width).alias("len_bucket"),
    )
    if prepared is None:
        d = d.persist()
        d.count()
    a = d.alias("a")
    b = d.withColumn(
        "len_bucket",
        F.explode(
            F.array(F.col("len_bucket") - 1, F.col("len_bucket"), F.col("len_bucket") + 1)
        ),
    ).alias("b")
    cond = (F.col("a.len_bucket") == F.col("b.len_bucket")) & (F.col("a.id") < F.col("b.id"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    jac = jaccard(F.col("a.shl"), F.col("b.shl"))
    return (
        a.join(b, cond)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    threshold: float = 0.5,
    prepared: DataFrame | None = None,
    materialize: bool = True,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (AllPairs /
    PPJoin, Bayardo et al. WWW'07): finds EVERY pair with Jaccard ≥
    ``threshold`` inside each block — no length-bucket recall trade.

    Each set's prefix is ranked by corpus document frequency, rarest
    first, exactly like the containment family: prefix slots go to the
    tokens least likely to collide, so candidate volume — the exchange at
    cluster scale — collapses toward the true pair count on hot-token
    corpora.

    Each document explodes only the first ``|S| - ceil(t·|S|) + 1``
    elements of its shingle set in that order (the prefix); two sets with
    Jaccard ≥ t provably share a prefix element under the common order, so
    an equi-join on prefix tokens generates a candidate superset, and the
    exact-Jaccard verify keeps precisely the answer. Scale: the inverted
    prefix index shuffles on the 48-bit shingle hash (balanced key space);
    candidates are pairs sharing an actual shingle, further screened by the
    AllPairs length filter (jac >= t forces t·|A| <= |B| <= |A|/t; an
    epsilon-loosened bound so float rounding can only admit, never drop).
    Measured at sf0.1: 374k blocked candidates vs 146k prefix / 111k with
    the length filter for the same 79-pair
    answer — only 2.6x here because the bench corpus draws from a ~30-word
    vocabulary, so even prefix shingles repeat; on natural text (large
    vocabulary, Zipfian shingles) prefix tokens are rare and the candidate
    set approaches the true pair count, which is why AllPairs is the
    canonical corpus-scale algorithm. The blocked screen stays the cheaper
    choice when a trustworthy blocking key exists; this operator is the
    EXACT fallback when none does.

    ``prepared``: (id, *block_cols, shl) frame in any element order;
    defaults to shingling ``df``.
    ``materialize=False``: skip the persist+count when ``prepared`` is
    already session-cached — the three consumers then recompute only the
    size projection from the cache (see containment_join).
    """
    d = _shingle_frame(prepared, df, id_col, text_col, block_cols)
    # the INPUT arrays are kept: the verify's Jaccard is order-insensitive
    # and the prefix is computed on the exploded stream below
    d = (
        d.select("id", *block_cols, F.col("shl").alias("shl"))
        .withColumn("sz", F.size("shl"))
    )
    pre_len = prefix_len(F.col("sz"), threshold).cast("int")
    if materialize:
        d = d.persist()
        # materialize once: the prepared frame feeds BOTH sides of the
        # candidate join and the verify step (three consumers)
        d.count()
    # AllPairs canonical ordering (Bayardo WWW'07), stream form: a COMMON
    # global (df, tok) total order is all the symmetric prefix bound
    # needs, so rank each doc's exploded tokens by (corpus df, tok) and
    # keep the first sz − ⌈t·sz⌉ + 1, with no array rebuild. Prefixes
    # then hold the least collision-prone shingles (693x candidate cut on
    # the containment ramp's hot-shingle corpus; at cluster scale
    # candidate volume IS the exchange).
    exf = d.select("id", *block_cols, "sz", F.explode("shl").alias("tok"))
    exf = exf.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("tok"))
    )
    rn = F.row_number().over(Window.partitionBy("id").orderBy("_df", "tok"))
    ex = (
        exf.withColumn("_rn", rn)
        .filter(F.col("_rn") <= pre_len)
        .select("id", *block_cols, "sz", "tok")
    )
    a, b = ex.alias("a"), ex.alias("b")
    # AllPairs length filter: jac >= t implies t*|A| <= |A∩B| <= min(|A|,|B|),
    # so both |B| >= t*|A| and |A| >= t*|B|. The epsilon loosens the bound by
    # one part in 10^9 so float rounding can only ADMIT a spurious candidate
    # (verify discards it), never exclude a true pair.
    t_eps = threshold - 1e-9
    cond = (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id"))
    cond = cond & (F.col("b.sz") >= F.lit(t_eps) * F.col("a.sz"))
    cond = cond & (F.col("a.sz") >= F.lit(t_eps) * F.col("b.sz"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cand = (
        a.join(b, cond)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return verify_pairs(
        cand, d.select("id", "shl"), threshold
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    threshold: float = 0.8,
    prepared: DataFrame | None = None,
    materialize: bool = True,
) -> DataFrame:
    """EXACT set-CONTAINMENT self-join: every ORDERED pair (a, b), a ≠ b,
    with |shingles(a) ∩ shingles(b)| / |shingles(a)| ≥ ``threshold`` —
    the asymmetric twin of the Jaccard family, and a different question:
    Jaccard finds near-COPIES (both sets mostly shared), containment
    finds QUOTES/SUBSETS — a short document embedded nearly whole inside
    a long one, which Jaccard misses completely (a 20-gram quote inside
    a 2000-gram page has jac ≈ 0.01 but containment ≈ 1.0). The LLM-
    pipeline use is quote/boilerplate provenance and "is this eval doc
    swallowed by some training page" (SSJoin prefix filtering, Chaudhuri
    et al. ICDE'06 — public algorithm).

    Prefix filter, containment form: only the PROBE side (a) explodes a
    prefix — its first |A| − ⌈t·|A|⌉ + 1 shingles (if a ≥ t fraction of
    A is in B, at least one of A's prefix tokens is: were the whole
    prefix outside B, A∩B would fit in the |A|−prefix = ⌈t·|A|⌉−1
    suffix — the pigeonhole bound, which holds for ANY per-doc order);
    the INDEX side (b) explodes fully, because containment puts no
    upper bound on |B|. Because the order is free, each probe set is
    ranked RAREST-shingle-first (classic AllPairs ordering, Bayardo
    WWW'07; one df window over the shingle stream): the prefix then
    holds the tokens least likely to collide. Measured on a
    stopword-heavy corpus (python tools/ramp.py containment): candidates
    collapse to essentially the true pair count — 33.8k vs a hash
    order's 23.4M at 320k docs (693x) — and candidate growth turns
    LINEAR where both hash-prefix and full-probe grow quadratically with
    corpus heat. Honest local wall: the df ranking's extra shingle-stream
    shuffle costs more than the avoided candidate join below ~10^6 docs
    on one box (16.8 s vs 13.5 s at 320k, local[32]), the same
    exchange-volume-vs-local-wall trade as the grouped-MG family — at
    cluster scale candidate volume IS the exchange. The
    ceil is epsilon-LOOSENED (⌈x − 1e-9⌉) so float rounding can only
    LENGTHEN the prefix (admit a spurious candidate for verify to
    discard), never shorten it below the bound — t·sz is inexact in
    binary for most t (0.8·35 = 28.000000000000004 would otherwise ceil
    to 29 and silently drop true pairs). One size filter applies:
    |B| ≥ t·|A| (the intersection fits in B); blocks ride the same
    equi-join key. Verify is exact: inter = |A∩B| integer, containment =
    one IEEE division of exact ints — bit-identical across engines, so
    the ≥ t compare is engine-stable (threshold literals parse to the
    same double everywhere).

    Empty shingle sets (docs under n+? tokens) are EXCLUDED, not
    vacuously contained: 0/0 is a contract decision, and "the empty set
    is inside everything" is never the curation question being asked.

    ``prepared``: (id, *block_cols, shl) frame as in prefix_jaccard_pairs.
    Returns (id_a, id_b, inter, size_a, containment) — a is the
    contained side."""
    d = _shingle_frame(prepared, df, id_col, text_col, block_cols)
    return containment_join(
        d, d, threshold, block_cols=block_cols,
        exclude_same_id=True, materialize=materialize,
    )


def containment_join(
    probe: DataFrame,
    index: DataFrame,
    threshold: float = 0.8,
    block_cols: list[str] | None = None,
    exclude_same_id: bool = False,
    materialize: bool = True,
) -> DataFrame:
    """Cross-frame containment: every (probe a, index b) pair with
    |A∩B|/|A| ≥ ``threshold`` — the decontamination form of
    :func:`containment_pairs` ("is this eval doc swallowed by some
    training page"): the probe side is the small eval/new slice, the
    index side the corpus, and probe×probe / index×index pairs are
    structurally out of scope (the incremental-dedup shape). Both
    inputs are (id, *block_cols, shl) frames; pass the SAME DataFrame
    object twice (+ ``exclude_same_id``) for the self-join —
    containment_pairs does — and the frame is prepared and persisted
    once, not twice.

    Each probe set is ordered by INDEX-side document frequency, rarest
    first: a probe token absent from the index sorts
    first (df 0) and generates zero candidates, so prefix slots go to
    the tokens that actually discriminate — strictly better than
    self-corpus df for cross-frame probes, identical to it for the
    self-join. Exactness is order-free (pigeonhole; see
    containment_pairs). Returns (id_a = probe, id_b = index, inter,
    size_a, containment).

    ``materialize=False`` skips the probe/index persist+count: correct
    for callers whose inputs are ALREADY cached (the gates' session
    memos) — the three consumers then re-derive a trivial size/filter
    projection from the cache instead of paying a second cache write
    plus its materialization job (measured −14/−15% warm wall on both
    containment gates). Keep the default when the inputs embed real
    compute (inline shingling): without it that compute runs once per
    consumer."""
    bc = list(block_cols or [])
    same = probe is index
    # no reordered ARRAYS are materialized: the ordered set is only ever
    # consumed as a prefix of the exploded stream, so the prefix is
    # computed directly there (see below) and the persisted probe keeps
    # its input arrays — the verify's array_intersect is order-insensitive
    p = (
        probe.select("id", *bc, F.col("shl").alias("shl"))
        .withColumn("sz", F.size("shl").cast("long"))
        .filter(F.col("sz") > 0)
    )
    if materialize:
        p = p.persist()
        # materialize once: feeds the probe prefix and the verify
        p.count()
    if same:
        ix = p
    else:
        ix = (
            index.select("id", *bc, "shl")
            .withColumn("sz", F.size("shl").cast("long"))
            .filter(F.col("sz") > 0)
        )
        if materialize:
            ix = ix.persist()
            ix.count()
    pre_len = prefix_len(F.col("sz"), threshold)
    # Rarest-INDEX-shingle-first prefix, computed ON the exploded stream:
    # rank each probe's tokens by (index df, tok) and keep the first
    # sz − ⌈t·sz⌉ + 1 (pigeonhole is order-free; (df, tok) is a total
    # order so the pick is deterministic), with no array rebuild. Self-
    # joins get df as count() over the same stream (no index pass, no
    # join); cross-frame keeps the df-table join.
    ex = p.select("id", *bc, "sz", F.explode("shl").alias("tok"))
    if same:
        ex = ex.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("tok"))
        )
    else:
        dfreq = (
            index.select(F.explode("shl").alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("_df"))
        )
        ex = ex.join(dfreq, "tok", "left").withColumn(
            "_df", F.coalesce(F.col("_df"), F.lit(0))
        )
    rn = F.row_number().over(Window.partitionBy("id").orderBy("_df", "tok"))
    a = (
        ex.withColumn("_rn", rn)
        .filter(F.col("_rn") <= pre_len)
        .select("id", *bc, "sz", "tok")
        .alias("a")
    )
    b = ix.select("id", *bc, "sz", F.explode("shl").alias("tok")).alias("b")
    t_eps = threshold - 1e-9
    cond = (F.col("a.tok") == F.col("b.tok"))
    if exclude_same_id:
        cond = cond & (F.col("a.id") != F.col("b.id"))
    cond = cond & (F.col("b.sz") >= F.lit(t_eps) * F.col("a.sz"))
    for c in bc:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cand = (
        a.join(b, cond)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    da = p.select(F.col("id").alias("id_a"), F.col("shl").alias("shl_a"),
                  F.col("sz").alias("size_a"))
    db = ix.select(F.col("id").alias("id_b"), F.col("shl").alias("shl_b"))
    inter = F.size(F.array_intersect(F.col("shl_a"), F.col("shl_b"))).cast("long")
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "id_a", "id_b", inter.alias("inter"), "size_a",
            (inter / F.col("size_a")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def dedup_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    threshold: float = 0.5,
) -> DataFrame:
    """The end product of the dedup pipeline: one keep/drop DECISION row per
    document. Near-dup pairs (blocked-Jaccard screen) → transitive-closure
    clusters (connected_components) → each cluster keeps its min-id
    representative; documents with no near-dup keep themselves.

    Scale: the label frame holds only documents that appear in some pair —
    at real dup rates a small fraction of the corpus — so the decision join
    is a skinny-side hash join against the full corpus, and the corpus side
    never re-shuffles (left join on its own id). Downstream filters on
    ``kept`` prune before any expensive read of the text column."""
    edges = blocked_jaccard_pairs(df, id_col, text_col, block_cols, threshold=threshold)
    labels = connected_components(edges, "id_a", "id_b").withColumnRenamed("node", "id")
    return (
        df.select(F.col(id_col).alias("id"))
        .join(labels, "id", "left")
        .select(
            "id",
            F.coalesce("label", F.col("id")).alias("cluster_rep"),
            (F.col("label").isNull() | (F.col("label") == F.col("id"))).alias("kept"),
        )
    )


def _local_union_find(spark, pdf, node_type, src: str, dst: str) -> DataFrame:
    """Solve CC on the driver with path-halving union-find over an
    already-collected (Arrow/pandas) edge frame and return the
    (node, label=min-id) frame lifted back out as a LocalRelation.

    This is the broadcast-hash-join analogy applied to graph connectivity:
    the pair relation that survives a dedup screen is orders of magnitude
    smaller than the corpus (79 edges from 60k docs at sf0.1), and below a
    bounded edge count collecting it is cheaper than ANY number of
    distributed rounds — exactly like collecting a small join side instead
    of shuffling the big one. connected_components gates on an explicit
    edge-count threshold (its limit-probe collect IS this pdf); above it
    the O(log d) distributed loop runs instead."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    nodes = set()
    for a, b in zip(pdf[src].to_numpy().tolist(), pdf[dst].to_numpy().tolist()):
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra  # larger root under smaller => root == min id
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("node", node_type), T.StructField("label", node_type)]
    )
    from ..localrel import local_frame

    return local_frame(spark, [(n, find(n)) for n in sorted(nodes)], schema)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """Min-label propagation connected components over an undirected edge
    list → ``(node, label)`` where ``label`` is the smallest node id in the
    component — the canonical "cluster representative" step after any
    pairwise near-dup screen (transitive closure of the pair relation).

    Size-adaptive strategy: the edge list is materialized and counted once
    (it is the output of the expensive screen, so this costs one cache
    read), and at or below ``local_threshold`` edges (~16 MB at the 1M
    default — broadcast-join territory) the component labels come from a
    driver-side union-find in one collect + one parallelize instead of
    3-4 shuffle rounds of fixed scheduler overhead. Above the threshold
    the distributed O(log d) loop below runs unchanged.

    Scale notes (distributed path): each round is one equi-join of the edge list against the
    current label frame plus a map-side min-combine, followed by a
    pointer-jump (label := label(label)) that collapses chains O(log
    diameter) instead of O(diameter) — near-dup clusters are clique-like,
    so 2-3 rounds in practice. Labels are ``localCheckpoint``-ed each
    round, NOT merely persisted: persist caches data but keeps the full
    logical plan, and an iterative self-referencing join doubles plan size
    per round, so Catalyst analysis time goes exponential (observed: a
    9-round loop that never finished analysis). localCheckpoint truncates
    lineage at the cached partitions; the fault-tolerance trade (executor
    loss restarts the job) is the standard one for iterative graph
    algorithms. Semantics stay exactly expressible as a recursive-CTE
    oracle.
    """
    # ONE action both decides the strategy and — in the common small-graph
    # case — already holds the complete edge list on the driver:
    # limit(T+1) returns the WHOLE relation iff it has <= T rows, so the
    # screen subtree is computed exactly once. The previous shape
    # (persist + count to size it, then a second cached pass to collect)
    # paid an extra job, the cache write, and the cache memory for the
    # same information (guide §1.2: don't compute things you throw away).
    # Union-find labels are edge-ORDER-independent, so which rows a
    # too-large probe returns is immaterial — the distributed path below
    # recomputes from the lineage. Driver memory stays bounded by T+1
    # rows either way.
    # Persist BEFORE the probe (r13): the probe's CollectLimit computes —
    # and now caches — whatever partitions it touches, so the >T branch's
    # count() below re-reads them from cache and computes only the REST:
    # the screen subtree runs exactly once regardless of branch (the r12
    # probe-only shape ran it twice on the large branch — once for the
    # probe, once for the persist+count). The small branch still pays one
    # job and discards a ≤T-row (~16 MB) cache write — negligible next to
    # the screen it fronts.
    pairs = edges.select(src, dst).persist()
    probe = pairs.limit(local_threshold + 1).toPandas()
    if len(probe) <= local_threshold:
        pairs.unpersist()
        return _local_union_find(
            edges.sparkSession, probe, edges.schema[src].dataType, src, dst
        )
    pairs.count()
    # symmetrize in ONE traversal (explode, not self-union — a union would
    # recompute the upstream pair screen once per branch)
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("src"), F.col(dst).alias("dst")),
                F.struct(F.col(dst).alias("src"), F.col(src).alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst").persist()
    n_edges = sym.count()
    pairs.unpersist()
    # the pair relation is orders of magnitude smaller than the corpus that
    # produced it — right-size the graph's layout so each iteration is a few
    # tasks, not input-partition-count tasks. ~1M edges per partition; at
    # real scale this leaves thousands of partitions, here it collapses to 1.
    parts = max(1, min(sym.rdd.getNumPartitions(), n_edges // 1_000_000 + 1))
    if parts < sym.rdd.getNumPartitions():
        packed = sym.coalesce(parts).persist()
        packed.count()
        sym.unpersist()
        sym = packed
    # every shuffle inside the loop should match the graph's layout, not the
    # session-wide partitioning meant for full-table scans. Earlier revisions
    # mutated spark.sql.shuffle.partitions for the loop's duration, but that
    # conf is session-global: anything planned concurrently (a foreachBatch
    # sink, a parallel gate query) inherited the tiny partition count. Instead
    # the loop shuffles at session width and lets AQE coalesce collapse the
    # post-shuffle side to the data's real size — scoped to these queries
    # only, and at real scale (thousands of edge partitions) AQE keeps them.
    # initialize at min(self, min(neighbor)) — exactly one propagate step,
    # folded into the same single shuffle a distinct() init would cost, so
    # clique-like components (the near-dup norm) typically converge one
    # full round earlier. Labels are still always node ids present in the
    # frame (sym is symmetric), preserving the pointer-jump totality below.
    labels = (
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("min_nbr"))
        .select("node", F.least(F.col("node"), F.col("min_nbr")).alias("label"))
        .localCheckpoint()
    )
    prev_sum: int | None = None
    for _ in range(max_iter):
        nbr = sym.join(labels, sym["dst"] == labels["node"]).select(
            F.col("src").alias("node"), F.col("label")
        )
        stepped = (
            labels.unionByName(nbr).groupBy("node").agg(F.min("label").alias("label"))
        )
        # pointer jump: label := label(label). Every label IS a node in the
        # frame (labels start as self and only ever take existing node ids),
        # so the self-join is total and chains halve each round.
        jump = stepped.select(
            F.col("node").alias("j_node"), F.col("label").alias("j_label")
        )
        new = stepped.join(jump, stepped["label"] == jump["j_node"]).select(
            "node", F.least("label", "j_label").alias("label")
        ).localCheckpoint(eager=False)
        # min-propagation is monotone (labels only ever decrease), so the
        # label sum is a strictly decreasing convergence witness — and the
        # agg's first action doubles as the lazy checkpoint's materializing
        # job, one job per round instead of checkpoint + compare-join.
        # decimal(38,0) accumulator: a LongType sum wraps silently in
        # non-ANSI mode, and at billions of nodes with 64-bit ids a wrapped
        # collision with prev_sum would end the loop unconverged.
        cur_sum = new.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]
        labels = new
        # cur_sum is None iff the graph is EMPTY (sum over zero rows) — break
        # immediately or the None==None-never-true guard would spin max_iter
        # rounds of Spark jobs over nothing
        if cur_sum is None or cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    sym.unpersist()
    return labels


def pairs_to_decisions(
    items: DataFrame, pairs: DataFrame, id_col: str = "media_id"
) -> DataFrame:
    """Generic pair-stream → per-item keep/drop decisions: the dedup_corpus
    end-product shape for ANY near-dup pair source (the media rungs —
    audio_neardup_pairs / image_neardup_pairs / video_neardup_pairs — emit
    (id_a, id_b, ...) exactly like the text family). Transitive closure via
    connected_components, keep-min-id per cluster, items with no near-dup
    keep themselves. Same scale shape as dedup_corpus: the label frame
    holds only items that appear in some pair."""
    edges = pairs.select("id_a", "id_b")
    labels = connected_components(edges, "id_a", "id_b").withColumnRenamed("node", "id")
    return (
        items.select(F.col(id_col).alias("id"))
        .join(labels, "id", "left")
        .select(
            "id",
            F.coalesce("label", F.col("id")).alias("cluster_rep"),
            (F.col("label").isNull() | (F.col("label") == F.col("id"))).alias("kept"),
        )
    )


def incremental_minhash_drops(
    existing_bands: DataFrame,
    new_bands: DataFrame,
    existing_docs: DataFrame,
    new_docs: DataFrame,
    threshold: float = 0.6,
) -> DataFrame:
    """Cross-snapshot incremental near-dedup: decide ONLY the new docs —
    the recurring-pipeline shape (a fresh crawl snapshot lands against an
    already-deduped corpus). Inputs are the PERSISTED index form, not raw
    text: ``*_bands`` are (id, band_idx, band_val) LSH band rows (what a
    production run writes alongside each accepted snapshot; here derivable
    via minhash_lsh band machinery) and ``*_docs`` are (id, shl)
    hashed-shingle frames for the verify rung.

    The scale claim is what the join SHAPE refuses to do: the existing
    corpus appears only as one side of a band-keyed equi-join against the
    NEW slice — existing x existing pairs (the quadratic bulk an
    already-deduped corpus has no reason to revisit) are structurally
    unreachable, so per-snapshot cost tracks |new| x collision rate
    regardless of corpus age. The keep policy is existing-outranks-new
    (the corpus is immutable: a new duplicate of corpus content drops
    regardless of id order) and keep-first among new (partner id < new
    id) — i.e. the decision a full re-dedup of (existing ∪ new) makes
    under that same priority. This is the batch twin of
    streaming/stateful.make_neardup_fn's band-bucket state, snapshot-sized
    instead of micro-batch-sized.

    Returns one row per DROPPED new doc: (doc_id, dup_of = smallest
    verified partner, n_dup_partners, jac = Jaccard with dup_of) — all
    deterministic (min / min_by over unique partner ids; jac is one
    integer-ratio division, engine-exact)."""
    for name, frame, want in (
        ("existing_bands", existing_bands, ("band_idx", "band_val")),
        ("new_bands", new_bands, ("band_idx", "band_val")),
        ("existing_docs", existing_docs, ("id", "shl")),
        ("new_docs", new_docs, ("id", "shl")),
    ):
        missing = [c for c in want if c not in frame.columns]
        if missing:
            raise ValueError(
                f"{name} is missing column(s) {missing}: band frames are "
                "(id-first, band_idx, band_val) as written by the minhash "
                "band machinery; doc frames are the (id, shl) shingled form"
            )
        # band frames take the id POSITIONALLY (any name — minhash_lsh
        # writes doc_id, a caller's index may differ), so the position
        # must actually hold an id: a (band_idx, band_val, id) frame
        # would pass the presence check above and silently mis-key every
        # candidate join (ADVICE r11)
        if "band_idx" in want and frame.columns[0] in want:
            raise ValueError(
                f"{name}'s first column is '{frame.columns[0]}' — band "
                "frames carry the doc id FIRST, before the declared "
                "(band_idx, band_val) columns"
            )
    nb = new_bands.select(
        F.col(new_bands.columns[0]).alias("new_id"), "band_idx", "band_val"
    )
    eb = existing_bands.select(
        F.col(existing_bands.columns[0]).alias("partner"), "band_idx", "band_val"
    )
    nb2 = new_bands.select(
        F.col(new_bands.columns[0]).alias("partner"), "band_idx", "band_val"
    )
    cand = (
        nb.join(eb, ["band_idx", "band_val"])
        .select("new_id", "partner")
        .unionByName(
            nb.join(nb2, ["band_idx", "band_val"])
            .filter(F.col("partner") < F.col("new_id"))
            .select("new_id", "partner")
        )
        .distinct()
    )
    sh_all = existing_docs.select("id", "shl").unionByName(
        new_docs.select("id", "shl")
    )
    dp = sh_all.select(F.col("id").alias("partner"), F.col("shl").alias("shl_p"))
    dn = new_docs.select(F.col("id").alias("new_id"), F.col("shl").alias("shl_n"))
    jac = jaccard(F.col("shl_p"), F.col("shl_n"))
    ver = (
        cand.join(dp, "partner")
        .join(dn, "new_id")
        .select("new_id", "partner", jac.alias("jac"))
        .filter(F.col("jac") >= threshold)
    )
    return ver.groupBy("new_id").agg(
        F.min("partner").alias("dup_of"),
        F.count(F.lit(1)).alias("n_dup_partners"),
        F.min_by("jac", "partner").alias("jac"),
    ).select(F.col("new_id").alias("doc_id"), "dup_of", "n_dup_partners", "jac")
