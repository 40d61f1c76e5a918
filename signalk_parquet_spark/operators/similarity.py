"""Reusable similarity-search operators over embedding DataFrames — the
engine API behind the knn/ann gate queries.

Scoring stays in whole-stage codegen (unrolled multiply-add chains when
`dim` is given — see functions.vectors); the query set is broadcast so the
collection side never shuffles; rank keys are rounded with an id tie-break
for determinism (see SCALE.md).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..localrel import local_frame

from ..functions.litfast import lit_array
from ..functions.vectors import as_double, dot, hyperplane_bits, make_planes, norm_sq

#: cosine scores are rounded to this many digits before ranking; every
#: cos4 gate oracle rounds the same way
ROUND_DIGITS = 4
#: width of one product-quantization subspace; the PQ oracles slice
#: 16-wide subvectors
PQ_SUB_DIM = 16


def _with_norms(df: DataFrame, id_col: str, vec_col: str, dim: int | None) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"), as_double(vec_col).alias("emb")
    ).withColumn("n2", norm_sq(F.col("emb"), dim))


def knn_topk(
    collection: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k of each query against the collection (broadcast
    query set, map-only scan of the collection)."""
    coll = _with_norms(collection, id_col, vec_col, dim)
    q = _with_norms(queries, id_col, vec_col, dim).select(
        F.col("id").alias("query_id"), F.col("emb").alias("qemb"), F.col("n2").alias("qn2")
    )
    pairs = coll.join(F.broadcast(q), F.col("id") != F.col("query_id")).select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        F.round(dot(F.col("qemb"), F.col("emb"), dim) / F.sqrt(F.col("qn2") * F.col("n2")), ROUND_DIGITS).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ann_topk(
    collection: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH buckets: candidates share
    the query's bucket (equality join replaces the scan), exact cosine
    re-rank. Integer plane weights make bucket bits exact-arithmetic."""
    planes = make_planes(n_planes, dim)
    coll = _with_norms(collection, id_col, vec_col, dim).withColumn(
        "bucket", hyperplane_bits(F.col("emb"), planes)
    )
    q = _with_norms(queries, id_col, vec_col, dim).withColumn(
        "bucket", hyperplane_bits(F.col("emb"), planes)
    ).select(
        F.col("id").alias("query_id"), F.col("emb").alias("qemb"),
        F.col("n2").alias("qn2"), "bucket",
    )
    pairs = coll.join(F.broadcast(q), ["bucket"]).filter(F.col("id") != F.col("query_id")).select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        F.round(dot(F.col("qemb"), F.col("emb"), dim) / F.sqrt(F.col("qn2") * F.col("n2")), ROUND_DIGITS).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _fused_multitable_scan(coll, qids, qmat, qn2, qprobes, tables):
    """(id, emb) collection → (query_id, neighbor_id, cos) in ONE Arrow-
    batched map stage: per batch, compute every vector's bucket in every
    table, test membership against the broadcast query probe sets, and
    score the collisions — bucketing, candidate generation, dedup (a pair
    can only arise in the batch holding the neighbor) and scoring all fuse
    map-side, so the whole ANN query is one Python stage plus one top-k
    shuffle. The r03 shape (bucket rows → broadcast equi-join → distinct →
    two joins → window) was 5 shuffle-bounded stages whose fixed overhead
    dwarfed the tiny per-stage work.

    PARITY-CRITICAL float discipline: every accumulation loops over the
    dim axis IN ORDER with one vectorized add per element, reproducing the
    scalar left-to-right IEEE rounding of the Column/oracle forms exactly —
    a BLAS matmul's pairwise summation would differ in the last ulp and
    could flip a bucket bit (or a 4-decimal cosine) where a value lands
    within rounding of a boundary. Including zero-weight plane terms is
    exact: adding ±0.0 never changes a finite sum or the >= 0 test. The
    cosine leaves here UNROUNDED (raw IEEE quotient of bit-exact parts);
    rounding happens in Spark so the engine's own round semantics apply."""
    import numpy as np

    n_tables = len(tables)
    n_planes = len(tables[0])
    # (d, L*b) weight matrix: accumulating along the dim axis updates ALL
    # planes of ALL tables in one (n, L*b) fused step per dimension
    wflat = np.array(
        [[float(x) for x in plane] for table in tables for plane in table],
        dtype=np.float64,
    ).T  # (d, L*b)
    shifts = np.tile(np.arange(n_planes, dtype=np.int64), n_tables)
    bc = coll.sparkSession.sparkContext.broadcast(
        (wflat, shifts, np.asarray(qids, dtype=np.int64), qmat, qn2, qprobes)
    )
    schema = "query_id long, neighbor_id long, cos double"

    def score_batches(it):
        b_w, b_shifts, b_qids, b_qmat, b_qn2, b_probes = bc.value
        d = b_w.shape[0]
        for pdf in it:
            if len(pdf) == 0:
                continue
            emb = np.array(pdf["emb"].tolist(), dtype=np.float64)  # (n, d)
            ids = pdf["id"].to_numpy()
            n = len(pdf)
            acc = np.zeros((n, b_w.shape[1]), dtype=np.float64)
            for i in range(d):
                acc += emb[:, i : i + 1] * b_w[i][None, :]
            bits = (acc >= 0).astype(np.int64) << b_shifts[None, :]
            buckets = bits.reshape(n, n_tables, n_planes).sum(axis=2)  # (n, L)
            hit = np.zeros((n, len(b_qids)), dtype=bool)
            for t in range(n_tables):
                # (n, 1, 1) == (1, Q, n_flips) → any over probes
                hit |= (buckets[:, t, None, None] == b_probes[t][None, :, :]).any(-1)
            yield from _cos_pairs(hit, ids, emb, b_qids, b_qmat, b_qn2)

    return coll.select("id", "emb").mapInPandas(score_batches, schema=schema)


def _cos_pairs(hit, ids, emb, qids, qmat, qn2):
    """Score an (n, Q) candidate matrix of one batch: self-pairs dropped,
    then cos = e·q / sqrt(|q|²·|e|²) with e·q and |e|² accumulated in dim
    order, one add per element (the multitable float discipline). Yields
    one unrounded (query_id, neighbor_id, cos) frame, or none without a
    hit."""
    import numpy as np
    import pandas as pd

    hit &= ids[:, None] != qids[None, :]
    rows, cols = np.nonzero(hit)
    if len(rows) == 0:
        return
    a, b = emb[rows], qmat[cols]  # (P, d) each
    dacc = np.zeros(len(rows), dtype=np.float64)
    nacc = np.zeros(len(rows), dtype=np.float64)
    for i in range(qmat.shape[1]):
        dacc += a[:, i] * b[:, i]
        nacc += a[:, i] * a[:, i]
    cos = dacc / np.sqrt(qn2[cols] * nacc)
    yield pd.DataFrame({"query_id": qids[cols], "neighbor_id": ids[rows], "cos": cos})


def _centroid_table(rows):
    """(cids, cmat, cnorm) over cid-ordered (cid, cemb) rows, with |c|²
    accumulated in dim order — the oracle's sequential list_dot_product
    value."""
    import numpy as np

    cids = np.array([int(r["cid"]) for r in rows], dtype=np.int64)
    cmat = np.array([r["cemb"] for r in rows], dtype=np.float64)  # (K, d)
    cnorm = np.zeros(len(cids), dtype=np.float64)
    for i in range(cmat.shape[1]):
        cnorm += cmat[:, i] * cmat[:, i]
    return cids, cmat, cnorm


def _cell_dists(emb, cmat, cnorm):
    """(n, K) coarse-quantizer distances d = |c|² − 2·e·c, e·c accumulated
    in dim order, one add per element: bit-equal to the oracle's
    sequential sums (a BLAS matmul's pairwise summation could flip an
    argmin between near-equidistant centroids). argmin's first occurrence
    is the lowest cid over a cid-ordered table."""
    import numpy as np

    acc = np.zeros((len(emb), len(cnorm)), dtype=np.float64)
    for i in range(cmat.shape[1]):
        acc += emb[:, i : i + 1] * cmat[None, :, i]
    return cnorm[None, :] - 2.0 * acc


def _probe_mask(qmat, cids, cmat, cnorm, n_probe: int):
    """(K, Q) bool, computed on the driver: each query probes its
    ``n_probe`` nearest cells by the (d, cid) order of the oracle's
    row_number window. ``qmat`` must be (Q, dim), also when Q is 0."""
    import numpy as np

    qd = _cell_dists(qmat, cmat, cnorm)  # (Q, K)
    mask = np.zeros((len(cids), len(qmat)), dtype=bool)
    cid_to_idx = {int(c): j for j, c in enumerate(cids)}
    cid_list = [int(c) for c in cids]
    for qi in range(len(qmat)):
        for _, cid in sorted(zip(qd[qi].tolist(), cid_list))[:n_probe]:
            mask[cid_to_idx[cid], qi] = True
    return mask


def ann_topk_multitable(
    collection: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_tables: int = 4,
    n_planes: int = 8,
    dim: int = 64,
    probe_radius: int = 0,
) -> DataFrame:
    """Multi-table LSH ANN (OR-amplification): L independent hyperplane
    tables; a candidate only needs to collide with the query in ONE table.
    Single-table LSH AND-amplifies (all n_planes bits must agree), whose
    recall collapses when true neighbors aren't extremely close — multiple
    tables trade a bounded candidate-set growth (≤ L×) for multiplicatively
    better recall: miss probability (1 - p^b)^L drops geometrically in L.

    ``probe_radius`` adds MULTIPROBE: each query additionally probes every
    bucket within that Hamming distance of its own (bit flips of the bucket
    code), per table. A near neighbor most often misses by exactly one
    disagreeing plane, so radius 1 multiplies per-table collision odds by
    ~(1 + b·(1-p)/p) at a (1 + b)× probe-key cost — and the expansion is
    QUERY-side only: the collection's bucket index is untouched and the
    join stays an equi-join, so at 100 TB the cost is a slightly wider
    broadcast, not a bigger shuffle (Lv et al., "Multi-Probe LSH", VLDB'07).

    Scale shape: the collection NEVER shuffles — one Arrow-batched map
    stage computes each vector's L buckets, tests them against the
    broadcast query probe table, and scores the collisions in place
    (_fused_multitable_scan); the only shuffle is the per-query top-k
    window over the scored pairs (candidate-fraction x queries rows).
    Each (query, neighbor) pair arises exactly once — in the batch that
    holds the neighbor — so no distinct is needed. This requires the
    query set to be driver-collectable (the broadcast contract all the
    knn/ann operators here share); an unbounded query side would instead
    use the (table, bucket) equi-join shape.

    ``dim`` is the true vector dimension (sizes the hyperplanes); the
    fused scan scores in Arrow-batched numpy with oracle-identical
    sequential IEEE accumulation (see _fused_multitable_scan). An empty
    query set returns an empty frame with the same columns."""
    import numpy as np

    tables = [make_planes(n_planes, dim, seed=t) for t in range(n_tables)]
    coll = _with_norms(collection, id_col, vec_col, None)
    # the query set is small BY CONTRACT (it broadcasts) — bucket it on the
    # driver instead of paying a Python-worker launch for ~20 rows. Plain
    # Python floats are IEEE doubles and the loop is the same left-to-right
    # order, so buckets are bit-identical to the executor/oracle forms.
    def _bits_py(vec: list[float], planes: list[list[int]]) -> int:
        bucket = 0
        for j, w in enumerate(planes):
            acc = 0.0
            for i, x in enumerate(w):
                if x:
                    acc += vec[i] * float(x)
            if acc >= 0:
                bucket += 1 << j
        return bucket

    from itertools import combinations

    flips = [0]
    for r_ in range(1, probe_radius + 1):
        for combo in combinations(range(n_planes), r_):
            mask = 0
            for j in combo:
                mask |= 1 << j
            flips.append(mask)

    # qn2 comes from the SAME JVM expression the exact-knn gates use, so the
    # query-side norm is the proven oracle-equal value, not a re-derivation
    q_rows = bounded_collect(
        _with_norms(queries, id_col, vec_col, None).select("id", "emb", "n2"),
        "multitable LSH query set",
    )
    qids = [r["id"] for r in q_rows]
    # explicit shapes: an empty query set is (0, dim) / (L, 0, n_flips)
    qmat = np.array([r["emb"] for r in q_rows], dtype=np.float64).reshape(len(q_rows), dim)
    qn2 = np.array([r["n2"] for r in q_rows], dtype=np.float64)
    qprobes = np.array(
        [
            [[_bits_py(r["emb"], tables[t]) ^ flip for flip in flips] for r in q_rows]
            for t in range(n_tables)
        ],
        dtype=np.int64,
    ).reshape(n_tables, len(q_rows), len(flips))
    scored = _fused_multitable_scan(coll, qids, qmat, qn2, qprobes, tables)
    pairs = scored.select(
        "query_id", "neighbor_id", F.round("cos", ROUND_DIGITS).alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _cell_dist_structs(
    cent_rows, emb: Column | str, dim: int | None = None
) -> Column:
    """Array of (d, cid) structs over driver-collected centroid rows —
    the construction cell_argmin_col ranks. d = |c|² − 2·e·c with
    |c|² accumulated on the driver in sequential IEEE order (same value as
    an oracle's list_dot_product(c, c)); ties resolve to the lowest cid
    via struct ordering, matching a (d, cid) row_number sort.

    Pass ``emb`` as a column NAME to build the whole K-struct array as ONE
    parsed SQL expression: the Column form costs ~5 py4j round-trips per
    centroid (2 HOF creations at ~18 ms each dominate — measured 0.87 s of
    query-construction wall at K=16), the text form one call total. Both
    parse to the identical tree (same aggregate/zip_with lambdas, same
    literal doubles — functions/litfast rationale), so results and plans
    match; a Column stays on the classic builder."""
    cents = []
    for r in cent_rows:
        cvec = [float(x) for x in r["cemb"]]
        cn2 = 0.0
        for x in cvec:  # sequential IEEE order == oracle's list_dot_product
            cn2 += x * x
        cents.append((cvec, cn2, int(r["cid"])))
    if isinstance(emb, str):
        ecol = f"`{emb}`"
        parts = []
        for cvec, cn2, cid in cents:
            arr = "array(" + ",".join(f"{x!r}D" for x in cvec) + ")"
            if dim is None:
                d = (
                    f"{cn2!r}D - 2.0D * aggregate(zip_with({ecol}, {arr},"
                    " (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
                )
            else:
                acc = "0.0D"
                for i in range(dim):
                    acc = f"({acc} + {ecol}[{i}] * {cvec[i]!r}D)"
                d = f"{cn2!r}D - 2.0D * {acc}"
            parts.append(f"struct({d} AS d, CAST({cid} AS BIGINT) AS cid)")
        return F.expr("array(" + ",".join(parts) + ")")
    choices = []
    for cvec, cn2, cid in cents:
        d = F.lit(cn2) - F.lit(2.0) * dot(emb, lit_array(cvec, "double"), dim)
        choices.append(F.struct(d.alias("d"), F.lit(cid).cast("long").alias("cid")))
    return F.array(*choices)


def cell_argmin_col(cent_rows, emb: Column | str, dim: int | None = None) -> Column:
    """Nearest-centroid cell id as a pure Column — the map-only assignment
    the SemDeDup family shares (see _cell_dist_structs for the distance and
    tie order). Per-row cost grows with K — the numpy fused assignment is
    the large-K path."""
    return F.array_min(_cell_dist_structs(cent_rows, emb, dim))["cid"]


#: driver-side row bound for the ANN family's BROADCAST CONTRACT tables
#: (centroid/codeword/query sets): these are collected and inlined as
#: literals or numpy broadcasts BY DESIGN (k ~ sqrt(N) coarse quantizers,
#: caller-bounded query sets), and every docstring states the growth
#: limit — this makes the limit ENFORCED instead of trusted (the SemDeDup
#: max_cell lesson). 65536 rows x 64 dims x 8 B is ~34 MB on the driver
#: and far past the point where literal inlining should have been swapped
#: for kmeans_centroids + a join; a silent 10^7-row collect OOMs the
#: driver instead of erroring.
BROADCAST_MAX_ROWS = 65536


def bounded_collect(df: DataFrame, what: str, max_rows: int = BROADCAST_MAX_ROWS):
    """Collect a broadcast-contract table, erroring (instead of flooding
    the driver) when it outgrew its contract. take() respects a preceding
    orderBy, so the returned rows are the complete ordered set whenever
    the bound holds."""
    rows = df.take(max_rows + 1)
    if len(rows) > max_rows:
        raise ValueError(
            f"{what}: more than {max_rows} rows for a driver-side broadcast"
            " table. This side is meant to be k ~ sqrt(N) (or a bounded"
            " query set) — raise the stride / lower k, fit a learned"
            " quantizer (kmeans_centroids) instead of stride selection, or"
            " restructure the lookup as a join."
        )
    return rows


def _index_rows(df: DataFrame, what: str):
    """bounded_collect for a table every vector is scored against (coarse
    centroids, PQ codewords): an empty one leaves nothing to assign a
    vector to, so it is an error that names the table, not an empty result."""
    rows = bounded_collect(df, what)
    if not rows:
        raise ValueError(f"{what} is empty: no rows to score vectors against")
    return rows


#: default per-cell member cap for semantic_keep. The within-cell stage is
#: m² in BOTH work and memory — keep_group materializes an
#: m×m float64 cosine matrix, so 8192 members is ~0.5 GB per matrix and a
#: comfortable single-task bound; a duplicate-flood cell 10× that would be
#: 50 GB on one task. K ~ sqrt(N) keeps NORMAL cells far below this; only
#: pathological concentration (exact-duplicate floods) trips it.
SEMANTIC_MAX_CELL = 8192


def _semantic_shard(n_over: Column, id_c: Column, max_cell: int) -> Column:
    """Deterministic shard index for a member of an oversized cell: hash of
    the id modulo ceil(1.25 * m / max_cell) shards, so the EXPECTED shard
    size is <= 0.8 * max_cell. Honest bound: hash-modulo splitting bounds
    shard size in distribution, not absolutely — but with the 25% headroom
    a shard exceeding max_cell needs a binomial deviation of many standard
    deviations (for m = 10^6, max_cell = 8192: mean 6536, sd ~81, the cap
    sits 20+ sd out), so the per-task memory bound holds in practice while
    staying one map-side expression. Members of normal cells all land in
    shard 0."""
    n_shards = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(n_over * F.lit(1.25) / max_cell).cast("long"),
    )
    return F.when(
        n_over > max_cell,
        F.pmod(F.xxhash64(id_c), n_shards),
    ).otherwise(F.lit(0).cast("long"))


def semantic_keep(
    collection: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    tau: float,
    max_cell: int | None = SEMANTIC_MAX_CELL,
    on_oversize: str = "raise",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    cluster-then-threshold — assign every embedding to its nearest centroid
    cell, compare pairs only WITHIN a cell, and drop any vector whose cell
    holds a lower-id vector with cosine ≥ tau. Returns (id, cid, keep).

    The drop rule is the one-pass variant of SemDeDup's per-cluster
    keep-one: deterministic (lowest id wins), embarrassingly parallel, no
    iteration — the min-id member of every cell is always kept.

    Scale shape: centroids are driver-collected BY CONTRACT (a coarse
    quantizer is k ~ sqrt(N) rows, same broadcast contract as the knn/ann
    query sets) and broadcast as one numpy matrix. ONE Arrow-batched map
    stage assigns cells, then ONE shuffle groups each cell and an
    applyInPandas stage makes every keep/drop decision locally — zero
    joins in the whole operator. K grows with the corpus, so cells stay
    bounded and the within-cell work never degenerates toward all-pairs —
    exactly the property that makes SemDeDup tractable where
    embedding_neardup's blocking key is given, not learned.

    Parity: distances are d = |c|² − 2·e·c with |c|² and e·c accumulated in
    dim order (the same sequential IEEE value as the oracle's
    list_dot_product); the argmin over ascending cids resolves ties to the
    lowest cid, matching the oracle's (d, cid) row_number sort. Per-cell
    pairwise cosines also accumulate dim-ordered (the
    _fused_multitable_scan float discipline). Cosine-vs-tau is a threshold
    on a continuum (CLAUDE.md rule 4).

    max_cell / on_oversize guard the m² trap: a duplicate-flood cell of m
    members does m² comparisons and allocates an m×m float64 matrix on ONE
    task, so the prescription "run exact_dedup first" (it removes
    byte-identical copies with a hash-groupBy) is ENFORCED rather than
    trusted to call-site discipline. on_oversize="raise" (default) fails
    with that prescription, checked INSIDE the group task (zero extra
    passes — the task already holds the whole cell); "shard" pays one
    extra count+broadcast pass to split any oversized cell into
    ceil(1.25·m/max_cell) hash shards (the 25% headroom keeps the EXPECTED
    shard size ≤ 0.8·max_cell — see _semantic_shard for the tail-bound
    argument; size recall-loss estimates from the shard count, not from
    m/max_cell) and compares within shards only — bounded work per task,
    at the documented cost that near-dup pairs straddling shards of an
    OVERSIZED cell are kept rather than compared (under-dropping, never
    wrong drops). Results with no oversized cell are identical under every
    setting. max_cell=None disables the guard (the oracle gates run well
    under the cap either way)."""
    if on_oversize not in ("raise", "shard"):
        raise ValueError(f"on_oversize must be 'raise' or 'shard', got {on_oversize!r}")
    import numpy as np
    import pandas as pd

    cent_rows = _index_rows(  # ascending order: argmin tie -> lowest cid
        centroids.orderBy("cid"), "semantic_keep centroid table"
    )
    bc = collection.sparkSession.sparkContext.broadcast(_centroid_table(cent_rows))

    e = collection.select(F.col(id_col).alias("id"), as_double(vec_col).alias("emb"))

    def assign_batches(it):
        b_cids, b_cmat, b_cnorm = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            emb = np.array(pdf["emb"].tolist(), dtype=np.float64)
            pick = _cell_dists(emb, b_cmat, b_cnorm).argmin(axis=1)
            yield pd.DataFrame(
                {"id": pdf["id"], "cid": b_cids[pick], "emb": pdf["emb"]}
            )

    assigned = e.mapInPandas(assign_batches, schema="id long, cid long, emb array<double>")

    group_keys = ["cid"]
    if max_cell is not None and on_oversize == "shard":
        # cell sizes (tiny — one row per cell, broadcast back) pick a
        # deterministic hash-shard count per oversized cell. The counts
        # pass re-runs the map-only assignment stage rather than
        # persist()ing it: an operator-internal persist feeding the
        # returned lineage can never be released (the r5 ad-hoc-persist
        # class), and one extra deterministic numpy map stage on the rare
        # oversized-corpus path is cheaper than pinning the full (id,
        # cid, emb) frame for the session. Callers looping many corpora
        # through this path stay leak-free with zero discipline required.
        sizes = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("m"))
        assigned = assigned.join(F.broadcast(sizes), "cid").withColumn(
            "shard", _semantic_shard(F.col("m"), F.col("id"), max_cell)
        )
        group_keys = ["cid", "shard"]

    def keep_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id")
        m = len(pdf)
        if max_cell is not None and on_oversize == "raise" and m > max_cell:
            cid = int(pdf["cid"].iloc[0])
            raise ValueError(
                f"semantic_keep: cell cid={cid} has {m} members"
                f" (max_cell={max_cell}) — m^2 work/memory on one task."
                " Run exact_dedup first, raise the centroid count K, or"
                " pass on_oversize='shard' (bounded recall loss)."
            )
        if m <= 1:
            keep = np.ones(m, dtype=bool)
        else:
            emb = np.array(pdf["emb"].tolist(), dtype=np.float64)
            dd = emb.shape[1]
            dacc = np.zeros((m, m), dtype=np.float64)
            nacc = np.zeros(m, dtype=np.float64)
            for i in range(dd):  # dim-ordered: bit-equal to the HOF forms
                ci = emb[:, i]
                dacc += ci[:, None] * ci[None, :]
                nacc += ci * ci
            cos = dacc / np.sqrt(nacc[:, None] * nacc[None, :])
            near = cos >= tau
            keep = ~np.array(
                [near[r, :r].any() for r in range(m)]  # any LOWER-id partner
            )
        return pd.DataFrame(
            {"id": pdf["id"].to_numpy(), "cid": pdf["cid"].to_numpy(), "keep": keep}
        )

    return assigned.groupBy(*group_keys).applyInPandas(
        keep_group, "id long, cid long, keep boolean"
    )


def pq_topk(
    collection: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    stride: int,
    n_sub: int = 4,
    k: int = 5,
) -> DataFrame:
    """Product-Quantization top-k over int8-quantized embeddings — the
    16x-compression rung of the ANN ladder (exact → LSH → IVF → int8 SQ →
    PQ). Each vector's int8 form is split into ``n_sub`` subspaces; each
    subspace is encoded as the id of its nearest codeword (codewords =
    stride-selected vectors' subvectors, so an oracle can rebuild the
    codebook in SQL); queries score candidates with ADC — a per-(query,
    subspace) lookup table of query·codeword dot products, so the scan
    reads ``n_sub`` SMALL INTS per vector instead of the full embedding
    (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    TPAMI 2011).

    EVERYTHING IS INTEGER: the int8 quantizer is exact IEEE arithmetic,
    encoding distances are |c|² − 2·x·c over int products (widened to
    long), LUT entries are integer dots, and the ADC score is a fixed sum
    of ``n_sub`` longs — no float summation order, no rounding, so an
    oracle hash-matches with zero tolerance (the ann_scalar_quant
    discipline extended to the compressed rung). Ties: encoding argmin
    resolves to the lowest codeword id (first occurrence over id-ordered
    codewords), ranking to the lowest neighbor_id.

    Scale shape: the codebook and query LUTs are driver-built BY CONTRACT
    (n_sub × K × queries integers — the broadcast contract of the ann
    family); ONE Arrow-batched map stage quantizes, encodes, and
    ADC-scores each batch with n_sub (n x PQ_SUB_DIM) @ (PQ_SUB_DIM x K) int64
    matmuls (exact at any summation order; 127^2 x 16 cannot overflow), so
    the only shuffle is the top-k window. At 100 TB the encoded table
    (n_sub bytes/vector + id) is what a deployment persists — 16x smaller
    than the int8 cache, 64x smaller than float64.

    An empty query set returns an empty frame with the same columns."""
    import numpy as np

    from ..functions.vectors import int8_quantize

    e = collection.select(F.col(id_col).alias("id"), int8_quantize(vec_col).alias("qv"))
    cw_rows = _index_rows(
        e.filter(F.col("id") % stride == 0).orderBy("id"), "PQ codebook"
    )
    # (n_sub, K, PQ_SUB_DIM) codeword matrix + (n_sub, K) |c|^2, id-ordered so
    # np.argmin's first-occurrence tie == the oracle's lowest-cid tie
    cmat = np.array([r["qv"] for r in cw_rows], dtype=np.int64)  # (K, dim)
    csub = np.stack(
        [cmat[:, m * PQ_SUB_DIM : (m + 1) * PQ_SUB_DIM] for m in range(n_sub)]
    )  # (n_sub, K, PQ_SUB_DIM)
    cc = np.einsum("mkd,mkd->mk", csub, csub)  # (n_sub, K) exact int64

    q_rows = bounded_collect(
        queries.select(F.col(id_col).alias("id"), int8_quantize(vec_col).alias("qv"))
        .orderBy("id"),
        "PQ query set",
    )
    qids = np.array([r["id"] for r in q_rows], dtype=np.int64)
    # explicit (Q, dim) shape: an empty query set is (0, dim), not (0,)
    qmat = np.array([r["qv"] for r in q_rows], dtype=np.int64).reshape(
        len(q_rows), cmat.shape[1]
    )
    qsub = np.stack(
        [qmat[:, m * PQ_SUB_DIM : (m + 1) * PQ_SUB_DIM] for m in range(n_sub)]
    )  # (n_sub, Q, PQ_SUB_DIM)
    lut = np.einsum("mqd,mkd->mqk", qsub, csub)  # (n_sub, Q, K) ADC tables

    spark = collection.sparkSession
    bc = spark.sparkContext.broadcast((csub, cc, lut, qids))
    schema = "query_id long, neighbor_id long, pq_score long"

    def batches(it):
        import pandas as pd

        b_csub, b_cc, b_lut, b_qids = bc.value
        nsub, _, sdim = b_csub.shape
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf["id"].to_numpy()
            x = np.array(pdf["vec"].tolist(), dtype=np.float64)
            # int8_quantize verbatim: floor(clamp(x,-1,1)*127 + 0.5) — the
            # same IEEE doubles, so quantized values equal the Spark HOF's
            q = np.floor(np.clip(x, -1.0, 1.0) * 127.0 + 0.5).astype(np.int64)
            score = np.zeros((len(b_qids), len(ids)), dtype=np.int64)  # (Q, n)
            for m in range(nsub):
                sub = q[:, m * sdim : (m + 1) * sdim]  # (n, sdim)
                d = b_cc[m][None, :] - 2 * (sub @ b_csub[m].T)  # (n, K)
                codes = d.argmin(axis=1)  # ties -> lowest index == lowest cid
                score += b_lut[m][:, codes]  # (Q, n)
            qi, ni = np.nonzero(b_qids[:, None] != ids[None, :])
            yield pd.DataFrame(
                {
                    "query_id": b_qids[qi],
                    "neighbor_id": ids[ni],
                    "pq_score": score[qi, ni],
                }
            )

    pairs = (
        collection.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .mapInPandas(batches, schema=schema)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("pq_score").desc(), "neighbor_id")
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivfpq_topk(
    collection: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    cell_stride: int,
    code_stride: int,
    n_probe: int = 3,
    n_sub: int = 4,
    k: int = 5,
) -> DataFrame:
    """IVF-PQ: the standard industrial vector index (FAISS's IVFx,PQy) as a
    composition of two proven parts — IVF cell pruning cuts the CANDIDATE
    SET (only vectors in the query's n_probe nearest cells are scored) and
    PQ/ADC cuts the BYTES PER CANDIDATE (integer lookup-table scores over
    n_sub codes).

    Both quantizers are stride-built so the whole index is reproducible in
    SQL; the integer PQ discipline (see pq_topk) means composed scores are
    exact. Cells and codebooks are INDEPENDENT knobs: cell_stride sets the
    pruning fan-out, code_stride the score resolution.

    Scale shape: ONE Arrow-batched map stage + one top-k shuffle. Per
    batch, assign each vector's cell (dim-ordered float argmin —
    _fused_ivf_topk's parity discipline, bit-identical to the oracle's
    sequential sums), drop vectors no query probes, then int8-quantize,
    PQ-encode, and ADC-score the survivors against the broadcast codebook
    + LUTs (pq_topk's integer path, exact at any summation order). The
    collection never shuffles; each surviving (query, neighbor) pair
    arises exactly once. An empty query set returns an empty frame with
    the same columns."""
    import numpy as np

    from ..functions.vectors import int8_quantize

    # --- coarse quantizer: float centroids, |c|^2 in oracle order
    cent_rows = _index_rows(
        _with_norms(collection.filter(F.col(id_col) % cell_stride == 0), id_col, vec_col, None)
        .select(F.col("id").alias("cid"), F.col("emb").alias("cemb"))
        .orderBy("cid"),
        "IVF-PQ coarse centroid table",
    )
    cids, cmat, cnorm = _centroid_table(cent_rows)

    # --- fine quantizer: int8 codewords, id-ordered (argmin tie == lowest cid)
    cw_rows = _index_rows(
        collection.select(F.col(id_col).alias("id"), int8_quantize(vec_col).alias("qv"))
        .filter(F.col("id") % code_stride == 0)
        .orderBy("id"),
        "IVF-PQ fine codebook",
    )
    cwmat = np.array([r["qv"] for r in cw_rows], dtype=np.int64)  # (K, dim)
    csub = np.stack(
        [cwmat[:, m * PQ_SUB_DIM : (m + 1) * PQ_SUB_DIM] for m in range(n_sub)]
    )  # (n_sub, K, PQ_SUB_DIM)
    ccn = np.einsum("mkd,mkd->mk", csub, csub)  # exact int64

    # --- queries: float side picks probe cells (plain-Python (d, cid)
    # sort, the oracle's order); int8 side builds the ADC LUTs
    q_rows = bounded_collect(
        _with_norms(queries, id_col, vec_col, None)
        .select("id", "emb")
        .join(
            queries.select(F.col(id_col).alias("id"), int8_quantize(vec_col).alias("qv")),
            "id",
        )
        .orderBy("id"),
        "IVF-PQ query set",
    )
    qids = np.array([r["id"] for r in q_rows], dtype=np.int64)
    # explicit (Q, dim) shapes: an empty query set is (0, dim), not (0,)
    qfmat = np.array([r["emb"] for r in q_rows], dtype=np.float64).reshape(
        len(q_rows), cmat.shape[1]
    )
    probe_mask = _probe_mask(qfmat, cids, cmat, cnorm, n_probe)  # (Kc, Q)
    qmat = np.array([r["qv"] for r in q_rows], dtype=np.int64).reshape(
        len(q_rows), cwmat.shape[1]
    )
    qsub = np.stack(
        [qmat[:, m * PQ_SUB_DIM : (m + 1) * PQ_SUB_DIM] for m in range(n_sub)]
    )
    lut = np.einsum("mqd,mkd->mqk", qsub, csub)  # (n_sub, Q, K)

    spark = collection.sparkSession
    bc = spark.sparkContext.broadcast(
        (cids, cmat, cnorm, qids, probe_mask, csub, ccn, lut)
    )
    schema = "query_id long, neighbor_id long, cell long, pq_score long"

    def batches(it):
        import pandas as pd

        b_cids, b_cmat, b_cnorm, b_qids, b_probe, b_csub, b_ccn, b_lut = bc.value
        nsub, _, sdim = b_csub.shape
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf["id"].to_numpy()
            emb = np.array(pdf["emb"].tolist(), dtype=np.float64)  # (n, d)
            pick = _cell_dists(emb, b_cmat, b_cnorm).argmin(axis=1)
            hit = b_probe[pick]  # (n, Q)
            hit &= ids[:, None] != b_qids[None, :]
            keep = hit.any(axis=1)
            if not keep.any():
                continue
            ids, emb, pick, hit = ids[keep], emb[keep], pick[keep], hit[keep]
            # int8 quantize + PQ encode + ADC score: pure integers from here
            q8 = np.floor(np.clip(emb, -1.0, 1.0) * 127.0 + 0.5).astype(np.int64)
            score = np.zeros((len(b_qids), len(ids)), dtype=np.int64)  # (Q, n)
            for m in range(nsub):
                sub = q8[:, m * sdim : (m + 1) * sdim]
                dm = b_ccn[m][None, :] - 2 * (sub @ b_csub[m].T)  # (n, K)
                codes = dm.argmin(axis=1)  # ties -> lowest index == lowest cid
                score += b_lut[m][:, codes]
            rows, cols = np.nonzero(hit)  # vector idx, query idx
            yield pd.DataFrame(
                {
                    "query_id": b_qids[cols],
                    "neighbor_id": ids[rows],
                    "cell": b_cids[pick[rows]],
                    "pq_score": score[cols, rows],
                }
            )

    pairs = (
        collection.select(
            F.col(id_col).alias("id"), as_double(vec_col).alias("emb")
        ).mapInPandas(batches, schema=schema)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("pq_score").desc(), "neighbor_id")
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def topk_recall(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one —
    the tuning loop for n_planes/n_probe at scale: per query,
    |approx ∩ exact| / |exact| over the neighbor sets.

    Both inputs are tiny (n_queries x k rows) regardless of collection
    size, so this is a skinny equi-join + groupBy — evaluation cost never
    scales with the corpus. The ratio is integer-derived, so it's exact
    across engines (no rounding needed)."""
    a = approx.select(query_col, neighbor_col).withColumn("hit", F.lit(1))
    return (
        exact.select(query_col, neighbor_col)
        .join(a, [query_col, neighbor_col], "left")
        .groupBy(query_col)
        .agg(F.count(F.lit(1)).alias("n_exact"), F.count("hit").alias("n_hit"))
        .withColumn("recall", F.col("n_hit") / F.col("n_exact"))
    )


def stride_centroids(collection: DataFrame, id_col: str, vec_col: str, stride: int) -> DataFrame:
    """Deterministic coarse quantizer: every stride-th id is a centroid.
    SQL-expressible, so IVF queries built on it keep an exact DuckDB oracle
    (a learned k-means quantizer can't — see kmeans_centroids)."""
    return _with_norms(collection.filter(F.col(id_col) % stride == 0), id_col, vec_col, None).select(
        F.col("id").alias("cid"), F.col("emb").alias("cemb")
    )


def kmeans_centroids(
    collection: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 16,
    seed: int = 7,
    fit_fraction: float | None = None,
    max_iter: int = 5,
    init_mode: str = "random",
    local_threshold: int = 100_000,
) -> DataFrame:
    """Learned coarse quantizer via k-means. Deterministic for a fixed
    seed, but not SQL-expressible — gates built on it frame their oracles
    centroid-free (ann_ivf_kmeans probes every cell) or go oracle-less
    (ivf_kmeans_recall, pytest floor).

    ``fit_fraction`` caps the fit cost at corpus scale: k-means quality
    needs only a representative sample (centroids are means — a 1% sample
    of 10^9 vectors estimates them as well as the full pass costs 100x
    more); None fits on everything (test scale).

    Size-adaptive strategy (r13, the BPE/union-find/CC trade): the fit
    set — post-``fit_fraction``, i.e. what a deployment would actually
    iterate on — is probed with one ``limit(T+1)`` collect; at or below
    ``local_threshold`` vectors (~51 MB at the 100k default × 64 dims)
    the seeded Lloyd loop runs in numpy on the driver, replacing
    (max_iter+1) × (job + plan + treeAggregate) of pure scheduler latency
    (measured: 14.2 s cold / 3.4 s warm MLlib fit for 2,000×64 at sf0.1
    vs ~2 ms of arithmetic; the BPE rung precedent). Rows are id-sorted
    before the fit so the float summation order — and hence every
    centroid bit — is a deterministic function of the DATA, not of scan
    partitioning. Above the threshold the distributed MLlib fit runs
    unchanged (seeded RANDOM init, 5 Lloyd iterations — measured 5x
    cheaper than k-means||/maxIter=20 on local[32] job-scheduling
    overhead). The two fits yield different (both valid) centroids; every
    consumer is contracted to tolerate that — IVF only needs cells of
    roughly balanced mass, and downstream recall is gated by a pytest
    floor, so a sloppier fit would fail the floor, not hide.
    ``local_threshold=0`` forces the distributed path (tests pin both)."""
    if fit_fraction is not None:
        collection = collection.sample(False, fit_fraction, seed)
    spark = collection.sparkSession
    fit_input = collection.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    if local_threshold:
        probe = fit_input.limit(local_threshold + 1).toPandas()
        if len(probe) <= local_threshold:
            centers = _local_lloyd(probe, k, seed, max_iter)
            return local_frame(
                spark,
                [(i, c) for i, c in enumerate(centers)],
                "cid bigint, cemb array<double>",
            )
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = collection.select(
        F.col(id_col).alias("id"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    # cache the fit input for the duration of the fit: every Lloyd
    # iteration (and the init sample) otherwise re-reads the parquet and
    # re-runs the vector conversion — maxIter+1 redundant scans. Values
    # are untouched: caching preserves each partition's contents and
    # order, so MLlib's treeAggregate reduces in the identical order and
    # the centroids are bit-for-bit the same. Freed immediately — nothing
    # outlives the fit.
    vecs = vecs.persist()
    try:
        model = KMeans(k=k, seed=seed, maxIter=max_iter, initMode=init_mode).fit(vecs)
    finally:
        vecs.unpersist()
    centers = [c.tolist() for c in model.clusterCenters()]
    return local_frame(
        spark, [(i, c) for i, c in enumerate(centers)], "cid bigint, cemb array<double>"
    )


def _local_lloyd(pdf, k: int, seed: int, max_iter: int) -> list[list[float]]:
    """Seeded Lloyd's algorithm over an already-collected (id, v) frame —
    the driver-local rung of :func:`kmeans_centroids`. Deterministic by
    construction: rows sorted by (id, vector components), a total order
    on the data, so the summation order never depends on partition
    arrival order (not even for repeated ids); init = a seeded choice of
    k distinct input vectors, assignment argmin ties to the lowest
    centroid id (numpy first-occurrence), empty cells keep their previous
    centroid (MLlib's behavior). Exactness-of-algorithm is
    pinned by a pure-Python reference differential
    (tests/test_similarity_ops.py)."""
    import numpy as np

    x = np.asarray(pdf["v"].tolist(), dtype=np.float64)
    n = len(x)
    if n == 0:
        raise ValueError("k-means fit input is empty")
    # np.lexsort's LAST key is primary: id, then component 0, 1, ...
    x = x[np.lexsort((*x.T[::-1], np.asarray(pdf["id"].tolist())))]
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(n, size=min(k, n), replace=False)].copy()
    for _ in range(max_iter):
        # argmin over squared distance; |x|^2 constant per row, omitted
        d = (cents * cents).sum(axis=1)[None, :] - 2.0 * (x @ cents.T)
        assign = d.argmin(axis=1)  # ties -> lowest cid (first occurrence)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return [c.tolist() for c in cents]


def ivf_topk(
    collection: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_probe: int = 3,
    dim: int | None = None,
    assign: str = "expr",
) -> DataFrame:
    """IVF approximate top-k: assign every vector to its nearest centroid
    (inverted lists), probe each query's n_probe nearest cells, exact cosine
    re-rank inside the probed cells.

    Scale shape: centroids broadcast to both sides; the N x K assignment
    reduces map-side via partial min(struct) aggregation, so the only big
    shuffle is the groupBy(id) argmin carrying one row per (vector x K) pair
    pre-combined to one per vector per partition. Candidates join on cell id
    (equi-join). argmin uses d = |c|^2 - 2 e.c (the |e|^2 term is constant
    per vector, dropped on BOTH engines) with a centroid-id tie-break.

    assign= picks the N x K assignment strategy (measured at 60k x 480 on
    local[32]):
      "expr"  — pure Column expressions, engine-exact (DuckDB-oracle-safe).
                HOF dot (dim=None) 215 s; unrolled (dim=64) 47 s.
      "numpy" — ONE Arrow-batched map stage for the whole query (r4): cell
                assignment, probe membership, and cosine scoring fuse like
                _fused_multitable_scan, leaving a single top-k shuffle.
                Every accumulation is dim-ordered one-add-per-element, so
                distances and cosines are BIT-IDENTICAL to the expr/oracle
                forms — parity-grade AND the fast path; argmin ties resolve
                to the lowest cid on both paths because equal IEEE inputs
                give equal distances. Requires the query set to be
                driver-collectable (the shared broadcast contract)."""
    if assign == "numpy":
        return _fused_ivf_topk(
            collection, queries, centroids, id_col, vec_col,
            k, n_probe, dim,
        )
    coll = _with_norms(collection, id_col, vec_col, dim)
    # |c|^2 once per centroid, not per pair — same float as the oracle's
    # per-pair list_dot_product(cemb, cemb), so parity is unaffected
    cent = F.broadcast(centroids.withColumn("cn2", dot(F.col("cemb"), F.col("cemb"), dim)))

    def _d(emb: Column) -> Column:
        # d = |c|^2 - 2 e.c, written exactly as the DuckDB oracle writes it
        return F.col("cn2") - F.lit(2.0) * dot(emb, F.col("cemb"), dim)

    assign_df = (
        coll.crossJoin(cent)
        .groupBy("id")
        .agg(
            F.min(F.struct(_d(F.col("emb")).alias("d"), F.col("cid").alias("cid"))).alias("m"),
            F.first("emb").alias("emb"),
            F.first("n2").alias("n2"),
        )
        .select("id", "emb", "n2", F.col("m.cid").alias("cid"))
    )
    q = _with_norms(queries, id_col, vec_col, dim).select(
        F.col("id").alias("query_id"), F.col("emb").alias("qemb"), F.col("n2").alias("qn2")
    )
    qd = q.crossJoin(cent).select(
        "query_id", "qemb", "qn2", "cid", _d(F.col("qemb")).alias("d")
    )
    wp = Window.partitionBy("query_id").orderBy("d", "cid")
    probe = qd.withColumn("rn", F.row_number().over(wp)).filter(F.col("rn") <= n_probe).select(
        "query_id", "qemb", "qn2", "cid"
    )
    pairs = assign_df.join(F.broadcast(probe), ["cid"]).filter(F.col("id") != F.col("query_id")).select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        F.round(
            dot(F.col("qemb"), F.col("emb"), dim) / F.sqrt(F.col("qn2") * F.col("n2")), ROUND_DIGITS
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _fused_ivf_topk(
    collection: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_probe: int,
    dim: int | None,
) -> DataFrame:
    """The whole IVF query as ONE Arrow-batched map stage + one top-k
    shuffle: per batch, assign each vector's cell (argmin over dim-ordered
    distance accumulation), test the cell against the broadcast
    query-probe matrix, and score the collisions in place — the
    _fused_multitable_scan shape applied to IVF. The collection never
    shuffles and each (query, neighbor) pair arises exactly once.

    PARITY-CRITICAL float discipline (same as the multitable scan): every
    accumulation — centroid norms, assignment distances, the driver-side
    query probe distances, and the cosine dot/norm — runs dim-ordered with
    one add per element, reproducing the expr/oracle HOF forms bit-for-bit
    (a BLAS matmul's pairwise summation could flip an argmin where two
    centroids are near-equidistant, the pre-r4 caveat). Probe selection
    sorts (d, cid) exactly like the expr path's row_number window; cosines
    leave the workers UNROUNDED so Spark's own round applies."""
    import numpy as np

    cent_rows = _index_rows(centroids.orderBy("cid"), "IVF centroid table")  # K x dim
    cids, cmat, cnorm = _centroid_table(cent_rows)

    q_rows = bounded_collect(
        _with_norms(queries, id_col, vec_col, dim).select("id", "emb", "n2"),
        "ANN query set",
    )
    qids = np.array([r["id"] for r in q_rows], dtype=np.int64)
    # explicit (Q, dim) shape: an empty query set is (0, dim), not (0,)
    qmat = np.array([r["emb"] for r in q_rows], dtype=np.float64).reshape(
        len(q_rows), cmat.shape[1]
    )
    qn2 = np.array([r["n2"] for r in q_rows], dtype=np.float64)
    probe_mask = _probe_mask(qmat, cids, cmat, cnorm, n_probe)  # (K, Q)

    spark = collection.sparkSession
    bc = spark.sparkContext.broadcast((cmat, cnorm, qids, qmat, qn2, probe_mask))
    coll = _with_norms(collection, id_col, vec_col, dim)
    schema = "query_id long, neighbor_id long, cos double"

    def score_batches(it):
        b_cmat, b_cnorm, b_qids, b_qmat, b_qn2, b_probe = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            emb = np.array(pdf["emb"].tolist(), dtype=np.float64)  # (n, d)
            pick = _cell_dists(emb, b_cmat, b_cnorm).argmin(axis=1)
            hit = b_probe[pick]  # (n, Q): query probes this vector's cell
            yield from _cos_pairs(hit, pdf["id"].to_numpy(), emb, b_qids, b_qmat, b_qn2)

    scored = coll.select("id", "emb").mapInPandas(score_batches, schema=schema)
    pairs = scored.select(
        "query_id", "neighbor_id", F.round("cos", ROUND_DIGITS).alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def hard_negatives(
    collection: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    dim: int | None = None,
    bucketed: bool = False,
    n_planes: int = 8,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per query,
    the top-k most-cosine-similar collection rows whose ``label_col``
    DIFFERS from the query's — the highest-similarity wrong-class
    examples, i.e. exactly the negatives a triplet/InfoNCE loss learns
    most from (the standard mining step in retrieval-model training;
    public recipe, e.g. Karpukhin et al. 2020 DPR §4).

    Default is the exact form: broadcast the (small) query set with its
    labels, one map-only scan of the collection, the label-mismatch
    predicate riding the same broadcast join as the id-inequality — the
    collection never shuffles and no (label x label) pair list ever
    materializes. ``bucketed=True`` is the scale path when the query set
    stops being small: candidates must also share the query's
    random-hyperplane LSH bucket, turning the scan into an equality join
    (same recall story as ann_topk — tune with topk_recall). Top-k rides
    retrieval.topk_per_key, so the WindowGroupLimit bound is
    plan-asserted, not assumed.

    Returns (query_id, neighbor_id, cos, rank) — ties by ascending
    neighbor id, deterministic across engines at ``ROUND_DIGITS``."""
    from .retrieval import topk_per_key

    # one projection per side — labels ride the same select as the norms
    # (a _with_norms + join-back-on-id would be a gratuitous self-join)
    coll = collection.select(
        F.col(id_col).alias("id"),
        as_double(vec_col).alias("emb"),
        F.col(label_col).alias("_lbl"),
    ).withColumn("n2", norm_sq(F.col("emb"), dim))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(vec_col).alias("qemb"),
        F.col(label_col).alias("_qlbl"),
    ).withColumn("qn2", norm_sq(F.col("qemb"), dim))
    if bucketed:
        planes = make_planes(n_planes, dim or 64)
        coll = coll.withColumn("bucket", hyperplane_bits(F.col("emb"), planes))
        q = q.withColumn("bucket", hyperplane_bits(F.col("qemb"), planes))
        pairs = coll.join(F.broadcast(q), ["bucket"])
    else:
        pairs = coll.crossJoin(F.broadcast(q))
    pairs = pairs.filter(
        (F.col("id") != F.col("query_id")) & (F.col("_lbl") != F.col("_qlbl"))
    ).select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        F.round(
            dot(F.col("qemb"), F.col("emb"), dim)
            / F.sqrt(F.col("qn2") * F.col("n2")),
            ROUND_DIGITS,
        ).alias("cos"),
    )
    return topk_per_key(
        pairs, "query_id", [F.col("cos").desc(), F.col("neighbor_id").asc()], k
    )
