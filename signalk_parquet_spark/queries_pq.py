"""Product-Quantization ANN gate (BASELINE extension set) — the
16x-compression rung of the ANN ladder, over the `embeddings` table.

In-window as of the r4 final ordering (two r03-green queries ceded their
slots), so both gates get driver rows on top of the local parity suite
(sf0.01 + sf0.001) and the operator tests.

Everything in the pipeline is integer arithmetic (ann_scalar_quant's
discipline extended to the compressed rung): int8 quantization, encoding
distances, ADC lookup tables, and the final score — so the DuckDB oracle
hash-matches with zero rounding anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .queries_similarity import _NQ, _TOPK, _dd_recall_sql, _dd_topk_tail
from .registry import load, register

_STRIDE = 125  # codewords = embeddings with vec_id % 125 == 0 (the IVF/SemDeDup quantizer contract)
_NSUB = 4  # subspaces of 16 dims: 64 floats -> 4 small codes (16x vs int8)

_QV_DD = (
    "list_transform(embedding,"
    " x -> CAST(floor(greatest(-1.0, least(1.0, CAST(x AS DOUBLE))) * 127 + 0.5) AS BIGINT))"
)
_SUBDOT = "CAST(list_sum(list_transform(range(1,17), i -> {a}[i]*{b}[i])) AS BIGINT)"


def _dd_pq_codes(stride: int, n_sub: int) -> str:
    """`ms`/`sub`/`cw`/`enc`/`qs` CTEs over an `e(vec_id, qv)` CTE of int8
    vectors: 16-wide subvectors, the stride codebook (codewords = vectors
    with vec_id % stride == 0, with their squared norms `cc`), every
    subvector's argmin codeword, and the query subvectors — the PQ index
    both PQ oracles rebuild."""
    d_expr = f"c.cc - 2 * {_SUBDOT.format(a='s.sv', b='c.cv')}"
    return f"""ms AS (SELECT unnest([{", ".join(str(m) for m in range(n_sub))}]) AS m),
    sub AS (
      SELECT e.vec_id, ms.m, array_slice(e.qv, ms.m*16+1, ms.m*16+16) AS sv
      FROM e CROSS JOIN ms
    ), cw AS (
      SELECT vec_id AS cid, m, sv AS cv,
             {_SUBDOT.format(a="sv", b="sv")} AS cc
      FROM sub WHERE vec_id % {stride} = 0
    ), enc AS (
      SELECT vec_id, m, cid FROM (
        SELECT s.vec_id, s.m, c.cid,
               row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY {d_expr}, c.cid) AS rn
        FROM sub s JOIN cw c USING (m)
      ) WHERE rn = 1
    ), qs AS (SELECT vec_id AS query_id, m, sv AS qv FROM sub WHERE vec_id < {_NQ})"""


def _dd_pq_sql(stride: int = _STRIDE) -> str:
    return f"""
    WITH e AS (
      SELECT vec_id, {_QV_DD} AS qv FROM embeddings
    ), {_dd_pq_codes(stride, _NSUB)},
    scores AS (
      SELECT q.query_id, enc.vec_id AS neighbor_id,
             CAST(sum({_SUBDOT.format(a="q.qv", b="c.cv")}) AS BIGINT) AS pq_score
      FROM enc JOIN cw c ON c.m = enc.m AND c.cid = enc.cid
      JOIN qs q ON q.m = enc.m AND q.query_id <> enc.vec_id
      GROUP BY 1, 2
    ), {_dd_topk_tail("pq_score", "scores")}"""


@register("ann_pq", _dd_pq_sql())
def ann_pq(spark: SparkSession, sf: str) -> DataFrame:
    """PQ/ADC top-k (operators.similarity.pq_topk): int8 vectors split into
    {nsub} subspaces, each encoded as its nearest stride-codeword; queries
    score candidates through integer lookup tables, reading 4 codes per
    vector instead of 64 floats. The oracle rebuilds codebook, encoding,
    and ADC scores in SQL — a full differential proof of the compressed
    index, exact because every value is an integer. The Spark plan is one
    Arrow map stage (quantize + encode + ADC score against the broadcast
    codebook and LUTs) + one top-k shuffle, zero joins; the oracle's
    join-per-subspace + group-sum is a DIFFERENT plan for the same
    integers, which is the point."""
    from .operators.similarity import pq_topk

    e = load(spark, sf, "embeddings")
    q = e.filter(e["vec_id"] < _NQ)
    return pq_topk(e, q, "vec_id", "embedding", _STRIDE, n_sub=_NSUB, k=_TOPK)


#: recall-gate codebook: stride 10 -> 50 codewords at the 500-vector gate
#: SFs — the SCALE.md ladder's K=50 configuration, NOT ann_pq's stride-125
#: quantizer contract (5 codewords there: that gate proves the pipeline
#: differentially; this one scores the deployable codebook size)
_RECALL_STRIDE = 10


@register("pq_recall", _dd_recall_sql(_dd_pq_sql(_RECALL_STRIDE)))
def pq_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@{k} of the PQ/ADC rung against the float-exact top-k — the
    last missing rung in the gate-level honest-evaluation set (ann_recall:
    LSH, ivf_recall: IVF, semdedup_recall: cell blocking,
    minhash_estimate_error: sketch). This is the number a deployment
    watches while sizing the codebook (SCALE.md ladder: 0.04 at K=4 ->
    0.28 at K=50 codewords on the near-uniform synthetic floor); gating it
    keeps the ladder's K=50 figure continuously verified rather than a
    one-off measurement — hence _RECALL_STRIDE, not ann_pq's stride-125
    quantizer contract (that gate proves the pipeline differentially at
    the shared-contract config; recall there would score a 5-codeword toy
    codebook). The exact side re-reads the session-memoized knn_bruteforce
    frame; the evaluation join is n_queries x k rows — never scales with
    the corpus."""
    from .operators.similarity import pq_topk, topk_recall
    from .queries_similarity import knn_bruteforce

    e = load(spark, sf, "embeddings")
    q = e.filter(e["vec_id"] < _NQ)
    approx = pq_topk(e, q, "vec_id", "embedding", _RECALL_STRIDE,
                     n_sub=_NSUB, k=_TOPK)
    return topk_recall(approx, knn_bruteforce(spark, sf))
