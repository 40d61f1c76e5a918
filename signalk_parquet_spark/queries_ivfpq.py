"""IVF-PQ gate (BASELINE extension set) — the composed top rung of the ANN
ladder (exact → LSH → IVF → int8 SQ → PQ → IVF-PQ), over the `embeddings`
table: IVF cell pruning cuts the candidate set, PQ/ADC cuts the bytes per
candidate — FAISS's IVFx,PQy as one differential-proved query.

Added post-window in r4; rotated into the r5 driver window via
registry._WINDOW_FIRST. Standing evidence: the local parity suite
(sf0.01 + sf0.001) plus test_ivfpq_composes_pruning_and_codes.

The oracle rebuilds BOTH quantizers in SQL: the float coarse quantizer in
the exact `_dd_ivf_sql` form (list_dot_product distances, (d, cid)-ordered
row_number — the form the operator's numpy stage reproduces bit-for-bit
via dim-ordered accumulation), and the integer fine quantizer in the exact
`_dd_pq_sql` form (int8 codewords, encode argmin, ADC group-sum). Scores
are pure integers, so the hash match has zero tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .queries_pq import _QV_DD, _SUBDOT
from .registry import load, register

_CELL_STRIDE = 125  # coarse cells: the IVF/SemDeDup stride-quantizer contract
_CODE_STRIDE = 10  # PQ codebook: the pq_recall/SCALE-ladder K=50 contract
_NPROBE = 2
_NSUB = 4
_NQ = 20
_TOPK = 5


def _dd_ivfpq_sql() -> str:
    d_expr = f"c.cc - 2 * {_SUBDOT.format(a='s.sv', b='c.cv')}"
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
             {_QV_DD} AS qv
      FROM embeddings
    ), cc AS (
      SELECT vec_id AS ccid, emb AS cemb FROM e WHERE vec_id % {_CELL_STRIDE} = 0
    ), ad AS (
      SELECT e.vec_id, cc.ccid,
             list_dot_product(cc.cemb, cc.cemb) - 2 * list_dot_product(e.emb, cc.cemb) AS d
      FROM e CROSS JOIN cc
    ), assign AS (
      SELECT vec_id, ccid AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, ccid) AS rn FROM ad
      ) WHERE rn = 1
    ), probe AS (
      SELECT vec_id AS query_id, ccid AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, ccid) AS rn
        FROM ad WHERE vec_id < {_NQ}
      ) WHERE rn <= {_NPROBE}
    ), ms AS (SELECT unnest([{", ".join(str(m) for m in range(_NSUB))}]) AS m),
    sub AS (
      SELECT e.vec_id, ms.m, array_slice(e.qv, ms.m*16+1, ms.m*16+16) AS sv
      FROM e CROSS JOIN ms
    ), cw AS (
      SELECT vec_id AS cid, m, sv AS cv,
             {_SUBDOT.format(a="sv", b="sv")} AS cc
      FROM sub WHERE vec_id % {_CODE_STRIDE} = 0
    ), enc AS (
      SELECT vec_id, m, cid FROM (
        SELECT s.vec_id, s.m, c.cid,
               row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY {d_expr}, c.cid) AS rn
        FROM sub s JOIN cw c USING (m)
      ) WHERE rn = 1
    ), qs AS (SELECT vec_id AS query_id, m, sv AS qv FROM sub WHERE vec_id < {_NQ}),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id, a.cell
      FROM probe p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
    ), scores AS (
      SELECT cand.query_id, cand.neighbor_id, cand.cell,
             CAST(sum({_SUBDOT.format(a="q.qv", b="c.cv")}) AS BIGINT) AS pq_score
      FROM cand
      JOIN enc ON enc.vec_id = cand.neighbor_id
      JOIN cw c ON c.m = enc.m AND c.cid = enc.cid
      JOIN qs q ON q.m = enc.m AND q.query_id = cand.query_id
      GROUP BY 1, 2, 3
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY pq_score DESC, neighbor_id) AS rank
      FROM scores
    )
    SELECT query_id, neighbor_id, cell, pq_score, rank FROM r WHERE rank <= {_TOPK}
    """


def _dd_ivfpq_recall_sql() -> str:
    from .queries_similarity import _DD_COS

    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings
    ), xq AS (SELECT vec_id AS query_id, emb AS ea FROM e WHERE vec_id < {_NQ}),
    xr AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round({_DD_COS.replace("eb", "e.emb")}, 4) DESC, e.vec_id
               ) AS rank
        FROM xq q JOIN e ON e.vec_id <> q.query_id
      ) WHERE rank <= {_TOPK}
    ),
    ar AS (
      SELECT query_id, neighbor_id FROM ({_dd_ivfpq_sql()})
    )
    SELECT xr.query_id,
           count(*) AS n_exact,
           count(ar.neighbor_id) AS n_hit,
           CAST(count(ar.neighbor_id) AS DOUBLE) / count(*) AS recall
    FROM xr LEFT JOIN ar
      ON ar.query_id = xr.query_id AND ar.neighbor_id = xr.neighbor_id
    GROUP BY xr.query_id
    """


@register("ivfpq_recall", _dd_ivfpq_recall_sql())
def ivfpq_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@{k} of the composed IVF-PQ rung vs the float-exact top-k —
    closes the honest-evaluation set (every approximate rung now carries a
    measured-recall gate: LSH ann_recall, IVF ivf_recall, PQ pq_recall,
    SemDeDup-cell semdedup_recall, MinHash minhash_estimate_error, and now
    the composed index). This is the number that separates the two loss
    sources a deployment tunes independently: cells dropped by the
    n_probe={nprobe} prune on top of codebook resolution (compare with
    pq_recall at the same code_stride). Exact integer-ratio oracle; the
    exact side re-reads the session-memoized knn_bruteforce frame."""
    from .operators.similarity import topk_recall
    from .queries_similarity import knn_bruteforce

    return topk_recall(ann_ivfpq(spark, sf), knn_bruteforce(spark, sf))


@register("ann_ivfpq", _dd_ivfpq_sql())
def ann_ivfpq(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ top-k (operators.similarity.ivfpq_topk):
    probes the {nprobe} nearest of the stride-{cell} coarse cells, scores
    only their members through {nsub} integer ADC lookup tables built from
    the stride-{code} codebook — one Arrow map stage over the collection,
    one top-k shuffle. At 100 TB this is the deployable index shape: the
    persisted table holds (id, cell, 4 codes) — cells prune the scan,
    codes keep ADC scoring byte-cheap — while this gate's oracle rebuilds
    the whole index in SQL and hash-matches it exactly."""
    from .operators.similarity import ivfpq_topk

    e = load(spark, sf, "embeddings")
    q = e.filter(e["vec_id"] < _NQ)
    return ivfpq_topk(
        e, q, "vec_id", "embedding", _CELL_STRIDE, _CODE_STRIDE,
        n_probe=_NPROBE, n_sub=_NSUB, k=_TOPK,
    )
