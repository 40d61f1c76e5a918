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

from .queries_dedup import _dd_cell_probe, _dd_stride_cells
from .queries_pq import _QV_DD, _SUBDOT, _dd_pq_codes
from .queries_similarity import _NQ, _TOPK, _dd_recall_sql, _dd_topk_tail
from .registry import load, register

_CELL_STRIDE = 125  # coarse cells: the IVF/SemDeDup stride-quantizer contract
_CODE_STRIDE = 10  # PQ codebook: the pq_recall/SCALE-ladder K=50 contract
_NPROBE = 2
_NSUB = 4


def _dd_ivfpq_sql() -> str:
    cells = _dd_stride_cells(
        _CELL_STRIDE, "vec_id, ccid AS cell", carry_emb=False, c="cc", cid="ccid"
    )
    probe = _dd_cell_probe("vec_id AS query_id, ccid AS cell", _NQ, _NPROBE, "ccid")
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
             {_QV_DD} AS qv
      FROM embeddings
    ), {cells}, {probe}, {_dd_pq_codes(_CODE_STRIDE, _NSUB)},
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
    ), {_dd_topk_tail("pq_score", "scores", "query_id, neighbor_id, cell")}"""


@register("ivfpq_recall", _dd_recall_sql(_dd_ivfpq_sql()))
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
