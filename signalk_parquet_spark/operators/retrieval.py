"""BM25 top-k retrieval over the document corpus — the search primitive
behind retrieval-based data selection and decontamination-by-retrieval
(pull the corpus documents most similar to an eval query, then audit or
drop them).

Scale shape (the reason this is an operator and not "just a join"):

  postings:  only the QUERY terms' postings ever exist — the token
             explode broadcast-semi-joins against the distinct query-term
             table before anything aggregates, so corpus-side work is one
             map pass plus a (doc, term)-keyed partial-agg shuffle of the
             MATCHED occurrences only. The full-vocabulary posting list —
             the thing a naive "build an index then look up" plan
             materializes — is never built.
  df / N / avgdl: document frequency is a ≤|terms|-row aggregate of the
             postings (broadcast back); corpus size and average document
             length are one scalar aggregate riding a broadcast
             cross-join. No second scan of the corpus.
  top-k:     per-query top-k via :func:`topk_per_key` — the direct
             rank-filtered window, which Catalyst plans as a bounded
             two-phase top-k (WindowGroupLimit Partial before the
             exchange / Final after), so a hot query never ships or
             sorts its whole posting volume through one task. The
             bound is plan-asserted, not assumed.

Scoring is Robertson/Sparck-Jones BM25 (Robertson & Zaragoza 2009, the
public textbook form) with the Lucene-style non-negative idf
ln(1 + (N - df + 0.5)/(df + 0.5)). For the oracle gate there is a
``rational_idf`` mode that drops the ln — (N - df + 0.5)/(df + 0.5)
directly — and micro-rounds each term contribution to integers before
the per-(query, doc) sum: every input (tf, df, dl, N, Σdl) is an exact
integer, every op is one IEEE-correctly-rounded +,−,×,÷ in a fixed
written order, so Spark and DuckDB produce bit-identical doubles, the
micro grid is flip-free, and the integer score sum is order-independent
(CLAUDE.md rule 10 — never hash-compare an order-dependent float sum).
The ranking deviation vs log idf is documented: ln is monotone, so
single-term queries rank identically; multi-term mixes can reorder. A
production caller keeps the default log idf and float scores.

No reference parity claim: the reference engine has no retrieval
surface; this is a BASELINE-extension LLM-pipeline operator in the
dedup/decontamination family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens


def topk_per_key(
    df: DataFrame, key: str | list[str], order: list[Column], k: int
) -> DataFrame:
    """Exact top-k rows per key (a column name or a list for composite
    keys — e.g. (query, date)) under ``order`` (a TOTAL order — include a
    tiebreaker). Deliberately JUST the window + rank filter, because
    Catalyst already plans this shape as a bounded two-phase top-k:
    ``WindowGroupLimit(Partial)`` keeps each map task's top k per key
    BEFORE the exchange (so at most k·partitions rows per key ever
    shuffle — a hot key never ships its whole posting volume), then
    ``WindowGroupLimit(Final)`` re-limits after the hash exchange and the
    Window ranks only survivors. The first version of this operator
    hand-built the same bound as a salted two-window pass; the ramp
    measured it strictly LOSING to the built-in (extra exchange, same
    bound — python tools/ramp.py retrieval_topk, SCALE.md r11), so the
    operator's job is to pin the optimization, not re-implement it:
    tests/test_retrieval.py plan-asserts both WindowGroupLimit phases, so
    a refactor that breaks the rewrite (e.g. swapping row_number for a
    non-rank-like expression) fails the suite instead of silently
    shipping the unbounded window.

    Returns the surviving rows plus a 1-based ``rank`` BIGINT column."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not order:
        raise ValueError(
            "order must be non-empty — and include a tiebreaker, or the "
            "k-th boundary is picked nondeterministically across runs"
        )
    if "rank" in df.columns:
        # withColumn would silently REPLACE the caller's column (and an
        # order expression referencing the old 'rank' would resolve to
        # the new one) — corrupt data, not an error, without this guard
        raise ValueError(
            "input already has a 'rank' column — topk_per_key emits its "
            "1-based rank under that name; rename or drop the caller's"
        )
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_col: str = "query_id",
    term_col: str = "term",
    k1: float = 1.2,
    b: float = 0.75,
    rational_idf: bool = False,
) -> DataFrame:
    """BM25 score of every (query, document) pair with ≥1 matched term.

    Default: float ``score`` with the log idf. ``rational_idf=True`` is
    the engine-exact gate mode: per-term contributions micro-rounded to
    BIGINT and summed as integers — returns ``score_micro`` BIGINT and
    ``score`` = score_micro/1e6 (both exact; see module docstring).

    The arithmetic is written in ONE fixed association order, mirrored
    verbatim by the gate's DuckDB SQL — reassociating any subexpression
    (e.g. folding 1−b early vs late) changes the double.

    Document length deliberately avoids the tokenizer: for the
    single-space separator, size(split(text, ' ')) ==
    length(text) − length(translate(text, ' ', '')) + 1 IDENTICALLY
    (split keeps empty tokens, every separator makes one boundary —
    empty text, trailing and doubled spaces all agree), so dl and the
    corpus stats are char arithmetic and the expensive split+explode
    runs exactly ONCE, in the postings branch. Profiled at sf0.1: the
    second tokenize pass was ~40% of the gate's warm wall."""
    # NULL-text docs are excluded up front: they have no postings, and
    # letting them through would count toward N while adding nothing to
    # total length — silently deflating avgdl (the incidental-null class
    # ADVICE r9/r10 kept finding; stated here as the contract instead)
    docs = docs.filter(F.col(text_col).isNotNull())
    # the query is a term SET per query id: a duplicated (query, term) row
    # would silently double-count that term's contribution (qtf-weighted
    # BM25 is a deliberate variant, not an accident of dirty input)
    queries = queries.dropDuplicates([query_col, term_col])
    dl = (
        F.length(F.col(text_col))
        - F.length(F.translate(F.col(text_col), " ", ""))
        + F.lit(1)
    ).cast("long")
    base = docs.select(F.col(id_col), dl.alias("_dl"))
    stats = base.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_dl").alias("_total")
    )
    terms = queries.select(F.col(term_col)).distinct()
    posting = (
        docs.select(
            id_col, dl.alias("_dl"), F.explode(tokens(text_col)).alias(term_col)
        )
        .join(F.broadcast(terms), term_col)
        .groupBy(id_col, term_col)
        .agg(F.count(F.lit(1)).alias("_tf"), F.max("_dl").alias("_dl"))
    )
    dfreq = posting.groupBy(term_col).agg(F.count(F.lit(1)).alias("_df"))
    scored = (
        posting.join(F.broadcast(dfreq), term_col)
        .join(F.broadcast(queries), term_col)
        .crossJoin(F.broadcast(stats))
    )
    # fixed-order IEEE arithmetic — every operand integer-exact going in
    n_d = F.col("_n").cast("double")
    df_d = F.col("_df").cast("double")
    tf_d = F.col("_tf").cast("double")
    dl_d = F.col("_dl").cast("double")
    avgdl = F.col("_total").cast("double") / n_d
    idf = (n_d - df_d + F.lit(0.5)) / (df_d + F.lit(0.5))
    if not rational_idf:
        idf = F.log(F.lit(1.0) + idf)
    denom = tf_d + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (dl_d / avgdl))
    contrib = idf * ((tf_d * F.lit(k1 + 1.0)) / denom)
    if rational_idf:
        c = F.round(contrib * F.lit(1_000_000.0)).cast("long")
        return (
            scored.select(query_col, id_col, c.alias("_c"))
            .groupBy(query_col, id_col)
            .agg(F.sum("_c").alias("score_micro"))
            .select(
                query_col,
                id_col,
                "score_micro",
                (F.col("score_micro") / F.lit(1_000_000.0)).alias("score"),
            )
        )
    return (
        scored.select(query_col, id_col, contrib.alias("_c"))
        .groupBy(query_col, id_col)
        .agg(F.sum("_c").alias("score"))
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    **kwargs,
) -> DataFrame:
    """Top-k documents per query by BM25 — :func:`bm25_scores` then
    :func:`topk_per_key` (WindowGroupLimit-bounded), ties broken by
    ascending document id so the result is a deterministic function of
    the corpus (rerun-, retry- and engine-stable, like every selection
    surface in this engine)."""
    query_col = kwargs.get("query_col", "query_id")
    id_col = kwargs.get("id_col", "doc_id")
    scored = bm25_scores(docs, queries, **kwargs)
    score_col = "score_micro" if "score_micro" in scored.columns else "score"
    return topk_per_key(
        scored, query_col, [F.col(score_col).desc(), F.col(id_col).asc()], k
    )


def retrieval_contamination(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    **kwargs,
) -> DataFrame:
    """Contamination ledger for retrieval-based decontamination: the docs
    appearing in ANY eval query's exact BM25 top-k — the pull-and-drop
    rung beside the shingle/Bloom/semantic rungs of the decontamination
    ladder (queries_curation.py). Where n-gram overlap needs a verbatim
    8-gram to fire, retrieval catches the benchmark's highest-scoring
    near-phrasings: exactly the docs an eval-suite leak audit would
    surface first.

    Returns one row per contaminated doc: (id, n_queries = how many eval
    queries pulled it, best_rank = its best rank over those queries) —
    deterministic (top-k ties break by ascending id inside
    :func:`bm25_topk`). Callers drop with a left_anti join on the id
    (:func:`decontaminate_by_retrieval`); the frame itself is the audit
    artifact. Cost is the bm25_topk plan — one corpus scan, matched
    postings only, WindowGroupLimit-bounded — plus a doc-keyed partial
    agg over ≤ |queries|·k surviving rows (metadata-sized)."""
    id_col = kwargs.get("id_col", "doc_id")
    top = bm25_topk(docs, queries, k=k, **kwargs)
    return top.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.min("rank").alias("best_rank"),
    )


def decontaminate_by_retrieval(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    **kwargs,
) -> DataFrame:
    """``docs`` minus the retrieval-contaminated set — the apply side of
    :func:`retrieval_contamination` (same contract as the ladder's other
    drop rungs: an anti-join on the id, the survivors keep their full
    row)."""
    id_col = kwargs.get("id_col", "doc_id")
    drops = retrieval_contamination(docs, queries, k=k, **kwargs)
    return docs.join(drops.select(id_col), id_col, "left_anti")
