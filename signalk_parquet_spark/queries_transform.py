"""Corpus-rewrite gate (BASELINE extension set): the TRANSFORM side of
exact-substring dedup — remove every corpus-duplicated K-word span from
each document (Lee et al. 2022; the stats side is dedup_substring_spans).
This is the stage a training pipeline actually ships: cleaned text, not
just duplication scores.

Added post-window in r4; rotated into the r5 driver window via
registry._WINDOW_FIRST. Standing evidence: the local parity suite at
sf0.01 + sf0.001 plus the operator test.

The oracle rebuilds the whole transform in SQL with the same 48-bit
md5-prefix window hashes as the Spark side (the proven _SPANS_DD twin
form, positional here — intra-document repeats count): positional window
hashes → corpus frequency → covered word positions → filtered re-join.
Output is strings and integer counts — hash-exact with zero tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .queries_curation import dd_hash_split, hash_split
from .registry import load, register

_K = 8  # words per span window (the dedup_substring_spans contract)

#: positional (non-distinct) hashed K-word windows of `text` — DuckDB twin
#: of functions.text hashed_grams(shingles(tokens(text), K))
_POS_SPANS_DD = (
    f"list_transform(list_transform(range(1, len(string_split(text,' '))-{_K - 2}), "
    f"i -> array_to_string((string_split(text,' '))[i:i+{_K - 1}], ' ')), "
    "s -> CAST(concat('0x', substr(md5(s), 1, 12)) AS BIGINT))"
)


@register(
    "scrub_duplicate_spans",
    f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS w, {_POS_SPANS_DD} AS whs
      FROM documents
    ), ex AS (
      SELECT doc_id, u.pos, u.wh
      FROM d, unnest(list_transform(range(1, len(whs) + 1),
                                    i -> {{'pos': i - 1, 'wh': whs[i]}})) AS t(u)
    ), freq AS (
      SELECT wh, count(*) AS c FROM ex GROUP BY 1
    ), cov AS (
      SELECT DISTINCT doc_id, ex.pos + o.off AS cidx
      FROM ex JOIN freq USING (wh) CROSS JOIN range({_K}) AS o(off)
      WHERE freq.c > 1
    ), covsets AS (
      SELECT doc_id, list(cidx) AS cv FROM cov GROUP BY 1
    )
    SELECT d.doc_id AS id,
           CAST(len(w) AS BIGINT) AS n_words,
           CAST(len(w) - len(kw) AS BIGINT) AS n_removed,
           coalesce(array_to_string(kw, ' '), '') AS cleaned
    FROM (
      SELECT d.doc_id, d.w,
             list_transform(
               list_filter(range(1, len(d.w) + 1),
                           i -> NOT list_contains(coalesce(cs.cv, []), i - 1)),
               i -> d.w[i]) AS kw
      FROM d LEFT JOIN covsets cs USING (doc_id)
    ) d
    """,
)
def scrub_duplicate_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Cleaned corpus: every {K}-word window occurring more than once
    corpus-wide (positionally — intra-doc repeats count) has its covered
    word positions dropped; surviving words re-join. Explode → window-hash
    frequency → covered-position set per doc → JVM HOF filter
    (operators.spans.remove_duplicate_spans). All shuffles key on the
    48-bit window hash or doc id — balanced at any corpus size."""
    from .operators.spans import remove_duplicate_spans

    return remove_duplicate_spans(
        load(spark, sf, "documents"), "doc_id", "text", _K
    )


@register(
    "decontaminate_redact",
    f"""
    WITH s AS (
      SELECT doc_id, text,
             {dd_hash_split()}
      FROM documents
    ), tr AS (
      SELECT doc_id, string_split(text, ' ') AS w, {_POS_SPANS_DD} AS whs
      FROM s WHERE split = 'train'
    ), ev AS (
      SELECT DISTINCT unnest({_POS_SPANS_DD}) AS wh FROM s WHERE split = 'test'
    ), ex AS (
      SELECT doc_id, u.pos, u.wh
      FROM tr, unnest(list_transform(range(1, len(whs) + 1),
                                     i -> {{'pos': i - 1, 'wh': whs[i]}})) AS t(u)
    ), cov AS (
      SELECT DISTINCT doc_id, ex.pos + o.off AS cidx
      FROM ex JOIN ev USING (wh) CROSS JOIN range({_K}) AS o(off)
    ), covsets AS (
      SELECT doc_id, list(cidx) AS cv FROM cov GROUP BY 1
    )
    SELECT q.doc_id AS id,
           CAST(len(w) AS BIGINT) AS n_words,
           CAST(len(w) - len(kw) AS BIGINT) AS n_removed,
           coalesce(array_to_string(kw, ' '), '') AS cleaned
    FROM (
      SELECT tr.doc_id, tr.w,
             list_transform(
               list_filter(range(1, len(tr.w) + 1),
                           i -> NOT list_contains(coalesce(cs.cv, []), i - 1)),
               i -> tr.w[i]) AS kw
      FROM tr LEFT JOIN covsets cs USING (doc_id)
    ) q
    """,
)
def decontaminate_redact(spark: SparkSession, sf: str) -> DataFrame:
    """Eval-targeted span REDACTION — the third decontamination response
    (decontaminate_ngram drops whole contaminated docs, decontaminate_bloom
    screens them cheaply; this one salvages them): every train document is
    rewritten with exactly the {_K}-word spans that also occur in the test
    split removed, the way production pipelines keep a long document
    contaminated by one quoted benchmark item. Same hash-split as the
    sibling gates; coverage is defined ON the shared 48-bit window hash so
    both engines redact identically by construction
    (operators.spans.redact_eval_spans).

    Scale: the eval set is benchmark-sized -> its distinct window hashes
    broadcast; the probe is explode -> broadcast semi-join -> one per-doc
    coverage rollup — the same exchanges as scrub_duplicate_spans minus
    the corpus-wide frequency window."""
    from pyspark.sql import functions as F

    from .operators.spans import redact_eval_spans

    d = load(spark, sf, "documents")
    dd = d.select("doc_id", "text", hash_split().alias("split"))
    return redact_eval_spans(
        dd.filter(F.col("split") == "train"),
        dd.filter(F.col("split") == "test"),
        "doc_id",
        "text",
        _K,
    )
