"""BPE tokenizer-training gates (LLM-extension set; see operators/bpe.py
for the distributed design).

`bpe_pair_counts` is the trainer's inner loop — weighted adjacent-symbol
pair counts over the distinct-word table — and is exactly SQL-expressible,
so it carries a full DuckDB oracle (deterministic total order: count DESC,
pair ASC, LIMIT 20; counts are BIGINT-cast per CLAUDE.md rule 6).

`bpe_train_merges` runs the full iterative trainer. The global argmax +
feedback loop is not expressible as one SQL statement (each iteration's
input depends on the previous argmax), so like `approx_stats` it is
deliberately oracle-less for the driver (rows-only row); its exactness
evidence is tests/test_bpe.py's three-way differential — the Spark trainer,
a pure-Python reference trainer, and the pair-counts oracle all agreeing
on the crafted corpus and on sf0.001/sf0.01 — plus determinism by
construction (total tie-break order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .localrel import local_frame

from .functions.text import shingles
from .memo import MEMO
from .operators.bpe import train_bpe
from .operators.tokenizer import word_freq
from .registry import load, register

#: merge budget for the gates: enough to cross from char pairs into
#: multi-char subwords on the ~30-word synthetic lexicon, small enough to
#: keep the bench cost at a few tiny jobs
N_MERGES = 12


@register(
    "bpe_pair_counts",
    """
    WITH w AS (
      SELECT x AS word, count(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS x FROM documents)
      GROUP BY 1
    ), p AS (
      SELECT list_transform(
               range(1, len(string_split(word, ''))),
               i -> string_split(word, '')[i] || ' ' || string_split(word, '')[i + 1]
             ) AS prs,
             freq
      FROM w
    )
    SELECT pr AS pair, CAST(sum(freq) AS BIGINT) AS cnt
    FROM (SELECT unnest(prs) AS pr, freq FROM p)
    GROUP BY 1
    ORDER BY cnt DESC, pair ASC
    LIMIT 20
    """,
)
def bpe_pair_counts(spark: SparkSession, sf: str) -> DataFrame:
    """First-iteration BPE statistics: corpus-weighted adjacent character
    pair counts, top 20. Plan: one corpus-sized shuffle (word rollup), one
    pair-keyed rollup over the distinct-word table, top-k."""
    d = load(spark, sf, "documents")
    w = word_freq(d)
    p = w.select(F.split("word", "").alias("syms"), "freq").select(
        F.explode(shingles(F.col("syms"), 2)).alias("pair"), "freq"
    )
    return (
        p.groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(20)
        .select("pair", "cnt")
    )


@register("bpe_train_merges", None)
def bpe_train_merges(spark: SparkSession, sf: str) -> DataFrame:
    """Learned BPE merge table (rank order). Deliberately oracle-less:
    iterative global-argmax training is not one SQL statement — see module
    docstring for the differential evidence chain."""
    d = load(spark, sf, "documents")
    merges = train_bpe(word_freq(d), N_MERGES, tiny=True)
    rows = [(i, a, b, a + b) for i, (a, b) in enumerate(merges)]
    return local_frame(spark, rows, "rank int, left string, right string, merged string")


#: unigram seed substring length cap for the gate (operators/unigram.py
#: default; small enough that the oracle's lateral range stays cheap)
_UG_LEN = 4


@register(
    "unigram_seed_counts",
    f"""
    WITH w AS (
      SELECT x AS word, count(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS x FROM documents)
      GROUP BY 1
    ), s AS (
      SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
             CAST(sum(freq) AS BIGINT) AS cnt
      FROM (SELECT word, freq, unnest(range(1, len(word) + 1)) AS i FROM w), range(1, {_UG_LEN + 1}) u(l)
      WHERE i + l <= len(word) + 1
      GROUP BY 1
    )
    SELECT piece, cnt FROM s ORDER BY cnt DESC, piece ASC LIMIT 200
    """,
)
def unigram_seed_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram-LM trainer seeding statistics (operators/unigram.seed_pieces;
    Kudo 2018's candidate-vocabulary stage): corpus-weighted counts of every
    substring occurrence up to length {_UG_LEN}, top 200 by (count DESC,
    piece ASC) — a deterministic total order. The oracle builds the same
    table with a lateral (position, length) range product. Plan: one
    corpus-sized word rollup, one Arrow map stage over the distinct-word
    table with map-side pre-aggregation, one piece-keyed rollup, top-k.
    The full iterative trainer (train_unigram) is oracle-less by the same
    argument as bpe_train_merges; its evidence is tests/test_unigram.py's
    differential against an enumeration-based (non-DP) pure-Python
    reference."""
    from .operators.unigram import seed_pieces

    d = load(spark, sf, "documents")
    return (
        seed_pieces(word_freq(d), max_piece_len=_UG_LEN)
        .orderBy(F.desc("count"), F.asc("piece"))
        .limit(200)
        .select("piece", F.col("count").alias("cnt"))
    )


#: gate seed-vocabulary size: all single chars + top multi substrings up to
#: this total — small enough that the oracle's full-enumeration Viterbi
#: (pieces <= 4 chars, words <= 8 chars on the synthetic lexicon: <= 108
#: segmentations/word) stays trivial, big enough that vocab selection and
#: tie-breaking are exercised
_UG_SEED = 120


def _seed_logp(spark: SparkSession, sf: str) -> dict[str, float]:
    """Memoized seed model (a driver-side dict): the unigram gates share
    ONE word_freq -> seed_pieces -> bounded-collect job per (session, sf)."""
    from .operators.unigram import _logp_from_counts, seed_vocab

    return MEMO.get_or_build(
        spark,
        f"ug_seed:{sf}",
        lambda: _logp_from_counts(
            seed_vocab(word_freq(load(spark, sf, "documents")), _UG_SEED, _UG_LEN)
        ),
        materialize=False,
    )


@register(
    "unigram_estep_counts",
    f"""
    WITH RECURSIVE w AS (
      SELECT x AS word, count(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS x FROM documents)
      GROUP BY 1
    ), seed AS (
      SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece, sum(freq) AS cnt
      FROM (SELECT word, freq, unnest(range(1, len(word) + 1)) AS i FROM w), range(1, {_UG_LEN + 1}) u(l)
      WHERE i + l <= len(word) + 1
      GROUP BY 1
    ), chars AS (
      SELECT piece, cnt FROM seed WHERE len(piece) = 1
    ), multi AS (
      SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn
      FROM seed WHERE len(piece) > 1
    ), vocab0 AS (
      SELECT piece, cnt FROM chars
      UNION ALL
      SELECT m.piece, m.cnt FROM multi m, (SELECT count(*) AS n FROM chars) c
      WHERE m.rn <= {_UG_SEED} - c.n
    ), vocab AS (
      SELECT piece,
             ln(CAST(cnt AS DOUBLE))
               - ln((SELECT CAST(sum(cnt) AS DOUBLE) FROM vocab0)) AS logp
      FROM vocab0
    ), paths AS (
      SELECT word, freq, CAST(0 AS BIGINT) AS pos,
             CAST(0.0 AS DOUBLE) AS score, CAST([] AS VARCHAR[]) AS seq
      FROM w
      UNION ALL
      SELECT p.word, p.freq, p.pos + len(v.piece), p.score + v.logp,
             list_append(p.seq, v.piece)
      FROM paths p, vocab v
      WHERE p.pos < len(p.word)
        AND p.pos + len(v.piece) <= len(p.word)
        AND substr(p.word, CAST(p.pos + 1 AS INT), len(v.piece)) = v.piece
    ), best AS (
      SELECT word, freq, seq,
             row_number() OVER (PARTITION BY word ORDER BY score DESC, seq ASC) AS rn
      FROM paths WHERE pos = len(word)
    )
    SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
    FROM (SELECT unnest(seq) AS piece, freq FROM best WHERE rn = 1)
    GROUP BY 1
    ORDER BY cnt DESC, piece ASC
    """,
)
def unigram_estep_counts(spark: SparkSession, sf: str) -> DataFrame:
    """One full distributed Viterbi-EM E-step under the trainer's own seed
    model (operators/unigram.seed_vocab + e_step_counts — the trainer's
    core, driver-checked): segment every distinct word by max-likelihood
    Viterbi over the seeded {{piece: logp}} model, weight piece counts by
    word frequency. The oracle enumerates EVERY segmentation with a
    recursive CTE and takes the global (score DESC, seq ASC) argmax — an
    independent non-DP formulation of the same total order (the
    tests/test_unigram.py differential, now engine-vs-engine for the
    driver). Counts are integers; path scores are left-to-right sums of
    ln(int)-ln(int) doubles, the same IEEE values in both engines, and the
    tie-break is exact-equality lexicographic, so the pick is
    engine-exact."""
    from .operators.unigram import e_step_counts

    d = load(spark, sf, "documents")
    w = word_freq(d)
    logp = _seed_logp(spark, sf)
    return (
        e_step_counts(w, logp, _UG_LEN)
        .orderBy(F.desc("count"), F.asc("piece"))
        .select("piece", F.col("count").alias("cnt"))
    )


@register(
    "unigram_tokenize_stats",
    f"""
    WITH RECURSIVE dw AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), w AS (
      SELECT word, count(*) AS freq FROM dw GROUP BY 1
    ), seed AS (
      SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece, sum(freq) AS cnt
      FROM (SELECT word, freq, unnest(range(1, len(word) + 1)) AS i FROM w), range(1, {_UG_LEN + 1}) u(l)
      WHERE i + l <= len(word) + 1
      GROUP BY 1
    ), chars AS (
      SELECT piece, cnt FROM seed WHERE len(piece) = 1
    ), multi AS (
      SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn
      FROM seed WHERE len(piece) > 1
    ), vocab0 AS (
      SELECT piece, cnt FROM chars
      UNION ALL
      SELECT m.piece, m.cnt FROM multi m, (SELECT count(*) AS n FROM chars) c
      WHERE m.rn <= {_UG_SEED} - c.n
    ), vocab AS (
      SELECT piece,
             ln(CAST(cnt AS DOUBLE))
               - ln((SELECT CAST(sum(cnt) AS DOUBLE) FROM vocab0)) AS logp
      FROM vocab0
    ), paths AS (
      SELECT word, CAST(0 AS BIGINT) AS pos,
             CAST(0.0 AS DOUBLE) AS score, CAST([] AS VARCHAR[]) AS seq
      FROM w
      UNION ALL
      SELECT p.word, p.pos + len(v.piece), p.score + v.logp,
             list_append(p.seq, v.piece)
      FROM paths p, vocab v
      WHERE p.pos < len(p.word)
        AND p.pos + len(v.piece) <= len(p.word)
        AND substr(p.word, CAST(p.pos + 1 AS INT), len(v.piece)) = v.piece
    ), best AS (
      SELECT word, seq,
             row_number() OVER (PARTITION BY word ORDER BY score DESC, seq ASC) AS rn
      FROM paths WHERE pos = len(word)
    ), wp AS (
      SELECT word, seq FROM best WHERE rn = 1
    ), dp AS (
      SELECT dw.doc_id, unnest(wp.seq) AS piece
      FROM dw JOIN wp ON dw.word = wp.word
    )
    SELECT d.doc_id, CAST(count(dp.piece) AS BIGINT) AS n_pieces,
           CAST(count(DISTINCT dp.piece) AS BIGINT) AS n_distinct
    FROM documents d LEFT JOIN dp ON d.doc_id = dp.doc_id
    GROUP BY 1
    """,
)
def unigram_tokenize_stats(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end unigram TOKENIZATION (operators/unigram.apply_unigram —
    the trainer's serving twin, previously pytest-only): tokenize every
    document with the seeded vocabulary and report per-doc piece count and
    distinct-piece count. The oracle re-derives the same vocab in SQL,
    Viterbi-segments every distinct word by full enumeration (the
    unigram_estep_counts recursive CTE), and re-joins segmentations to the
    per-doc word list — integers only, engine-exact (the oracle LEFT JOINs
    from documents so a zero-token doc reports 0/0 on both sides, matching
    apply_unigram's row-per-doc contract). Plan: one word-rollup
    shuffle for the vocab, one Arrow map stage over documents (per-batch
    distinct-word segmentation cache, the apply_bpe pattern), one per-doc
    aggregate; nothing corpus-sized crosses the driver except the
    vocab-bounded model map."""
    from .operators.unigram import apply_unigram

    d = load(spark, sf, "documents")
    logp = _seed_logp(spark, sf)
    toks = apply_unigram(
        d.select("doc_id", "text"), logp, text_col="text", max_piece_len=_UG_LEN
    )
    return toks.select(
        "doc_id",
        F.size("unigram_tokens").cast("long").alias("n_pieces"),
        F.size(F.array_distinct("unigram_tokens")).cast("long").alias("n_distinct"),
    )


# --- WordPiece (the third classic trainer; operators/wordpiece.py) -----------------

_WP_SQL_SYMS = """
  SELECT list_transform(
           range(1, len(string_split(word, '')) + 1),
           i -> CASE WHEN i = 1 THEN string_split(word, '')[i]
                     ELSE '##' || string_split(word, '')[i] END
         ) AS syms, freq
  FROM w
"""


@register(
    "wordpiece_pair_scores",
    f"""
    WITH w AS (
      SELECT x AS word, count(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS x FROM documents)
      GROUP BY 1
    ), sy AS ({_WP_SQL_SYMS}),
    pairs AS (
      SELECT syms[i] || ' ' || syms[i + 1] AS pair, freq
      FROM (SELECT syms, freq, unnest(range(1, len(syms))) AS i FROM sy)
    ),
    p AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM pairs GROUP BY 1),
    s AS (
      SELECT sym, CAST(sum(freq) AS BIGINT) AS scnt
      FROM (SELECT unnest(syms) AS sym, freq FROM sy) GROUP BY 1
    )
    SELECT p.pair, p.cnt,
           CAST(p.cnt AS DOUBLE) / CAST(sa.scnt * sb.scnt AS DOUBLE) AS score
    FROM p
    JOIN s sa ON sa.sym = string_split(p.pair, ' ')[1]
    JOIN s sb ON sb.sym = string_split(p.pair, ' ')[2]
    ORDER BY score DESC, pair ASC
    LIMIT 20
    """,
)
def wordpiece_pair_scores(spark: SparkSession, sf: str) -> DataFrame:
    """First-iteration WordPiece statistics: the LIKELIHOOD score
    cnt(pair)/(cnt(a)·cnt(b)) over ##-positional symbols — the argmax
    surface train_wordpiece iterates (operators/wordpiece.py; BPE ranks by
    raw cnt instead, bpe_pair_counts). The score is one IEEE division of
    exact BIGINTs — bit-identical cross-engine, no rounding needed. Plan:
    one corpus word rollup, two vocab-keyed aggregates, two broadcast
    joins, top-k by a TOTAL order (score DESC, pair ASC)."""
    from .operators.wordpiece import pair_scores, wordpiece_symbols

    d = load(spark, sf, "documents")
    state = word_freq(d).select(wordpiece_symbols("word").alias("syms"), "freq")
    return (
        pair_scores(state)
        .orderBy(F.desc("score"), F.asc("pair"))
        .limit(20)
        .select("pair", "cnt", "score")
    )


#: fixed literal vocabulary for the greedy-apply gate: all bare singles
#: (every word start matches), continuation singles only a..n (words
#: needing ##o..##z collapse to [UNK] unless a multi-char piece covers
#: them), plus multi-char pieces that force longest-match-first decisions.
_WP_VOCAB = (
    [chr(c) for c in range(ord("a"), ord("z") + 1)]
    + ["##" + chr(c) for c in range(ord("a"), ord("n") + 1)]
    + ["sc", "scan", "col", "jo", "the", "wind",
       "##an", "##in", "##ow", "##umn", "##ue", "##er", "##am"]
)


@register(
    "wordpiece_tokenize_stats",
    f"""
    WITH RECURSIVE v(tok) AS (
      VALUES {", ".join(f"('{t}')" for t in _WP_VOCAB)}
    ),
    words AS (
      SELECT DISTINCT x AS word
      FROM (SELECT unnest(string_split(text, ' ')) AS x FROM documents)
      WHERE len(x) > 0
    ),
    enc AS (
      SELECT word, 1 AS pos, 0 AS n_pieces, FALSE AS unk FROM words
      UNION ALL
      SELECT word,
             CASE WHEN best IS NULL THEN len(word) + 1
                  WHEN pos = 1 THEN pos + len(best)
                  ELSE pos + len(best) - 2 END,
             CASE WHEN best IS NULL THEN n_pieces ELSE n_pieces + 1 END,
             best IS NULL
      FROM (
        SELECT word, pos, n_pieces,
               (SELECT tok FROM v
                WHERE (pos = 1 AND tok NOT LIKE '##%'
                       AND substr(word, pos, len(tok)) = tok)
                   OR (pos > 1 AND tok LIKE '##%'
                       AND substr(word, pos, len(tok) - 2) = substr(tok, 3))
                ORDER BY len(tok) DESC, tok ASC LIMIT 1) AS best
        FROM enc WHERE pos <= len(word) AND NOT unk
      )
    ),
    per_word AS (
      SELECT word,
             CASE WHEN unk THEN 1 ELSE n_pieces END AS pieces,
             CAST(unk AS BIGINT) AS unks
      FROM enc WHERE unk OR pos = len(word) + 1
    ),
    dw AS (
      SELECT doc_id, x AS word
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS x FROM documents)
      WHERE len(x) > 0
    )
    SELECT d.doc_id,
           CAST(coalesce(sum(pw.pieces), 0) AS BIGINT) AS n_pieces,
           CAST(coalesce(sum(pw.unks), 0) AS BIGINT) AS n_unk
    FROM documents d
    LEFT JOIN dw ON d.doc_id = dw.doc_id
    LEFT JOIN per_word pw ON dw.word = pw.word
    GROUP BY 1
    """,
)
def wordpiece_tokenize_stats(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end WordPiece TOKENIZATION (operators/wordpiece.
    apply_wordpiece): greedy longest-match-first against a fixed literal
    vocabulary, ##-prefixed continuations, whole-word [UNK] on any
    unmatchable position — per-doc piece and UNK counts. The oracle
    replays the SAME greedy algorithm as a recursive CTE whose step picks
    each position's longest vocab match via a correlated argmax (total
    order: match length DESC, token ASC), then re-joins per-word results
    to the per-doc word list — integers only, engine-exact. The vocabulary
    deliberately includes multi-char pieces that force longest-match
    decisions and omits ##o..##z singles so real [UNK]s occur. Plan: one
    Arrow map stage over documents (per-batch word cache), one per-doc
    aggregate; the word-level oracle recursion is |distinct words| ×
    word length — vocabulary work, never corpus-sized."""
    from .operators.wordpiece import apply_wordpiece

    d = load(spark, sf, "documents")
    toks = apply_wordpiece(d.select("doc_id", "text"), _WP_VOCAB)
    return toks.select(
        "doc_id",
        F.size("pieces").cast("long").alias("n_pieces"),
        F.size(F.filter("pieces", lambda p: p == "[UNK]")).cast("long").alias("n_unk"),
    )
