"""Distributed WordPiece tokenizer training and application — the third
classic trainer alongside BPE (operators/bpe.py) and Unigram-LM
(operators/unigram.py), completing the tokenizer set a training-data
pipeline draws from. Reference scope note: the reference engine has no
text pipeline; this is the BASELINE-mandated LLM-extension surface.

Public semantics (Schuster & Nakajima 2012 as popularized by BERT; the
HuggingFace `tokenizers` WordPiece trainer documents the same rules):

- Words split into POSITIONAL symbols: the first character bare, every
  later one carrying the ``##`` continuation prefix ("hello" ->
  [h, ##e, ##l, ##l, ##o]) — so "l" at word start and "##l" inside a word
  are DIFFERENT statistical units, unlike BPE.
- Per iteration, merge the adjacent pair maximizing the LIKELIHOOD score
  ``count(a,b) / (count(a) * count(b))`` — pair frequency normalized by
  its parts' frequencies (BPE maximizes raw count instead). The merged
  symbol is ``a + strip_##(b)``.
- Application is NOT merge replay: greedy LONGEST-MATCH-FIRST against the
  final vocabulary, left to right, emitting ``##``-prefixed pieces after
  the first; a word with any unmatchable position becomes one ``[UNK]``.

Spark-first structure mirrors train_bpe (one corpus-sized word-frequency
shuffle, then every iteration runs on the distinct-word table): the score
step adds one tiny symbol-count aggregate and a pair->parts join per
iteration — both keyed on the current symbol vocabulary, so the added
cost is O(|symbol vocab|), not corpus-sized. Tie-breaks are total and
deterministic (score DESC, pair ASC): any two engines — and the
pure-Python reference trainer in tests/test_wordpiece.py — learn the
identical merge list. The first iteration's scores are exactly
SQL-expressible and drive the `wordpiece_pair_scores` gate; greedy
longest-match application is gated against a recursive-CTE oracle over a
fixed literal vocabulary (`wordpiece_tokenize_stats`).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import shingles
from .tokenizer import merge_loop  # the shared merge loop (tokenizer.py)

__all__ = [
    "wordpiece_symbols",
    "pair_scores",
    "train_wordpiece",
    "vocab_from_merges",
    "apply_wordpiece",
]

CONT = "##"
UNK = "[UNK]"


def wordpiece_symbols(word: Column | str) -> Column:
    """Positional symbol split: first char bare, the rest ##-prefixed.
    Pure Column expression (transform over the char split; the lambda is
    2-param BY DESIGN — transform's index form, allowed per CLAUDE.md
    rule 7's zip_with/aggregate carve-out, and it references only its own
    arguments and literals)."""
    c = F.col(word) if isinstance(word, str) else word
    return F.transform(
        F.split(c, ""),
        lambda ch, i: F.when(i == 0, ch).otherwise(F.concat(F.lit(CONT), ch)),
    )


def _strip_cont(sym: str) -> str:
    return sym[len(CONT):] if sym.startswith(CONT) else sym


def pair_scores(state: DataFrame) -> DataFrame:
    """(pair, cnt, score) over a (syms, freq) state table: pair counts,
    symbol counts, score = cnt / (cnt_a * cnt_b). Two tiny vocab-keyed
    aggregates + one join — never corpus-sized. The score is ONE IEEE
    division of exact BIGINTs, bit-identical on any engine."""
    pairs = (
        state.select(F.explode(shingles(F.col("syms"), 2)).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
    )
    syms = (
        state.select(F.explode("syms").alias("sym"), "freq")
        .groupBy("sym")
        .agg(F.sum("freq").alias("scnt"))
    )
    # symbols never contain spaces (whitespace tokenizer upstream), so the
    # 2-shingle key splits back unambiguously
    split = F.split(F.col("pair"), " ", 2)
    withparts = pairs.select(
        "pair", "cnt",
        split.getItem(0).alias("a"), split.getItem(1).alias("b"),
    )
    a = syms.select(F.col("sym").alias("a"), F.col("scnt").alias("cnt_a"))
    b = syms.select(F.col("sym").alias("b"), F.col("scnt").alias("cnt_b"))
    return (
        withparts.join(F.broadcast(a), "a").join(F.broadcast(b), "b")
        .select(
            "pair", "cnt",
            (F.col("cnt").cast("double")
             / (F.col("cnt_a") * F.col("cnt_b")).cast("double")).alias("score"),
        )
    )


def train_wordpiece(
    words: DataFrame,
    n_merges: int,
    tiny: bool = False,
    persist_every: int = 4,
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` WordPiece merges from a (word, freq) table.
    The distributed loop is train_bpe's (tokenizer.merge_loop: one argmax
    row to the driver per iteration, lineage pinned every
    ``persist_every``), with the likelihood score replacing the raw count
    and ##-positional symbols replacing the bare char split."""
    return merge_loop(
        words.select(wordpiece_symbols("word").alias("syms"), "freq"),
        n_merges,
        lambda state: pair_scores(state).orderBy(F.desc("score"), F.asc("pair")),
        # merged symbol keeps a's positional identity: a + strip_##(b)
        lambda a, b: a + _strip_cont(b),
        tiny,
        persist_every,
    )


def vocab_from_merges(
    words_alphabet: list[str], merges: list[tuple[str, str]]
) -> list[str]:
    """Final vocabulary: the positional alphabet + every merged symbol, in
    merge-rank order (application only needs membership, but rank order
    keeps the list deterministic)."""
    vocab = list(dict.fromkeys(words_alphabet))
    for a, b in merges:
        tok = a + _strip_cont(b)
        if tok not in vocab:
            vocab.append(tok)
    return vocab


def _encode_word(word: str, vocab: set[str]) -> list[str]:
    """Greedy longest-match-first, the published WordPiece algorithm:
    at each position take the LONGEST vocab token (##-prefixed after the
    start); any unmatchable position collapses the word to [UNK]."""
    out: list[str] = []
    i, n = 0, len(word)
    while i < n:
        j = n
        piece = None
        while j > i:
            cand = word[i:j] if i == 0 else CONT + word[i:j]
            if cand in vocab:
                piece = cand
                break
            j -= 1
        if piece is None:
            return [UNK]
        out.append(piece)
        i = j
    return out


def apply_wordpiece(
    docs: DataFrame,
    vocab: list[str],
    text_col: str = "text",
    out_col: str = "pieces",
) -> DataFrame:
    """Tokenize ``text_col`` with a fixed vocabulary — Arrow-batched
    mapInPandas with a per-batch word cache (greedy longest match is the
    documented recursion Column functions can't express; same
    justification as apply_bpe). Adds ``out_col`` (array<string>)."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    schema = StructType(list(docs.schema.fields) + [StructField(out_col, ArrayType(StringType()))])
    cols = [f.name for f in docs.schema.fields]
    vset = set(vocab)

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}
        for pdf in it:
            res = []
            for text in pdf[text_col].tolist():
                pieces: list[str] = []
                for w in (text or "").split():
                    if w not in cache:
                        cache[w] = _encode_word(w, vset)
                    pieces.extend(cache[w])
                res.append(pieces)
            pdf = pdf.copy()
            pdf[out_col] = res
            yield pdf[cols + [out_col]]

    return docs.mapInPandas(fn, schema)
