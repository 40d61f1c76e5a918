"""The shared tokenizer-trainer surface (r9 verdict Next #5).

Three classic subword trainers live in this package — BPE
(operators/bpe.py, Sennrich et al. 2016), Unigram-LM
(operators/unigram.py, Kudo 2018) and WordPiece (operators/wordpiece.py,
Schuster & Nakajima 2012) — and all three consume the SAME corpus-sized
stage and expose the same two-step lifecycle. This module is that shared
contract:

- :func:`word_freq` — the one corpus-sized operation any trainer runs:
  corpus -> (word, freq) distinct-word table, one shuffle, partial-agg
  absorbed map-side. Everything a trainer does afterwards is bounded by
  |distinct words| (~10^7-10^8 for 100 TB of web text), not corpus size.
- :func:`merge_pair` — the JVM-side merge fold BPE and WordPiece both
  replay per learned merge (WordPiece passes its own merged symbol), and
  :func:`merge_loop`, the distributed training loop around it.
- :class:`TokenizerModel` + :func:`train_tokenizer` /
  :func:`apply_tokenizer` — one train/apply contract over the three
  algorithms, so pipeline code (and the three-trainer cross-differential
  in tests/test_tokenizer.py) can swap tokenizers without touching stage
  wiring. Dispatch imports lazily to keep this module the dependency
  ROOT of the trainer family (bpe/wordpiece import from here).

Reference scope note: the reference engine has no text pipeline; this is
the BASELINE-mandated LLM-extension surface.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

__all__ = [
    "word_freq",
    "merge_pair",
    "merge_loop",
    "TokenizerModel",
    "train_tokenizer",
    "apply_tokenizer",
]


def word_freq(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus word-frequency table — the one corpus-sized shuffle every
    trainer shares. Sampling before this stage is the corpus-size knob
    (production trainers learn from ~10^9 chars, not the full corpus)."""
    return (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def merge_pair(syms: Column, a: str, b: str, merged: str | None = None) -> Column:
    """Replace each left-to-right non-overlapping adjacent (a, b) in a
    symbol array with the merged symbol — entirely JVM-side via an
    aggregate fold carrying {out, pend} (pend = '' means no symbol is
    pending; symbols are never empty strings). The lambda touches only
    its accumulator, its element, and literals (CLAUDE.md rule 7).
    ``merged`` defaults to a+b (BPE); WordPiece passes a + strip_##(b)."""
    if merged is None:
        merged = a + b
    init = F.struct(
        F.array().cast("array<string>").alias("out"), F.lit("").alias("pend")
    )

    def step(acc: Column, x: Column) -> Column:
        take = (acc["pend"] == a) & (x == b)
        return F.struct(
            F.when(take, F.concat(acc["out"], F.array(F.lit(merged))))
            .when(acc["pend"] == "", acc["out"])
            .otherwise(F.concat(acc["out"], F.array(acc["pend"])))
            .alias("out"),
            F.when(take, F.lit("")).otherwise(x).alias("pend"),
        )

    def finish(acc: Column) -> Column:
        return F.when(acc["pend"] == "", acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        )

    return F.aggregate(syms, init, step, finish)


def merge_loop(
    state: DataFrame,
    n_merges: int,
    ranked: Callable[[DataFrame], DataFrame],
    merged: Callable[[str, str], str],
    tiny: bool = False,
    persist_every: int = 4,
) -> list[tuple[str, str]]:
    """The distributed subword-merge loop BPE and WordPiece share, over a
    (syms, freq) ``state`` table. Per iteration the driver collects one
    row — the first of ``ranked(state)``, the pair frame sorted best-first
    with a space-joined ``pair`` column — and runs one job; the merge is
    appended to the plan lazily as :func:`merge_pair` with the symbol
    ``merged(a, b)``. The lineage is truncated by a persist+count only
    every ``persist_every`` iterations (an unbroken k-fold lineage would
    recompute O(k) folds per iteration). ``tiny=True`` collapses the table
    to one partition first. Stops early when no pair is left."""
    if tiny:
        state = state.coalesce(1)
    state = state.persist()
    state.count()  # materialize before the loop reuses it (CLAUDE.md)
    pinned = state
    merges: list[tuple[str, str]] = []
    try:
        for i in range(n_merges):
            top = ranked(state).limit(1).collect()
            if not top:
                break  # every word fully merged to one symbol
            # symbols never contain spaces (whitespace tokenizer), so the
            # 2-shingle join key splits back unambiguously
            a, b = top[0]["pair"].split(" ", 1)
            merges.append((a, b))
            state = state.select(
                merge_pair(F.col("syms"), a, b, merged(a, b)).alias("syms"), "freq"
            )
            if (i + 1) % persist_every == 0:
                state = state.persist()
                state.count()
                pinned.unpersist()
                pinned = state
    finally:
        pinned.unpersist()
    return merges


@dataclass(frozen=True)
class TokenizerModel:
    """A trained tokenizer: the algorithm tag plus the vocab-sized state
    application needs. Always metadata-sized (closure-shippable to
    executors, never corpus-sized):

    - bpe:       merges = rank-ordered merge list
    - wordpiece: merges + vocab (positional alphabet + merged symbols;
                 application is greedy longest-match against vocab)
    - unigram:   vocab = [(piece, count, logp)] + max_piece_len
    """

    algo: str
    merges: list[tuple[str, str]] = field(default_factory=list)
    vocab: list[Any] = field(default_factory=list)
    max_piece_len: int = 6


def train_tokenizer(
    words: DataFrame, algo: str, size: int, **kw: Any
) -> TokenizerModel:
    """One train contract over the three algorithms, from a shared
    (word, freq) table (:func:`word_freq` output). ``size`` is the merge
    count for bpe/wordpiece and the vocabulary size for unigram; ``kw``
    forwards to the underlying trainer (tiny=, persist_every=,
    max_piece_len=, ...)."""
    if algo == "bpe":
        from .bpe import train_bpe

        return TokenizerModel(algo, merges=train_bpe(words, size, **kw))
    if algo == "wordpiece":
        from .wordpiece import train_wordpiece, vocab_from_merges, wordpiece_symbols

        merges = train_wordpiece(words, size, **kw)
        alphabet = [
            r["sym"]
            for r in words.select(
                F.explode(wordpiece_symbols("word")).alias("sym")
            )
            .distinct()
            .orderBy("sym")
            .collect()
        ]
        return TokenizerModel(
            algo, merges=merges, vocab=vocab_from_merges(alphabet, merges)
        )
    if algo == "unigram":
        from .unigram import train_unigram

        mpl = kw.get("max_piece_len", 6)
        return TokenizerModel(
            algo, vocab=train_unigram(words, size, **kw), max_piece_len=mpl
        )
    raise ValueError(f"unknown tokenizer algo {algo!r}")


def apply_tokenizer(
    docs: DataFrame,
    model: TokenizerModel,
    text_col: str = "text",
    out_col: str = "tokens",
) -> DataFrame:
    """One apply contract: tokenize ``text_col`` into ``out_col``
    (array<string>) with whichever model was trained. Uniform column
    naming is the point — downstream stages (packing, token accounting)
    bind to ``out_col``, not to the algorithm."""
    if model.algo == "bpe":
        from .bpe import apply_bpe

        out = apply_bpe(docs, model.merges, text_col)
        return out.withColumnRenamed("bpe_tokens", out_col)
    if model.algo == "wordpiece":
        from .wordpiece import apply_wordpiece

        return apply_wordpiece(docs, list(model.vocab), text_col, out_col=out_col)
    if model.algo == "unigram":
        from .unigram import apply_unigram

        out = apply_unigram(docs, model.vocab, text_col, model.max_piece_len)
        return out.withColumnRenamed("unigram_tokens", out_col)
    raise ValueError(f"unknown tokenizer algo {model.algo!r}")
