"""Distributed BPE tokenizer training and application.

The canonical LLM-pipeline text operator the rest of the text family feeds
(token accounting, packing, dedup all consume a tokenizer): learn byte-pair
merges from corpus statistics, then tokenize with them. Reference scope
note: the reference engine has no text pipeline at all — this is part of
the BASELINE-mandated LLM-extension set, alongside `text_bpe_tokens`
(which applies a *fixed* regex pre-tokenizer; this module learns the
merges themselves).

Spark-first design (Sennrich et al. 2016 semantics, distributed the way
production tokenizer trainers structure it):

1. The only corpus-sized operation is the word-frequency rollup — one
   shuffle over (word), partial-agg absorbed map-side. Everything after
   runs on the DISTINCT-WORD table (|V| rows), which is orders of
   magnitude smaller than the corpus (~30 here, ~10^7-10^8 for 100 TB of
   web text) and stays partitioned across executors.
2. Each merge iteration is: explode adjacent symbol pairs (the shingles
   zip-of-shifted-slices pattern — no per-element re-evaluation), one
   tiny groupBy-sum keyed by pair (key space = current pair vocabulary),
   and a LIMIT 1 argmax whose single row is the only thing the driver
   ever collects. The symbol table is re-derived JVM-side by an
   `aggregate` fold (no Python in the loop) and re-cached; the previous
   iteration's cache is dropped.
3. Tie-breaks are total and deterministic: count DESC, then pair string
   ASC — so any two engines (and the pure-Python reference in
   tests/test_bpe.py) learn the identical merge list.

At real scale you additionally (a) sample the corpus before step 1
(production tokenizers train on ~10^9 chars, not the full corpus — the
word_freq shuffle is already the sampling surface: add .sample() before
it), and (b) stop at the target vocab size; the loop below is exactly
that loop. Merge application (`apply_bpe`) is an Arrow-batched
mapInPandas with a per-batch word cache — a learned, variable-length
merge table is the documented case where built-in Column functions
genuinely cannot express the recursion (same justification as
smoothing.ema).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import shingles
from .tokenizer import merge_loop  # the shared merge loop (tokenizer.py)

__all__ = ["train_bpe", "apply_bpe"]


def train_bpe(
    words: DataFrame,
    n_merges: int,
    tiny: bool = False,
    persist_every: int = 4,
    local: bool | None = None,
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` BPE merges from a (word, freq) table.

    Returns the merge list in rank order. Per iteration the driver
    receives exactly one row (the argmax pair) and runs exactly one job:
    the merge fold is appended to the plan lazily, and the lineage is
    truncated by a persist+count only every ``persist_every`` iterations
    (an unbroken k-fold lineage over a large word table would recompute
    O(k) folds per iteration — O(k^2·|V|) total; periodic pinning keeps it
    O(k·|V|·persist_every) while paying the materialization job only
    k/persist_every times). ``tiny=True`` collapses the word table to one
    partition first — right for a known-small lexicon (here: ~30 words),
    wrong at web scale where |V| ~ 10^7-10^8 rows should stay spread.

    ``local`` picks the iteration backend; the default (None) follows
    ``tiny``. A tiny lexicon's bottleneck is not compute but ITERATION
    LATENCY — one plan build + analysis + job per merge (measured r12:
    the 20-merge gate spent 1.1 s in jobs and ~3 s building/analyzing 20
    single-row-result plans) — so the tiny rung collects the word table
    once and runs the same count-argmax-fold loop in Python, the exact
    size-adaptive trade connected_components makes for <1M-edge graphs.
    ``local=False`` forces the distributed loop at any size (the
    differential tests pin local == distributed == the independent
    pure-Python reference on the same inputs).

    Deterministic: count DESC, pair ASC — a total order (Python string
    comparison is code-point order and UTF-8 is order-preserving, so the
    tie-break agrees with Spark's binary string ordering)."""
    if tiny if local is None else local:
        return _train_bpe_local(words, n_merges)
    return merge_loop(
        words.select(F.split("word", "").alias("syms"), "freq"),
        n_merges,
        lambda state: (
            state.select(F.explode(shingles(F.col("syms"), 2)).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
        ),
        lambda a, b: a + b,
        tiny,
        persist_every,
    )


def _train_bpe_local(words: DataFrame, n_merges: int) -> list[tuple[str, str]]:
    """Driver-local merge loop over a collected lexicon — identical
    semantics to the distributed loop (adjacent-pair counts weighted by
    freq; argmax by count DESC then space-joined pair ASC; left-to-right
    non-overlapping fold), in exact integer arithmetic throughout, so the
    two backends return the same list on any input (pinned by
    tests/test_bpe.py's differentials)."""
    from collections import Counter

    state: dict[tuple[str, ...], int] = {}
    for r in words.select("word", "freq").collect():
        key = tuple(r["word"])
        state[key] = state.get(key, 0) + int(r["freq"])
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: Counter = Counter()
        for syms, f in state.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += f
        if not counts:
            break
        a, b = min(
            counts.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}")
        )[0]
        merges.append((a, b))
        new_state: dict[tuple[str, ...], int] = {}
        for syms, f in state.items():
            out = tuple(_encode_word_syms(list(syms), a, b))
            new_state[out] = new_state.get(out, 0) + f
        state = new_state
    return merges


def _encode_word_syms(syms: list[str], a: str, b: str) -> list[str]:
    """One left-to-right non-overlapping (a, b) fold — the Python twin of
    tokenizer.merge_pair's JVM fold (and the inner step of _encode_word)."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    syms = list(word)
    for a, b in merges:  # rank order, left-to-right non-overlapping
        syms = _encode_word_syms(syms, a, b)
    return syms


def apply_bpe(
    docs: DataFrame, merges: list[tuple[str, str]], text_col: str = "text"
) -> DataFrame:
    """Tokenize with a learned merge list: Arrow-batched mapInPandas with a
    per-batch distinct-word cache (web-scale batches are Zipfian, so the
    cache hit rate is the corpus type-token ratio). The merge table rides
    into the workers inside the closure — it is vocab-sized metadata, the
    same broadcast-small-side pattern as the ANN codebooks."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    # StructType.add MUTATES in place, and DataFrame.schema returns the
    # frame's cached schema object — build a fresh StructType instead of
    # corrupting docs' column resolution
    schema = StructType(
        list(docs.schema.fields)
        + [StructField("bpe_tokens", ArrayType(StringType()))]
    )

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}
        for pdf in it:
            outs = []
            for text in pdf[text_col].tolist():
                toks: list[str] = []
                for w in text.split(" "):
                    enc = cache.get(w)
                    if enc is None:
                        enc = _encode_word(w, merges)
                        cache[w] = enc
                    toks.extend(enc)
                outs.append(toks)
            yield pdf.assign(bpe_tokens=pd.Series(outs, index=pdf.index))

    return docs.mapInPandas(fn, schema)
