"""Bounded-memory frequent-item detection: Misra–Gries + exact recount.

The scale problem: "which tokens exceed frequency 1/(m+1)?" over a 100 TB
corpus. The naive plan shuffles EVERY token occurrence into a global
groupBy — the single largest shuffle a text pipeline can emit (token count
≈ bytes/5). The classic streaming answer is the Misra–Gries summary
(Misra & Gries 1982): m counters, decrement-all on overflow, guaranteeing
every item with true count > N/(m+1) survives. MG summaries are MERGEABLE
with the same bound (Agarwal, Cormode et al., "Mergeable Summaries",
PODS '12): merging two sketches (add counters pointwise, then subtract the
(m+1)-th largest value and drop ≤0) keeps the global guarantee. That turns
the problem into:

  pass 1 (map-only, NO shuffle): one MG sketch per input partition via
          mapInPandas — each emits ≤ m (token, weight) rows;
  merge  (driver, bounded): num_partitions × m rows collapse to ≤ m
          candidates — at 10k partitions and m=64 that is 640k tiny rows,
          a scalar collect, not a data shuffle;
  pass 2 (exact): recount ONLY the candidates with a broadcast semi-join
          (≤ m keys) + groupBy — partial aggregation absorbs almost
          everything map-side because the key space is ≤ m.

The guarantee is LOAD-BEARING for exactness: if the sketch ever dropped a
true heavy hitter, pass 2 would miss it and the result would be wrong —
the driver gate (heavy_hitters_2pass) value-hashes the output against a
full-shuffle oracle, so a broken eviction rule goes red, not slow.

The bench corpus is the adversarial case on purpose: ~31 near-uniform
tokens against m=30 counters means evictions fire on nearly every step
(capacity < vocabulary), yet the output must still be exactly the tokens
above the 1/31 line. Skewed streams (the common case at scale) are pinned
by tests/test_sketch.py property tests.

Reference parity: the reference engine has no sketch surface; this is a
beyond-reference capability of the LLM-pipeline family (SURVEY §2 extras).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..localrel import local_frame

_SKETCH_SCHEMA = StructType(
    [StructField("token", StringType()), StructField("wt", LongType())]
)

#: Java regex metacharacters — the chars where a literal separator and a
#: regex pattern diverge. Pass 1 tokenizes with Python str.split (LITERAL);
#: pass 2 tokenizes with F.split (Java REGEX). A separator like '.' or '|'
#: would silently tokenize differently across passes, breaking the MG
#: superset guarantee the recount depends on — so the JVM side always gets
#: the escaped form. Regex-safe separators pass through byte-identical
#: (no plan churn for the common ' ' case).
_JAVA_REGEX_META = set("\\^$.|?*+()[]{}")


def literal_split_pattern(sep: str) -> str:
    """Escape ``sep`` so Java-regex F.split treats it as a LITERAL string,
    matching Python str.split semantics. Backslash before a non-alphabetic
    char is always a literal in java.util.regex, so this is safe for every
    separator; alphanumeric separators are returned unchanged."""
    if not sep:
        raise ValueError("separator must be non-empty")
    if any(ch in _JAVA_REGEX_META for ch in sep):
        return "".join("\\" + ch if ch in _JAVA_REGEX_META else ch for ch in sep)
    return sep


def mg_update(c: dict[str, int], tokens: Iterable[str], m: int) -> dict[str, int]:
    """Fold ``tokens`` into the Misra–Gries counters ``c`` in place (≤ m
    counters; returns ``c``). Callers pass a whole batch's token list per
    call, so the loop runs without a Python call per token. Decrement-all
    costs O(m) but only fires when the dict is full AND the item is new —
    amortized O(1) per input over any stream (each decrement cancels one
    prior increment)."""
    for tok in tokens:
        if tok in c:
            c[tok] += 1
        elif len(c) < m:
            c[tok] = 1
        else:
            dead = [k for k in c if c[k] == 1]
            for k in c:
                c[k] -= 1
            for k in dead:
                del c[k]
    return c


def mg_sketch(stream: Iterable[str], m: int) -> dict[str, int]:
    """One Misra–Gries pass: ≤ m counters; any item with count > N/(m+1)
    is guaranteed present on return."""
    if m < 1:
        raise ValueError(f"Misra–Gries capacity m must be >= 1, got {m}")
    return mg_update({}, stream, m)


def mg_merge(sketches: Iterable[dict[str, int]], m: int) -> dict[str, int]:
    """Merge MG summaries, preserving the N/(m+1) guarantee (Agarwal et al.
    PODS'12): pointwise sum, then subtract the (m+1)-th largest weight from
    every counter and drop the non-positive ones."""
    total: dict[str, int] = {}
    for s in sketches:
        for k, v in s.items():
            total[k] = total.get(k, 0) + v
    if len(total) <= m:
        return total
    cut = sorted(total.values(), reverse=True)[m]
    return {k: v - cut for k, v in total.items() if v > cut}


def partition_sketches(df: DataFrame, text_col: str, m: int, sep: str = " ") -> DataFrame:
    """Pass 1: one MG sketch per partition, emitted as ≤ m (token, wt) rows.
    Arrow-batched; the sketch lives across batches of the SAME partition
    (mapInPandas hands one generator per partition). Tokens are iterated
    from .tolist() columns, never iterrows (CLAUDE.md lesson).

    Tokenization contract: ``sep`` is a LITERAL separator (Python
    str.split). Any JVM-side retokenization of the same corpus must use
    literal_split_pattern(sep) so regex metacharacters in the separator
    can't make the passes disagree (frequent_tokens_exact does)."""

    def sketch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c: dict[str, int] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            # NOTE: ''.split(sep) == [''] — the empty-string token is a
            # real token on the JVM side too (split('', sep) -> ['']),
            # so it must flow through the sketch like any other or an
            # all-empty-doc corpus would break the superset guarantee
            texts = pdf[text_col].tolist()
            mg_update(c, [t for x in texts if x is not None for t in x.split(sep)], m)
        yield pd.DataFrame({"token": list(c), "wt": list(c.values())}, columns=["token", "wt"])

    return df.select(text_col).mapInPandas(sketch_partition, _SKETCH_SCHEMA)


def tree_merge_sketches(sketch_df: DataFrame, m: int, n_groups: int) -> DataFrame:
    """Distributed MG-merge rung: collapse partitions×m sketch rows to
    ≤ n_groups×m BEFORE the driver sees them. One small repartition of
    metadata-sized rows → mapInPandas MG-merge per group. The N/(m+1)
    guarantee COMPOSES under merging (Agarwal et al. PODS'12 — each group
    merge is itself a valid MG summary of its inputs, and the final driver
    merge of group summaries is a valid summary of the whole), so inserting
    this rung never loses a true heavy hitter. Removes the only driver-side
    O(partitions) step in the family: at P partitions the driver collect
    drops from P×m rows to √P×m with n_groups=√P."""

    def merge_group(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        total: dict[str, int] = {}
        for pdf in batches:
            for tok, wt in zip(pdf["token"].tolist(), pdf["wt"].tolist()):
                total[tok] = total.get(tok, 0) + wt
        total = mg_merge([total], m)
        yield pd.DataFrame(
            {"token": list(total), "wt": list(total.values())},
            columns=["token", "wt"],
        )

    return sketch_df.repartition(n_groups).mapInPandas(merge_group, _SKETCH_SCHEMA)


#: driver-collect budget for sketch rows; above this the tree-merge rung
#: kicks in automatically (partitions×m rows → √partitions×m)
_DRIVER_MERGE_MAX_ROWS = 1 << 20


def frequent_tokens_exact(
    df: DataFrame, text_col: str, m: int, sep: str = " "
) -> DataFrame:
    """EXACT frequent tokens (count·(m+1) > N) without ever shuffling the
    token stream: MG candidates (pass 1 + bounded merge) → broadcast
    semi-join recount (pass 2) → integer threshold against the scalar
    total. Returns (token, cnt), cnt BIGINT — engine-exact, no floats
    anywhere. The candidate merge is driver-side while partitions×m stays
    under ~1M rows; past that a distributed tree-merge rung
    (tree_merge_sketches) collapses to √partitions×m first, so the driver
    collect is bounded at any partition count."""
    if m < 1:
        raise ValueError(f"Misra–Gries capacity m must be >= 1, got {m}")
    jvm_sep = literal_split_pattern(sep)
    sketch_df = partition_sketches(df, text_col, m, sep)
    n_parts = df.rdd.getNumPartitions()
    if n_parts * m > _DRIVER_MERGE_MAX_ROWS:
        sketch_df = tree_merge_sketches(sketch_df, m, max(1, int(n_parts**0.5)))
    sketch_rows = sketch_df.collect()
    merged = mg_merge(_group_rows(sketch_rows), m)
    spark = df.sparkSession
    cand = local_frame(
        spark, [(t,) for t in sorted(merged)] or [(None,)], "token string"
    ).filter(F.col("token").isNotNull())
    toks = df.select(F.explode(F.split(F.col(text_col), jvm_sep)).alias("token"))
    total = df.select(
        F.sum(F.size(F.split(F.col(text_col), jvm_sep))).cast("long").alias("total")
    )
    counts = (
        toks.join(F.broadcast(cand), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * F.lit(m + 1) > F.col("total"))
        .select("token", "cnt")
    )


def _group_rows(rows) -> list[dict[str, int]]:
    """Partition sketch rows → one dict per emitting partition is not
    recoverable from the rows alone (and not needed): mg_merge only sums
    pointwise before the single subtract step, so handing it one combined
    dict per token is arithmetically identical to merging per-partition
    dicts pairwise."""
    combined: dict[str, int] = {}
    for r in rows:
        combined[r["token"]] = combined.get(r["token"], 0) + r["wt"]
    return [combined]


# --- per-group heavy hitters ---------------------------------------------------
_GROUPED_SKETCH_SCHEMA = StructType(
    [
        StructField("g", StringType()),
        StructField("token", StringType()),
        StructField("wt", LongType()),
    ]
)


def grouped_partition_sketches(
    df: DataFrame, text_col: str, group_col: str, m: int, sep: str = " "
) -> DataFrame:
    """Pass 1 of the GROUPED family: one MG sketch per (partition, group) —
    the per-group substream of a partition is a valid MG input, so each
    sketch carries the per-group N_pg/(m+1) guarantee and merging them BY
    GROUP composes exactly like the global family (PODS'12 merge bound is
    per-summary, groups never mix). Emits ≤ m (g, token, wt) rows per
    group per partition, map-only. NULL groups are excluded (the gate
    contract matches grouped selection's nulls-excluded-group rule)."""

    def sketch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        per_g: dict[str, dict[str, int]] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            # each group's substream keeps its order, so gathering a
            # batch's tokens per group first folds the same sequence
            by_g: dict[str, list[str]] = {}
            for g, text in zip(pdf[group_col].tolist(), pdf[text_col].tolist()):
                if g is not None and text is not None:
                    by_g.setdefault(g, []).extend(text.split(sep))
            for g, toks in by_g.items():
                mg_update(per_g.setdefault(g, {}), toks, m)
        yield pd.DataFrame(
            {
                "g": [g for g, c in per_g.items() for _ in c],
                "token": [t for c in per_g.values() for t in c],
                "wt": [w for c in per_g.values() for w in c.values()],
            },
            columns=["g", "token", "wt"],
        )

    return df.select(
        F.col(group_col).cast("string").alias(group_col), text_col
    ).mapInPandas(sketch_partition, _GROUPED_SKETCH_SCHEMA)


def grouped_tree_merge(sketch_df: DataFrame, m: int) -> DataFrame:
    """Distributed per-group merge rung: one hash exchange of the
    METADATA-SIZED sketch rows on the group key co-locates each group's
    partial sketches, then one MG-merge per group — the driver collect
    drops from partitions × G × m rows to ≤ G × m, bounded in partition
    count (the grouped twin of tree_merge_sketches; same composition
    argument, applied per group)."""

    def merge_groups(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        per_g: dict[str, dict[str, int]] = {}
        for pdf in batches:
            for g, tok, wt in zip(
                pdf["g"].tolist(), pdf["token"].tolist(), pdf["wt"].tolist()
            ):
                c = per_g.setdefault(g, {})
                c[tok] = c.get(tok, 0) + wt
        for g, total in per_g.items():
            per_g[g] = mg_merge([total], m)
        yield pd.DataFrame(
            {
                "g": [g for g, c in per_g.items() for _ in c],
                "token": [t for c in per_g.values() for t in c],
                "wt": [w for c in per_g.values() for w in c.values()],
            },
            columns=["g", "token", "wt"],
        )

    return sketch_df.repartition("g").mapInPandas(merge_groups, _GROUPED_SKETCH_SCHEMA)


def grouped_frequent_tokens_exact(
    df: DataFrame,
    text_col: str,
    group_col: str,
    m: int,
    sep: str = " ",
    force_tree_merge: bool | None = None,
) -> DataFrame:
    """EXACT per-group frequent tokens — for every group g, the tokens with
    cnt·(m+1) > N_g — without ever shuffling the token stream: the
    per-language/per-domain "top boilerplate terms" ask, solved with the
    same two-pass MG shape as the global operator. Pass 1 sketches per
    (partition, group) map-only; the candidate merge is driver-side while
    partitions × groups × m stays small and switches to the per-group
    tree-merge rung (ONE exchange of sketch rows, ≤ G × m to the driver)
    past the budget — never O(partitions) driver rows; pass 2 recounts
    ONLY candidates via a broadcast (g, token) semi-join and thresholds
    per-group integer totals. Returns (group_col STRING, token, cnt
    BIGINT) — no floats anywhere, ties impossible by construction.
    ``force_tree_merge`` pins the rung on/off for differential tests."""
    if m < 1:
        raise ValueError(f"Misra–Gries capacity m must be >= 1, got {m}")
    jvm_sep = literal_split_pattern(sep)
    base = df.filter(F.col(group_col).isNotNull())
    sketch_df = grouped_partition_sketches(base, text_col, group_col, m, sep)
    use_rung = force_tree_merge
    sketched = sketch_df
    if use_rung is None:
        # rung decision on the ACTUAL sketch-row count, not a
        # partition-count heuristic (ADVICE r11): the pre-rung collect is
        # partitions × G × m rows and the old partitions-only budget
        # silently assumed ≤64 groups — a 1e5-group column would collect
        # far past the driver budget with the "protection" never engaging.
        # Pass 1's sketch frame is consumed again either way (collect or
        # tree-merge input), so persisting it makes the count one cheap
        # extra job over already-materialized metadata-sized rows, never a
        # second corpus scan. Also removes the df.rdd partition probe
        # (VERDICT r11 watch item): no RDD conversion in the grouped
        # family.
        sketched = sketch_df = sketch_df.persist()
        use_rung = sketch_df.count() > _DRIVER_MERGE_MAX_ROWS
    if use_rung:
        sketch_df = grouped_tree_merge(sketch_df, m)
    per_group_rows: dict[str, dict[str, int]] = {}
    for r in sketch_df.collect():
        c = per_group_rows.setdefault(r["g"], {})
        c[r["token"]] = c.get(r["token"], 0) + r["wt"]
    sketched.unpersist()
    cand_rows = sorted(
        (g, t)
        for g, combined in per_group_rows.items()
        for t in mg_merge([combined], m)
    )
    spark = df.sparkSession
    if not cand_rows:
        return spark.createDataFrame([], f"{group_col} string, token string, cnt long")
    cand = local_frame(spark, cand_rows, f"{group_col} string, token string")
    gcol = F.col(group_col).cast("string").alias(group_col)
    toks = base.select(
        gcol, F.explode(F.split(F.col(text_col), jvm_sep)).alias("token")
    )
    totals = base.groupBy(gcol).agg(
        F.sum(F.size(F.split(F.col(text_col), jvm_sep))).cast("long").alias("total")
    )
    counts = (
        toks.join(F.broadcast(cand), [group_col, "token"], "left_semi")
        .groupBy(group_col, "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counts.join(F.broadcast(totals), group_col)
        .filter(F.col("cnt") * F.lit(m + 1) > F.col("total"))
        .select(group_col, "token", "cnt")
    )
