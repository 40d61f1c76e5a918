"""Distributed exact selection: global k-th smallest WITHOUT a global sort.

A global ORDER BY at 100 TB is a full range-exchange of the dataset — the
one shuffle shape this engine's gates otherwise never emit. Exact global
quantiles don't need it: bucket-count selection (the distributed
quickselect) finds the k-th smallest VALUE with log_B(n) histogram passes
over an un-shuffled scan plus one band-bounded finish:

  round r: one map pass histograms the active band of every wanted rank
           into B buckets (a (n_ks × B)-row aggregate — metadata-sized);
           cumulative counts locate each rank's bucket, which becomes its
           next band;
  finish:  when a rank's band holds ≤ band_limit rows, rank ONLY the
           band (one window job shared by every finishing rank, keyed by
           rank id) and pick each band's target row — bands are
           band_limit-bounded by construction, so the window is tiny.

Band membership is re-derived each round from the SAME deterministic
bucket expression (floor((v − lo)/width) chained as equality conditions),
never from float range compares against recomputed boundaries — so a
value sitting exactly on a bucket edge lands on one side consistently and
the rank arithmetic stays exact. Returned values are INPUT values
verbatim (no arithmetic touches them), so an oracle's row_number pick
matches bit-for-bit, ties included (the value at a fixed rank of the
multiset order is unique even when row orderings differ).

At bench scale (600k rows, B=1024, band_limit=65536) every rank resolves
in ONE histogram round; the operator loops for deeper n and splits
pathological buckets (all-equal values short-circuit: a zero-width band
IS the answer).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..localrel import local_frame


def _bucket_expr(col: Column, lo: float, width: float, buckets: int) -> Column:
    """Deterministic bucket index in [0, buckets): identical arithmetic on
    every round so edge values re-bucket consistently."""
    raw = F.floor((col - F.lit(lo)) / F.lit(width)).cast("long")
    return F.least(F.greatest(raw, F.lit(0)), F.lit(buckets - 1))


def _geo_bucket_expr(
    col: Column, lo: float, hi: float, buckets: int, negative: bool = False
) -> Column:
    """Log-domain bucket index for a single-sign band whose LINEAR histogram
    stalled (heavy-tailed values spanning many binades concentrate in
    linear bucket 0, removing only ~log2(buckets) binades per round —
    doubles span ~2100 binades, so linear alone can exhaust any sane round
    budget). Equal-RATIO buckets cover the whole binade span in one round.
    Ascending in value for both signs (negative bands reverse the index so
    cumulative rank arithmetic stays valid). Deterministic: same expression
    re-evaluated each round, like _bucket_expr."""
    import math

    if negative:
        a, b = -hi, -lo  # both > 0; ln(-v) DEcreases as v increases
        step = (math.log(b) - math.log(a)) / buckets
        if step <= 0.0:  # adjacent-double band: log span underflowed
            return _bucket_expr(col, lo, (hi - lo) / buckets, buckets)
        raw = F.floor((F.log(-col) - F.lit(math.log(a))) / F.lit(step)).cast("long")
        clamped = F.least(F.greatest(raw, F.lit(0)), F.lit(buckets - 1))
        return F.lit(buckets - 1) - clamped
    step = (math.log(hi) - math.log(lo)) / buckets
    if step <= 0.0:
        return _bucket_expr(col, lo, (hi - lo) / buckets, buckets)
    raw = F.floor((F.log(col) - F.lit(math.log(lo))) / F.lit(step)).cast("long")
    return F.least(F.greatest(raw, F.lit(0)), F.lit(buckets - 1))


def _sign_split_expr(col: Column) -> Column:
    """3-way split at zero for a stalled band that straddles (or touches)
    zero: after one round the surviving band is single-sign or all-zero,
    unlocking the geometric path. Ascending in value by construction."""
    return (
        F.when(col < 0, F.lit(0)).when(col == 0, F.lit(1)).otherwise(F.lit(2))
    ).cast("long")


def kth_smallest_values(
    df: DataFrame,
    col: str,
    ks: list[int],
    buckets: int = 1024,
    band_limit: int = 65536,
    max_rounds: int = 64,
) -> DataFrame:
    """Exact (k, value) for each 1-based rank in ``ks`` over ``df[col]``
    (nulls excluded, multiset order). Returns a DataFrame (k BIGINT,
    value DOUBLE). No global sort, no data-sized shuffle, no driver
    collect beyond scalars — and round-trips scale with ROUNDS, not with
    len(ks): one seed aggregate, then ONE histogram job per round (bucket
    counts carry min/max, so band stats never need their own scan) plus
    one shared finish window when bands get small. Thin wrapper over the
    tag-generic core shared with :func:`grouped_kth_smallest`."""
    if not ks:
        raise ValueError("ks must be non-empty")
    c = F.col(col)
    base = df.filter(c.isNotNull()).select(F.lit(0).alias("g"), c.alias("v"))
    results = _selection_core(base, {0: list(ks)}, buckets, band_limit, max_rounds)
    return local_frame(
        df.sparkSession,
        [(int(k), float(results[(0, k)])) for k in sorted(set(ks))],
        "k long, value double",
    )


def grouped_kth_smallest(
    df: DataFrame,
    col: str,
    group_col: str,
    ks_by_group,  # dict[group, list[int]] | callable n -> list[int]
    buckets: int = 1024,
    band_limit: int = 65536,
    max_rounds: int = 64,
    max_groups: int = 2_000,
) -> DataFrame:
    """Exact PER-GROUP order statistics without per-group sorts: for each
    group g, the values at ranks ``ks_by_group[g]`` of that group's
    nulls-excluded multiset. The tag space is (group, rank) — every
    active tag rides the SAME seed aggregate, the SAME one histogram job
    per round and the SAME shared finish window, so round-trips scale
    with recursion depth, never with group count x rank count. The
    oracle formulation (row_number over PARTITION BY group ORDER BY col)
    is a per-group sort whose exchange the operator never pays at scale.

    Returns (group_col, k BIGINT, value DOUBLE); group values round-trip
    through the driver (str/int/bool group keys). Groups named in
    ``ks_by_group`` but absent from the data raise (rank validation),
    matching the ungrouped operator's loud contract.

    ``ks_by_group`` may instead be a CALLABLE ``n -> list[ranks]``: ranks
    derive per group from the core's own seed counts (one job saved — a
    caller would otherwise run the identical per-group count aggregate
    just to compute its rank lists), applied to every group present.

    GROUP-CARDINALITY CONTRACT: the core's per-round driver traffic is
    O(active_bands x buckets) histogram rows and the band-id expression
    has one branch per band — both scale with GROUP COUNT, which is
    exactly the right trade at language/domain/source cardinality (tens
    to hundreds of groups narrowing huge groups without their sort
    exchange) and exactly the wrong one at per-host/per-URL cardinality:
    measured at G=1000/N=2M the width-G expression alone costs 33 s of
    analysis+codegen against the sorted path's 1.6 s
    (python tools/ramp.py selection_groups). Above ``max_groups`` (checked
    against the seed aggregate's row count, before any per-round work)
    the call fails loudly; use :func:`grouped_kth_smallest_sorted` there
    — at high G each group is small enough that the hash-partitioned
    per-group sort is the textbook plan and the driver stays out of it
    entirely."""
    if not ks_by_group:
        raise ValueError("ks_by_group must be non-empty")
    c = F.col(col)
    base = df.filter(c.isNotNull() & F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("g"), c.alias("v")
    )
    results = _selection_core(
        base, ks_by_group, buckets, band_limit, max_rounds, max_groups
    )
    rows = [
        (g, int(k), float(v))
        for (g, k), v in sorted(results.items(), key=lambda t: (str(t[0][0]), t[0][1]))
    ]
    return local_frame(df.sparkSession, rows, [group_col, "k", "value"])


def grouped_kth_smallest_sorted(
    df: DataFrame,
    col: str,
    group_col: str,
    ranks_sql: str,
) -> DataFrame:
    """Per-group order statistics for HIGH group cardinality (10^5-10^7
    groups — per-host/per-domain curation asks): one hash exchange
    partitioned by group + per-group sort, row_number pick. The
    complement of :func:`grouped_kth_smallest`, which narrows FEW huge
    groups without their sort exchange but pays O(bands x buckets) driver
    histogram rows per round and a band-per-group CASE — linear in G.
    Here NOTHING touches the driver: counts, ranks and picks all stay in
    the frame, parallelism is the group count, and each task externally
    sorts only its own groups' rows; the full-data exchange this pays is
    the honest price, amortized over G-way parallelism (the banded path's
    win is real only while G is small — python tools/ramp.py
    selection_groups measures the crossover).

    ``ranks_sql`` is a SQL expression over the BIGINT column ``n`` (the
    group's nulls-excluded count) returning ARRAY<BIGINT> — e.g.
    ``"array(1, greatest(1, n div 2), greatest(1, (9*n) div 10), n)"`` —
    evaluated JVM-side per row (no per-group Python). Returns
    (group_col, k BIGINT, value DOUBLE), the banded operator's schema, so
    the two paths are drop-in interchangeable (differential-tested)."""
    from pyspark.sql import Window

    if "n" in (col, group_col):
        raise ValueError(
            "grouped_kth_smallest_sorted reserves column name 'n' for the "
            "per-group count ranks_sql reads — rename the input column"
        )
    c = F.col(col)
    base = df.filter(c.isNotNull() & F.col(group_col).isNotNull()).select(
        F.col(group_col), c.alias("_v")
    )
    wr = Window.partitionBy(group_col).orderBy("_v")
    wn = Window.partitionBy(group_col)
    return (
        base.withColumn("_rn", F.row_number().over(wr).cast("long"))
        .withColumn("n", F.count(F.lit(1)).over(wn).cast("long"))
        .filter(F.array_contains(F.expr(ranks_sql), F.col("_rn")))
        .select(
            group_col,
            F.col("_rn").alias("k"),
            F.col("_v").cast("double").alias("value"),
        )
    )


def _selection_core(
    base: DataFrame,
    ks_by_group: dict,
    buckets: int,
    band_limit: int,
    max_rounds: int,
    max_groups: int = 2_000,
) -> dict:
    """Bucket-count selection over a (g, v) frame for tags (group, rank),
    organized around BANDS — the distinct row subsets the recursion is
    currently narrowing. Tags that share a band (every rank of a group at
    round 0; ranks whose chosen buckets keep coinciding later) share its
    scan: each round's histogram and finish union ONE branch per band,
    never one per tag — so a 5-rank global query histograms the base
    ONCE, and a G-group x K-rank query costs O(distinct bands) <= G
    branch scans, not G x K. ONE fused seed aggregate (per-group
    count/min/max), then per round: one histogram job whose buckets
    carry count AND min/max (the child band's stats are known the moment
    its bucket is chosen — no stats job exists) plus one shared finish
    window. Returns {(group, rank): value}."""
    # the guard trips BEFORE any per-round work (the band CASE and the
    # histogram collects — the parts that scale with G); the seed collect
    # itself is O(G) scalar rows, loud and bounded by the raise below
    # (a .limit() would bound it tighter but CollectLimit's incremental
    # partition probing adds 2-3 jobs to EVERY call — wrong trade for the
    # in-contract small-G case)
    seed_rows = (
        base.groupBy("g")
        .agg(
            F.count("v").alias("cnt"),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
        )
        .collect()
    )
    if len(seed_rows) > max_groups:
        raise ValueError(
            f"grouped selection saw more than max_groups={max_groups} groups — "
            "per-round driver histogram traffic and the band-id CASE scale "
            "with group count, so high-cardinality grouping belongs on "
            "grouped_kth_smallest_sorted (hash-partitioned per-group sort, "
            "zero driver traffic) instead; raise max_groups only if the "
            "group count is genuinely bounded"
        )
    seed = {r["g"]: r for r in seed_rows}
    if callable(ks_by_group):
        ks_by_group = {g: ks_by_group(seed[g]["cnt"]) for g in seed}
    for g, ks in ks_by_group.items():
        if not ks:
            raise ValueError(f"empty rank list for group {g!r}")
        n = seed[g]["cnt"] if g in seed else 0
        for k in ks:
            if not 1 <= k <= n:
                raise ValueError(f"group {g!r}: rank {k} outside [1, {n}]")
    # band: {cond, cnt, vmin, vmax, stalled, tags: {rank_in_band: tag}}
    bands: list[dict] = []
    for g, ks in ks_by_group.items():
        s = seed[g]
        bands.append(
            {
                "cond": F.col("g") == F.lit(g),
                "cnt": s["cnt"],
                "vmin": s["vmin"],
                "vmax": s["vmax"],
                "stalled": False,
                "tags": {k: (g, k) for k in set(ks)},
            }
        )
    results: dict[tuple, float] = {}

    def _banded(band_list: list[dict]) -> DataFrame:
        """ONE scan covering every listed band: bands are mutually DISJOINT
        by construction (distinct groups, or distinct buckets of one
        parent), so a single band-id expression replaces a per-band union —
        each round's job reads the base exactly once no matter how many
        bands are active. The id is coalesce(when(cond_i, i), ...) — WIDTH
        O(bands), depth O(1); a chained CASE is depth O(bands) and
        overflows catalyst's stack near a thousand bands (measured at
        G=1000 — this is what bounds the operator, not driver traffic
        alone). Disjointness makes coalesce's first-match order-free."""
        bid = F.coalesce(
            *[F.when(band["cond"], F.lit(i)) for i, band in enumerate(band_list)]
        )
        return base.select(bid.alias("bid"), "v").filter(F.col("bid").isNotNull())

    for _ in range(max_rounds):
        if not bands:
            break
        # ROUND-TRIPS SCALE WITH ROUNDS, NOT TAGS OR BANDS: each round is
        # one histogram job + (when bands got small) one finish window.
        finish: list[dict] = []
        hist: list[tuple[dict, Column, int]] = []  # (band, bexpr, n_buckets)
        for band in bands:
            cnt, vmin, vmax = band["cnt"], band["vmin"], band["vmax"]
            if vmin == vmax:
                for tag in band["tags"].values():
                    results[tag] = float(vmin)  # all-equal band IS the answer
            elif cnt <= band_limit:
                finish.append(band)
            else:
                lo, hi = float(vmin), float(vmax)
                if not band["stalled"]:
                    hist.append(
                        (
                            band,
                            _bucket_expr(F.col("v"), lo, (hi - lo) / buckets, buckets),
                            buckets,
                        )
                    )
                elif lo > 0:
                    hist.append(
                        (band, _geo_bucket_expr(F.col("v"), lo, hi, buckets), buckets)
                    )
                elif hi < 0:
                    hist.append(
                        (
                            band,
                            _geo_bucket_expr(F.col("v"), lo, hi, buckets, negative=True),
                            buckets,
                        )
                    )
                else:  # band straddles/touches zero: split signs first
                    hist.append((band, _sign_split_expr(F.col("v")), 3))
        if finish:
            # every small band finishes in ONE window job: rank within
            # band, each band keeping its own rank SET — coalesce-of-whens
            # (width O(bands)) for the same stack-depth reason as _banded;
            # an unmatched row coalesces to NULL and the filter drops it
            keep = F.coalesce(
                *[
                    F.when(
                        (F.col("bid") == i)
                        & F.col("rn").isin([int(r) for r in band["tags"]]),
                        F.lit(True),
                    )
                    for i, band in enumerate(finish)
                ]
            )
            from pyspark.sql import Window

            win = Window.partitionBy("bid").orderBy("v")
            picked = (
                _banded(finish)
                .withColumn("rn", F.row_number().over(win))
                .filter(keep)
                .select("bid", "rn", "v")
                .collect()
            )
            for r in picked:
                results[finish[r["bid"]]["tags"][r["rn"]]] = float(r["v"])
        if not hist:
            bands = []
            continue
        # the histogram carries each bucket's count AND min/max — exactly
        # the stats a child band needs, so no separate stats job ever runs
        # (coalesce-of-whens on the disjoint bid, not a chained CASE)
        bexpr_of = F.coalesce(
            *[F.when(F.col("bid") == i, bexpr) for i, (_band, bexpr, _nb) in enumerate(hist)]
        )
        counts = {
            (r["bid"], r["b"]): (r["cnt"], r["bmin"], r["bmax"])
            for r in _banded([band for band, _be, _nb in hist])
            .select("bid", bexpr_of.alias("b"), "v")
            .groupBy("bid", "b")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.min("v").alias("bmin"),
                F.max("v").alias("bmax"),
            )
            .collect()
        }
        next_bands: list[dict] = []
        for i, (band, bexpr, n_buckets) in enumerate(hist):
            # walk buckets in value order once, assigning every tag of the
            # band to its bucket; tags landing in the same bucket form ONE
            # child band (they keep sharing scans)
            children: dict[int, dict] = {}
            below = 0
            ranks = sorted(band["tags"])
            ri = 0
            for b in range(n_buckets):
                cb, bmin, bmax = counts.get((i, b), (0, None, None))
                while ri < len(ranks) and below + cb >= ranks[ri]:
                    rank = ranks[ri]
                    child = children.get(b)
                    if child is None:
                        child = children[b] = {
                            "cond": band["cond"] & (bexpr == b),
                            "cnt": cb,
                            "vmin": bmin,
                            "vmax": bmax,
                            # a child that failed to shrink below 90% of its
                            # parent escapes linear bucketing next round
                            # (heavy-tailed bands, ADVICE r9)
                            "stalled": cb * 10 > band["cnt"] * 9,
                            "tags": {},
                        }
                    child["tags"][rank - below] = band["tags"][rank]
                    ri += 1
                below += cb
                if ri == len(ranks):
                    break
            else:  # pragma: no cover - ranks validated against seed counts
                raise AssertionError("rank not reachable from bucket counts")
            next_bands.extend(children.values())
        bands = next_bands
    unresolved = [t for band in bands for t in band["tags"].values()]
    missing = [t for t in unresolved if t not in results]
    if missing:
        raise RuntimeError(
            f"selection did not converge for (group, rank) tags {missing} within "
            f"{max_rounds} rounds (buckets={buckets}, band_limit={band_limit}) — "
            "raise max_rounds, or widen buckets/band_limit so each round "
            "shrinks the band further"
        )
    return results


def grouped_mad_outliers(
    df: DataFrame,
    col: str,
    group_col: str,
    c: int = 3,
    sorted_path: bool = False,
) -> DataFrame:
    """Robust per-group outlier detection via MAD (median absolute
    deviation): rows with |x − median_g| > c · MAD_g, where both the
    median and the MAD are the LOWER median (rank ⌈n/2⌉ = (n+1)//2) of
    their group's nulls-excluded multiset — integer-rank order
    statistics, so for integer inputs every quantity in the decision
    (med, dev, MAD, the c·MAD cut) is an exact integer and the gate
    hash-compares with no rounding anywhere. MAD is the textbook robust
    scale estimator (Hampel 1974): mean/stddev cuts move with the very
    outliers they're hunting (one 10^9-char document inflates σ until
    nothing is an outlier), the median/MAD pair doesn't budge — the
    right shape for curation rules like "drop per-language length
    freaks".

    Cost shape: TWO grouped selections (each: seed + one histogram job
    per round + shared finish window — never a per-group sort exchange)
    + two broadcast joins of G-row threshold tables + one filter scan.
    The deviation pass reuses the first pass's broadcast join output, so
    the corpus is scanned, not shuffled. ``sorted_path=True`` routes
    both selections through grouped_kth_smallest_sorted for
    high-G group columns (the max_groups contract of the banded path).

    MAD_g = 0 (over half the group at the median) degrades exactly as
    the textbook warns: every dev > 0 row is then an outlier; callers
    who want a floor add one to ``c·MAD`` themselves — the operator
    doesn't silently fudge the estimator.

    Returns (group_col, id-and-value columns of ``df``…, med BIGINT,
    mad BIGINT, dev BIGINT) for outlier rows only."""
    if sorted_path:
        def select_fn(frame: DataFrame, c_: str, g_: str) -> DataFrame:
            return grouped_kth_smallest_sorted(frame, c_, g_, "array((n + 1) div 2)")
    else:
        def select_fn(frame: DataFrame, c_: str, g_: str) -> DataFrame:
            return grouped_kth_smallest(frame, c_, g_, lambda n: [(n + 1) // 2])

    base = df.filter(F.col(col).isNotNull() & F.col(group_col).isNotNull())
    med = select_fn(
        base.select(group_col, F.col(col).cast("double").alias(col)),
        col, group_col,
    ).select(group_col, F.col("value").cast("long").alias("med"))
    dev = base.join(F.broadcast(med), group_col).withColumn(
        "dev", F.abs(F.col(col).cast("long") - F.col("med"))
    )
    mad = select_fn(
        dev.select(group_col, F.col("dev").cast("double").alias("dev")),
        "dev", group_col,
    ).select(group_col, F.col("value").cast("long").alias("mad"))
    return dev.join(F.broadcast(mad), group_col).filter(
        F.col("dev") > F.lit(c) * F.col("mad")
    )
