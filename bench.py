#!/usr/bin/env python3
"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"queries": {name: sec, ...}, "order": ..., "metric": ...,
"unit": "sec", "n_queries": N, "sf": ..., "host": {...}, "value": total}.

KEY ORDER IS PART OF THE CONTRACT: the driver records only the LAST 2000
chars of this line, so the headline keys (value/sf/host) must come AFTER
the per-query map — do not "restore" a value-first order (that was six
rounds of parsed:null bench artifacts, r1-r6).
"""

from __future__ import annotations

import json
import os
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.run import _become_subreaper, _reap_children, _stop, host_probe  # noqa: E402
from signalk_parquet_spark import registry  # noqa: E402
from signalk_parquet_spark.session import get_spark  # noqa: E402


def smoke_tier(n: int = 20) -> list[str]:
    """`--smoke`: the n heaviest gates of the LAST COMMITTED official full
    run (BENCH_local.json) — the dev-loop perf tier so iteration doesn't
    pay a full ~128 s session. GENERATED from the record, never
    hand-copied: the hand-maintained list missed the #1 heaviest gate
    after the r9 window rotation (same stale-list failure class
    window_check mechanized in r7). The heavy set shifts with every
    rotation because family-shared memo builds are charged to the first
    consumer in the current registration order. Record official numbers
    from FULL runs only."""
    rec_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"
    )
    with open(rec_path) as fh:
        rec = json.load(fh)["queries"]
    registered = set(registry.queries())
    ranked = sorted(
        (k for k in rec if k in registered), key=lambda k: -rec[k]
    )
    return ranked[:n]


def main() -> None:
    # stop the JVM and wait for every process it started before exiting
    # (a SIGTERM still runs the finally), so a caller that waits on this
    # process also accounts the engine's CPU
    _become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = get_spark("signalk-parquet-spark-bench")
    try:
        _bench(spark)
    finally:
        try:
            _stop(spark)
        finally:
            _reap_children()


def _bench(spark) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    qs = registry.queries()
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if "--smoke" in sys.argv and not only:
        only = ",".join(smoke_tier())
    if only:  # dev loop: time a comma-separated subset
        subset = set(only.split(","))
        qs = {k: v for k, v in qs.items() if k in subset}
    cold = os.environ.get("SPARK_GRAFT_BENCH_COLD") not in (None, "", "0")
    if not cold:
        # JVM + parquet-footer + session-table-cache warmup so per-query
        # numbers measure the queries, not one-time setup (the first query on
        # each table otherwise pays that table's cache materialization).
        # SPARK_GRAFT_BENCH_COLD=1 skips this so the local loop sees the
        # worst-case first-touch numbers an unwarmed harness would see.
        for table in ("lineitem", "orders", "events", "documents", "embeddings"):
            try:
                registry.load(spark, sf_dir, table)
            except Exception:
                pass
        # spin up the Python/Arrow worker pool (first pandas-UDF query
        # otherwise pays ~3 s of worker + Arrow-channel startup) and
        # pre-import the heavy executor-side modules in each worker
        # (session.warm_worker_pool; first media Arrow stage otherwise
        # blocks every task ~1.7 s on numpy/module imports)
        from signalk_parquet_spark.session import warm_worker_pool

        warm_worker_pool(spark)

    timings: dict[str, float] = {}
    # REGISTRATION order, not sorted(): the driver runs gates in
    # registration order, and the session memo (memo.MEMO: shingled corpus,
    # CC labels …) makes run order part of the cost model — alphabetical
    # order put dedup_cluster_cc before the keep-gates, so IT paid the whole
    # shingle+screen+CC build (2.4-5.2 s) that registration order charges
    # to dedup_keep_longest, and every per-query number shifted away from
    # what a driver session would see.
    for name in qs:
        t0 = time.perf_counter()
        try:
            qs[name](spark, sf_dir).collect()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as e:  # a failing query must not sink the whole bench
            print(f"bench: {name} FAILED: {e}", file=sys.stderr)
            timings[name] = round(time.perf_counter() - t0, 3)
        # NOTE: do NOT sweep gates' leftover persists here via RDD-level
        # unpersist — it leaves the SQL CacheManager's relation entries
        # dangling, and later queries whose plans match an evicted entry
        # silently re-materialize it, compounding per query (measured:
        # repetition_score 1.6 s → 10.8 s after six swept queries).

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Self-documenting host state: shared-tenancy CPU swings (±20-40%
    # single-thread, up to 8x parallel) dominate run-to-run bench deltas,
    # so each bench line carries the host probe (one spin, then the same
    # spin in min(16, cpus) processes at once) that says whether its
    # numbers came from a fast or degraded host window. Extra keys; the
    # one-line JSON contract is unchanged.
    host = {}
    try:
        host = {k: round(v, 3) for k, v in host_probe().items()}
    except Exception:
        pass
    print(
        json.dumps(
            {
                # Key order is part of the contract: the driver records only
                # the LAST 2000 chars of this line, and with 137 queries the
                # per-query map alone overflows that. The headline keys
                # (metric/value/sf/host) therefore come AFTER "queries" so
                # the surviving tail always carries the total — six rounds
                # of BENCH_r0*.json were parsed:null because "value" led.
                "queries": timings,
                # r4e: run order switched from sorted() to registration
                # order — per-query numbers are NOT comparable to pre-r4e
                # benches where session-memo build costs were charged to
                # whichever family member sorted first (see CLAUDE.md)
                "order": "registration",
                "metric": "total_query_wall_time",
                "unit": "sec",
                "n_queries": len(timings),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf_dir,
                "host": host,
                "value": total,
            }
        )
    )


if __name__ == "__main__":
    main()
