"""Gate query for the bucketed-table co-location path (sources/bucketed.py)
— the shuffle-elimination strategy for joins that stay big on BOTH sides at
100 TB (SCALE.md: lineitem ⋈ orders is the one join that can't broadcast).

The query writes both fact tables bucketed by the join key (once per
session+SF), then joins them through ``cobucketed_join`` with the MERGE
hint: the physical plan is a SortMergeJoin whose inputs are bucket-local
scans — ZERO Exchange on either side (tests/test_plans.py asserts the plan;
the only Exchange in the whole query is the 5-row priority aggregation).
The DuckDB oracle computes the same revenue-by-priority from the raw
parquet, so the gate proves bucketing changes the plan, not the answer.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .memo import MEMO
from .registry import load, register
from .sources.bucketed import cobucketed_join, write_bucketed

#: bucket count — parallelism floor for bucketed scans; at 100 TB you'd size
#: this so a bucket slice approaches spark.sql.files.maxPartitionBytes
_N_BUCKETS = 16


def _table_names(sf: str) -> tuple[str, str]:
    tag = re.sub(r"\W+", "_", sf).strip("_")
    return f"skps_{tag}_lineitem_bk", f"skps_{tag}_orders_bk"


def ensure_bucketed_facts(spark: SparkSession, sf: str) -> tuple[str, str]:
    """Write lineitem+orders co-bucketed by order key (column-pruned to what
    the gate query reads), once per (session, SF)."""
    import os
    import tempfile

    li_t, od_t = _table_names(sf)

    def build() -> tuple[str, str]:
        li = load(spark, sf, "lineitem").select(
            F.col("l_orderkey").alias("orderkey"), "l_extendedprice", "l_discount"
        )
        od = load(spark, sf, "orders").select(
            F.col("o_orderkey").alias("orderkey"), "o_orderpriority"
        )
        # external tables under tmp: the caller's session may live in a
        # read-only cwd, where the default managed-warehouse write fails.
        # The dir is PER-APPLICATION (not a fixed world-shared path): two
        # concurrent sessions on one host would otherwise race — one
        # session's overwrite (DROP + recursive delete) yanking files out
        # from under the other's live scans — and a predictable /tmp name is
        # pre-creatable by another local user (ADVICE r03).
        app_tag = re.sub(r"\W+", "_", spark.sparkContext.applicationId)
        base = os.path.join(tempfile.gettempdir(), f"skps_bucketed_{app_tag}")
        # The two writes are independent jobs on disjoint tables: submit
        # them from a 2-thread pool so the orders write back-fills the
        # tail of the lineitem write's stage instead of waiting for it
        # (guide §2.6 overlap-independent-jobs; measured 1.16 s + 0.85 s
        # sequential write jobs at sf0.1). InheritableThread is the
        # documented PySpark way to run driver threads (JVM thread-locals
        # like the job group/description are inherited and cleaned up);
        # given the session it also carries the session's job tags over.
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        @inheritable_thread_target(spark)
        def _write(args) -> None:
            df, table = args
            write_bucketed(
                df, table, ["orderkey"], _N_BUCKETS, path=os.path.join(base, table)
            )

        with ThreadPoolExecutor(max_workers=2) as pool:
            list(pool.map(_write, [(li, li_t), (od, od_t)]))
        return li_t, od_t

    return MEMO.get_or_build(spark, f"bucketed_facts:{sf}", build, materialize=False)


@register(
    "cobucketed_revenue",
    """
    SELECT o_orderpriority,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def cobucketed_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Revenue by order priority over the co-bucketed fact join — the
    Exchange-free SMJ path (MERGE hint keeps the at-scale join shape even
    where the test-scale orders side would broadcast)."""
    li_t, od_t = ensure_bucketed_facts(spark, sf)
    j = cobucketed_join(spark, li_t, od_t, ["orderkey"])
    return j.groupBy("o_orderpriority").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )
