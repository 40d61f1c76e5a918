"""SparkSession factory: a local[N] session (N = SPARK_GRAFT_CPUS, default
the cores this process may run on) configured the way a 1000-executor
cluster job would be (AQE on, sane shuffle partitioning, UTC timestamps,
Arrow for the pandas-UDF slow path).

The reference pins a singleton DuckDB pool with a 512 MB cap
(reference: src/utils/duckdb-pool.ts:34-63); our equivalent is one
SparkSession with AQE doing the runtime re-planning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> str:
    """SPARK_GRAFT_CPUS when set, else the usable cores
    (``os.sched_getaffinity``). A fixed local[32] ran a 4-core host 8x
    oversubscribed: the full suite took 53:13 there, against 17:03 at
    local[4]."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def _default_driver_mem() -> str:
    """The smaller of 48g and a quarter of physical memory, in MiB
    (SPARK_GRAFT_DRIVER_MEM overrides it). The JVM grows its heap toward
    the maximum before it collects fully, so a 48g maximum lets the
    driver outgrow a small host: on 16 GB the full test suite lost its
    JVM at a fixed 48g and passes at this default."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48 * 1024, phys // 4 // 2**20)}m"


#: The driver JVM's flags. SPARK_GRAFT_DRIVER_JAVA_OPTS replaces the whole
#: string (see driver_java_opts).
#:
#: Metaspace: a many-query session (92 gate queries in one JVM) accumulates
#: whole-stage-codegen classes; with the default ~21 MB metaspace high-water
#: mark every growth step triggers a FULL GC with class unloading — observed
#: as random 10-20 s spikes attributed to whichever query was running. The
#: threshold starts high enough that steady-state codegen churn never
#: crosses it (512m sufficed for 88 queries in r2; the r3 set's churn
#: crossed it again mid-session, hence 1g).
#:
#: TieredStopAtLevel=1 (C1 only, no C2): in local mode Catalyst, the
#: codegen'd stages, the parquet writers and the streaming engine all run in
#: this one JVM, and a session of minutes spends more CPU in the C2 compiler
#: threads than in its tasks — one perfbench lifecycle pass at 4 cores spent
#: 35 s of CPU in the C2 threads against 10 s in the task threads, and
#: C1-only cut the pass's CPU from 81 s to 45 s (medians of 10 pairs). The
#: cost is peak code speed on heavy work: at 4 cores the sf0.1 bench smoke
#: spent 11% longer in its gates (59 s to 66 s) while its process-tree CPU
#: fell 19%, and the full and slowtail test runs (one JVM for 11-20
#: minutes) took 40% and 18% longer. A long-lived deployment that runs the
#: same heavy plans for hours can turn C2 back on by setting
#: SPARK_GRAFT_DRIVER_JAVA_OPTS without the flag.
#:
#: ReservedCodeCacheSize=240m: with tiered compilation stopped at C1 the
#: JVM sizes the code cache at 48 MB, not 240 MB. A long session fills
#: that: examples/curation_pipeline.py (sf0.001, 4 cores) printed
#: "CodeCache is full. Compiler has been disabled." after 50 s, and every
#: Spark stage compiled after that ran interpreted. With 240m the same run
#: peaked at 60 MB used with the compiler still on.
DRIVER_JAVA_OPTS = (
    "-XX:MetaspaceSize=1g -XX:MaxMetaspaceSize=3g -XX:TieredStopAtLevel=1"
    " -XX:ReservedCodeCacheSize=240m"
)


def driver_java_opts() -> str:
    """SPARK_GRAFT_DRIVER_JAVA_OPTS when set (it replaces every default
    flag), else DRIVER_JAVA_OPTS."""
    return os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", DRIVER_JAVA_OPTS)


def get_spark(app_name: str = "signalk-parquet-spark") -> SparkSession:
    cpus = default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.driver.extraJavaOptions", driver_java_opts())
        # no UI: per-job timings come from the traced perfbench run
        .config("spark.ui.enabled", "false")
        # PySpark 4 captures the user call site for every wrapped
        # DataFrame/Column API call when DataFrame debugging is on
        # (pyspark/errors/utils.py walks the Python stack per call —
        # measured ~6 ms each, ~1 s of query-CONSTRUCTION wall on
        # literal-heavy gates). The capture only enriches error messages
        # with a file:line; plans and results are unchanged. Static conf:
        # must be set here, not via spark.conf.set.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    )
    # fork-source module pre-import (see daemon_warm docstring): workers
    # forked mid-session — e.g. the second Python eval of a chained
    # mapInPandas stage, which the pool warmup cannot reach — inherit
    # numpy/pandas/pyarrow + the media operators via COW instead of paying
    # ~1 s of imports against ~30 ms of work per task. The daemon is
    # spawned as `python -m signalk_parquet_spark.daemon_warm`, so the
    # package root must be on the env PYTHONPATH the JVM inherits (the
    # driver process's sys.path does not propagate to spawned daemons).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + pp if pp else "")
    spark = builder.config(
        "spark.python.daemon.module", "signalk_parquet_spark.daemon_warm"
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Reading a glob path (context=*) makes FileStreamSink probe the glob
    # for _spark_metadata; the FileNotFoundException it catches INTERNALLY
    # is still logged at WARN with a full stack trace — every pruned lake
    # read looks like a failure. Raise just that logger to ERROR.
    try:
        jvm = spark._jvm
        for logger in (
            "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",  # Spark 4
            "org.apache.spark.sql.execution.streaming.FileStreamSink",  # Spark 3
        ):
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                logger, jvm.org.apache.logging.log4j.Level.ERROR
            )
    except Exception:
        pass  # cosmetic only; never fail session creation over logging
    return spark


def ensure_query_confs(spark: SparkSession) -> None:
    """Runtime confs every query in this engine assumes.

    Safe to call on a session we did not create (the driver passes its own):
    these are all runtime-settable SQL confs.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # the testdata parquet stores TIMESTAMP(NANOS) which Spark rejects unless
    # read as long; registry.load() converts the affected columns back
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # a session we did not create (the driver passes its own) may carry the
    # stock 200 shuffle partitions — 6x task overhead for nothing at bench
    # scale; AQE coalescing caps the downside of setting it lower
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # No AQE floor on post-shuffle partition size: A/B at sf0.1 showed a
    # floor taxes every small query (+0.3-0.7 s each) for no net win once
    # the CPU-heavy tables are pre-spread in registry.load — map-side
    # spreading is the right lever, not shuffle sizing.


def warm_worker_pool(spark: SparkSession) -> None:
    """Spin up one Python/Arrow worker per core AND pre-import the heavy
    executor-side modules (numpy + the media decode/fingerprint operators)
    inside each worker.

    The plain ``mapInPandas(lambda it: it)`` warmup only pays the worker
    fork + pandas/pyarrow import; the FIRST Arrow stage that touches the
    media operators then blocks every task ~1.7 s on numpy + module
    imports with ~25 ms of JVM CPU (measured via /stages taskSummary:
    runTime p50 1751 ms, cpuTime p50 29 ms, zero GC/scheduler delay —
    pure Python-side setup). With worker reuse on (the default) one
    import per worker serves the whole session, so the guide's §4.5
    "initialise heavyweight state once" belongs here, in the pool warmup
    every bench/tool session already runs untimed."""

    def _warm(batches):
        import numpy  # noqa: F401

        from signalk_parquet_spark.functions import mediagen  # noqa: F401
        from signalk_parquet_spark.operators import (  # noqa: F401
            audio,
            jpeg,
            multimodal,
            raster,
            video,
        )

        yield from batches

    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(_warm, "id long").count()
