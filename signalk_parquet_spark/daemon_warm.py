"""pyspark.daemon drop-in that pre-imports the heavy executor-side modules
ONCE in the daemon process, so every worker it forks inherits them through
fork copy-on-write at zero per-worker cost.

Why the pool warmup alone is not enough (measured, r12): a stage that
CHAINS two Python evals (the media gates: corpus-generate mapInPandas
feeding fingerprint mapInPandas in one stage) needs 2 x defaultParallelism
live workers at once — the 32 pre-warmed workers cover one eval and the
other 32 are forked COLD mid-stage, each paying the ~1 s numpy + operator
module import with ~30 ms of actual work per task (taskSummary: runTime
p50 1.75 s, cpuTime p50 29 ms). Import-at-fork-source makes worker count
irrelevant: the daemon imports before it ever forks, and the child's
first import of the same modules is a dict lookup against the inherited
interpreter state.

Import-only is fork-safe here: nothing below starts threads or touches
BLAS compute in the daemon process (the known fork hazard is forking
AFTER a parent has run threaded BLAS kernels, not after a plain import).

Activated by ``spark.python.daemon.module`` in session.get_spark.
"""

try:  # never fail worker startup over a missing warm import
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    from signalk_parquet_spark.functions import mediagen  # noqa: F401
    from signalk_parquet_spark.operators import (  # noqa: F401
        audio,
        jpeg,
        multimodal,
        raster,
        video,
    )
except Exception:  # pragma: no cover - degraded mode is just a cold daemon
    pass

from pyspark.daemon import manager

if __name__ == "__main__":
    manager()
