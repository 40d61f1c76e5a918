"""LocalRelation-backed driver→frame lift.

``spark.createDataFrame(list_of_rows)`` parallelizes PICKLED rows into a
Python RDD (``LogicalRDD`` in the plan): every downstream scan of the
frame pays a per-task Python worker round-trip, the relation carries no
size statistics (so a join against it plans as SortMergeJoin instead of
broadcast — measured r12: the 2.4k-row union-find label join inside the
media decision gates ran as SMJ with ~1 s/task of pure wait, ~35 s of
executor run time for 4.6 s of CPU), and the rows re-pickle on every
re-evaluation.

Routing the same rows through a pandas DataFrame with Arrow enabled
(``spark.sql.execution.arrow.pyspark.enabled``, on in session.py; guide
§6 "Arrow for driver transfers") produces a JVM ``LocalRelation``
instead: the values are shipped once as Arrow batches at plan time, scans
are pure JVM, exact row counts make the frame broadcast-eligible, and the
plan constant-folds where possible. Same values, same schema, different
physical lift.

Use :func:`local_frame` for every metadata-sized driver result the
engine lifts back into a DataFrame (union-find labels, selection
results, k-means centroids, shuffle-rank offsets, MG candidate lists,
...). Falls back to the classic path if Arrow conversion declines.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _schema_names(spark: SparkSession, schema) -> list[str] | None:
    if isinstance(schema, T.StructType):
        return schema.fieldNames()
    if isinstance(schema, (list, tuple)):
        return list(schema)
    if isinstance(schema, str):
        try:
            return T.StructType.fromDDL(schema).fieldNames()
        except Exception:
            return None
    return None


def local_frame(spark: SparkSession, rows: Iterable, schema) -> DataFrame:
    """Lift driver-side ``rows`` (tuples/lists) into a LocalRelation-backed
    DataFrame with ``schema`` (StructType, DDL string, or column-name
    list). Columns are built dtype=object so pandas never coerces (an int
    column with a None must not become float64 NaN); Arrow casts each
    column to the declared type exactly."""
    import pandas as pd

    rows = list(rows)
    names = _schema_names(spark, schema)
    if not rows or names is None:
        # empty frames and unparseable schemas keep the classic path (an
        # empty LogicalRDD schedules no meaningful work anyway)
        return spark.createDataFrame(rows, schema)
    data = {
        name: pd.Series([r[i] for r in rows], dtype=object)
        for i, name in enumerate(names)
    }
    try:
        return spark.createDataFrame(pd.DataFrame(data), schema=schema)
    except Exception:
        return spark.createDataFrame(rows, schema)
