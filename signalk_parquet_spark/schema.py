"""DataRecord schema, value typing, and object flattening.

Reference semantics reimplemented (not ported):
  - DataRecord columns (src/types.ts:298-314): received/signalk timestamps,
    context, path, value, value_json, source fields, meta, plus dynamic
    flattened `value_*` columns for object values (data-handler.ts:681-694).
  - Types are DOUBLE | BOOLEAN | UTF8 only; BIGINT is deliberately banned
    ("always DOUBLE for maritime data", parquet-writer.ts:498-505).
  - Value-based typing (schema-service.ts:143-177): each observation lands
    in the column of its own type — numbers in DOUBLE `value`, booleans in
    `value_bool`, strings in `value_text` (flatten_value).
  - IMPROVEMENT over the reference: timestamps are real TimestampType (Spark
    reads/writes Parquet TIMESTAMP natively); ISO-8601 strings only at the
    API edge (SURVEY §1.2 recommendation).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import types as T

#: root-level / identity paths that are always strings (HistoryAPI.ts:2500-2512)
STRING_PATHS = {"name", "mmsi", "uuid", "flag", "port", "callsignVhf"}

BASE_FIELDS = [
    T.StructField("received_timestamp", T.TimestampType()),
    T.StructField("signalk_timestamp", T.TimestampType()),
    T.StructField("context", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("value", T.DoubleType()),  # scalar numeric observations
    T.StructField("value_text", T.StringType()),  # scalar string observations
    T.StructField("value_bool", T.BooleanType()),  # scalar boolean observations
    T.StructField("value_json", T.StringType()),  # object values, JSON text
    T.StructField("source", T.StringType()),
    T.StructField("source_label", T.StringType()),
    T.StructField("source_type", T.StringType()),
    T.StructField("source_pgn", T.DoubleType()),
    T.StructField("source_src", T.StringType()),
    T.StructField("meta", T.StringType()),
]


def record_schema(value_columns: dict[str, T.DataType] | None = None) -> T.StructType:
    """Base DataRecord schema plus dynamic flattened value_* columns."""
    fields = list(BASE_FIELDS)
    for name, dtype in (value_columns or {}).items():
        fields.append(T.StructField(f"value_{name}", dtype))
    return T.StructType(fields)


def flatten_value(value: Any) -> dict[str, Any]:
    """One SignalK delta value -> DataRecord column dict.

    Objects are flattened, never nested (data-handler.ts:681-694): the full
    object goes to value_json and each top-level primitive property becomes
    a value_<prop> column.
    """
    out: dict[str, Any] = {
        "value": None,
        "value_text": None,
        "value_bool": None,
        "value_json": None,
    }
    if value is None:
        return out
    if isinstance(value, bool):
        out["value_bool"] = value
        out["value_text"] = "true" if value else "false"
    elif isinstance(value, (int, float)):
        out["value"] = float(value)
    elif isinstance(value, str):
        out["value_text"] = value
    elif isinstance(value, dict):
        out["value_json"] = json.dumps(value, separators=(",", ":"), sort_keys=True)
        for k, v in value.items():
            if isinstance(v, bool):
                out[f"value_{k}"] = v
            elif isinstance(v, (int, float)):
                out[f"value_{k}"] = float(v)
            elif isinstance(v, str):
                out[f"value_{k}"] = v
            # non-primitive components stay only inside value_json
    else:  # lists etc.
        out["value_json"] = json.dumps(value, separators=(",", ":"))
    return out


def is_position_path(path: str) -> bool:
    """Any path ending in '.position' (type-detector.ts:62-69)."""
    return path.endswith(".position")


def is_string_path(path: str) -> bool:
    """Root-level dotless paths and the fixed identity set (HistoryAPI.ts:2500-2512)."""
    return "." not in path or path in STRING_PATHS
