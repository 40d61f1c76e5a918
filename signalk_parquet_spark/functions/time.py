"""Time-bucketing and duration helpers.

The reference buckets with
``GROUP BY strftime(DATE_TRUNC('seconds', EPOCH_MS(floor(epoch_ms(ts)/R)*R)),
'%Y-%m-%dT%H:%M:%SZ')`` (reference: src/HistoryAPI.ts:1776-1777) and defaults
resolution to ``(to-from)/500`` (src/HistoryAPI.ts:957-959). Duration strings
accept ISO-8601 (``PT1H``), shorthand (``1h``), or integer seconds
(src/utils/duration-parser.ts:11-104).
"""

from __future__ import annotations

import re
from datetime import datetime, timezone

from pyspark.sql import Column
from pyspark.sql import functions as F

ISO_BUCKET_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def as_utc_timestamp(col: Column | str) -> Column:
    """Normalize a timestamp-ish column (TIMESTAMP, TIMESTAMP_NTZ, or ISO-8601
    string) to TimestampType. Callers must run with session timeZone=UTC so
    NTZ values are interpreted as UTC instants (the reference stores ISO UTC
    strings; we store real timestamps — SURVEY §1.2)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp")


def bucket_start_ms(ts: Column | str, resolution_ms: int) -> Column:
    """Epoch-millis of the tumbling bucket containing ``ts`` (bigint)."""
    millis = F.unix_millis(as_utc_timestamp(ts))
    return F.floor(millis / F.lit(resolution_ms)).cast("long") * F.lit(resolution_ms)


def bucket_ts(ts: Column | str, resolution_ms: int) -> Column:
    """Bucket start as TimestampType (second granularity matches the
    reference's DATE_TRUNC('seconds', ...))."""
    return F.timestamp_millis(bucket_start_ms(ts, resolution_ms))


def bucket_iso(ts: Column | str, resolution_ms: int) -> Column:
    """Bucket start rendered exactly like the reference: ISO-8601 Z string."""
    return F.date_format(bucket_ts(ts, resolution_ms), ISO_BUCKET_FMT)


def iso_utc(ts: Column | str) -> Column:
    """Render a timestamp column as the reference's ISO-8601 Z string."""
    return F.date_format(as_utc_timestamp(ts), ISO_BUCKET_FMT)


_SHORTHAND = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}
_ISO_RE = re.compile(
    r"^P(?:(?P<d>\d+(?:\.\d+)?)D)?"
    r"(?:T(?:(?P<h>\d+(?:\.\d+)?)H)?(?:(?P<m>\d+(?:\.\d+)?)M)?(?:(?P<s>\d+(?:\.\d+)?)S)?)?$",
    re.IGNORECASE,
)
_SHORT_RE = re.compile(r"^(\d+(?:\.\d+)?)\s*([smhdw])$", re.IGNORECASE)


def parse_duration_ms(spec: str | int | float) -> int:
    """Parse ISO-8601 (``PT1H``), shorthand (``1h``), or bare seconds into
    milliseconds (reference: src/utils/duration-parser.ts:11-104)."""
    if isinstance(spec, (int, float)):
        return int(spec * 1000)
    s = spec.strip()
    m = _ISO_RE.match(s)
    if m and s.upper().startswith("P") and any(m.groupdict().values()):
        g = {k: float(v) if v else 0.0 for k, v in m.groupdict().items()}
        return int((g["d"] * 86400 + g["h"] * 3600 + g["m"] * 60 + g["s"]) * 1000)
    m = _SHORT_RE.match(s)
    if m:
        return int(float(m.group(1)) * _SHORTHAND[m.group(2).lower()] * 1000)
    if re.match(r"^\d+(\.\d+)?$", s):
        return int(float(s) * 1000)
    raise ValueError(f"unparseable duration: {spec!r}")


def default_resolution_ms(from_ts: datetime, to_ts: datetime) -> int:
    """Reference default: (to-from)/500, clamped to >=1 ms
    (src/HistoryAPI.ts:957-959, src/history-provider.ts:190-196)."""
    span_ms = int((to_ts - from_ts).total_seconds() * 1000)
    return max(1, span_ms // 500)


def parse_iso(ts: str) -> datetime:
    """Parse an ISO-8601 timestamp; bare (no zone) means UTC in this engine
    (the reference treats bare as server-local, src/HistoryAPI.ts:405-436 —
    we pin UTC, which is the sane cluster-wide convention)."""
    s = ts.strip().replace("Z", "+00:00")
    dt = datetime.fromisoformat(s)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.astimezone(timezone.utc)
