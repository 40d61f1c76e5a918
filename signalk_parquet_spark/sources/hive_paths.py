"""Hive path layout: tier={t}/context={c}/path={p}/year={Y}/day={DDD}/

Reimplements the reference's layout semantics (src/utils/hive-path-builder.ts):
  - context sanitization: '.'->'__', ':'->'-'  (:184-195)
  - path sanitization:    '.'->'__'            (:198-208)
  - day = zero-padded day-of-year (001-366)    (:60-78)
  - parse is the exact inverse (round-trip tested like the reference's
    hive-path-builder.test.ts)

In Spark these become partition COLUMN VALUES (we write with
partitionBy("tier","context","path","year","day")), so Catalyst prunes
partitions from ordinary filters — the reference's hand-built glob lists
(:232-326) are unnecessary.
"""

from __future__ import annotations

from datetime import date, datetime, timedelta

#: directories the reference excludes from every scan (HistoryAPI.ts:1452)
EXCLUDED_SUBDIRS = ("processed", "quarantine", "failed", "repaired")


def sanitize_context(context: str) -> str:
    return context.replace(".", "__").replace(":", "-")


def unsanitize_context(s: str) -> str:
    return s.replace("-", ":").replace("__", ".")


def sanitize_path(path: str) -> str:
    return path.replace(".", "__")


def unsanitize_path(s: str) -> str:
    return s.replace("__", ".")


def day_of_year(d: date | datetime) -> str:
    """Zero-padded 3-digit day-of-year (leap years reach 366; the reference's
    golden test pins 2024-06-01 -> day 153)."""
    return f"{d.timetuple().tm_yday:03d}"


def days_in_range(from_ts: datetime, to_ts: datetime) -> list[tuple[int, int]]:
    """(year, day-of-year) pairs covering [from, to] — the pruning key set.
    The reference enumerates these into globs when <=7 days
    (hive-path-builder.ts:295-326); we emit them as partition filters."""
    out: list[tuple[int, int]] = []
    d = from_ts.date()
    while d <= to_ts.date():
        out.append((d.year, int(day_of_year(d))))
        d += timedelta(days=1)
    return out
