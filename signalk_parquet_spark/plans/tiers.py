"""Tier routing — materialized-view selection (SURVEY §4).

Reference rules (src/HistoryAPI.ts:748-782 + raw-override sites):
  resolution >= 3600 s -> '1h'; >= 60 s -> '60s'; >= 5 s -> '5s'; else raw,
  falling through to the best EXISTING tier; overridden to raw for
  - inline source filters (:1364-1369)  - object paths (:1505-1512)
  - string paths (:1755-1770)           - skipAggregation rules (:1351-1359)

Catalyst has no materialized-view rewriting, so this stays planner logic —
~40 lines of Python, exactly as SURVEY §4 predicted.
"""

from __future__ import annotations

from ..operators.rollup import TIER_MS
from ..schema import is_string_path
from .pathspec import PathSpec

TIER_ORDER = ("1h", "60s", "5s", "raw")


def ideal_tier(resolution_ms: int) -> str:
    """The coarsest tier no wider than the resolution (widths: TIER_MS)."""
    return next((t for t in TIER_ORDER[:-1] if resolution_ms >= TIER_MS[t]), "raw")


def route_tier(
    spec: PathSpec,
    resolution_ms: int,
    available_tiers: set[str] = frozenset(("raw",)),
    *,
    is_object_path: bool = False,
    skip_aggregation: bool = False,
) -> str:
    """Pick the tier to scan for one PathSpec."""
    if spec.source_ref is not None:  # inline filter needs raw source columns
        return "raw"
    if skip_aggregation or is_object_path or is_string_path(spec.path):
        return "raw"
    want = ideal_tier(resolution_ms)
    # fall through to the coarsest existing tier not coarser than `want`
    start = TIER_ORDER.index(want)
    for tier in TIER_ORDER[start:]:
        if tier in available_tiers:
            return tier
    return "raw"
