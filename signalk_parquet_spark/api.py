"""History API response facade — the reference's DataResult wire shape
(src/HistoryAPI-types.ts:24-47): a column-oriented header (`values[]` = one
entry per requested path spec, echoing method/filters) plus row-oriented
`data` = [timestamp, v1, v2, ...] time-aligned rows.

This is the API EDGE: the single place a result is collected to the driver
(bounded by the ~500-bucket default resolution). Everything upstream stays
distributed.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Any
from zoneinfo import ZoneInfo

from .operators.migrations import AutoDiscovery
from .plans.history import HistoryPlanner
from .plans.pathspec import parse_paths_param


def _to_local(ts_iso: str, tz: str) -> str:
    """UTC bucket label -> server-local ISO with offset (the reference
    converts responses UTC->server-local, HistoryAPI.ts:653-675). Pure
    API-edge Python — storage and planning stay UTC."""
    dt = datetime.strptime(ts_iso, "%Y-%m-%dT%H:%M:%SZ").replace(tzinfo=timezone.utc)
    return dt.astimezone(ZoneInfo(tz)).isoformat()


def get_values_response(
    planner: HistoryPlanner,
    paths: str,
    from_iso: str | None = None,
    to_iso: str | None = None,
    duration: str | int | None = None,
    resolution_s: float | None = None,
    context: str | None = None,
    tz: str | None = None,
    auto_discovery: AutoDiscovery | None = None,
    **kw: Any,
) -> dict:
    specs = parse_paths_param(paths)
    wide = planner.get_values(
        specs,
        from_iso=from_iso,
        to_iso=to_iso,
        duration=duration,
        resolution_s=resolution_s,
        context=context,
        **kw,
    )
    cols = wide.columns  # bucket_ts first, then one per spec (+smoothed)
    rows = wide.collect()
    values_header = []
    for spec in specs:
        entry: dict[str, Any] = {"path": spec.path, "method": spec.method}
        if spec.smoothing:
            entry["smoothing"] = {
                "type": spec.smoothing,
                "param": spec.smoothing_param,
                "window": spec.smoothing_window if spec.smoothing == "sma" else None,
            }
        if spec.source_ref:
            entry["sourceRef"] = spec.source_ref
        values_header.append(entry)
    data = [[r[c] for c in cols] for r in rows]
    if tz:
        data = [[_to_local(row[0], tz), *row[1:]] for row in data]
    meta: dict[str, Any] = {}
    if auto_discovery is not None:
        # query-driven auto-configuration (HistoryAPI.ts:1015-1056): note
        # which requested paths were newly registered by this query
        newly = [s.path for s in specs
                 if s.path not in auto_discovery.configured and auto_discovery.check(s.path)]
        if newly:
            meta["autoConfigured"] = newly
    return {
        "context": context,
        "values": values_header,
        "range": {"from": from_iso, "to": to_iso, "duration": duration},
        "columns": cols,
        "data": data,
        **({"meta": meta} if meta else {}),
    }


def discovery_response(planner: HistoryPlanner, context: str | None = None) -> dict:
    """The contexts/paths discovery endpoints (reference: /contexts, /paths
    routes). Metadata-only: both lists are the lake's catalogued
    context= and path= directory names (Lake.discover_contexts and
    Lake.discover_paths), a listing with no Spark job."""
    return {
        "contexts": planner.lake.discover_contexts(),
        "paths": planner.lake.discover_paths(context=context),
    }
