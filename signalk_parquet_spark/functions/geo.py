"""Geospatial column expressions — pure built-in-function compositions,
no spatial extension needed.

The reference uses DuckDB's spatial extension for radius filtering
(src/utils/spatial-queries.ts:163-171) but ALSO ships its own SQL haversine
for position rollups (src/services/aggregation-service.ts:549-561) and a JS
haversine (src/utils/geo-calculator.ts:15-223). We standardize on the
haversine expression: it's codegen-friendly and scale-free.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6371000.0


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters (same formula the reference emits in
    SQL at src/services/aggregation-service.ts:549-561)."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = F.sin(dlat / 2) ** 2 + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) ** 2
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def bbox_predicate(lat: Column, lon: Column, south: float, north: float, west: float, east: float) -> Column:
    """Bounding-box containment with 180-degree-meridian wraparound: when
    west > east the box crosses the antimeridian and the longitude test
    becomes OR (reference: src/utils/spatial-queries.ts:133-175)."""
    lat_ok = (lat >= F.lit(south)) & (lat <= F.lit(north))
    if west <= east:
        lon_ok = (lon >= F.lit(west)) & (lon <= F.lit(east))
    else:
        lon_ok = (lon >= F.lit(west)) | (lon <= F.lit(east))
    return lat_ok & lon_ok


def radius_predicate(lat: Column, lon: Column, clat: float, clon: float, radius_m: float) -> Column:
    """Radius containment = cheap bbox prefilter AND exact haversine
    (reference two-phase shape, src/utils/spatial-queries.ts:163-171)."""
    dlat = math.degrees(radius_m / EARTH_RADIUS_M)
    dlon = dlat / max(math.cos(math.radians(clat)), 1e-9)
    pre = bbox_predicate(lat, lon, clat - dlat, clat + dlat, max(clon - dlon, -180.0), min(clon + dlon, 180.0))
    return pre & (haversine_m(lat, lon, F.lit(clat), F.lit(clon)) <= F.lit(radius_m))


def valid_latlon(lat: Column, lon: Column) -> Column:
    """Sanity predicate (reference: src/services/aggregation-service.ts:584-585)."""
    return lat.between(-90.0, 90.0) & lon.between(-180.0, 180.0)


def destination_point(lat: float, lon: float, bearing_deg_: float, dist_m: float) -> tuple[float, float]:
    """Great-circle destination from a start point (driver-side helper for
    query construction, reference src/utils/geo-calculator.ts:78-118)."""
    import math

    d = dist_m / EARTH_RADIUS_M
    th = math.radians(bearing_deg_)
    p1, l1 = math.radians(lat), math.radians(lon)
    p2 = math.asin(math.sin(p1) * math.cos(d) + math.cos(p1) * math.sin(d) * math.cos(th))
    l2 = l1 + math.atan2(
        math.sin(th) * math.sin(d) * math.cos(p1), math.cos(d) - math.sin(p1) * math.sin(p2)
    )
    return math.degrees(p2), (math.degrees(l2) + 540.0) % 360.0 - 180.0


def bbox_from_radius(lat: float, lon: float, radius_m: float) -> tuple[float, float, float, float]:
    """(south, north, west, east) box enclosing the circle — the cheap
    prefilter the reference builds before exact distance tests
    (geo-calculator.ts:120-158). Clamps at the poles; wraps at ±180."""
    import math

    dlat = math.degrees(radius_m / EARTH_RADIUS_M)
    south, north = max(lat - dlat, -90.0), min(lat + dlat, 90.0)
    dlon = dlat / max(math.cos(math.radians(lat)), 1e-9)
    if dlon >= 180.0:
        return south, north, -180.0, 180.0
    west = (lon - dlon + 540.0) % 360.0 - 180.0
    east = (lon + dlon + 540.0) % 360.0 - 180.0
    return south, north, west, east
