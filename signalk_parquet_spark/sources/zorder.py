"""Z-order (Morton-curve) clustering for spatial data skipping — the
OPTIMIZE ZORDER analog for the lake's position data.

Why: parquet scans prune at file/row-group granularity using footer min/max
stats. A lake laid out in ingest order scatters any geographic query across
every file (each file's lat/lon range spans the whole traveled area), so a
bbox predicate prunes nothing even though it's pushed down. Sorting by ONE
of (lat, lon) fixes that dimension and leaves the other unclustered.
Interleaving the bits of quantized lat/lon puts 2-D-nearby points into the
same files, so BOTH columns' per-file ranges shrink — a bbox/radius query
(functions/geo.bbox_predicate, radius_predicate) then skips the files whose
stats don't overlap, and at 100 TB "files skipped" is the whole game: the
scan cost of a harbor-sized query stops scaling with the fleet's lifetime
mileage. (Same mechanism the reference relies on at directory granularity
via its date-partitioned layout — reference data layout
src/parquet-writer.ts:131-170 — extended here to the spatial dimensions
Hive partitioning can't express.)

All pure Column bit arithmetic (shiftleft/or over 2*bits terms — codegen'd,
no UDF); the writer is repartitionByRange + sortWithinPartitions, i.e. one
range-shuffle whose cost amortizes over every subsequent spatial query,
exactly like sources/bucketed.py amortizes its bucketed write over joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: quantization resolution per dimension. 16 bits ≈ 170 m of latitude per
#: cell — finer than any file's natural extent, so resolution never limits
#: pruning; the interleaved key still fits comfortably in a long (32 bits).
DEFAULT_BITS = 16
#: key ranges (= output files) per z-ordered write
ZORDER_FILES = 32


def _quantize(col: Column, lo: float, hi: float, bits: int) -> Column:
    """Clamped linear quantization of a coordinate into [0, 2^bits - 1]."""
    span = hi - lo
    scaled = (F.least(F.greatest(col, F.lit(lo)), F.lit(hi)) - F.lit(lo)) / F.lit(span)
    return F.floor(scaled * F.lit((1 << bits) - 1)).cast("long")


def morton_key(lat: Column | str, lon: Column | str, bits: int = DEFAULT_BITS) -> Column:
    """Interleave the bits of quantized (lat, lon) into one long sort key.

    Bit i of quantized lat lands at position 2i, of lon at 2i+1 — the
    standard Morton/Z curve, so consecutive key ranges are 2-D-local
    squares. Built as an OR-fold of 2*bits shift expressions: stays inside
    whole-stage codegen, no Python boundary."""
    la = _quantize(F.col(lat) if isinstance(lat, str) else lat, -90.0, 90.0, bits)
    lo = _quantize(F.col(lon) if isinstance(lon, str) else lon, -180.0, 180.0, bits)
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = key.bitwiseOR(
            F.shiftleft(F.shiftright(la, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(lo, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    lat_col: str,
    lon_col: str,
) -> None:
    """Write ``df`` as parquet clustered on the Morton key: range-partition
    into ``ZORDER_FILES`` key ranges (one file each — file stats ARE the skip
    index) and sort within each so row groups inside a file are clustered
    too. The key itself is not persisted: it's derivable, and dropping it
    keeps the schema identical to an unclustered write (readers can't tell
    the layouts apart except by speed).

    At scale this is a maintenance pass (lifecycle.compact sibling): run it
    per partition-directory during compaction, so clustering rides an I/O
    pass that happens anyway and never blocks ingest."""
    key = morton_key(lat_col, lon_col).alias("__zkey")
    (
        df.withColumn("__zkey", key)
        .repartitionByRange(ZORDER_FILES, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def morton_key_py(lat: float, lon: float) -> int:
    """Driver-side reference implementation at ``DEFAULT_BITS`` (tests
    compare the Column expression against this bit-for-bit)."""
    def q(v: float, lo: float, hi: float) -> int:
        v = min(max(v, lo), hi)
        return int((v - lo) / (hi - lo) * ((1 << DEFAULT_BITS) - 1))

    la, lo_ = q(lat, -90.0, 90.0), q(lon, -180.0, 180.0)
    key = 0
    for i in range(DEFAULT_BITS):
        key |= ((la >> i) & 1) << (2 * i)
        key |= ((lo_ >> i) & 1) << (2 * i + 1)
    return key
