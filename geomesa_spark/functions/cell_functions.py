"""Cell/SFC encodings as *native Catalyst column expressions*.

This is the engine's replacement for GeoMesa's row-key encoding (reference:
index/z3/Z3IndexKeySpace.scala:63-95, index/z2/Z2IndexKeySpace.scala): the
same bit math, but expressed with Spark's built-in long/bit functions so cell
assignment runs inside whole-stage codegen — zero Python, zero serialization.
The numpy variants in ``geomesa_spark.cells`` are for the driver-side planner
and for tests; results are bit-identical.

Every helper takes/returns ``pyspark.sql.Column``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from geomesa_spark.cells.z3 import DAY_MS, WEEK_MS
from geomesa_spark.cells.zn import (SPREAD, NormalizedDimension, NormalizedLat,
                                    NormalizedLon, Z2SFC, Z3SFC, ZSFC)
from geomesa_spark.geom.gh_decompose import _BASE32 as _GH_BASE32


def split_col(v: Column, d: int) -> Column:
    """``zn.split`` as Catalyst bit arithmetic, from the same table."""
    bits, steps = SPREAD[d]
    x = v.bitwiseAND(F.lit((1 << bits) - 1))
    for shift, mask in steps:
        x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
    return x


def interleave_col(values: list[Column]) -> Column:
    """``zn.interleave``: bit i of value k is bit i*d + k."""
    d = len(values)
    z = split_col(values[0], d)
    for k in range(1, d):
        z = z.bitwiseOR(F.shiftleft(split_col(values[k], d), k))
    return z


def _normalize_col(x: Column, dim: NormalizedDimension) -> Column:
    """``dim.normalize`` with inputs outside [min,max] clamped (lenient
    mode): floor((x-min) * 2^p/(max-min)), at most 2^p - 1."""
    clamped = F.least(F.greatest(x, F.lit(float(dim.min))), F.lit(float(dim.max)))
    n = F.floor((clamped - F.lit(float(dim.min))) * F.lit(dim.normalizer)).cast("long")
    return F.least(n, F.lit(dim.max_index))


def _index_col(sfc: ZSFC, *values: Column) -> Column:
    """``sfc.index(*values, lenient=True)`` as a native expression."""
    return interleave_col([_normalize_col(v, n) for v, n in zip(values, sfc.dims)])


def z2_col(lon: Column, lat: Column, precision: int = 31) -> Column:
    """62-bit Z2 index of a point — bit-identical to Z2SFC(precision).index."""
    return _index_col(Z2SFC(precision), lon, lat)


GEOHASH_CHARS = 7  # key width of a geohash layout (sources/layout.py)


def geohash_col(lon: Column, lat: Column, chars: int = GEOHASH_CHARS) -> Column:
    """Geohash string of ``chars`` base-32 characters — native Catalyst,
    bit-identical to functions/geohash.encode (GeoHash binary subdivision
    == floor-normalize with the upper edge clamped).

    The 5*chars interleaved bits (lon first / MSB) are one asymmetric
    Morton spread: with an ODD total bit count the lon bits land on even
    positions, with an EVEN count lon leads on odd positions.  The write-
    side key for a geohash-prefix layout (GeohashUtils.scala:241-409 feeds
    the reference's %offset,length#gh index schemas)."""
    if not (1 <= chars <= 12):
        raise ValueError("chars must be in [1, 12]")
    total = 5 * chars
    lon_bits = (total + 1) // 2
    lat_bits = total // 2
    nx = _normalize_col(lon, NormalizedLon(lon_bits))
    ny = _normalize_col(lat, NormalizedLat(lat_bits))
    gh = interleave_col([nx, ny] if total % 2 else [ny, nx])
    alphabet = F.array(*[F.lit(c) for c in _GH_BASE32])
    return F.concat(*[
        F.element_at(alphabet,
                     (F.shiftright(gh, 5 * (chars - 1 - i))
                      .bitwiseAND(F.lit(31)) + F.lit(1)).cast("int"))
        for i in range(chars)])


def time_bin_col(ts: Column, period: str = "week") -> Column:
    """Epoch-period bin of a timestamp (BinnedTime.timeToBin semantics)."""
    ts = ts.cast("timestamp")  # parquet TIMESTAMP_NTZ -> TIMESTAMP (UTC session)
    millis = F.unix_millis(ts)
    if period == "day":
        return F.floor(millis / F.lit(DAY_MS)).cast("int")
    if period == "week":
        return F.floor(millis / F.lit(WEEK_MS)).cast("int")
    if period == "month":
        return ((F.year(ts) - F.lit(1970)) * F.lit(12) + F.month(ts) - F.lit(1)).cast("int")
    if period == "year":
        return (F.year(ts) - F.lit(1970)).cast("int")
    raise ValueError(period)


def time_offset_col(ts: Column, period: str = "week") -> Column:
    """Offset into the period bin (millis/seconds/seconds/minutes)."""
    ts = ts.cast("timestamp")
    millis = F.unix_millis(ts)
    if period == "day":
        return millis % F.lit(DAY_MS)
    if period == "week":
        return (millis % F.lit(WEEK_MS)) / F.lit(1000)
    if period == "month":
        bin_start = F.unix_seconds(F.trunc(ts, "month").cast("timestamp"))
        return F.unix_seconds(ts) - bin_start
    if period == "year":
        bin_start = F.unix_seconds(F.trunc(ts, "year").cast("timestamp"))
        return F.floor((F.unix_seconds(ts) - bin_start) / F.lit(60))
    raise ValueError(period)


def z3_col(lon: Column, lat: Column, ts: Column, period: str = "week",
           precision: int = 21) -> Column:
    """63-bit Z3 index (within-bin) — combine with time_bin_col for the full key."""
    return _index_col(Z3SFC(period, precision), lon, lat,
                      time_offset_col(ts, period).cast("double"))


def _grid_xy(lon: Column, lat: Column, res: int) -> list[Column]:
    """A point's bigint :func:`tile_cols` at ``res`` (``grid.xy_sql``)."""
    return [c.cast("long") for c in tile_cols(lon, lat, res)]


def cell_col(lon: Column, lat: Column, res: int) -> Column:
    """Hierarchical grid cell id ((res<<58) | morton) — cells/grid.py parity."""
    return F.lit(res << 58).bitwiseOR(interleave_col(_grid_xy(lon, lat, res)))


def tile_cols(lon: Column, lat: Column, zoom: int) -> tuple[Column, Column]:
    """(tx, ty) tile coordinates at a zoom level (2^zoom x 2^zoom plate carrée
    grid; ty increases northward). Floor semantics match GridSnap
    (reference: utils/geotools/GridSnap.scala:23)."""
    n = 1 << zoom
    return pixel_cols(lon, lat, -180.0, -90.0, 180.0, 90.0, n, n)


def pixel_cols(lon: Column, lat: Column, xmin: float, ymin: float, xmax: float,
               ymax: float, width: int, height: int) -> tuple[Column, Column]:
    """(px, py) pixel assignment on a width x height grid snapped to an
    envelope — DensityScan/GridSnap semantics (reference:
    iterators/DensityScan.scala:95-136, GridSnap.scala:23): floor snap,
    upper edge clamped to the last pixel. The clamp runs on the bigint
    floor, so a point far outside the envelope cannot overflow the int.
    ``grid.snap_sql`` is the same snap as SQL text."""
    return tuple(F.least(F.greatest(F.floor((c - F.lit(lo)) / F.lit(hi - lo) * F.lit(n)),
                                    F.lit(0)), F.lit(n - 1)).cast("int")
                 for c, lo, hi, n in ((lon, xmin, xmax, width), (lat, ymin, ymax, height)))


def salt_col(key: Column, n_shards: int = 4) -> Column:
    """Shard/salt column: pmod(hash(key), n) — plays the role of GeoMesa's
    1-byte shard prefix (reference: ShardStrategy.scala:75-83)."""
    return F.pmod(F.hash(key), F.lit(n_shards))


def s2_col(lon: Column, lat: Column) -> Column:
    """S2 leaf cell id (level 30, java-style signed 64-bit) — the cell_s2
    batched assignment of SURVEY §2.8, Arrow-batched numpy Hilbert kernel
    (cells/s2.py index_np)."""
    import numpy as np
    import pandas as pd

    from geomesa_spark.cells.s2 import S2SFC
    sfc = S2SFC()

    def kernel(lo, la):
        return pd.Series(sfc.index_np(lo.to_numpy(np.float64),
                                      la.to_numpy(np.float64)))

    kernel.__annotations__ = {"lo": pd.Series, "la": pd.Series,
                              "return": pd.Series}
    from pyspark.sql.types import LongType
    return F.pandas_udf(kernel, LongType())(lon, lat)


def cell_disk_col(lon: Column, lat: Column, res: int, k: int = 1) -> Column:
    """array<long> of row-major cell ids within Chebyshev radius ``k`` of
    the point's cell — the cell_ring/cell_disk function of SURVEY §2.8,
    pure Catalyst (longitude wraps, latitude clamps, duplicates removed).
    This is the write-side companion of the kNN ring expansion."""
    n = 1 << res
    ix, iy = _grid_xy(lon, lat, res)

    def shift(d, col, wrap):
        v = col + F.lit(d)
        if wrap:
            return F.pmod(v, F.lit(n))
        return F.least(F.greatest(v, F.lit(0)), F.lit(n - 1))
    cells = []
    for dy in range(-k, k + 1):
        for dx in range(-k, k + 1):
            cells.append(shift(dx, ix, wrap=True)
                         + shift(dy, iy, wrap=False) * F.lit(n))
    return F.array_distinct(F.array(*cells))


def uuid_z3_col(lon: Column, lat: Column, ts: Column, seed: Column,
                period: str = "week") -> Column:
    """Z3-prefixed feature id (uuid-shaped string): ids of spatio-
    temporally nearby features share byte prefixes, so an id-sorted layout
    keeps them co-located (reference: utils/uuid/Z3FeatureIdGenerator
    .scala, convert2 IdFunctionFactory uuidZ3).  Deterministic: the random
    tail is an md5 of the seed column (the reference offers seeded z3
    uuids for reproducible ingest)."""
    z3 = z3_col(lon, lat, ts, period)
    bin_ = time_bin_col(ts, period).cast("long")
    msb = F.lpad(F.hex(F.shiftleft(F.pmod(bin_, F.lit(1 << 16)), 48)
                       .bitwiseOR(F.shiftright(z3, 16)
                                  .bitwiseAND(F.lit((1 << 48) - 1)))), 16, "0")
    tail = F.substring(F.md5(F.concat_ws("|", seed.cast("string"),
                                         z3.cast("string"))), 1, 16)
    hexs = F.lower(F.concat(msb, tail))
    return F.concat_ws(
        "-",
        F.substring(hexs, 1, 8), F.substring(hexs, 9, 4),
        F.substring(hexs, 13, 4), F.substring(hexs, 17, 4),
        F.substring(hexs, 21, 12))
