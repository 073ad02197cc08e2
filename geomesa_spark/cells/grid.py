"""Hierarchical quad grid cells — the engine's shuffle/partition key.

Plays the role of GeoMesa's H3/S2-style cell assignment (reference S2 index:
index/s2/S2IndexKeySpace.scala; grid partitioning for joins:
geomesa-spark-sql RelationUtils.grid/gridIdMapper RelationUtils.scala:30-70).

A cell at resolution ``r`` is one of ``2^r x 2^r`` tiles of the lon/lat plane
(plate carrée). The packed 64-bit id is ``(r << 58) | morton(ix, iy)`` so that
ids at one resolution sort in z-order — adjacent cells are usually adjacent in
id space, which makes cell-range partitioning behave like the reference's
sorted key ranges.

Rings (``grid_disk``-style, used by kNN expansion) are exact on the grid:
x wraps at the antimeridian, y clamps at the poles.
"""

from __future__ import annotations

import numpy as np

from geomesa_spark.cells import zn
from geomesa_spark.plans.refine import sql_double

MAX_RES = 29


def cell_id(lon: float, lat: float, res: int) -> int:
    """Scalar cell assignment (planner side)."""
    n = 1 << res
    ix = min(int((lon + 180.0) / 360.0 * n), n - 1)
    iy = min(int((lat + 90.0) / 180.0 * n), n - 1)
    return from_xy(res, ix, iy)


def cell_id_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    n = 1 << res
    ix = np.minimum(((lon + 180.0) / 360.0 * n).astype(np.int64), n - 1)
    iy = np.minimum(((lat + 90.0) / 180.0 * n).astype(np.int64), n - 1)
    ix = np.maximum(ix, 0)
    iy = np.maximum(iy, 0)
    z = zn.interleave((ix, iy))
    return (np.int64(res) << np.int64(58)) | z.astype(np.int64)


def cell_xy(cid: int) -> tuple[int, int, int]:
    """Unpack to (res, ix, iy)."""
    res = cid >> 58
    z = cid & ((1 << 58) - 1)
    return (res, *zn.deinterleave(z, 2))


def from_xy(res: int, ix: int, iy: int) -> int:
    return (res << 58) | zn.interleave((ix, iy))


def rowmajor(cid: int) -> int:
    """Cell id -> the row-major key :func:`rowmajor_sql` gives its points."""
    res, ix, iy = cell_xy(cid)
    return (iy << res) | ix


def snap_sql(col: str, lo: float, hi: float, n: int) -> str:
    """SQL of the bigint cell of ``col`` on ``n`` cells over [lo, hi]: the
    floor snap (GridSnap.scala:23) clamped into [0, n - 1], so the upper
    edge lands in the last cell and NaN in cell 0."""
    return (f"least(greatest(cast(floor(({col} - {sql_double(lo)}) / {sql_double(hi - lo)}"
            f" * {n}) as bigint), 0), {n - 1})")


def xy_sql(lon_col: str, lat_col: str, n: int) -> tuple[str, str]:
    """SQL of a point's clamped (ix, iy) on the n x n lon/lat grid — the
    native form of :func:`cell_id_np`'s indices (NaN and null land in 0)."""
    return snap_sql(lon_col, -180.0, 180.0, n), snap_sql(lat_col, -90.0, 90.0, n)


def rowmajor_sql(lon_col: str, lat_col: str, n: int) -> str:
    """SQL of a point's row-major cell key ``iy * n + ix``: a few native
    operations per row, where a Morton id needs a bit-spread tree."""
    ix, iy = xy_sql(lon_col, lat_col, n)
    return f"{iy} * {n} + {ix}"


def cell_bounds(cid: int) -> tuple[float, float, float, float]:
    res, ix, iy = cell_xy(cid)
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    return (-180.0 + ix * w, -90.0 + iy * h, -180.0 + (ix + 1) * w, -90.0 + (iy + 1) * h)


def parent(cid: int) -> int:
    res, ix, iy = cell_xy(cid)
    if res == 0:
        return cid
    return from_xy(res - 1, ix >> 1, iy >> 1)


def children(cid: int) -> list[int]:
    res, ix, iy = cell_xy(cid)
    return [from_xy(res + 1, 2 * ix + dx, 2 * iy + dy) for dy in (0, 1) for dx in (0, 1)]


def ring(cid: int, k: int) -> list[int]:
    """Cells at exactly grid-distance k (Chebyshev) — kNN expansion shells."""
    res, ix, iy = cell_xy(cid)
    n = 1 << res
    out = []
    for dy in range(-k, k + 1):
        for dx in range(-k, k + 1):
            if max(abs(dx), abs(dy)) != k:
                continue
            y = iy + dy
            if y < 0 or y >= n:
                continue  # pole clamp: no cells beyond the poles
            x = (ix + dx) % n  # antimeridian wrap
            out.append(from_xy(res, x, y))
    return sorted(set(out))


def disk(cid: int, k: int) -> list[int]:
    """Cells at grid-distance <= k."""
    out = set()
    for kk in range(k + 1):
        out.update(ring(cid, kk) if kk else [cid])
    return sorted(out)


def cover_bbox(xmin: float, ymin: float, xmax: float, ymax: float, res: int) -> list[int]:
    """All cells intersecting the (closed) lon/lat box, in id order."""
    n = 1 << res
    ix0 = max(0, min(int((xmin + 180.0) / 360.0 * n), n - 1))
    ix1 = max(0, min(int((xmax + 180.0) / 360.0 * n), n - 1))
    iy0 = max(0, min(int((ymin + 90.0) / 180.0 * n), n - 1))
    iy1 = max(0, min(int((ymax + 90.0) / 180.0 * n), n - 1))
    return sorted(from_xy(res, ix, iy)
                  for ix in range(ix0, ix1 + 1) for iy in range(iy0, iy1 + 1))


class GridCells:
    """Bound-resolution facade used by operators."""

    def __init__(self, res: int):
        if not (0 <= res <= MAX_RES):
            raise ValueError(f"res must be in [0,{MAX_RES}]")
        self.res = res

    def cell(self, lon, lat):
        return cell_id_np(np.asarray(lon, dtype=np.float64),
                          np.asarray(lat, dtype=np.float64), self.res)

    def cover(self, xmin, ymin, xmax, ymax):
        return cover_bbox(xmin, ymin, xmax, ymax, self.res)
