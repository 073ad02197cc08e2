"""Iso-contour extraction from density grids (raster -> vector).

The inverse of the density/tiling renderers: given the engine's count
density grid, emit the iso-level contour line segments by marching
squares — pure Catalyst (one explode(x4) + one groupBy + native CASE
arithmetic; no Python in the hot path, scales like any keyed aggregation).

Reference anchor: GeoMesa's DensityScan renders vector->raster
(geomesa-index-api .../iterators/DensityScan.scala); the north-rule
"raster<->vector" round trip needs the opposite direction too.  Marching
squares is the standard published algorithm (Lorensen & Cline's marching
cubes, 2D case); the saddle cases (5/10) are disambiguated by the cell
CENTER average — deterministic and orientation-free.

Design notes for 100 TB:
* The pixel->cell fan-out is exactly 4 (each pixel is a corner of 4
  cells), so the shuffle is 4x the NONZERO grid size (already reduced by
  the density aggregation), not the raw row count.
* Cell values are COUNTS (bigint): bit-identical across engines, so the
  interpolation parameters (t = (L - v0)/(v1 - v0)) are reproducible
  doubles — the DuckDB oracle shares the same generated CASE text.
* Grid-edge cells keep implicit zero corners (the cell window extends one
  cell past the grid), so contours close at the raster boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from geomesa_spark.plans.refine import sql_double
from geomesa_spark.session import frame_sql

# marching-squares case table.  Corner bits: 1=p00 (bottom-left),
# 2=p10 (bottom-right), 4=p11 (top-right), 8=p01 (top-left).
# Edges: B = p00-p10, R = p10-p11, T = p01-p11, L = p00-p01.
_CASES: dict[int, list[tuple[str, str]]] = {
    1: [("B", "L")], 2: [("B", "R")], 3: [("L", "R")], 4: [("R", "T")],
    6: [("B", "T")], 7: [("L", "T")], 8: [("T", "L")], 9: [("B", "T")],
    11: [("R", "T")], 12: [("L", "R")], 13: [("B", "R")], 14: [("B", "L")],
}
# saddles: (segments when center > level, segments otherwise)
_SADDLES: dict[int, tuple[list, list]] = {
    5: ([("T", "L"), ("B", "R")], [("B", "L"), ("T", "R")]),
    10: ([("B", "L"), ("T", "R")], [("B", "R"), ("T", "L")]),
}


def _edge_xy(level: str) -> dict[str, tuple[str, str]]:
    """Edge-crossing coordinates in GRID units (pixel center i -> i+0.5;
    cell (ci,cj) has p00 at (ci+0.5, cj+0.5)). Linear interpolation."""
    tb = f"(({level}) - v00) / (v10 - v00)"
    tr = f"(({level}) - v10) / (v11 - v10)"
    tt = f"(({level}) - v01) / (v11 - v01)"
    tl = f"(({level}) - v00) / (v01 - v00)"
    return {
        "B": (f"(ci + 0.5e0 + {tb})", "(cj + 0.5e0)"),
        "R": ("(ci + 1.5e0)", f"(cj + 0.5e0 + {tr})"),
        "T": (f"(ci + 0.5e0 + {tt})", "(cj + 1.5e0)"),
        "L": ("(ci + 0.5e0)", f"(cj + 0.5e0 + {tl})"),
    }


def _slot_coord(slot: int, which: int, axis: int, level: str) -> str:
    """CASE expression for one coordinate of segment ``slot`` (0/1):
    which=0 -> first endpoint edge, 1 -> second; axis 0=x, 1=y."""
    exy = _edge_xy(level)
    ctr = f"(v00 + v10 + v01 + v11) > 4 * ({level})"
    arms = []
    for cid, segs in _CASES.items():
        if slot < len(segs):
            arms.append(f"WHEN {cid} THEN {exy[segs[slot][which]][axis]}")
    for cid, (hi, lo) in _SADDLES.items():
        a = exy[hi[slot][which]][axis]
        b = exy[lo[slot][which]][axis]
        arms.append(f"WHEN {cid} THEN CASE WHEN {ctr} THEN {a} ELSE {b} END")
    return "CASE cs " + " ".join(arms) + " END"


def marching_squares_sql(source: str, level: float, width: int, height: int,
                         xmin: float, xmax: float, ymin: float, ymax: float,
                         dialect: str, lon: str = "lon",
                         lat: str = "lat") -> str:
    """One query text computing contour segments of the COUNT density grid
    of ``source`` (a relation/CTE with lon/lat columns).

    dialect 'spark' | 'duck' — the two differ ONLY in the 4-row corner
    offset relation; every arithmetic fragment is shared text, so the
    floor-scaled outputs hash-match across engines.

    Output: (ci, cj, k, x1s, y1s, x2s, y2s) — cell indices, segment slot,
    endpoints in grid units floor-scaled by 1e6.
    """
    def fl(v: float) -> str:
        """Double literal valid (and DOUBLE-typed) in BOTH dialects —
        bare `40.0` is DECIMAL under Spark ANSI."""
        s = repr(float(v))
        return s if "e" in s or "E" in s else s + "e0"

    lv = fl(level)
    if dialect == "duck":
        offsets = "(VALUES (0, 0), (1, 0), (0, 1), (1, 1)) o(dx, dy)"
    else:
        offsets = ("(SELECT * FROM VALUES (0, 0), (1, 0), (0, 1), (1, 1) "
                   "AS v(dx, dy)) o")
    coords = {}
    for k in (0, 1):
        for w_, ax, name in ((0, 0, "x1"), (0, 1, "y1"), (1, 0, "x2"),
                             (1, 1, "y2")):
            coords[(k, name)] = _slot_coord(k, w_, ax, lv)

    def slot_select(k: int) -> str:
        cols = ",\n         ".join(
            f"cast(floor(({coords[(k, n)]}) * 1000000e0) as bigint) AS {n}s"
            for n in ("x1", "y1", "x2", "y2"))
        return (f"SELECT ci, cj, {k} AS k,\n         {cols}\n"
                f"  FROM cells WHERE cs NOT IN (0, 15)")

    return f"""
px AS (
  SELECT least(cast(floor(({lon} - {fl(xmin)}) / ({fl(xmax)} - {fl(xmin)})
                          * {width}) as bigint), {width - 1}) AS gx,
         least(cast(floor(({lat} - {fl(ymin)}) / ({fl(ymax)} - {fl(ymin)})
                          * {height}) as bigint), {height - 1}) AS gy
  FROM {source}
  WHERE {lon} BETWEEN {fl(xmin)} AND {fl(xmax)}
    AND {lat} BETWEEN {fl(ymin)} AND {fl(ymax)}
),
grid AS (SELECT gx, gy, count(*) AS c FROM px GROUP BY gx, gy),
corners AS (
  SELECT gx - dx AS ci, gy - dy AS cj, dx + 2 * dy AS corner, c
  FROM grid CROSS JOIN {offsets}
),
cells AS (
  SELECT ci, cj,
         coalesce(max(CASE WHEN corner = 0 THEN c END), 0) AS v00,
         coalesce(max(CASE WHEN corner = 1 THEN c END), 0) AS v10,
         coalesce(max(CASE WHEN corner = 2 THEN c END), 0) AS v01,
         coalesce(max(CASE WHEN corner = 3 THEN c END), 0) AS v11,
         (CASE WHEN coalesce(max(CASE WHEN corner = 0 THEN c END), 0) > ({lv}) THEN 1 ELSE 0 END
          + CASE WHEN coalesce(max(CASE WHEN corner = 1 THEN c END), 0) > ({lv}) THEN 2 ELSE 0 END
          + CASE WHEN coalesce(max(CASE WHEN corner = 3 THEN c END), 0) > ({lv}) THEN 4 ELSE 0 END
          + CASE WHEN coalesce(max(CASE WHEN corner = 2 THEN c END), 0) > ({lv}) THEN 8 ELSE 0 END
          ) AS cs
  FROM corners GROUP BY ci, cj
),
segs AS (
{slot_select(0)}
  UNION ALL
{slot_select(1)}
)
SELECT cast(ci as int) AS ci, cast(cj as int) AS cj, k, x1s, y1s, x2s, y2s
FROM segs WHERE x1s IS NOT NULL
"""


def contour_segments(df: DataFrame, envelope: tuple, width: int, height: int,
                     level: float, *, lon_col: str = "lon",
                     lat_col: str = "lat") -> DataFrame:
    """Library entry point: iso-``level`` contour segments of the count
    density grid of ``df`` over ``envelope`` = (xmin, ymin, xmax, ymax)
    (the density()/GridSnap envelope convention).

    Returns (ci, cj, k, x1, y1, x2, y2) with endpoints in ENVELOPE
    coordinates (grid units mapped linearly back to lon/lat).
    """
    xmin, ymin, xmax, ymax = envelope
    body = marching_squares_sql("{src}", level, width, height,
                                xmin, xmax, ymin, ymax, "spark",
                                lon=lon_col, lat=lat_col)
    x0, y0, sx, sy = (sql_double(v) for v in (xmin, ymin, (xmax - xmin) / width,
                                              (ymax - ymin) / height))
    return frame_sql(f"""
SELECT ci, cj, k,
       {x0} + x1s / 1000000.0D * {sx} AS x1, {y0} + y1s / 1000000.0D * {sy} AS y1,
       {x0} + x2s / 1000000.0D * {sx} AS x2, {y0} + y2s / 1000000.0D * {sy} AS y2
FROM (WITH {body})""", src=df)


def assemble_contour_lines(segments: DataFrame, *,
                           max_segments: int = 200_000,
                           tol: float = 1e-6) -> list[str]:
    """Link contour segments into WKT LINESTRINGs (closed rings repeat
    their first point), driver-side.

    Marching squares emits degree<=2 vertices, so linking is a simple
    chain walk on rounded endpoint keys.  Bounded by ``max_segments``
    like the export writers (write_leaflet/write_shapefile): contour
    OUTPUT is perimeter-sized — tiny next to its input raster — so the
    driver-side assembly bound is about misuse, not scale; a distributed
    connected-components pass is not warranted for line rendering.
    """
    rows = segments.limit(max_segments + 1).collect()
    if len(rows) > max_segments:
        raise ValueError(
            f"more than {max_segments} contour segments; raise "
            f"max_segments or coarsen the grid/level")

    def key(x: float, y: float) -> tuple:
        return (round(x / tol), round(y / tol))

    # adjacency: endpoint key -> list of (segment idx, other endpoint)
    adj: dict = {}
    segs = []
    for i, r in enumerate(rows):
        a, b = (r.x1, r.y1), (r.x2, r.y2)
        if key(*a) == key(*b):
            continue                          # degenerate (level on corner)
        segs.append((a, b))
        adj.setdefault(key(*a), []).append((len(segs) - 1, b))
        adj.setdefault(key(*b), []).append((len(segs) - 1, a))

    used = [False] * len(segs)
    lines = []

    def walk(start_pt, first_idx):
        pts = [start_pt]
        idx, cur = first_idx, start_pt
        while True:
            used[idx] = True
            a, b = segs[idx]
            nxt = b if key(*a) == key(*cur) else a
            pts.append(nxt)
            cont = [(j, other) for j, other in adj.get(key(*nxt), [])
                    if not used[j]]
            if not cont:
                return pts
            idx, cur = cont[0][0], nxt

    # open chains first (start at degree-1 endpoints), then leftover loops
    for pass_open in (True, False):
        for k, ends in adj.items():
            if pass_open and len(ends) != 1:
                continue
            for j, _other in ends:
                if used[j]:
                    continue
                a, b = segs[j]
                start = a if key(*a) == k else b
                pts = walk(start, j)
                lines.append(pts)
    return ["LINESTRING (" +
            ", ".join(f"{x:.7f} {y:.7f}" for x, y in pts) + ")"
            for pts in lines]
