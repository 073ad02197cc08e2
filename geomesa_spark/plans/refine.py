"""Native geometry refine: the exact point-vs-geometry test as one Catalyst
expression, so no Python worker runs it (the reference's full-filter
recheck, Z3IndexKeySpace.useFullFilter).

A geometry becomes two arrays of ``struct<ax, ay, bx, by>``: ``edges``,
every shell and hole edge of its polygons (the CCW ring of a convex simple
polygon), which give ``i``, the even-odd ray-cast parity (an
``aggregate()``), and ``b``, the boundary-inclusive collinearity (an
``exists()``); and ``segs``, its line segments and its points as
zero-length segments, where only ``b`` applies.
The arithmetic is ``geom/algos.py``'s term for term, so wherever the cross
products are exact the answers are the numpy kernels'. The convex fast path
(a ``forall`` of half-plane tests) may disagree with the ray cast within a
rounding error of an edge, and multipolygon parts share one parity (their
union when their interiors are disjoint, as in valid geometries). The
arrays are the ``__edges``/``__segs`` columns of the PIP join. A query
geometry's convex INTERSECTS test reads a literal edge array; its other
tests read a literal grid (``grid_sql``) that keeps, per cell of the
geometry's bbox, only the edges that can change the answer there, since the
fold runs interpreted once per edge and row.
"""

from __future__ import annotations

import json
import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from geomesa_spark.geom import model

EDGE_TYPE = "array<struct<ax:double,ay:double,bx:double,by:double>>"
CELL_TYPE = (f"array<struct<parity:boolean,ys:array<double>,edges:{EDGE_TYPE},"
             f"segs:{EDGE_TYPE}>>")

# grid sides tried by grid_sql: the first whose cells hold at most
# _GRID_EDGES entries (edges, segments, ys) on average, unless its literal
# would pass _GRID_CAP entries
_GRID_SIDES = (1, 2, 4, 8, 16, 32)
_GRID_EDGES = 4.0
_GRID_CAP = 20000

_CROSS = "(e.bx - e.ax) * ({lat} - e.ay) - (e.by - e.ay) * ({lon} - e.ax)"
_ON_SEGMENT = (_CROSS + " = 0.0D"
               " AND {lon} >= least(e.ax, e.bx) AND {lon} <= greatest(e.ax, e.bx)"
               " AND {lat} >= least(e.ay, e.by) AND {lat} <= greatest(e.ay, e.by)")
_CROSSING = ("((e.ay > {lat}) != (e.by > {lat})) AND"
             " ({lon} < e.ax + ({lat} - e.ay) * (e.bx - e.ax) / (e.by - e.ay))")


def is_rectangle(g: model.Geometry) -> bool:
    """True when ``g`` is an axis-aligned box (its bbox is the exact test)."""
    if not isinstance(g, model.Polygon) or g.holes or len(g.shell) != 5:
        return False
    xmin, ymin, xmax, ymax = g.bounds
    corners = {(xmin, ymin), (xmin, ymax), (xmax, ymin), (xmax, ymax)}
    return {(float(x), float(y)) for x, y in g.shell[:-1]} == corners


def convex_ccw(g) -> "np.ndarray | None":
    """CCW vertex array if ``g`` is a convex simple polygon, else None."""
    if not isinstance(g, model.Polygon) or g.holes:
        return None
    v = np.asarray(g.shell[:-1], dtype=np.float64)
    if len(v) < 3:
        return None
    e1 = np.roll(v, -1, axis=0) - v
    e2 = np.roll(v, -2, axis=0) - np.roll(v, -1, axis=0)
    cross = e1[:, 0] * e2[:, 1] - e1[:, 1] * e2[:, 0]
    if np.all(cross >= 0):
        return v
    if np.all(cross <= 0):
        return v[::-1]
    return None


def _segments(coords) -> list[tuple]:
    c = np.asarray(coords, dtype=np.float64)
    return [(float(c[i, 0]), float(c[i, 1]), float(c[i + 1, 0]), float(c[i + 1, 1]))
            for i in range(len(c) - 1)]


def edge_columns(g: model.Geometry) -> tuple[bool, list, list]:
    """``(convex, edges, segs)`` of ``g`` (see the module docstring).

    Rings of fewer than three edges are skipped, as ``points_in_ring``
    classifies every point OUT of them."""
    ccw = convex_ccw(g)
    if ccw is not None:
        return True, _segments(np.vstack([ccw, ccw[:1]])), []
    edges, segs = [], []
    for comp in g._components():
        if isinstance(comp, model.Polygon):
            for ring in [comp.shell] + comp.holes:
                if len(ring) >= 4:
                    edges.extend(_segments(ring))
        elif isinstance(comp, model.LineString):
            segs.extend(_segments(comp.coords))
        elif isinstance(comp, model.Point) and not math.isnan(comp.x):
            segs.append((float(comp.x), float(comp.y), float(comp.x), float(comp.y)))
    return False, edges, segs


def _lit(x: float) -> str:
    if not math.isfinite(x):
        raise ValueError(f"geometry coordinate {x} is not finite")
    return repr(float(x)).upper() + "D"


def _structs(edges: list) -> list:
    return [dict(zip(("ax", "ay", "bx", "by"), e)) for e in edges]


def _literal(value, sql_type: str) -> str:
    """A JSON literal of ``sql_type``, constant-folded once by Catalyst;
    non-finite coordinates are refused."""
    return f"from_json('{json.dumps(value, allow_nan=False)}', '{sql_type}')"


def refine_sql(lon_col: str, lat_col: str, op: str = "INTERSECTS", *,
               convex: "str | bool" = "__convex", edges: "str | None" = "__edges",
               segs: "str | None" = None, parity: str = "false") -> str:
    """SQL of the exact test of a point against edge arrays (columns or
    literals; None when absent), from ``i``, the parity of the edges that
    cross the point's ray (started at ``parity``: the crossings of edges
    left out of ``edges``), and ``b``, whether an edge or segment holds the
    point. INTERSECTS is ``i OR b``, or the convex half-plane test
    (``convex``: a boolean column, or a bool for literal edges); WITHIN is
    ``i AND NOT b``, TOUCHES ``b`` of the edges."""
    lon, lat = (f"`{c}`" for c in (lon_col, lat_col))
    on = _ON_SEGMENT.format(lon=lon, lat=lat)
    on_segs = [f"exists({segs}, e -> {on})"] if segs else []
    if not edges:
        return " OR ".join(on_segs) if op == "INTERSECTS" and on_segs else "false"
    i = f"aggregate({edges}, {parity}, (i, e) -> i != ({_CROSSING.format(lon=lon, lat=lat)}))"
    b = f"exists({edges}, e -> {on})"
    if op == "WITHIN":
        return f"{i} AND NOT {b}"
    if op == "TOUCHES":
        return b
    half = f"forall({edges}, e -> {_CROSS.format(lon=lon, lat=lat)} >= 0.0D)"
    test = (half if convex is True else f"{i} OR {b}" if convex is False
            else f"IF({convex}, {half}, {i} OR {b})")
    return " OR ".join([f"({test})"] + on_segs)


def _grid(edges: list, segs: list, bounds: tuple, n: int) -> tuple:
    """``(x0, y0, w, h, cells)`` of an ``n`` x ``n`` grid over ``bounds``,
    ``cells`` row-major lists of ``(parity, ys, edges, segs)``.

    Take an edge's part inside a cell's row. For a point of the cell, the
    edge never crosses its ray nor holds it when that part is empty or
    left of the cell, and crosses it iff ``(ay <= lat) != (by <= lat)``
    when the part is right of the cell. So a cell keeps the edges and
    segments through it, and the crossings of the edges right of it as
    ``parity`` XOR (the count of ``ys`` at or below ``lat``) mod 2:
    ``parity`` counts their ends below the row and ``ys`` those inside it,
    where an end shared by two such edges cancels. Rows and cells are
    widened by ``eps``, far above the rounding of the cell lookup and of a
    crossing's x, so these terms hold for every point the lookup sends to
    the cell."""
    xmin, ymin, xmax, ymax = bounds
    eps = 1e-9 * (1.0 + max(abs(v) for v in bounds))
    x0, y0 = xmin - eps, ymin - eps
    w, h = (xmax - xmin + 2 * eps) / n, (ymax - ymin + 2 * eps) / n
    k = np.arange(n)
    cx0, cx1 = x0 + k * w - eps, x0 + (k + 1) * w + eps
    cy0, cy1 = y0 + k * h - eps, y0 + (k + 1) * h + eps

    def in_row(a, r):
        """x extent (lo, hi) of each segment's part in row r, NaN if none."""
        ylo = np.maximum(np.minimum(a[:, 1], a[:, 3]), cy0[r])
        yhi = np.minimum(np.maximum(a[:, 1], a[:, 3]), cy1[r])
        with np.errstate(invalid="ignore", divide="ignore"):
            slope = (a[:, 2] - a[:, 0]) / (a[:, 3] - a[:, 1])
            xa, xb = a[:, 0] + (ylo - a[:, 1]) * slope, a[:, 0] + (yhi - a[:, 1]) * slope
        flat = a[:, 1] == a[:, 3]
        lo = np.where(flat, np.minimum(a[:, 0], a[:, 2]), np.minimum(xa, xb))
        hi = np.where(flat, np.maximum(a[:, 0], a[:, 2]), np.maximum(xa, xb))
        empty = ylo > yhi
        return np.where(empty, np.nan, lo)[:, None], np.where(empty, np.nan, hi)[:, None]

    e = np.asarray(edges, dtype=np.float64).reshape(-1, 4)
    s = np.asarray(segs, dtype=np.float64).reshape(-1, 4)
    ends = e[:, [1, 3]]
    cells = []
    for r in range(n):
        lo, hi = in_row(e, r)
        through = (hi >= cx0) & (lo <= cx1)                   # (edges, cols)
        right = lo > cx1
        low = ends < cy0[r]
        below = low.sum(axis=1) @ right % 2 == 1
        inside = ~low & (ends <= cy1[r])
        slo, shi = in_row(s, r)
        s_through = (shi >= cx0) & (slo <= cx1)
        for c in range(n):
            ys, odd = np.unique(ends[right[:, c]][inside[right[:, c]]], return_counts=True)
            cells.append((bool(below[c]), ys[odd % 2 == 1].tolist(),
                          [edges[j] for j in np.flatnonzero(through[:, c])],
                          [segs[j] for j in np.flatnonzero(s_through[:, c])]))
    return x0, y0, w, h, cells


def grid_sql(edges: list, segs: list, bounds: tuple, op: str,
             lon_col: str, lat_col: str) -> str:
    """``refine_sql`` over the cell of the point in a literal grid of
    ``edges``/``segs`` (see ``_grid``), false outside ``bounds``."""
    for side in _GRID_SIDES:
        grid = _grid(edges, segs, bounds, side)
        held = sum(len(y) + len(e) + len(s) for _p, y, e, s in grid[4])
        if side > 1 and held > _GRID_CAP:
            break
        n, (x0, y0, w, h, cells) = side, grid
        if held <= _GRID_EDGES * n * n:
            break
    grid = _literal([{"parity": p, "ys": ys, "edges": _structs(es), "segs": _structs(ss)}
                     for p, ys, es, ss in cells], CELL_TYPE)
    lon, lat = (f"`{c}`" for c in (lon_col, lat_col))
    # clamped before FLOOR so that no input (NaN, inf, null, off-grid) can
    # fail the casts; off-grid points are false by the bbox conjunct
    col, row = (f"CAST(FLOOR(least(greatest(({v} - {_lit(v0)}) / {_lit(step)}, 0.0D),"
                f" {_lit(n - 1)})) AS INT)" for v, v0, step in ((lon, x0, w), (lat, y0, h)))
    test = refine_sql(lon_col, lat_col, op, convex=False, edges="c.edges" if edges else None,
                      segs="c.segs" if segs else None,
                      parity=f"aggregate(c.ys, c.parity, (p, y) -> p != (y <= {lat}))")
    xmin, ymin, xmax, ymax = bounds
    # exists() over the one-cell array binds the cell once
    return (f"{lon} BETWEEN {_lit(xmin)} AND {_lit(xmax)}"
            f" AND {lat} BETWEEN {_lit(ymin)} AND {_lit(ymax)}"
            f" AND exists(array(element_at({grid}, {row} * {n} + {col} + 1)), c -> {test})")


def geometry_sql(g: model.Geometry, op: str, lon_col: str, lat_col: str) -> "str | None":
    """``refine_sql`` of a point INTERSECTS/WITHIN/TOUCHES ``g``, without a
    primary filter; None when ``g`` is a rectangle tested for INTERSECTS
    (its bbox is exact). A convex polygon's INTERSECTS is the half-plane
    test over a literal edge array, every other test goes through
    ``grid_sql``. A point WITHIN/TOUCHES a line or a point is read as
    INTERSECTS, its interior and boundary not being told apart."""
    if not isinstance(g, (model.Polygon, model.MultiPolygon)):
        op = "INTERSECTS"
    if op == "INTERSECTS" and is_rectangle(g):
        return None
    convex, edges, segs = edge_columns(g)
    if not edges and not segs:
        return "false"
    if convex and op == "INTERSECTS":
        return refine_sql(lon_col, lat_col, op, convex=True,
                          edges=_literal(_structs(edges), EDGE_TYPE))
    return grid_sql(edges, segs, g.bounds, op, lon_col, lat_col)


def point_predicate(g: model.Geometry, op: str, lon_col: str, lat_col: str) -> Column:
    """Primary bbox filter AND the native refine; DISJOINT is the
    complement of INTERSECTS.

    The bbox conjunct pushes down to the scan and keeps NaN coordinates
    (which Spark orders above every double, unlike numpy) away from the
    half-plane tests. Null or NaN coordinates never INTERSECT/WITHIN/TOUCH
    and are always DISJOINT, as in the numpy kernels."""
    if op == "DISJOINT":
        return ~F.coalesce(point_predicate(g, "INTERSECTS", lon_col, lat_col),
                           F.lit(False))
    xmin, ymin, xmax, ymax = g.bounds
    out = (F.col(lon_col).between(xmin, xmax)
           & F.col(lat_col).between(ymin, ymax))
    sql = geometry_sql(g, op, lon_col, lat_col)
    if sql is not None:
        out = out & F.coalesce(F.expr(sql), F.lit(False))
    return out
