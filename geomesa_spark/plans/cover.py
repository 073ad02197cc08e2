"""Driver-side cover planning: query geometry -> cell ranges -> predicates.

This is the Spark analog of the reference's range planning
(Z3IndexKeySpace.getRanges -> getRangeBytes, Z3IndexKeySpace.scala:161-238):
instead of byte ranges scanned by tablet servers, we emit

* Catalyst range predicates on the ``z2``/``cell`` columns (Iceberg/parquet
  min-max file skipping + partition pruning do the pruning), and
* scanline span covers of join geometries (each point belongs to exactly
  ONE cell, so span joins need no boundary dedupe on the point side).

Budgets follow the reference: <= 2000 ranges/query, BFS recursion 7
(conf/QueryProperties.scala:23, ZN.scala:293).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from geomesa_spark.cells import grid
from geomesa_spark.cells.z2 import Z2SFC
from geomesa_spark.cells.zn import DEFAULT_MAX_RANGES, IndexRange
from geomesa_spark.geom import model

_Z2 = Z2SFC(31)


def z2_ranges(boxes: list[tuple[float, float, float, float]],
              max_ranges: int = DEFAULT_MAX_RANGES) -> list[IndexRange]:
    return _Z2.ranges(boxes, max_ranges=max_ranges)


def z2_range_predicate(z2_col: str,
                       boxes: list[tuple[float, float, float, float]],
                       max_ranges: int = 64) -> Column:
    """OR of BETWEENs on the z2 column covering the boxes. Kept coarse
    (max_ranges default 64) because it exists for file/partition pruning; the
    exact lon/lat predicate re-check runs anyway (the reference's 'loose bbox'
    + Z3Filter re-check split, Z3IndexKeySpace.useFullFilter:240-254)."""
    return _ranges_expr(z2_col, z2_ranges(boxes, max_ranges=max_ranges))


def s2_range_predicate(s2_col: str,
                       boxes: list[tuple[float, float, float, float]],
                       max_cells: int = 16) -> Column:
    """OR of BETWEENs on an S2 leaf-id column covering the boxes — the
    S2IndexKeySpace.getRanges analog for an s2-sorted layout (each covering
    cell is one contiguous id range; signed java-style ids stay ordered
    within a face, see cells/s2.py).  Coarse by design: the exact lon/lat
    re-check runs after the pruned scan."""
    from geomesa_spark.cells.s2 import S2SFC
    return _ranges_expr(s2_col, S2SFC(max_cells=max_cells).ranges(list(boxes)))


def _ranges_expr(col: str, ranges: list[IndexRange]) -> Column:
    """One SQL expression for the ranges: a Column per range costs a few
    py4j round trips each, this costs one."""
    return F.expr(" OR ".join(f"`{col}` BETWEEN {r.lower}L AND {r.upper}L"
                              for r in ranges))


def _windows(geoms: list, res: int) -> tuple:
    """Each geometry's bbox cell window, clamped to the grid, as four int64
    arrays ``(ix0, iy0, nx, ny)`` — the window :func:`grid.cover_bbox`
    enumerates. A geometry with no coordinates (NaN bounds) gets an empty
    window, ``nx = ny = 0``."""
    n = 1 << res
    b = np.array([g.bounds for g in geoms], dtype=np.float64).reshape(-1, 4)
    full = ~np.isnan(b).any(axis=1)
    b[~full] = 0.0
    ix = np.clip(((b[:, 0::2] + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
    iy = np.clip(((b[:, 1::2] + 90.0) / 180.0 * n).astype(np.int64), 0, n - 1)
    return (ix[:, 0], iy[:, 0], (ix[:, 1] - ix[:, 0] + 1) * full,
            (iy[:, 1] - iy[:, 0] + 1) * full)


def _ragged(cnt: np.ndarray) -> tuple:
    """``(owner, offset)`` of a ragged expansion: ``i`` repeated ``cnt[i]``
    times, each with offsets ``0 .. cnt[i] - 1``."""
    owner = np.repeat(np.arange(len(cnt)), cnt)
    return owner, np.arange(len(owner)) - (np.cumsum(cnt) - cnt)[owner]


class _Paths(NamedTuple):
    """Every vertex path of a geometry list, flattened: polygon rings,
    line strings and points (one vertex each). Path ``r`` owns the
    vertices ``xy[vring == r]``, belongs to geometry ``geom[r]`` and part
    ``part[r]`` (a polygon, line or point); ``ring[r]`` marks polygon
    rings and ``hole[r]`` holes. A geometry's paths are contiguous, each
    polygon's shell first."""
    xy: np.ndarray
    vring: np.ndarray
    geom: np.ndarray
    part: np.ndarray
    ring: np.ndarray
    hole: np.ndarray


def _paths(geoms: list) -> _Paths:
    paths, geom, part, ring, hole = [], [], [], [], []
    parts = 0
    for k, g in enumerate(geoms):
        for comp in g._components():
            poly = isinstance(comp, model.Polygon)
            # _all_coords: a line's vertices, a point's one (none if empty)
            for j, xy in enumerate([comp.shell] + comp.holes if poly
                                   else [comp._all_coords()]):
                paths.append(np.asarray(xy, dtype=np.float64).reshape(-1, 2))
                geom.append(k)
                part.append(parts)
                ring.append(poly)
                hole.append(j > 0)
            parts += 1
    return _Paths(np.concatenate(paths or [np.empty((0, 2))]),
                  np.repeat(np.arange(len(paths)), [len(p) for p in paths]),
                  np.asarray(geom, dtype=np.int64), np.asarray(part, dtype=np.int64),
                  np.asarray(ring, dtype=bool), np.asarray(hole, dtype=bool))


# rounding margin, in grid units, of the boundary points' cells: wider
# than the float error of an interpolated crossing (a few ulps of a window
# coordinate), far narrower than a cell
_EPS = 1e-9


def _edge_cells(paths: _Paths, win: tuple, res: int) -> tuple:
    """Cells holding a point of a geometry's boundary (its polygon rings,
    lines and points), for every geometry at once: sorted unique ``(key,
    geom, ex, ey)`` int64 arrays, ``(ex, ey)`` window-local and ``key =
    base[geom] + ey * nx[geom] + ex`` (row-major within each window,
    windows laid end to end).

    Exact edge traversal over the flat arrays of every path segment: the
    cells a segment passes through are the floor-cells of the midpoints
    between its consecutive gridline crossings (crossing parameters
    computed analytically, not sampled). A segment lying exactly ON a
    gridline also marks the cells on its other side (closed squares share
    the line). A segment only touches some cells, at a vertex or where it
    crosses a gridline; a data point there lies in the floor cell of its
    coordinates, so every vertex and crossing point marks that cell too,
    with a margin of ``_EPS`` for rounding (up to four cells at a grid
    corner). Every marked cell holds a piece of the boundary, so no
    per-cell recheck is needed."""
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    ix0, iy0, nx, ny = win
    vg = paths.geom[paths.vring]
    fx = (paths.xy[:, 0] + 180.0) / w - ix0[vg]       # window grid coords
    fy = (paths.xy[:, 1] + 90.0) / h - iy0[vg]
    s = np.flatnonzero(paths.vring[:-1] == paths.vring[1:])   # segment starts
    x0, y0, x1, y1 = fx[s], fy[s], fx[s + 1], fy[s + 1]
    dx, dy = x1 - x0, y1 - y0
    # crossing parameters per segment: 0, 1 and every gridline crossing
    seg = [np.arange(len(s))] * 2
    ts = [np.zeros(len(s)), np.ones(len(s))]
    for a0, a1, d in ((x0, x1, dx), (y0, y1, dy)):
        first = np.ceil(np.minimum(a0, a1))
        cnt = np.where(d != 0.0, np.floor(np.maximum(a0, a1)) + 1.0 - first, 0.0)
        k, off = _ragged(np.maximum(cnt, 0.0).astype(np.int64))
        seg.append(k)
        ts.append((first[k] + off - a0[k]) / d[k])
    seg, t = np.concatenate(seg), np.clip(np.concatenate(ts), 0.0, 1.0)
    # boundary points: every vertex, then every crossing point
    px = np.concatenate([fx, x0[seg] + dx[seg] * t])
    py = np.concatenate([fy, y0[seg] + dy[seg] * t])
    pg = np.concatenate([vg, vg[s][seg]])
    o = np.lexsort((t, seg))
    seg, t = seg[o], t[o]
    new = np.ones(len(t), dtype=bool)
    new[1:] = (seg[1:] != seg[:-1]) | (t[1:] != t[:-1])
    seg, t = seg[new], t[new]
    pair = seg[1:] == seg[:-1]
    k = seg[:-1][pair]
    mid = (t[:-1][pair] + t[1:][pair]) / 2.0
    g = vg[s][k]
    ex = np.clip((x0[k] + dx[k] * mid).astype(np.int64), 0, nx[g] - 1)
    ey = np.clip((y0[k] + dy[k] * mid).astype(np.int64), 0, ny[g] - 1)
    ya, xa = y0[k], x0[k]
    below = (dy[k] == 0.0) & (ya == np.floor(ya)) & (ya - 1 >= 0) & (ya - 1 < ny[g])
    left = (dx[k] == 0.0) & (xa == np.floor(xa)) & (xa - 1 >= 0) & (xa - 1 < nx[g])
    gs = [g, g[below], g[left]]
    exs = [ex, ex[below], xa[left].astype(np.int64) - 1]
    eys = [ey, ya[below].astype(np.int64) - 1, ey[left]]
    # the boundary points' cells: every vertex, and every crossing point at
    # a grid corner (one elsewhere lies between two cells that midpoints
    # mark already), each coordinate -+ _EPS
    lx, hx, ly, hy = (np.floor(v + e) for v in (px, py) for e in (-_EPS, _EPS))
    m = (np.arange(len(px)) < len(fx)) | ((lx != hx) & (ly != hy))
    for cx, cy in ((lx, ly), (lx, hy), (hx, ly), (hx, hy)):
        gs.append(pg[m])
        exs.append(np.clip(cx[m], 0, nx[pg[m]] - 1).astype(np.int64))
        eys.append(np.clip(cy[m], 0, ny[pg[m]] - 1).astype(np.int64))
    g, ex, ey = np.concatenate(gs), np.concatenate(exs), np.concatenate(eys)
    base = np.cumsum(nx * ny) - nx * ny
    key = np.unique(base[g] + ey * nx[g] + ex)
    g = np.searchsorted(base, key, side="right") - 1
    local = key - base[g]
    return key, g, local % nx[g], local // nx[g]


def _gaps_inside(paths: _Paths, win: tuple, res: int, gg: np.ndarray,
                 gy: np.ndarray, gx0: np.ndarray) -> np.ndarray:
    """Whether each gap (a run of cells with no boundary point) lies inside
    its geometry, decided at its first cell's centre.

    ``points_intersect`` over every (gap, path) pair at once: crossing
    parity with ``points_in_ring``'s arithmetic, computed from the
    crossings of each polygon ring with each grid row's centre line, and
    its per-part rule (in a shell and in no hole of one polygon part).
    Lines and points have no inside. A gap cell holds no boundary point,
    so the boundary test never fires."""
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    ix0, iy0, nx, ny = win
    rows0 = np.cumsum(ny) - ny                # first global row of each window
    nrows = int(ny.sum())
    # edges of rings points_in_ring counts (three edges or more)
    live = (np.bincount(paths.vring, minlength=len(paths.geom)) >= 4) & paths.ring
    s = np.flatnonzero((paths.vring[:-1] == paths.vring[1:]) & live[paths.vring[:-1]])
    r = paths.vring[s]
    g = paths.geom[r]
    ax, ay, bx, by = paths.xy[s, 0], paths.xy[s, 1], paths.xy[s + 1, 0], paths.xy[s + 1, 1]
    # candidate rows: a margin of one row around the edge's y extent, each
    # checked below with the exact arithmetic
    fa = (ay + 90.0) / h - iy0[g]
    fb = (by + 90.0) / h - iy0[g]
    lo = np.clip(np.floor(np.minimum(fa, fb) - 0.5) - 1.0, 0, ny[g] - 1).astype(np.int64)
    hi = np.clip(np.ceil(np.maximum(fa, fb) - 0.5) + 1.0, 0, ny[g] - 1).astype(np.int64)
    e, j = _ragged(hi - lo + 1)
    j += lo[e]
    ax, ay, bx, by, ge = ax[e], ay[e], bx[e], by[e], g[e]
    y = -90.0 + (iy0[ge] + j + 0.5) * h
    cond = (ay > y) != (by > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = ax + (y - ay) * (bx - ax) / (by - ay)
    c_grp = (r[e] * nrows + rows0[ge] + j)[cond]
    xint = xint[cond]
    # one query per (gap, path of its geometry)
    ring0 = np.searchsorted(paths.geom, np.arange(len(nx)))
    q, qr = _ragged(np.bincount(paths.geom, minlength=len(nx))[gg])
    qr += ring0[gg][q]
    cx = -180.0 + (ix0[gg] + gx0 + 0.5) * w
    q_grp = qr * nrows + rows0[gg][q] + gy[q]
    # parity of the crossings right of each query: merge queries into the
    # sorted crossings of their group (after equal crossings: x < xint)
    grp = np.concatenate([c_grp, q_grp])
    val = np.concatenate([xint, cx[q]])
    is_q = np.concatenate([np.zeros(len(c_grp), dtype=bool), np.ones(len(q), dtype=bool)])
    o = np.lexsort((is_q, val, grp))
    seen = np.cumsum(~is_q[o])
    pos = np.empty(len(o), dtype=np.int64)
    pos[o] = np.arange(len(o))
    end = np.searchsorted(grp[o], q_grp, side="right") - 1
    ring_in = ((seen[end] - seen[pos[len(c_grp):]]) % 2 == 1) & live[qr]
    # per part: in its shell (the part's first ring) and in none of its
    # holes; per gap: in any part
    new = np.diff(q * len(paths.part) + paths.part[qr], prepend=-1) != 0
    shell = np.flatnonzero(new)
    in_hole = np.bincount(np.cumsum(new) - 1, weights=ring_in & paths.hole[qr],
                          minlength=len(shell)) > 0
    part_in = ring_in[shell] & ~in_hole
    return np.bincount(q[shell], weights=part_in, minlength=len(gg)) > 0


def batch_cover_spans(geoms: list, res: int) -> tuple:
    """Scanline SPAN cover of every geometry in ``geoms`` (polygons,
    lines, points and their multi forms), in one pass: O(perimeter) rows
    per polygon, not O(area) cells.

    Returns five equal-length arrays ``(pidx, iy, x0, x1, interior)``: for
    geometry ``pidx`` and grid row ``iy``, cells ``x0..x1`` (inclusive,
    global indices) either contain a piece of the boundary
    (``interior=False`` — candidates needing the exact refine) or lie
    entirely inside the polygon (``interior=True`` — the exact-cover
    shortcut; lines and points have none). Rows are ordered by geometry,
    boundary spans before interior
    ones, then by ``(iy, x0)``. A circle of D cells diameter covers O(D^2)
    cells but only O(D) spans, so the broadcast side of a PIP join shrinks
    by the cell diameter.

    Method: the exact boundary cells (:func:`_edge_cells`); per grid row
    their runs become boundary spans, and each gap between
    them is classified by ONE point-in-polygon test of its first cell's
    centre — a gap contains no boundary point, so the whole gap is
    uniformly inside or outside. Everything runs over flat arrays of all
    polygons, edges and rows; no Python loop per polygon or per edge.
    (The scanline span cover is the interval approximation of Raster
    Intervals, SIGMOD 2023.)"""
    win = _windows(geoms, res)
    ix0, iy0, nx, ny = win
    paths = _paths(geoms)
    key, g, ex, ey = _edge_cells(paths, win, res)
    # boundary spans: runs of consecutive edge cells within one row
    start = (np.diff(key, prepend=-2) != 1) | (ex == 0)
    st = np.flatnonzero(start)
    en = np.flatnonzero(np.roll(start, -1))      # a run ends before the next
    bg, by, bx0, bx1 = g[st], ey[st], ex[st], ex[en]
    # gaps: before each run (from the previous run of its row, or the
    # window's left edge) and after each row's last run (or the whole row)
    rows0 = np.cumsum(ny) - ny
    brow = rows0[bg] + by
    before = np.where(np.diff(brow, prepend=-1) == 0, np.roll(bx1, 1) + 1, 0)
    rows = np.arange(int(ny.sum()))
    rg = np.searchsorted(rows0, rows, side="right") - 1
    last = np.searchsorted(brow, rows, side="right")   # into the padded arrays
    after = np.where(np.r_[-1, brow][last] == rows, np.r_[-1, bx1][last] + 1, 0)
    gg = np.concatenate([bg, rg])
    gy = np.concatenate([by, rows - rows0[rg]])
    gx0 = np.concatenate([before, after])
    gx1 = np.concatenate([bx0 - 1, nx[rg] - 1])
    ok = gx0 <= gx1
    gg, gy, gx0, gx1 = gg[ok], gy[ok], gx0[ok], gx1[ok]
    keep = _gaps_inside(paths, win, res, gg, gy, gx0)
    gg, gy, gx0, gx1 = gg[keep], gy[keep], gx0[keep], gx1[keep]

    pidx = np.concatenate([bg, gg])
    interior = np.r_[np.zeros(len(bg), dtype=bool), np.ones(len(gg), dtype=bool)]
    iy = np.concatenate([by, gy]) + iy0[pidx]
    x0 = np.concatenate([bx0, gx0]) + ix0[pidx]
    x1 = np.concatenate([bx1, gx1]) + ix0[pidx]
    o = np.lexsort((x0, iy, interior, pidx))
    return pidx[o], iy[o], x0[o], x1[o], interior[o]


def cover_spans(geom: model.Geometry, res: int) -> tuple:
    """:func:`batch_cover_spans` of one geometry: ``(iy, x0, x1, interior)``."""
    return batch_cover_spans([geom], res)[1:]


def pick_span_resolution(boxes: list[tuple[float, float, float, float]],
                         target_rows: int = 512) -> int:
    """Finest shared resolution keeping every geometry's bbox within
    ``target_rows`` grid rows and as many grid columns: the spans grow
    with the rows, the edge cells with the rows and the columns. An empty
    geometry's NaN box is skipped."""
    res = grid.MAX_RES
    for (xmin, ymin, xmax, ymax) in boxes:
        if np.isnan([xmin, ymin, xmax, ymax]).any():
            continue
        height, width = max(ymax - ymin, 1e-12), max(xmax - xmin, 1e-12)
        while res > 0 and max(height / 180.0, width / 360.0) * (1 << res) > target_rows:
            res -= 1
    return res
