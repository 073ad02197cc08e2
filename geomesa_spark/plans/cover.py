"""Driver-side cover planning: query geometry -> cell ranges -> predicates.

This is the Spark analog of the reference's range planning
(Z3IndexKeySpace.getRanges -> getRangeBytes, Z3IndexKeySpace.scala:161-238):
instead of byte ranges scanned by tablet servers, we emit

* Catalyst range predicates on the ``z2``/``cell`` columns (Iceberg/parquet
  min-max file skipping + partition pruning do the pruning), and
* exact cell-id lists for join keys (each point belongs to exactly ONE cell,
  so cell-cover joins need no boundary dedupe on the point side).

Budgets follow the reference: <= 2000 ranges/query, BFS recursion 7
(conf/QueryProperties.scala:23, ZN.scala:293).
"""

from __future__ import annotations

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


def bbox_cell_cover(xmin: float, ymin: float, xmax: float, ymax: float,
                    res: int) -> list[int]:
    return grid.cover_bbox(xmin, ymin, xmax, ymax, res)


def geometry_cell_cover(geom: model.Geometry, res: int) -> list[int]:
    """Cells whose square intersects the geometry (exact test per cell —
    covers of polygons drop fully-outside cells, unlike a plain bbox cover)."""
    if isinstance(geom, (model.Polygon, model.MultiPolygon)):
        contained, boundary = classify_cell_cover(geom, res)
        return sorted(contained + boundary)
    xmin, ymin, xmax, ymax = geom.bounds
    return grid.cover_bbox(xmin, ymin, xmax, ymax, res)


def _poly_rings(geom: model.Geometry):
    import numpy as np
    for comp in geom._components():
        if isinstance(comp, model.Polygon):
            yield np.asarray(comp.shell, dtype=np.float64)
            for h in comp.holes:
                yield np.asarray(h, dtype=np.float64)


def classify_cell_cover(geom: model.Geometry, res: int
                        ) -> tuple[list[int], list[int]]:
    """Vectorized polygon cover, split into (contained, boundary) z cells.

    Thin wrapper over :func:`classify_cell_cover_xy` that converts the
    (ix, iy) arrays to z-order cell ids (the layout/range-scan key).  The
    broadcast join path uses the xy variant directly — it keys on row-major
    indices and must not pay a per-cell Python bit-spread.
    """
    contained_xy, boundary_xy = classify_cell_cover_xy(geom, res)
    contained = [grid.from_xy(res, int(ex), int(ey))
                 for ex, ey in contained_xy]
    boundary = [grid.from_xy(res, int(ex), int(ey))
                for ex, ey in boundary_xy]
    return contained, boundary


def classify_cell_cover_xy(geom: model.Geometry, res: int
                           ) -> "tuple":
    """Vectorized polygon cover, split into (contained, boundary) cells,
    returned as two (k, 2) int64 arrays of global (ix, iy) grid indices.

    The split drives the exact-cover shortcut: contained cells skip the
    residual refine entirely (Z3IndexKeySpace.useFullFilter:240-254 analog).

    Method (exact, no sampling):
    1. one vectorized point-in-polygon call for the full corner grid of the
       polygon's bbox cells;
    2. supercover rasterization of every ring edge marks cells the boundary
       passes through;
    3. contained  = all 4 corners inside AND no boundary edge in the cell;
       boundary   = edge-marked OR (some corner inside but not all).
    A cell with no corners inside and no edge through it is either fully
    outside or fully inside; the corner test on its lower-left corner
    already decided which (fully-inside with no corner inside is impossible
    for a simple ring: the cell boundary would have to cross an edge).
    """
    import numpy as np

    from geomesa_spark.geom import algos

    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    ix0, iy0, nx, ny = _bbox_cells(geom, res)

    # 1. corner grid: (nx+1) x (ny+1) points, one vectorized PIP call
    cx = -180.0 + (np.arange(ix0, ix0 + nx + 1, dtype=np.float64)) * w
    cy = -90.0 + (np.arange(iy0, iy0 + ny + 1, dtype=np.float64)) * h
    gx, gy = np.meshgrid(cx, cy, indexing="ij")
    inside = algos.points_intersect(gx.ravel(), gy.ravel(), geom) \
        .reshape(nx + 1, ny + 1)

    corners_in = (inside[:-1, :-1].astype(np.int8) + inside[1:, :-1]
                  + inside[:-1, 1:] + inside[1:, 1:])          # (nx, ny)

    edge = _edge_grid(geom, res, ix0, iy0, nx, ny)

    contained_m = (corners_in == 4) & ~edge
    cxs, cys = np.nonzero(contained_m)
    bxs, bys = np.nonzero(edge)
    contained_xy = np.stack([cxs + ix0, cys + iy0], axis=1).astype(np.int64)
    boundary_xy = np.stack([bxs + ix0, bys + iy0], axis=1).astype(np.int64)
    return contained_xy, boundary_xy


def _bbox_cells(geom: model.Geometry, res: int) -> tuple[int, int, int, int]:
    """(ix0, iy0, nx, ny) cell window of the geometry's bbox, clamped."""
    n = 1 << res
    xmin, ymin, xmax, ymax = geom.bounds
    ix0 = max(0, min(int((xmin + 180.0) / 360.0 * n), n - 1))
    ix1 = max(0, min(int((xmax + 180.0) / 360.0 * n), n - 1))
    iy0 = max(0, min(int((ymin + 90.0) / 180.0 * n), n - 1))
    iy1 = max(0, min(int((ymax + 90.0) / 180.0 * n), n - 1))
    return ix0, iy0, ix1 - ix0 + 1, iy1 - iy0 + 1


def _edge_grid(geom: model.Geometry, res: int, ix0: int, iy0: int,
               nx: int, ny: int) -> "np.ndarray":
    """(nx, ny) bool grid marking cells the polygon BOUNDARY passes through.

    Exact edge traversal: for each ring segment, the grid cells it passes
    through are the floor-cells of midpoints between consecutive gridline
    crossings (crossing parameters computed analytically, not sampled).
    Every such cell genuinely intersects the geometry (it contains a piece
    of the boundary), so no per-cell recheck is needed.
    """
    import numpy as np

    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    edge = np.zeros((nx, ny), dtype=bool)
    for ring in _poly_rings(geom):
        fx = (ring[:, 0] + 180.0) / w - ix0     # grid coords
        fy = (ring[:, 1] + 90.0) / h - iy0
        for i in range(len(ring) - 1):
            x0, y0, x1, y1 = fx[i], fy[i], fx[i + 1], fy[i + 1]
            ts = [np.array([0.0, 1.0])]
            dx, dy = x1 - x0, y1 - y0
            if dx != 0.0:
                lo, hi = (x0, x1) if x0 <= x1 else (x1, x0)
                ks = np.arange(np.ceil(lo), np.floor(hi) + 1.0)
                ts.append((ks - x0) / dx)
            if dy != 0.0:
                lo, hi = (y0, y1) if y0 <= y1 else (y1, y0)
                ks = np.arange(np.ceil(lo), np.floor(hi) + 1.0)
                ts.append((ks - y0) / dy)
            t = np.unique(np.clip(np.concatenate(ts), 0.0, 1.0))
            mid = (t[:-1] + t[1:]) / 2.0
            exs = np.clip((x0 + dx * mid).astype(np.int64), 0, nx - 1)
            eys = np.clip((y0 + dy * mid).astype(np.int64), 0, ny - 1)
            edge[exs, eys] = True
            # degenerate: segment lying exactly ON a gridline touches the
            # cells on BOTH sides (closed squares share the line)
            if dy == 0.0 and y0 == np.floor(y0) and 0 <= y0 - 1 < ny:
                edge[exs, np.full_like(exs, int(y0) - 1)] = True
            if dx == 0.0 and x0 == np.floor(x0) and 0 <= x0 - 1 < nx:
                edge[np.full_like(eys, int(x0) - 1), eys] = True
    return edge


def cover_spans(geom: model.Geometry, res: int) -> "tuple":
    """Scanline SPAN cover of a polygon: O(perimeter) rows, not O(area) cells.

    Returns four equal-length int64/bool arrays ``(iy, x0, x1, interior)``:
    for grid row ``iy``, cells ``x0..x1`` (inclusive, global indices) either
    contain a piece of the boundary (``interior=False`` — candidates needing
    the exact refine) or lie entirely inside the polygon (``interior=True`` —
    the exact-cover shortcut).  A circle of D cells diameter covers O(D^2)
    cells but only O(D) spans, so the broadcast side of a PIP join shrinks by
    the cell diameter — this is what keeps the driver-side planning + the
    broadcast exchange OUT of the Amdahl serial term at cluster scale.

    Method: exact supercover edge grid (shared with
    :func:`classify_cell_cover_xy`), then per grid row the edge-cell runs
    become boundary spans and each gap between them is classified by ONE
    point-in-polygon test of its first cell's center — a gap contains no
    boundary point, so the whole gap is uniformly inside or outside.
    """
    import numpy as np

    from geomesa_spark.geom import algos

    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    ix0, iy0, nx, ny = _bbox_cells(geom, res)
    edge = _edge_grid(geom, res, ix0, iy0, nx, ny).T     # (ny, nx)

    def _runs(mask: "np.ndarray") -> tuple:
        """Row-major run extraction: (row, start, end_inclusive) arrays."""
        pad = np.zeros((mask.shape[0], mask.shape[1] + 2), dtype=np.int8)
        pad[:, 1:-1] = mask
        d = np.diff(pad, axis=1)
        sy, sx = np.nonzero(d == 1)
        ey, ex = np.nonzero(d == -1)
        # nonzero is row-major: starts/ends pair up in order within each row
        return sy, sx, ex - 1

    by, bx0, bx1 = _runs(edge)
    gy, gx0, gx1 = _runs(~edge)
    if len(gy):
        # one batched PIP call classifies every gap by its first cell center
        cxs = -180.0 + (ix0 + gx0 + 0.5) * w
        cys = -90.0 + (iy0 + gy + 0.5) * h
        keep = algos.points_intersect(cxs, cys, geom)
        gy, gx0, gx1 = gy[keep], gx0[keep], gx1[keep]

    iy = np.concatenate([by, gy]).astype(np.int64) + iy0
    x0 = np.concatenate([bx0, gx0]).astype(np.int64) + ix0
    x1 = np.concatenate([bx1, gx1]).astype(np.int64) + ix0
    interior = np.concatenate([np.zeros(len(by), dtype=bool),
                               np.ones(len(gy), dtype=bool)])
    return iy, x0, x1, interior


def pick_span_resolution(boxes: list[tuple[float, float, float, float]],
                         target_rows: int = 512) -> int:
    """Finest shared resolution keeping every polygon's bbox under
    ``target_rows`` grid rows — the span-cover analog of
    :func:`pick_cover_resolution` (spans scale with the row count, cells
    with its square)."""
    res = grid.MAX_RES
    for (_xmin, ymin, _xmax, ymax) in boxes:
        height = max(ymax - ymin, 1e-12)
        while res > 0 and height / (180.0 / (1 << res)) > target_rows:
            res -= 1
    return res


def pick_cover_resolution(boxes: list[tuple[float, float, float, float]],
                          target_cells: int = 256) -> int:
    """One shared resolution for a polygon batch: finest resolution keeping
    every polygon's cover under the budget."""
    res = grid.MAX_RES
    for b in boxes:
        res = min(res, grid.pick_resolution(*b, target_cells=target_cells))
    return res
