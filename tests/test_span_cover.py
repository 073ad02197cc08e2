"""Span-cover planning + rollup tile pyramid (round-3 scale fixes).

Both PIP joins cover every geometry (polygons, lines, points) with
O(perimeter) scanline spans (plans/cover.batch_cover_spans) instead of
O(area) cells, and tile_pyramid rolls coarser zooms up from the finest level
instead of exploding every input row per zoom. Both must be exactly
equivalent to the cell/explode semantics — these tests pin that equivalence
against the corner-grid cell cover and per-polygon span cover they replaced,
kept here as oracles, and pin that every boundary point's cell is covered
(reference semantics: RelationUtils.grid join candidates; DensityScan/GridSnap
pixel math).
"""

from __future__ import annotations

import math
import warnings

import numpy as np
import pandas as pd
import pytest

from hypothesis import HealthCheck, Phase, given, seed, settings
from hypothesis import strategies as st

from geomesa_spark.geom import algos, model, wkt
from geomesa_spark.plans.cover import batch_cover_spans, cover_spans, pick_span_resolution


def _circle(cx, cy, r, n=16):
    pts = [(cx + r * math.cos(2 * math.pi * i / n),
            cy + r * math.sin(2 * math.pi * i / n)) for i in range(n)]
    pts.append(pts[0])
    return "POLYGON ((" + ", ".join(f"{x:.6f} {y:.6f}" for x, y in pts) + "))"


CASES = [
    _circle(10, 20, 8),
    _circle(-170, 0, 15),          # clamps at the antimeridian edge
    "POLYGON ((0 0, 40 0, 40 40, 0 40, 0 0), (10 10, 30 10, 30 30, 10 10))",
    "POLYGON ((-60 -60, -20 -60, -20 -20, -40 -40, -60 -20, -60 -60))",
    "MULTIPOLYGON (((100 10, 120 10, 120 30, 100 30, 100 10)), "
    "((130 -20, 150 -20, 150 0, 130 0, 130 -20)))",
    "POLYGON ((0 0, 0.01 0, 0.01 0.01, 0 0.01, 0 0))",   # sub-cell polygon
]


@pytest.mark.parametrize("wkt_str", CASES)
@pytest.mark.parametrize("res", [6, 8])
def test_spans_equal_cell_cover(wkt_str, res):
    """Span cover expands to exactly the corner-grid cell cover's cell
    sets, with the same interior/boundary split."""
    g = wkt.wkt_loads(wkt_str)
    want_int, want_bnd = _corner_cell_cover(g, res)

    iy, x0, x1, interior = cover_spans(g, res)
    got_int, got_bnd = set(), set()
    for yy, a, b, it in zip(iy, x0, x1, interior):
        for xx in range(int(a), int(b) + 1):
            (got_int if it else got_bnd).add((xx, int(yy)))

    assert got_bnd == want_bnd
    # interior spans must be a superset of the corner-test interior (the
    # corner variant can under-classify corner-touching cells as neither)
    # and must never include a boundary cell or an outside cell
    assert got_int >= want_int
    assert not (got_int & want_bnd)
    extra = got_int - want_int
    for xx, yy in extra:
        n = 1 << res
        cx = -180.0 + (xx + 0.5) * 360.0 / n
        cy = -90.0 + (yy + 0.5) * 180.0 / n
        assert algos.points_intersect(np.array([cx]), np.array([cy]), g)[0]


# ---------------------------------------------------------------------------
# oracles: the per-polygon, per-edge span cover the batch cover replaced,
# and the corner-grid cell cover the span cover replaced

EPS = 1e-9    # plans/cover._EPS


def _mark(edge, px, py, keep):
    """Mark the floor cells of the points ``keep`` selects, each coordinate
    -+ EPS, clipped to the window."""
    nx, ny = edge.shape
    for ox in (-EPS, EPS):
        for oy in (-EPS, EPS):
            edge[np.clip(np.floor(px[keep] + ox), 0, nx - 1).astype(np.int64),
                 np.clip(np.floor(py[keep] + oy), 0, ny - 1).astype(np.int64)] = True


def _oracle_edge_grid(geom, res, ix0, iy0, nx, ny):
    """(nx, ny) bool grid of the cells holding a boundary point: per
    segment of a ring or line, the floor-cells of the midpoints between
    consecutive gridline crossings, both sides of a segment ON a gridline
    and the floor cells (-+ EPS) of the crossing points at grid corners;
    the floor cells (-+ EPS) of every vertex, points included."""
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    edge = np.zeros((nx, ny), dtype=bool)
    paths = []
    for comp in geom._components():
        if isinstance(comp, model.Polygon):
            paths += [comp.shell] + comp.holes
        elif isinstance(comp, model.LineString):
            paths.append(comp.coords)
        elif not comp.is_empty:
            paths.append([(comp.x, comp.y)])
    for ring in (np.asarray(p, dtype=np.float64).reshape(-1, 2) for p in paths):
        fx = (ring[:, 0] + 180.0) / w - ix0
        fy = (ring[:, 1] + 90.0) / h - iy0
        _mark(edge, fx, fy, np.ones(len(fx), dtype=bool))
        for i in range(len(ring) - 1):
            x0, y0, x1, y1 = fx[i], fy[i], fx[i + 1], fy[i + 1]
            ts = [np.array([0.0, 1.0])]
            dx, dy = x1 - x0, y1 - y0
            if dx != 0.0:
                lo, hi = (x0, x1) if x0 <= x1 else (x1, x0)
                ts.append((np.arange(np.ceil(lo), np.floor(hi) + 1.0) - x0) / dx)
            if dy != 0.0:
                lo, hi = (y0, y1) if y0 <= y1 else (y1, y0)
                ts.append((np.arange(np.ceil(lo), np.floor(hi) + 1.0) - y0) / dy)
            t = np.unique(np.clip(np.concatenate(ts), 0.0, 1.0))
            px, py = x0 + dx * t, y0 + dy * t
            _mark(edge, px, py, (np.floor(px - EPS) != np.floor(px + EPS))
                  & (np.floor(py - EPS) != np.floor(py + EPS)))
            mid = (t[:-1] + t[1:]) / 2.0
            exs = np.clip((x0 + dx * mid).astype(np.int64), 0, nx - 1)
            eys = np.clip((y0 + dy * mid).astype(np.int64), 0, ny - 1)
            edge[exs, eys] = True
            if dy == 0.0 and y0 == np.floor(y0) and 0 <= y0 - 1 < ny:
                edge[exs, np.full_like(exs, int(y0) - 1)] = True
            if dx == 0.0 and x0 == np.floor(x0) and 0 <= x0 - 1 < nx:
                edge[np.full_like(eys, int(x0) - 1), eys] = True
    return edge


def _window(geom, res):
    """``(ix0, iy0, nx, ny)``: the geometry's bbox cell window."""
    n = 1 << res
    xmin, ymin, xmax, ymax = geom.bounds
    ix0 = max(0, min(int((xmin + 180.0) / 360.0 * n), n - 1))
    ix1 = max(0, min(int((xmax + 180.0) / 360.0 * n), n - 1))
    iy0 = max(0, min(int((ymin + 90.0) / 180.0 * n), n - 1))
    iy1 = max(0, min(int((ymax + 90.0) / 180.0 * n), n - 1))
    return ix0, iy0, ix1 - ix0 + 1, iy1 - iy0 + 1


def _corner_cell_cover(geom, res):
    """The corner-grid cell cover of a polygon as ``(contained, boundary)``
    sets of global ``(ix, iy)``: boundary = the edge cells, contained =
    the cells with all four corners inside (one points_intersect call over
    the corner grid of the window) and no edge through them."""
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    ix0, iy0, nx, ny = _window(geom, res)
    cx = -180.0 + np.arange(ix0, ix0 + nx + 1, dtype=np.float64) * w
    cy = -90.0 + np.arange(iy0, iy0 + ny + 1, dtype=np.float64) * h
    gx, gy = np.meshgrid(cx, cy, indexing="ij")
    inside = algos.points_intersect(gx.ravel(), gy.ravel(), geom).reshape(nx + 1, ny + 1)
    corners_in = (inside[:-1, :-1].astype(np.int8) + inside[1:, :-1]
                  + inside[:-1, 1:] + inside[1:, 1:])
    edge = _oracle_edge_grid(geom, res, ix0, iy0, nx, ny)

    def cells(mask):
        return {(int(x) + ix0, int(y) + iy0) for x, y in zip(*np.nonzero(mask))}
    return cells((corners_in == 4) & ~edge), cells(edge)


def _oracle_spans(geom, res):
    """(iy, x0, x1, interior) of one geometry: runs of edge cells per row
    are boundary spans; each gap between them is kept as an interior span
    when points_intersect holds at its first cell's centre."""
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    ix0, iy0, nx, ny = _window(geom, res)
    edge = _oracle_edge_grid(geom, res, ix0, iy0, nx, ny).T

    def runs(mask):
        pad = np.zeros((mask.shape[0], mask.shape[1] + 2), dtype=np.int8)
        pad[:, 1:-1] = mask
        d = np.diff(pad, axis=1)
        sy, sx = np.nonzero(d == 1)
        _ey, ex = np.nonzero(d == -1)
        return sy, sx, ex - 1

    by, bx0, bx1 = runs(edge)
    gy, gx0, gx1 = runs(~edge)
    keep = algos.points_intersect(-180.0 + (ix0 + gx0 + 0.5) * w,
                                  -90.0 + (iy0 + gy + 0.5) * h, geom)
    gy, gx0, gx1 = gy[keep], gx0[keep], gx1[keep]
    return (np.concatenate([by, gy]).astype(np.int64) + iy0,
            np.concatenate([bx0, gx0]).astype(np.int64) + ix0,
            np.concatenate([bx1, gx1]).astype(np.int64) + ix0,
            np.r_[np.zeros(len(by), dtype=bool), np.ones(len(gy), dtype=bool)])


def _assert_batch_matches_oracle(geoms, res):
    pidx, *got = batch_cover_spans(geoms, res)
    for k, g in enumerate(geoms):
        want = _oracle_spans(g, res)
        for name, a, b in zip(("iy", "x0", "x1", "interior"), (v[pidx == k] for v in got), want):
            assert np.array_equal(a, b), (name, res, wkt.wkt_dumps(g)[:300])


# ---------------------------------------------------------------------------
# generated polygons: irregular stars with holes, multipolygons, boxes on
# gridlines and boxes on the world's edges

@st.composite
def _star_with_holes(draw):
    cx = draw(st.floats(-150.0, 150.0))
    cy = draw(st.floats(-60.0, 60.0))
    k = draw(st.integers(3, 12))
    radii = draw(st.lists(st.floats(8.0, 25.0), min_size=2 * k, max_size=2 * k))
    shell = [(cx + r * math.cos(math.pi * i / k) * (1.0 if i % 2 == 0 else 0.5),
              cy + r * math.sin(math.pi * i / k) * (1.0 if i % 2 == 0 else 0.5))
             for i, r in enumerate(radii)]
    holes = [[(cx + dx + s * math.cos(2 * math.pi * j / m),
               cy + dy + s * math.sin(2 * math.pi * j / m)) for j in range(m)]
             for dx, dy, s, m in draw(st.lists(st.tuples(
                 st.sampled_from([-1.5, 1.5]), st.floats(-1.0, 1.0),
                 st.floats(0.1, 1.2), st.integers(3, 6)), max_size=2, unique_by=lambda t: t[0]))]
    return model.Polygon(shell, holes)


@st.composite
def _grid_box(draw):
    """A box, maybe with a box hole, whose edges lie on gridlines of a res
    between 2 and 10, clipped to the world (so some touch +-180 / +-90)."""
    res = draw(st.integers(2, 10))
    n = 1 << res
    ix, iy = draw(st.integers(-2, n)), draw(st.integers(-2, n))
    w, h = draw(st.integers(1, 6)), draw(st.integers(1, 6))
    x = [max(-180.0, min(180.0, -180.0 + v * 360.0 / n)) for v in (ix, ix + w)]
    y = [max(-90.0, min(90.0, -90.0 + v * 180.0 / n)) for v in (iy, iy + h)]
    if x[0] == x[1] or y[0] == y[1]:
        x, y = [170.0, 180.0], [80.0, 90.0]
    box = model.box(x[0], y[0], x[1], y[1])
    if draw(st.booleans()) and w > 2 and h > 2:
        cw, ch = (x[1] - x[0]) / w, (y[1] - y[0]) / h
        return model.Polygon(box.shell, [model.box(x[0] + cw, y[0] + ch,
                                                   x[1] - cw, y[1] - ch).shell[::-1]])
    return box


_polygonal = st.one_of(_star_with_holes(), _grid_box(), st.builds(
    lambda a, b: model.MultiPolygon([a, b]), _star_with_holes(), _grid_box()))


@st.composite
def _lineal_or_puntal(draw):
    """A line, multiline, point or multipoint within 20 degrees of a
    centre."""
    cx, cy = draw(st.floats(-150.0, 150.0)), draw(st.floats(-60.0, 60.0))
    coord = st.tuples(st.floats(-20.0, 20.0), st.floats(-20.0, 20.0)).map(
        lambda p: (cx + p[0], cy + p[1]))
    kind = draw(st.sampled_from(["line", "multiline", "point", "multipoint"]))
    if kind == "point":
        return model.Point(*draw(coord))
    if kind == "multipoint":
        return model.MultiPoint([model.Point(*p) for p in
                                 draw(st.lists(coord, min_size=2, max_size=4))])
    lines = [model.LineString(draw(st.lists(coord, min_size=2, max_size=6)))
             for _ in range(1 if kind == "line" else 2)]
    return lines[0] if kind == "line" else model.MultiLineString(lines)


@seed(20261017)
@settings(max_examples=150, deadline=None, database=None,
          phases=(Phase.explicit, Phase.generate),
          suppress_health_check=list(HealthCheck))
@given(geoms=st.lists(st.one_of(_polygonal, _lineal_or_puntal()), min_size=1, max_size=4),
       res=st.sampled_from([4, 7, 10]))
def test_batch_cover_matches_per_polygon_oracle(geoms, res):
    """One batch over several geometries (polygons, lines, points) gives,
    geometry by geometry, exactly the per-geometry oracle's spans, in its
    order."""
    _assert_batch_matches_oracle(geoms, res)


@pytest.mark.parametrize("res", [4, 7, 10])
def test_batch_cover_matches_oracle_on_fixed_cases(res):
    extra = ["POLYGON ((170 80, 180 80, 180 90, 170 90, 170 80))",
             "POLYGON ((-180 -90, 180 -90, 180 90, -180 90, -180 -90))",
             "POLYGON ((-45 -22.5, 45 -22.5, 45 22.5, -45 22.5, -45 -22.5), "
             "(0 0, 11.25 0, 11.25 11.25, 0 11.25, 0 0))",
             "POLYGON ((0 0, 1 0, 0 0))", "LINESTRING (-45 0, 0 22.5, 45 22.5)",
             "MULTIPOINT ((0 0), (180 90), (-180 -90))"]
    _assert_batch_matches_oracle([wkt.wkt_loads(c) for c in CASES + extra], res)


@pytest.mark.parametrize("seed_, spans", [(1, 32660), (7919, 32656)])
def test_benchmark_polygon_span_counts(seed_, spans):
    """The pipeline benchmark's 64 circles: span count and oracle equality."""
    from perfbench.inputs import pip_polygons, ring_wkt
    geoms = [wkt.wkt_loads(ring_wkt(r)) for r in pip_polygons(seed_)]
    res = pick_span_resolution([g.bounds for g in geoms])
    assert len(batch_cover_spans(geoms, res)[0]) == spans
    _assert_batch_matches_oracle(geoms, res)


def test_spans_are_disjoint_per_polygon():
    g = wkt.wkt_loads(CASES[0])
    iy, x0, x1, _ = cover_spans(g, 8)
    seen = set()
    for yy, a, b in zip(iy, x0, x1):
        for xx in range(int(a), int(b) + 1):
            assert (xx, yy) not in seen
            seen.add((xx, yy))


def test_span_count_is_perimeter_scaled():
    """O(perimeter): refining by 2x roughly doubles spans (cells quadruple)."""
    g = wkt.wkt_loads(_circle(0, 0, 20, n=64))
    n8 = len(cover_spans(g, 8)[0])
    n10 = len(cover_spans(g, 10)[0])
    cells10 = sum(len(a) for a in _corner_cell_cover(g, 10))
    assert n10 < 6 * n8          # linear-ish growth, not 16x
    assert n10 < cells10 / 4     # far fewer spans than cells


def test_pick_span_resolution_row_budget():
    res = pick_span_resolution([(-10, -10, 10, 10)], target_rows=512)
    rows = 20.0 / (180.0 / (1 << res))
    assert rows <= 512
    assert 20.0 / (180.0 / (1 << (res + 1))) > 512


@pytest.mark.parametrize("wkt_str", ["POLYGON ((-170 0, 170 0, 170 0.001, -170 0.001, -170 0))",
                                     "LINESTRING (0 0, 20 0)"])
def test_pick_span_resolution_caps_columns(wkt_str):
    """A flat, wide polygon and a horizontal line: the column count binds,
    and the cover stays within the column budget (one or two grid rows of
    boundary spans)."""
    g = wkt.wkt_loads(wkt_str)
    xmin, _ymin, xmax, _ymax = g.bounds
    res = pick_span_resolution([g.bounds])
    assert (xmax - xmin) / (360.0 / (1 << res)) <= 512
    assert (xmax - xmin) / (360.0 / (1 << (res + 1))) > 512
    iy, x0, x1, interior = cover_spans(g, res)
    assert x1.max() - x0.min() + 1 <= 513
    assert len(set(iy.tolist())) <= 2 and not interior.any()


# ---------------------------------------------------------------------------
# every boundary point's cell is covered

def _grid_coord():
    """Grid coordinates (in cells) of a vertex: mostly on gridlines,
    sometimes halfway between."""
    return st.one_of(st.integers(0, 8).map(float), st.integers(0, 16).map(lambda a: a / 2))


@st.composite
def _snapped(draw):
    """``(geometry, res)``: a triangle, quadrilateral, box with a triangle
    hole, line, point or multi form of one of them, with vertices on (or
    halfway between) the gridlines of ``res`` inside an 8 x 8 cell block."""
    res = draw(st.sampled_from([4, 8, 12]))
    n = 1 << res
    bx, by = draw(st.integers(0, n - 8)), draw(st.integers(0, n - 8))
    vertex = st.tuples(_grid_coord(), _grid_coord()).map(
        lambda p: (-180.0 + (bx + p[0]) * 360.0 / n, -90.0 + (by + p[1]) * 180.0 / n))

    def one(kind):
        if kind in ("triangle", "quad"):
            return model.Polygon(draw(st.lists(vertex, min_size=3 if kind == "triangle" else 4,
                                               max_size=3 if kind == "triangle" else 4)))
        if kind == "holed_box":
            x0, y0 = -180.0 + bx * 360.0 / n, -90.0 + by * 180.0 / n
            x1, y1 = x0 + 8 * 360.0 / n, y0 + 8 * 180.0 / n
            hole = [(x0 + (x1 - x0) * a, y0 + (y1 - y0) * b)
                    for a, b in ((0.25, 0.25), (0.75, 0.25), (0.5, 0.75))]
            return model.Polygon(model.box(x0, y0, x1, y1).shell, [hole])
        if kind == "line":
            return model.LineString(draw(st.lists(vertex, min_size=2, max_size=5)))
        return model.Point(*draw(vertex))

    kind = draw(st.sampled_from(["triangle", "quad", "holed_box", "line", "point"]))
    if not draw(st.booleans()):
        return one(kind), res
    parts = [one(kind), one(kind)]
    if kind in ("triangle", "quad", "holed_box"):
        return model.MultiPolygon(parts), res
    return (model.MultiLineString(parts) if kind == "line" else model.MultiPoint(parts)), res


def _boundary_probes(g, res):
    """Every vertex and grid corner near ``g``, and along every segment its
    gridline crossings, midpoint and quarter points."""
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    ix0, iy0, nx, ny = _window(g, res)
    gx, gy = np.meshgrid(-180.0 + np.arange(ix0 - 1, ix0 + nx + 2) * w,
                         -90.0 + np.arange(iy0 - 1, iy0 + ny + 2) * h)
    pts = list(zip(gx.ravel(), gy.ravel()))
    for c in g._components():
        if isinstance(c, model.Point):
            pts.append((c.x, c.y))
            continue
        for path in ([c.coords] if isinstance(c, model.LineString) else [c.shell] + c.holes):
            pts += list(map(tuple, path))
            for (ax, ay), (bx, by) in zip(path[:-1], path[1:]):
                pts += [(ax + t * (bx - ax), ay + t * (by - ay)) for t in (0.25, 0.5, 0.75)]
                if bx != ax:
                    for x in -180.0 + np.arange(ix0, ix0 + nx + 1) * w:
                        if min(ax, bx) <= x <= max(ax, bx):
                            pts.append((x, ay + (x - ax) * (by - ay) / (bx - ax)))
                if by != ay:
                    for y in -90.0 + np.arange(iy0, iy0 + ny + 1) * h:
                        if min(ay, by) <= y <= max(ay, by):
                            pts.append((ax + (y - ay) * (bx - ax) / (by - ay), y))
    a = np.array(pts, dtype=np.float64)
    return a[:, 0], a[:, 1]


@seed(20261018)
@settings(max_examples=300, deadline=None, database=None,
          phases=(Phase.explicit, Phase.generate),
          suppress_health_check=list(HealthCheck))
@given(case=_snapped())
def test_cover_holds_every_point_the_geometry_intersects(case):
    """Every probe point that points_intersect accepts lies in a span of
    its geometry: the cell a point is given (floor, clamped to the grid)
    is covered, for points on vertices, on gridline crossings and at grid
    corners included."""
    g, res = case
    n = 1 << res
    x, y = _boundary_probes(g, res)
    hit = algos.points_intersect(x, y, g)
    ix = np.clip(np.floor((x[hit] + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((y[hit] + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    siy, x0, x1, _interior = cover_spans(g, res)
    covered = ((iy[:, None] == siy) & (ix[:, None] >= x0) & (ix[:, None] <= x1)).any(axis=1)
    assert covered.all(), (res, wkt.wkt_dumps(g),
                           list(zip(x[hit][~covered], y[hit][~covered]))[:5])


EMPTY_TYPES = ["POINT EMPTY", "POLYGON EMPTY", "LINESTRING EMPTY"]


@pytest.mark.parametrize("empty", EMPTY_TYPES)
def test_empty_geometry_gets_no_spans(empty):
    """A geometry with no coordinates (NaN bounds) gets no spans, alone or
    beside a polygon, whose spans and resolution do not change; its NaN
    bounds are never cast (numpy warnings raise)."""
    e, real = wkt.wkt_loads(empty), wkt.wkt_loads(CASES[0])
    res = pick_span_resolution([real.bounds])
    alone = batch_cover_spans([real], res)
    with np.errstate(all="raise"), warnings.catch_warnings():
        warnings.simplefilter("error")
        assert len(batch_cover_spans([e], res)[0]) == 0
        assert pick_span_resolution([e.bounds, real.bounds]) == res
        for geoms, k in (([e, real], 1), ([real, e], 0), ([e, real, e], 1)):
            got = batch_cover_spans(geoms, res)
            assert (got[0] == k).all()
            for a, b in zip(got[1:], alone[1:]):
                np.testing.assert_array_equal(a, b)


@pytest.mark.parametrize("empty", EMPTY_TYPES)
def test_empty_geometry_joins_no_rows(spark, empty):
    """Through both joins an empty geometry matches no row, alone or beside
    a polygon, and the polygon's rows do not change."""
    from geomesa_spark.geom.wkb import wkb_dumps
    from geomesa_spark.operators.pip_join import pip_join_broadcast, pip_join_smj
    from geomesa_spark.sources.arrow_io import local_table

    real = CASES[0]
    pts = spark.range(400).selectExpr("id", "(id % 20) * 1.5e0 AS lon",
                                      "(id div 20) * 2e0 + 5e0 AS lat")

    def broadcast(geoms):
        return pip_join_broadcast(pts, geoms)

    def smj(geoms):
        polys = local_table(spark, {"poly_id": [k for k, _ in geoms],
                                    "geom": [wkb_dumps(wkt.wkt_loads(w)) for _, w in geoms]},
                            "poly_id long, geom binary")
        return pip_join_smj(pts, polys, res=8)

    for join in (broadcast, smj):
        want = sorted((r.poly_id, r.id) for r in
                      join([(1, real)]).select("poly_id", "id").collect())
        assert want
        assert join([(2, empty)]).count() == 0
        for geoms in ([(2, empty), (1, real)], [(1, real), (2, empty)]):
            got = sorted((r.poly_id, r.id) for r in
                         join(geoms).select("poly_id", "id").collect())
            assert got == want, join


def test_pip_join_broadcast_spans_match_bruteforce(spark):
    """End-to-end: span-join results == vectorized brute force, including a
    holed polygon, a concave polygon and a multipolygon."""
    from geomesa_spark.operators.pip_join import pip_join_broadcast
    polys = [("c", _circle(12, -33, 9)), ("hole", CASES[2]),
             ("concave", CASES[3]), ("multi", CASES[4])]
    rng = np.random.RandomState(11)
    n = 30_000
    lons = rng.uniform(-180, 180, n)
    lats = rng.uniform(-90, 90, n)
    pdf = pd.DataFrame({"id": np.arange(n), "lon": lons, "lat": lats})
    got = (pip_join_broadcast(spark.createDataFrame(pdf), polys)
           .select("id", "poly_id").toPandas())
    got_set = set(zip(got["id"], got["poly_id"]))
    want = set()
    for pid, w in polys:
        m = algos.points_intersect(lons, lats, wkt.wkt_loads(w))
        want.update((i, pid) for i in np.nonzero(m)[0])
    assert got_set == want


BOUNDARY_CASES = {
    # a vertex on a vertical gridline
    "vertex_on_gridline": ("POLYGON ((-10 -1, 0 0.5, -10 1, -10 -1))", 0.0, 0.5),
    # the hypotenuse crosses a grid corner, the inside to its lower left
    "edge_through_corner": ("POLYGON ((-10 -10, -10 10, 10 -10, -10 -10))", 0.0, 0.0),
    # the top-right corner of a gridline-aligned box
    "box_corner": ("POLYGON ((-45 -22.5, 0 -22.5, 0 0, -45 0, -45 -22.5))", 0.0, 0.0),
}


@pytest.mark.parametrize("case", sorted(BOUNDARY_CASES))
def test_boundary_points_on_gridlines_join(spark, case):
    """A point on the boundary, lying exactly on a gridline, matches
    through both joins (as SpatialQuery finds it): its cell is one the
    boundary only touches, at a vertex or a crossing."""
    from geomesa_spark.geom.wkb import wkb_dumps
    from geomesa_spark.operators.pip_join import pip_join_broadcast, pip_join_smj
    from geomesa_spark.plans.query import SpatialQuery
    from geomesa_spark.sources.arrow_io import local_table

    text, lon, lat = BOUNDARY_CASES[case]
    pts = local_table(spark, {"id": [7], "lon": [lon], "lat": [lat]},
                      "id int, lon double, lat double")
    polys = local_table(spark, {"poly_id": [1], "geom": [wkb_dumps(wkt.wkt_loads(text))]},
                        "poly_id long, geom binary")
    assert SpatialQuery(geometry=text).apply(pts).count() == 1
    for name, out in (("broadcast", pip_join_broadcast(pts, [(1, text)])),
                      ("broadcast res 8", pip_join_broadcast(pts, [(1, text)], res=8)),
                      ("smj res 8", pip_join_smj(pts, polys, res=8)),
                      ("smj res 12", pip_join_smj(pts, polys, res=12))):
        assert [(r.poly_id, r.id) for r in out.select("poly_id", "id").collect()] == [(1, 7)], name


def test_tile_pyramid_rollup_matches_naive(spark):
    """Rollup levels == per-zoom recompute from the raw rows (keys exactly,
    weights to 1e-9), including the +90/+180 clamped edge."""
    from geomesa_spark.operators.tiling import tile_pyramid
    rng = np.random.RandomState(3)
    n = 20_000
    pdf = pd.DataFrame({"lon": rng.uniform(-180, 180, n),
                        "lat": rng.uniform(-90, 90, n),
                        "w": rng.uniform(0.0, 2.0, n)})
    pdf.loc[0, ["lon", "lat"]] = [180.0, 90.0]
    pdf.loc[1, ["lon", "lat"]] = [-180.0, -90.0]
    got = tile_pyramid(spark.createDataFrame(pdf), [1, 3, 6], tile_px=64,
                       weight="w").toPandas()
    lon, lat, w = (pdf[c].to_numpy() for c in ("lon", "lat", "w"))
    acc: dict = {}
    for z in (1, 3, 6):
        npx = (1 << z) * 64
        gx = np.minimum(np.floor((lon + 180.0) / 360.0 * npx), npx - 1).astype(np.int64)
        gy = np.minimum(np.floor((lat + 90.0) / 180.0 * npx), npx - 1).astype(np.int64)
        for i in range(n):
            k = (z, gx[i] // 64, gy[i] // 64, gx[i] % 64, gy[i] % 64)
            s = acc.setdefault(k, [0.0, 0])
            s[0] += w[i]
            s[1] += 1
    gm = {(r.zoom, r.tx, r.ty, r.px, r.py): (r.weight, r.cnt)
          for r in got.itertuples()}
    assert set(gm) == set(acc)
    for k, (ws, c) in acc.items():
        assert gm[k][1] == c
        assert abs(gm[k][0] - ws) < 1e-9


def test_tile_pyramid_single_zoom_and_dupes(spark):
    from geomesa_spark.operators.tiling import tile_pyramid
    df = spark.createDataFrame(
        pd.DataFrame({"lon": [0.0, 0.0, 100.0], "lat": [0.0, 0.0, 45.0]}))
    out = tile_pyramid(df, [2, 2], tile_px=256).toPandas()
    assert (out["zoom"] == 2).all()
    assert int(out["cnt"].sum()) == 3


def test_tile_pyramid_is_one_lineage_without_cache(spark):
    """The headline pipeline's pyramid reads its upstream once: no cache
    registered by building or running it, no InMemoryTableScan and no
    Union in the executed plan, the PIP join's two broadcast hash joins
    appear once each, and the pyramid's two aggregations shuffle once
    each."""
    from geomesa_spark.entry_queries import PIP_POLYGONS
    from geomesa_spark.operators.pip_join import pip_join_broadcast
    from geomesa_spark.operators.tiling import tile_pyramid
    from geomesa_spark.sources.images import synthetic_images_geo

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()       # what earlier tests left behind
    tiles = tile_pyramid(pip_join_broadcast(synthetic_images_geo(spark, 20000),
                                            PIP_POLYGONS), [0, 2, 4])
    assert cache.isEmpty()
    assert tiles.count() > 0
    assert cache.isEmpty()
    plan = tiles._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan and "Union" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_render_tile_images_roundtrip(spark):
    """Tile blobs decode back to the exact floor-scaled weights (lossless
    fmt), north-up orientation, one blob per tile; building the grouped map
    raises no eval-type warning."""
    import numpy as np
    import pandas as pd

    from geomesa_spark.operators.tiling import (render_tile_images,
                                                tile_pyramid)
    from geomesa_spark.sources.images import decode_image

    rng = np.random.RandomState(5)
    pdf = pd.DataFrame({"lon": rng.uniform(-180, 180, 5000),
                        "lat": rng.uniform(-90, 90, 5000)})
    tiles = tile_pyramid(spark.createDataFrame(pdf), [2], tile_px=64)
    with warnings.catch_warnings():
        warnings.filterwarnings("error", "Cannot infer the eval type")
        rendered = render_tile_images(tiles, tile_px=64, value_col="cnt")
    blobs = rendered.collect()
    want = tiles.toPandas()
    by_tile = {(r.zoom, r.tx, r.ty): r for r in blobs}
    assert len(blobs) == len(want.groupby(["zoom", "tx", "ty"]))
    for (z, tx, ty), grp in want.groupby(["zoom", "tx", "ty"]):
        r = by_tile[(z, tx, ty)]
        px = decode_image(bytes(r.bytes))
        assert px.shape == (64, 64, 3)
        arr = np.zeros((64, 64))
        arr[63 - grp["py"].to_numpy(), grp["px"].to_numpy()] = \
            grp["cnt"].to_numpy()
        vmax = arr.max()
        expect = np.floor(arr / vmax * 255.0).astype(np.uint8)
        assert (px[:, :, 0] == expect).all()
        assert (px[:, :, 0] == px[:, :, 1]).all()
        assert abs(r.vmax - vmax) < 1e-12


def test_span_join_is_broadcast_hash_join(spark):
    """Plan shape, the same for all polygons and for a set with lines and
    points: the span cover joins as a BroadcastHashJoin on the grid row
    (equi-key) with the x-range check as a join filter — NOT a
    BroadcastNestedLoopJoin, which would probe every span per point — and
    no Python node."""
    import re

    from geomesa_spark.operators.pip_join import pip_join_broadcast
    pdf = pd.DataFrame({"lon": [10.0, 20.0, 3.0], "lat": [5.0, -5.0, 4.0]})
    polys = [("c", _circle(10, 5, 8))]
    mixed = polys + [("l", "LINESTRING (0 0, 10 10, 20 0)"), ("p", "POINT (3 4)"),
                     ("mp", "MULTIPOINT ((1 1), (40 40))")]
    span_join = re.compile(r"BroadcastHashJoin \[__iy#\d+L\], \[__siy#\d+L\], Inner, "
                           r"BuildRight, \(\(__ix#\d+L >= __x0#\d+L\) AND "
                           r"\(__ix#\d+L <= __x1#\d+L\)\)")
    for geoms in (polys, mixed):
        out = pip_join_broadcast(spark.createDataFrame(pdf), geoms)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert span_join.search(plan), plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert not [n for n in ("ArrowEvalPython", "BatchEvalPython") if n in plan], plan


def _local_relation_rows(df) -> list:
    """Row count of every LocalRelation in ``df``'s optimized plan."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    nodes = [leaves.apply(i) for i in range(leaves.size())]
    return [n.data().size() for n in nodes
            if n.getClass().getSimpleName() == "LocalRelation"]


def test_pip_join_driver_table_has_one_row_per_polygon(spark):
    """Plan size: both broadcast sides read one driver table of one row per
    geometry (spans in an array column, inlined on the build side), for
    polygons, a set with a line and a point, and keep_geom — no
    LocalRelation grows with the cover."""
    from geomesa_spark.geom.wkb import wkb_dumps
    from geomesa_spark.operators.pip_join import pip_join_broadcast
    from perfbench.inputs import pip_polygons, ring_wkt

    polys = [(k, ring_wkt(r)) for k, r in enumerate(pip_polygons(1))]
    mixed = polys[:8] + [(64, "LINESTRING (0 0, 10 10)"), (65, "POINT (3 4)")]
    pts = spark.range(200).selectExpr("id", "(id % 20) * 9e0 - 90e0 AS lon",
                                      "(id div 20) * 9e0 - 45e0 AS lat")
    assert _local_relation_rows(pip_join_broadcast(pts, polys)) == [64, 64]
    for geoms in (polys, mixed):
        out = pip_join_broadcast(pts, geoms, keep_geom=True)
        assert _local_relation_rows(out) == [len(geoms)] * 2
        wkb = {k: wkb_dumps(wkt.wkt_loads(w)) for k, w in geoms}
        got = out.select("poly_id", "__geom").collect()
        assert got and all(bytes(r["__geom"]) == wkb[r["poly_id"]] for r in got)

