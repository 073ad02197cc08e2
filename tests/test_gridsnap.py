"""GridSnapTest.scala port — pixel-assignment (grid snap) parity.

The reference snaps points onto density/raster grids with
GridSnap.scala:23 (floor((x - xmin) / dx), upper edge clamped into the
last cell, out-of-bounds -> -1 i.e. never rendered); DensityScan and
RenderingGrid build every heatmap pixel through it.  Our engine inlines
the same math into operators/tiling.density as Catalyst expressions, so
these ports drive the PUBLIC operator on the reference test's fixtures
(GridSnapTest.scala:29-121) and assert the reference's expected cells.

Cell centers are reconstructed from the returned (px, py) as
xmin + dx * (px + 0.5), the same formula as GridSnap.x/y (xOffset + dx*i).
"""

from __future__ import annotations

import math

import pandas as pd

from geomesa_spark.operators.tiling import density


def _snap_px(spark, pts, envelope, w, h):
    """(px, py) per input point via the public density operator, tagged
    so each fixture point maps back to its own pixel (weight=point id)."""
    df = spark.createDataFrame(
        [(float(x), float(y), i) for i, (x, y) in enumerate(pts)],
        "lon double, lat double, pid int")
    # one point per pid -> sum(pid) groups to the point itself
    out = (density(df, envelope, w, h, weight="CAST(pid AS DOUBLE)")
           .collect())
    by_pid = {}
    for r in out:
        # weight holds the pid sum; a collision would mean two fixture
        # points snapped to one cell — fixtures below are chosen 1:1
        by_pid[int(r.weight)] = (r.px, r.py)
    return by_pid


def test_snap_to_middle_of_grid_cell(spark):
    """GridSnapTest 'snap to the middle of a grid cell': bbox
    (0,4)x(-4,0), 4x4 grid; every fixture point lands in the reference's
    expected cell (asserted via the reconstructed cell center)."""
    env = (0.0, -4.0, 4.0, 0.0)
    # (point, expected snap center) straight from the reference test
    cases = [
        ((0.0, -4.0), (0.5, -3.5)),
        ((0.1, -3.9), (0.5, -3.5)),
        ((0.9, -3.1), (0.5, -3.5)),
        ((1.0, -3.0), (1.5, -2.5)),
        ((1.1, -2.9), (1.5, -2.5)),
        ((1.9, -2.1), (1.5, -2.5)),
        ((3.0, -1.0), (3.5, -0.5)),
        ((3.1, -0.9), (3.5, -0.5)),
        ((3.9, -0.1), (3.5, -0.5)),
        ((4.0, 0.0), (3.5, -0.5)),   # max edge -> last cell, not dropped
    ]
    dx = (env[2] - env[0]) / 4
    dy = (env[3] - env[1]) / 4
    # distinct points share expected cells -> snap one at a time (the
    # pid-sum trick needs unique cells per batch)
    for (x, y), (cx, cy) in cases:
        got = _snap_px(spark, [(x, y)], env, 4, 4)
        px, py = got[0]
        assert env[0] + dx * (px + 0.5) == cx, (x, y)
        assert env[1] + dy * (py + 0.5) == cy, (x, y)


def test_min_max_edges_clamp_into_last_cell(spark):
    """GridSnapTest 'handle min/max': i(0)=0, j(0)=0, i(10)=99, j(10)=9
    on a 100x10 grid over (0,10)x(0,10)."""
    env = (0.0, 0.0, 10.0, 10.0)
    got = _snap_px(spark, [(0.0, 0.0)], env, 100, 10)
    assert got[0] == (0, 0)
    got = _snap_px(spark, [(10.0, 10.0)], env, 100, 10)
    assert got[0] == (99, 9)


def test_out_of_bounds_points_never_render(spark):
    """GridSnapTest 'handle out of bounds points': i(-1)=j(-1)=i(11)=
    j(11)=-1 — the reference's -1 means 'no cell'; the engine expresses
    the same semantics by dropping the row before snapping
    (DensityScan renders only features hitting the grid)."""
    env = (0.0, 0.0, 10.0, 10.0)
    pts = [(-1.0, 5.0), (5.0, -1.0), (11.0, 5.0), (5.0, 11.0)]
    df = spark.createDataFrame([(float(x), float(y)) for x, y in pts],
                               "lon double, lat double")
    assert density(df, env, 100, 10).count() == 0


def test_no_floating_point_errors(spark):
    """GridSnapTest 'not have floating point errors': for every cell of a
    100x100 grid over (0,10)x(0,10), snapping the cell's own CENTER
    (x(i) = xmin + dx/2 + dx*i, float64 like Scala's Double) returns the
    same cell — x(i(x(i))) == x(i) round-trip stability."""
    env = (0.0, 0.0, 10.0, 10.0)
    w = h = 100
    dx = (env[2] - env[0]) / w
    dy = (env[3] - env[1]) / h
    centers = [(env[0] + dx / 2 + dx * i, env[1] + dy / 2 + dy * i)
               for i in range(w)]
    df = spark.createDataFrame(
        [(x, y, i) for i, (x, y) in enumerate(centers)],
        "lon double, lat double, pid int")
    got = (density(df, env, w, h, weight="CAST(pid AS DOUBLE)")
           .collect())
    assert len(got) == w  # no two centers merged
    for r in got:
        assert (r.px, r.py) == (int(r.weight), int(r.weight))


# ---------------------------------------------------------------------------
# bresenhamLine ports (GridSnap.scala:95-130, GridSnapTest.scala:82-103)


def _scalar_bresenham(x0, y0, x1, y1):
    """Literal scalar transcription of the reference's walk — Python
    floats are IEEE float64 like Scala's Double, so this IS the JVM
    semantics (sequential error accumulation, take(delta) from the
    seed).  The vectorized engine walk must match it exactly."""
    dx, dy = abs(x1 - x0), abs(y1 - y0)
    if dx == 0 and dy == 0:
        return [(x0, y0)]
    step_x = 1 if x0 < x1 else -1
    step_y = 1 if y0 < y1 else -1
    out, x, y, err = [], x0, y0, 0.0
    if dx > dy:
        d_err = dy / dx
        for _ in range(dx):
            out.append((x, y))
            err += d_err
            if err >= 0.5:
                err -= 1.0
                y += step_y
            x += step_x
    else:
        d_err = dx / dy
        for _ in range(dy):
            out.append((x, y))
            err += d_err
            if err >= 0.5:
                err -= 1.0
                x += step_x
            y += step_y
    return out


def _vector_bresenham_one(x0, y0, x1, y1):
    from geomesa_spark.operators.tiling import bresenham_pixels
    seg, i, j = bresenham_pixels([x0], [y0], [x1], [y1])
    assert set(seg.tolist()) <= {0}
    return list(zip(i.tolist(), j.tolist()))


def test_bresenham_reference_fixture_lengths():
    """GridSnapTest 'compute a sequence of points between various sets of
    coordinates': diagonal/vertical/horizontal/inverse walks on a 10x10
    grid yield 9 cells (the END cell is excluded — the reference's
    take(delta) quirk), the degenerate walk yields 1."""
    diag = _vector_bresenham_one(0, 0, 9, 9)
    assert len(diag) == 9 and diag == [(k, k) for k in range(9)]
    vert = _vector_bresenham_one(0, 0, 0, 9)
    assert len(vert) == 9 and vert == [(0, k) for k in range(9)]
    horiz = _vector_bresenham_one(0, 0, 9, 0)
    assert len(horiz) == 9 and horiz == [(k, 0) for k in range(9)]
    assert _vector_bresenham_one(0, 0, 0, 0) == [(0, 0)]
    inv = _vector_bresenham_one(9, 9, 0, 0)
    assert len(inv) == 9 and inv == [(9 - k, 9 - k) for k in range(9)]


def test_bresenham_matches_scalar_float_walk():
    """Randomized: the vectorized walk replays the reference's float64
    error accumulation bit-for-bit (an integer round-half-up closed form
    would NOT — inexact deltaError doubles drift an increment by a step
    on some slopes), batched segments vs one-at-a-time scalar runs."""
    import random

    from geomesa_spark.operators.tiling import bresenham_pixels

    rng = random.Random(1215)
    segs = [(rng.randrange(0, 300), rng.randrange(0, 300),
             rng.randrange(0, 300), rng.randrange(0, 300))
            for _ in range(200)]
    segs += [(0, 0, 299, 100), (0, 0, 100, 299), (5, 5, 5, 5),
             (0, 0, 6, 1), (0, 0, 1, 6), (10, 0, 0, 3)]
    seg, i, j = bresenham_pixels(*(list(c) for c in zip(*segs)))
    got = {}
    for s, ii, jj in zip(seg.tolist(), i.tolist(), j.tolist()):
        got.setdefault(s, []).append((ii, jj))
    for k, (x0, y0, x1, y1) in enumerate(segs):
        assert got[k] == _scalar_bresenham(x0, y0, x1, y1), (k, segs[k])


def test_density_lines_bresenham_operator(spark):
    """The Spark operator (snap endpoints to cells, walk, sum weights per
    pixel) reproduces the scalar reference walk end-to-end, including the
    endpoint-exclusion and per-pixel weight accumulation across rows."""
    from collections import Counter

    from geomesa_spark.operators.tiling import density_lines_bresenham

    env = (0.0, 0.0, 10.0, 10.0)
    w = h = 10  # dx = dy = 1.0: cell index == floor(coordinate)
    rows = [(0.2, 0.3, 9.9, 9.1, 2.0),   # cells (0,0) -> (9,9)
            (0.5, 9.5, 9.5, 0.5, 1.0),   # cells (0,9) -> (9,0)
            (3.1, 3.9, 3.6, 3.2, 4.0),   # same cell both ends
            (0.0, 0.0, 10.0, 0.0, 1.0)]  # max edge clamps into cell 9
    df = spark.createDataFrame(rows, "x1 double, y1 double, x2 double, y2 double, w double")
    got = {(r.px, r.py): r.weight
           for r in density_lines_bresenham(df, env, w, h, weight="w").collect()}

    expect = Counter()
    for x1, y1, x2, y2, wt in rows:
        def cell(v):
            return min(int(v), 9)
        for px, py in _scalar_bresenham(cell(x1), cell(y1), cell(x2), cell(y2)):
            expect[(px, py)] += wt
    assert got == {k: float(v) for k, v in expect.items()}


def test_density_lines_bresenham_snaps_in_gridsnap_division_order(spark):
    """Endpoints snap as GridSnap.i does, floor((v - min) / dx) with
    dx = (max - min) / n. At this tie the product form
    floor((v - min) / (max - min) * n) lands one cell lower."""
    from geomesa_spark.operators.tiling import density_lines_bresenham

    v = -7.503092783505155
    assert math.floor((v + 10.0) / 17.3 * 97) == 13
    df = spark.createDataFrame([(v, 0.5, 7.3, 0.5)],
                               "x1 double, y1 double, x2 double, y2 double")
    got = sorted(r.px for r in density_lines_bresenham(
        df, (-10.0, 0.0, 7.3, 1.0), 97, 1).collect())
    # cells 14..96, the final cell excluded as in the reference walk
    assert got == [px for px, _py in _scalar_bresenham(14, 0, 96, 0)]
    assert got[0] == 14
