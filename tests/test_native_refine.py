"""The native geometry refine (plans/refine.py) against the numpy kernels
of geom/algos.py, which stay as its oracles, and the plan shape of every
path that uses it.

The generated coordinates are integers or dyadic fractions, so every
cross product in both implementations is exact and the comparison is
exact (the many-edge test drops that, see there): points exactly
on vertices and edges, on the extensions of edges, and on horizontal and
vertical edges are classified the same way by the ray cast, the convex
half-plane test and the numpy kernels. Null and NaN coordinates keep the
numpy kernels' answers (never INTERSECTS/WITHIN/TOUCHES, always
DISJOINT), although Spark orders NaN above every double.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, Phase, assume, given, seed, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from geomesa_spark.geom import algos, model, wkt
from geomesa_spark.geom.wkb import wkb_dumps
from geomesa_spark.operators.pip_join import pip_join_broadcast, pip_join_smj
from geomesa_spark.plans import refine
from geomesa_spark.plans.ecql import EcqlContext, ecql_to_column
from geomesa_spark.plans.query import SpatialQuery
from geomesa_spark.sources.arrow_io import local_table

SEED = 20261017
# no shrinking: each example runs Spark jobs, and the failure message
# already names the geometry and the disagreeing points
FAST = settings(max_examples=30, deadline=None, database=None,
                phases=(Phase.explicit, Phase.generate),
                suppress_health_check=list(HealthCheck))
SLOW = settings(FAST, max_examples=10)
CTX = EcqlContext(prefer_lonlat=True)
OPS = ("INTERSECTS", "WITHIN", "TOUCHES", "DISJOINT")


# ---------------------------------------------------------------------------
# geometries

def _simple(ring: list) -> bool:
    """Closed ring without self-intersections or spikes."""
    n = len(ring) - 1
    if n < 3 or len(set(ring[:-1])) != n:
        return False
    for i in range(n):
        for j in range(i + 1, n):
            if j == i + 1 or (i == 0 and j == n - 1):
                a, b, c = (ring[i], ring[j], ring[j + 1]) if j == i + 1 \
                    else (ring[j], ring[0], ring[1])
                cross = (b[0] - a[0]) * (c[1] - b[1]) - (b[1] - a[1]) * (c[0] - b[0])
                dot = (b[0] - a[0]) * (c[0] - b[0]) + (b[1] - a[1]) * (c[1] - b[1])
                if cross == 0 and dot < 0:
                    return False
            elif algos.segments_intersect(ring[i], ring[i + 1], ring[j], ring[j + 1]):
                return False
    return True


@st.composite
def centers(draw):
    return draw(st.integers(-150, 140)), draw(st.integers(-70, 70))


@st.composite
def star(draw, cx, cy):
    """Star-shaped ring: one vertex per 45 degrees, integer coordinates."""
    ring = [(cx + round(r * math.cos(k * math.pi / 4)),
             cy + round(r * math.sin(k * math.pi / 4)))
            for k, r in enumerate(draw(st.lists(st.integers(3, 9), min_size=8,
                                                max_size=8)))]
    return ring + ring[:1]


@st.composite
def hole(draw, cx, cy):
    """A square (horizontal and vertical edges) or a triangle around the
    center, inside every star ring."""
    h = draw(st.sampled_from([0.5, 1.0]))
    if draw(st.booleans()):
        return [(cx - h, cy - h), (cx + h, cy - h), (cx + h, cy + h),
                (cx - h, cy + h), (cx - h, cy - h)]
    return [(cx - h, cy - h), (cx + h, cy - h), (cx, cy + h), (cx - h, cy - h)]


@st.composite
def polygons(draw, cx, cy):
    kind = draw(st.sampled_from(["star", "star_holes", "ell", "convex"]))
    if kind.startswith("star"):
        shell = draw(star(cx, cy))
        assume(_simple(shell))
        holes = [draw(hole(cx, cy))] if kind == "star_holes" else []
        return model.Polygon(shell, holes)
    if kind == "ell":
        # orthogonal, non-convex
        w, h, nw, nh = (draw(st.integers(2, 8)) for _ in range(4))
        assume(nw < w and nh < h)
        return model.Polygon([(cx, cy), (cx + w, cy), (cx + w, cy + nh),
                              (cx + nw, cy + nh), (cx + nw, cy + h), (cx, cy + h)])
    pts = np.array(draw(st.lists(st.tuples(st.integers(-8, 8), st.integers(-8, 8)),
                                 min_size=3, max_size=8)), dtype=float)
    hull = algos.convex_hull_points(pts)
    assume(len(hull) >= 3)
    return model.Polygon([(cx + x, cy + y) for x, y in hull])


@st.composite
def polygonal(draw):
    cx, cy = draw(centers())
    first = draw(polygons(cx, cy))
    if not draw(st.booleans()):
        return first
    # a second part 25 degrees east: interiors disjoint
    return model.MultiPolygon([first, draw(polygons(cx + 25, cy))])


@st.composite
def lineal_or_puntal(draw):
    cx, cy = draw(centers())
    coord = st.tuples(st.integers(-16, 16), st.integers(-16, 16)).map(
        lambda p: (cx + p[0] / 2, cy + p[1] / 2))
    kind = draw(st.sampled_from(["line", "multiline", "point", "multipoint"]))
    if kind == "point":
        return model.Point(*draw(coord))
    if kind == "multipoint":
        return model.MultiPoint([model.Point(*p) for p in
                                 draw(st.lists(coord, min_size=2, max_size=4))])
    lines = [model.LineString(draw(st.lists(coord, min_size=2, max_size=5)))
             for _ in range(1 if kind == "line" else 2)]
    return lines[0] if kind == "line" else model.MultiLineString(lines)


geometries = st.one_of(polygonal(), lineal_or_puntal())


# ---------------------------------------------------------------------------
# points and oracles

def _vertices(g) -> list:
    out = []
    for c in g._components():
        if isinstance(c, model.Point):
            out.append((c.x, c.y))
        elif isinstance(c, model.LineString):
            out.extend(map(tuple, c.coords))
        else:
            for r in [c.shell] + c.holes:
                out.extend(map(tuple, r))
    return out


def _segments(g) -> list:
    out = []
    for c in g._components():
        rings = ([c.coords] if isinstance(c, model.LineString)
                 else [c.shell] + c.holes if isinstance(c, model.Polygon) else [])
        for r in rings:
            out.extend(zip(map(tuple, r[:-1]), map(tuple, r[1:])))
    return out


def probe_points(g, box=None) -> tuple[np.ndarray, np.ndarray]:
    """Half-degree grid over the bbox (and ``box``) plus one, every vertex,
    edge quarter points and points on the edges' extensions."""
    xmin, ymin, xmax, ymax = g.bounds
    if box is not None:
        xmin, ymin = min(xmin, box[0]), min(ymin, box[1])
        xmax, ymax = max(xmax, box[2]), max(ymax, box[3])
    gx, gy = np.meshgrid(np.arange(math.floor(xmin) - 1, xmax + 1.5, 0.5),
                         np.arange(math.floor(ymin) - 1, ymax + 1.5, 0.5))
    pts = list(zip(gx.ravel(), gy.ravel())) + _vertices(g)
    for (ax, ay), (bx, by) in _segments(g):
        for t in (0.25, 0.5, 0.75, -0.25, 1.25):
            pts.append((ax + t * (bx - ax), ay + t * (by - ay)))
    if box is not None:
        x0, y0, x1, y1 = box
        pts += [(x0, y0), (x1, y1), (x0, (y0 + y1) / 2), ((x0 + x1) / 2, y1)]
    a = np.array(pts, dtype=np.float64)
    return a[:, 0], a[:, 1]


# (lon, lat) rows with NaN, null (NaN to the numpy kernels) or infinite
# coordinates
ODD = [(math.nan, 0.0), (0.0, math.nan), (math.nan, math.nan), (None, 0.0),
       (0.0, None), (None, None), (math.inf, 0.0), (0.0, -math.inf)]


def points_frame(spark, x, y, anchor):
    """Points as a DataFrame (with ODD rows whose finite coordinate sits at
    ``anchor``), repartitioned so the predicates run in generated code
    rather than being folded into the local relation."""
    ax, ay = anchor
    odd = [(ax if lon == 0.0 else lon, ay if lat == 0.0 else lat) for lon, lat in ODD]
    lon = list(x) + [p[0] for p in odd]
    lat = list(y) + [p[1] for p in odd]

    def col(vals):
        # NaN through Arrow from pandas would become null: carry it as a flag
        return {"v": [None if v is None or math.isnan(v) else v for v in vals],
                "nan": [v is not None and math.isnan(v) for v in vals]}
    cl, ca = col(lon), col(lat)
    df = local_table(spark, {"id": np.arange(len(lon)), "lon_v": cl["v"],
                             "lon_nan": cl["nan"], "lat_v": ca["v"],
                             "lat_nan": ca["nan"]},
                     "id int, lon_v double, lon_nan boolean, lat_v double, "
                     "lat_nan boolean")
    nan = F.lit(float("nan"))
    df = df.select("id",
                   F.when(F.col("lon_nan"), nan).otherwise(F.col("lon_v")).alias("lon"),
                   F.when(F.col("lat_nan"), nan).otherwise(F.col("lat_v")).alias("lat"))
    as_np = np.array([np.nan if v is None else v for v in lon], dtype=np.float64), \
        np.array([np.nan if v is None else v for v in lat], dtype=np.float64)
    return df.repartition(2), as_np


def oracle(op: str, g, x, y) -> np.ndarray:
    if op in ("INTERSECTS", "DISJOINT") or not isinstance(
            g, (model.Polygon, model.MultiPolygon)):
        hit = algos.points_intersect(x, y, g)
        return ~hit if op == "DISJOINT" else hit
    locs = [algos.points_in_polygon(x, y, p) for p in g._components()]
    inside = np.any([loc == algos.IN for loc in locs], axis=0)
    bnd = np.any([loc == algos.BOUNDARY for loc in locs], axis=0)
    return inside & ~bnd if op == "WITHIN" else bnd


def evaluate(df, cols: dict) -> dict:
    """Filter semantics (null is false) of each predicate column: name ->
    bool array in id order."""
    rows = df.select("id", *[F.coalesce(c, F.lit(False)).alias(n)
                             for n, c in cols.items()]).collect()
    return {n: np.array([r[n] for r in sorted(rows, key=lambda r: r.id)])
            for n in cols}


def _assert_same(got: dict, want: dict, x, y, g):
    for n, w in want.items():
        bad = np.nonzero(got[n] != w)[0]
        assert not len(bad), (n, wkt.wkt_dumps(g),
                              [(x[i], y[i], got[n][i]) for i in bad[:5]])


# ---------------------------------------------------------------------------
# differential tests

@seed(SEED)
@FAST
@given(g=geometries, box=st.tuples(*[st.integers(-8, 8)] * 4))
def test_ecql_and_spatial_query_match_numpy_kernels(spark, g, box):
    xmin, ymin, xmax, ymax = g.bounds
    bbox = (xmin + box[0] / 4, ymin + box[1] / 4,
            xmax + abs(box[2]) / 4, ymax + abs(box[3]) / 4)
    x, y = probe_points(g, bbox)
    df, (nx, ny) = points_frame(spark, x, y, (xmin, ymin))
    text = wkt.wkt_dumps(g)
    cols = {op: ecql_to_column(f"{op}(geom, {text})", CTX) for op in OPS}
    cols["NOT_INTERSECTS"] = ecql_to_column(f"NOT INTERSECTS(geom, {text})", CTX)
    cols["BBOX"] = ecql_to_column("BBOX(geom, {}, {}, {}, {})".format(*bbox), CTX)
    want = {op: oracle(op, g, nx, ny) for op in OPS}
    want["NOT_INTERSECTS"] = want["DISJOINT"]
    want["BBOX"] = algos.points_intersect(nx, ny, model.box(*bbox))
    if isinstance(g, (model.Polygon, model.MultiPolygon)):
        cols["SQ"] = SpatialQuery(geometry=g).predicate(df)
        want["SQ"] = want["INTERSECTS"]
    _assert_same(evaluate(df, cols), want, nx, ny, g)


@seed(SEED)
@SLOW
@given(first=polygonal(), second=geometries)
def test_pip_joins_match_numpy_kernels(spark, first, second):
    """Both broadcast paths — span cover (all polygonal) and cell cover (a
    line or point in the set) — for intersects and contains, and the
    salted sort-merge path for intersects."""
    x1, y1 = probe_points(first)
    x2, y2 = probe_points(second)
    x, y = np.concatenate([x1, x2]), np.concatenate([y1, y2])
    pts = local_table(spark, {"id": np.arange(len(x)), "lon": x, "lat": y},
                      "id int, lon double, lat double")
    geoms = [first, second]
    for predicate in ("intersects", "contains"):
        got = {(r.poly_id, r.id) for r in pip_join_broadcast(
            pts, list(enumerate(geoms)), predicate=predicate)
            .select("poly_id", "id").collect()}
        want = set()
        for k, g in enumerate(geoms):
            if predicate == "intersects":
                hit = algos.points_intersect(x, y, g)
            elif isinstance(g, (model.Polygon, model.MultiPolygon)):
                hit = oracle("WITHIN", g, x, y)
            else:
                hit = np.zeros(len(x), dtype=bool)
            want |= {(k, int(i)) for i in np.nonzero(hit)[0]}
        assert got == want, (predicate, wkt.wkt_dumps(first), wkt.wkt_dumps(second),
                             sorted(got ^ want)[:5])
        if predicate == "intersects":
            polys = local_table(spark, {"poly_id": [0, 1],
                                        "geom": [wkb_dumps(g) for g in geoms]},
                                "poly_id long, geom binary")
            smj = {(r.poly_id, r.id) for r in pip_join_smj(pts, polys, res=8)
                   .select("poly_id", "id").collect()}
            assert smj == want, ("smj", wkt.wkt_dumps(first), wkt.wkt_dumps(second),
                                 sorted(smj ^ want)[:5])


def test_null_and_nan_coordinates_keep_numpy_answers(spark):
    """Pinned: whatever the geometry kind (convex, non-convex, rectangle,
    line, point), a null, NaN or infinite coordinate is never inside and
    always DISJOINT — as in the numpy kernels, although Spark orders NaN
    above every double (the bbox primary filter keeps NaN away from the
    half-plane tests, where NaN >= 0 would read true)."""
    geoms = ["POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
             "POLYGON ((0 0, 4 0, 2 3, 0 0))",
             "POLYGON ((0 0, 4 0, 4 4, 2 1, 0 4, 0 0))",
             "LINESTRING (0 0, 4 4)", "POINT (0 0)"]
    lon = [v for v, _ in ODD]
    lat = [v for _, v in ODD]
    df, _ = points_frame(spark, [], [], (0.0, 0.0))
    for text in geoms:
        cols = {op: ecql_to_column(f"{op}(geom, {text})", CTX) for op in OPS}
        got = evaluate(df, cols)
        assert not got["INTERSECTS"].any() and not got["WITHIN"].any() \
            and not got["TOUCHES"].any(), (text, lon, lat)
        assert got["DISJOINT"].all(), text


def test_multipolygon_within_and_touches_use_interior_and_boundary(spark):
    """Pinned change: WITHIN/TOUCHES against a MultiPolygon test interior and
    boundary like a Polygon (they were INTERSECTS before the native
    refine); against lines and points they stay INTERSECTS."""
    mp = "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((10 0, 14 0, 12 3, 10 0)))"
    df = local_table(spark, {"id": [0, 1, 2, 3], "lon": [2.0, 4.0, 12.0, 20.0],
                             "lat": [2.0, 2.0, 0.0, 0.0]},
                     "id int, lon double, lat double")
    got = evaluate(df, {op: ecql_to_column(f"{op}(geom, {mp})", CTX) for op in OPS})
    assert list(got["WITHIN"]) == [True, False, False, False]
    assert list(got["TOUCHES"]) == [False, True, True, False]
    line = evaluate(df, {op: ecql_to_column(f"{op}(geom, LINESTRING (2 2, 4 2))", CTX)
                         for op in ("WITHIN", "TOUCHES", "INTERSECTS")})
    assert list(line["WITHIN"]) == list(line["TOUCHES"]) == list(line["INTERSECTS"]) \
        == [True, True, False, False]


def _star(cx, cy, r_out, r_in, k, reverse=False) -> list:
    pts = [(cx + (r_out if i % 2 == 0 else r_in) * math.cos(math.pi * i / k),
            cy + (r_out if i % 2 == 0 else r_in) * math.sin(math.pi * i / k))
           for i in range(2 * k)]
    pts = pts[::-1] if reverse else pts
    return pts + pts[:1]


def test_many_edge_geometries_match_numpy_kernels_cell_by_cell(spark):
    """A star of 300 edges with two holes, and a 200-segment zigzag line,
    go through the refine's cell grid. Their coordinates come from sines
    and cosines, not dyadic fractions: the grid must give each point the
    numpy kernels' answer without exact cross products, since it only drops
    edges whose terms are known for the whole cell. Probes: a grid over the
    bbox, every vertex, edge quarter points and extensions, and points on
    the grid's cell lines."""
    star = model.Polygon(np.array(_star(0.3, 0.1, 10, 6, 150)),
                         [np.array(_star(-2, 0, 1.5, 1, 12, True)),
                          np.array(_star(2, 1, 1.5, 1, 12, True))])
    zigzag = model.LineString(np.array(
        [(-10 + 0.1 * i, math.sin(i) * 3 + (0.7 if i % 2 else -0.7)) for i in range(201)]))
    for g in (star, zigzag):
        text = wkt.wkt_dumps(g)
        sql = refine.geometry_sql(g, "INTERSECTS", "lon", "lat")
        _convex, edges, segs = refine.edge_columns(g)
        x0, y0, w, h, cells = refine._grid(edges, segs, g.bounds, 32)
        assert "from_json" in sql and "* 32 +" in sql, "expected a 32 x 32 grid"
        x, y = probe_points(g)
        lines_x = x0 + np.arange(33) * w
        lines_y = y0 + np.arange(33) * h
        ys = np.linspace(*g.bounds[1::2], 41)
        xs = np.linspace(*g.bounds[0::2], 41)
        x = np.concatenate([x, np.repeat(lines_x, len(ys)), np.tile(xs, len(lines_y))])
        y = np.concatenate([y, np.tile(ys, len(lines_x)), np.repeat(lines_y, len(xs))])
        df, (nx, ny) = points_frame(spark, x, y, g.bounds[:2])
        cols = {op: ecql_to_column(f"{op}(geom, {text})", CTX) for op in OPS}
        want = {op: oracle(op, g, nx, ny) for op in OPS}
        if g is star:
            cols["SQ"] = SpatialQuery(geometry=g).predicate(df)
            want["SQ"] = want["INTERSECTS"]
            assert want["WITHIN"].sum() > 1000 and want["TOUCHES"].sum() > 500
        _assert_same(evaluate(df, cols), want, nx, ny, g)


# ---------------------------------------------------------------------------
# plan shape: no Python worker on any of these paths

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "Scan ExistingRDD")


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def events(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("native_refine") / "events")
    (spark.range(0, 20000, 1, 4)
     .selectExpr("format_string('e%06d', id) AS event_id",
                 "-20e0 + (id * 7919 % 20000) / 500e0 AS lon",
                 "-10e0 + (id * 104729 % 20000) / 1000e0 AS lat",
                 "timestamp_seconds(1600000000 + id * 37) AS ts",
                 "IF(id % 3 = 0, NULL, id) AS n")
     .write.mode("overwrite").parquet(path))
    return spark.read.parquet(path)


def test_query_paths_run_without_python_workers(spark, events, monkeypatch):
    from pyspark.sql.classic.dataframe import DataFrame

    from geomesa_spark.operators.knn import knn_join
    ring = "POLYGON ((-5 -5, 5 -4, 6 6, 0 2, -4 5, -5 -5))"
    plans = {
        "polygon": SpatialQuery(geometry=ring).apply(events),
        "ecql_intersects": events.where(ecql_to_column(
            f"INTERSECTS(geom, {ring})", CTX)),
        "ecql_bbox": events.where(ecql_to_column("BBOX(geom, -3, -3, 3, 3)", CTX)),
        "pip_join_broadcast": pip_join_broadcast(
            events, [(0, ring), (1, "POLYGON ((10 0, 14 0, 12 3, 10 0))")]),
    }
    # knn_join collects its provisional rows inside the call: record those
    # plans too
    seen = []
    to_arrow = DataFrame.toArrow

    def recording(self):
        out = to_arrow(self)
        seen.append(_executed(self))
        return out
    monkeypatch.setattr(DataFrame, "toArrow", recording)
    plans["knn_join"] = knn_join(events, [("q", 0.5, 0.5), ("r", 9.0, -9.0)], 5,
                                 n_rows=20000)
    for name, df in plans.items():
        assert df.count() > 0, name
        df.collect()
        plan = _executed(df)
        assert not [n for n in PYTHON_NODES if n in plan], (name, plan)
    assert seen and not [p for p in seen if any(n in p for n in PYTHON_NODES)], seen
    # the exact rows knn_join collected went back into the plan unchanged
    got = {r.event_id: r for r in plans["knn_join"].collect()}
    src = {r.event_id: r for r in events.where(F.col("event_id").isin(list(got))).collect()}
    assert all(got[e][c] == src[e][c] for e in got for c in events.columns), (got, src)
    assert "LocalTableScan" in _executed(plans["pip_join_broadcast"])
