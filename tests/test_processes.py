"""Property tests for the process operators (oracle parity is covered by
test_oracle_parity.py; these check the non-SQL-expressible pieces)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geomesa_spark.geom import model, wkt
from geomesa_spark.geom import algos
from geomesa_spark.operators import processes as proc
from geomesa_spark.sources.testdata import geo_events


@pytest.fixture(scope="module")
def geo(spark, sf_dir):
    return geo_events(spark, sf_dir).cache()


def test_convex_hull_contains_all_points(geo):
    hulls = {r.event_type: r for r in
             proc.convex_hull_agg(geo, "event_type").collect()}
    pts = geo.select("event_type", "lon", "lat").toPandas()
    for et, grp in pts.groupby("event_type"):
        h = hulls[et]
        assert h.n_hull_points >= 3
        assert h.hull_area_e6 > 0
        poly = wkt.wkt_loads(h.hull_wkt)
        x = grp["lon"].to_numpy(float)
        y = grp["lat"].to_numpy(float)
        # hull WKT is rounded to 1e-6, so give the test a small buffer by
        # checking distance to the hull instead of strict containment
        inside = algos.points_intersect(x, y, poly)
        d = algos.points_distance(x[~inside], y[~inside], poly)
        assert (len(d) == 0) or (d.max() < 1e-4)


def test_convex_hull_vertices_are_input_points(geo):
    hulls = proc.convex_hull_agg(geo, "event_type").collect()
    pts = geo.select("event_type", "lon", "lat").toPandas()
    for h in hulls:
        poly = wkt.wkt_loads(h.hull_wkt)
        grp = pts[pts.event_type == h.event_type]
        arr = grp[["lon", "lat"]].to_numpy(float)
        for vx, vy in poly.shell[:-1]:
            dd = np.min((arr[:, 0] - vx) ** 2 + (arr[:, 1] - vy) ** 2)
            assert dd < 1e-10  # vertex is an input point (up to wkt rounding)


def test_proximity_join_is_symmetric_prefilter_safe(geo):
    """The bbox prefilter must not drop any true match vs pure refine."""
    anchors = [("a0", 46.0, 25.0)]
    got = proc.proximity_join(geo, anchors, 500_000.0).count()
    d = proc.haversine_col(F.col("lon"), F.col("lat"),
                           F.lit(46.0), F.lit(25.0))
    want = geo.where(d <= 500_000.0).count()
    assert got == want


def test_haversine_col_null_coordinate_is_null(spark):
    """A null coordinate gives a null distance, not asin(1) (F.least skips
    nulls, so a least() clamp would read about 20,015 km)."""
    pts = spark.createDataFrame([(1, None, 10.0), (2, 0.0, None), (3, 0.0, 0.0)],
                                "id int, lon double, lat double")
    d = proc.haversine_col(F.col("lon"), F.col("lat"), F.lit(0.0), F.lit(1.0))
    got = {r.id: r.d for r in pts.select("id", d.alias("d")).collect()}
    assert got[1] is None and got[2] is None
    assert abs(got[3] - 111_195.08) < 0.01      # one degree of latitude


def test_merged_view_dedupes(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = ev.where("event_id % 2 = 0 OR event_id % 7 = 0")
    b = ev.where("event_id % 2 = 1 OR event_id % 7 = 0")
    merged = proc.merged_view([a, b], fid_col="event_id")
    assert merged.count() == ev.count()
    assert merged.select("event_id").distinct().count() == ev.count()


def test_route_search_heading_filter_restricts(geo):
    wide = proc.route_search(geo, [("r", 46.0, 25.0, 45.0)],
                             400_000.0, 180.0).count()
    narrow = proc.route_search(geo, [("r", 46.0, 25.0, 45.0)],
                               400_000.0, 30.0).count()
    assert narrow < wide


def test_pip_smj_matches_broadcast(spark, geo):
    """The salted SMJ path must produce exactly the broadcast path's pairs."""
    from geomesa_spark.geom import wkt as wktmod
    from geomesa_spark.geom.wkb import wkb_dumps
    from geomesa_spark.operators.pip_join import (pip_join_broadcast,
                                                  pip_join_smj)

    polys = [
        ("diamond", "POLYGON ((44 25, 46 21, 48 25, 46 29, 44 25))"),
        ("box", "POLYGON ((-30 -20, 30 -20, 30 20, -30 20, -30 -20))"),
        ("lshape", "POLYGON ((0 30, 20 30, 20 40, 10 40, 10 50, 0 50, 0 30))"),
    ]
    want = {(r.poly_id, r.event_id) for r in
            pip_join_broadcast(geo, polys, res=8).select("poly_id", "event_id").collect()}
    poly_df = spark.createDataFrame(
        [(pid, bytearray(wkb_dumps(wktmod.wkt_loads(w)))) for pid, w in polys],
        "poly_id string, geom binary")
    got = {(r.poly_id, r.event_id) for r in
           pip_join_smj(geo, poly_df, res=8).select("poly_id", "event_id").collect()}
    assert got == want and len(got) > 0


def test_proximity_prefilter_polar_and_antimeridian(spark):
    """High-latitude and antimeridian-straddling matches must survive the
    bbox prefilter (regression: the old fixed-degree margin dropped both)."""
    rows = [
        (1, 179.95, 80.0),    # across the antimeridian from the anchor
        (2, -179.95, 80.05),  # same side as anchor
        (3, 170.0, 80.0),     # far away in lon but close in meters? ~193km at lat80
        (4, -179.95, -80.0),  # wrong hemisphere
    ]
    pts = spark.createDataFrame(rows, "event_id long, lon double, lat double")
    anchors = [("a0", -179.98, 80.0)]
    radius = 50_000.0
    got = {r.event_id for r in proc.proximity_join(pts, anchors, radius).collect()}
    # exact refine over all rows (no prefilter) is the truth
    d = proc.haversine_col(F.col("lon"), F.col("lat"),
                           F.lit(-179.98), F.lit(80.0))
    want = {r.event_id for r in pts.where(d <= radius).collect()}
    assert got == want
    assert 1 in got  # the antimeridian-crossing pair specifically


def test_knn_scan_is_pruned_and_exact(spark, sf_dir, tmp_path):
    """knn_join: the bbox prefilter reaches the parquet scan (PushedFilters
    on the stored lon/lat columns — no full-table cache) and the result
    matches the brute-force oracle."""
    from geomesa_spark.cells import grid
    from geomesa_spark.operators.knn import (_cells_bbox_pred,
                                             knn_brute_force, knn_join)
    path = str(tmp_path / "geo_events")
    geo_events(spark, sf_dir).write.parquet(path)
    ev = spark.read.parquet(path)
    qs = [("q0", 46.0, 25.0), ("q1", 45.5, 24.5)]
    # the candidate scan (phase 1 runs it eagerly and — when the d_k disk
    # stays inside the scanned cells — returns its rows directly, so the
    # pushdown is asserted on the scan building-block)
    cells = grid.disk(grid.cell_id(46.0, 25.0, 6), 1)
    scan = ev.where(_cells_bbox_pred(set(cells), 6, "lon", "lat"))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    pushed = [seg[:300] for seg in plan.split("PushedFilters: [")[1:]]
    assert pushed and any("lat" in seg for seg in pushed)
    got = knn_join(ev, qs, k=7)
    g = {(r.qid, r.event_id) for r in got.collect()}
    w = {(r.qid, r.event_id) for r in knn_brute_force(ev, qs, k=7).collect()}
    assert g == w and len(g) == 14


def test_pip_smj_large_polygon_set(spark, geo):
    """SMJ path probe at a polygon count far beyond broadcast-cover scale:
    several hundred polygons (DataFrame side), salted join — results must
    exactly match per-polygon bbox math computed independently."""
    import numpy as np
    from geomesa_spark.geom import model
    from geomesa_spark.geom.wkb import wkb_dumps
    from geomesa_spark.operators.pip_join import pip_join_smj

    rng = np.random.RandomState(21)
    polys = []
    for i in range(400):
        cx = rng.uniform(40, 50)
        cy = rng.uniform(20, 30)
        w = rng.uniform(0.2, 1.5)
        h = rng.uniform(0.2, 1.5)
        polys.append((f"p{i}", cx - w, cy - h, cx + w, cy + h))
    poly_df = spark.createDataFrame(
        [(pid, bytearray(wkb_dumps(model.box(x0, y0, x1, y1))))
         for pid, x0, y0, x1, y1 in polys],
        "poly_id string, geom binary")
    got = (pip_join_smj(geo, poly_df, res=8)
           .groupBy("poly_id").count().collect())
    got_counts = {r.poly_id: r["count"] for r in got}

    # independent truth: boundary-inclusive bbox membership per polygon
    pts = geo.select("lon", "lat").toPandas()
    x = pts["lon"].to_numpy(float)
    y = pts["lat"].to_numpy(float)
    for pid, x0, y0, x1, y1 in polys[::17]:  # spot-check a spread
        want = int(((x >= x0) & (x <= x1) & (y >= y0) & (y <= y1)).sum())
        assert got_counts.get(pid, 0) == want, pid
    # every polygon with any point must appear
    n_nonempty = sum(
        1 for pid, x0, y0, x1, y1 in polys
        if ((x >= x0) & (x <= x1) & (y >= y0) & (y <= y1)).any())
    assert len(got_counts) == n_nonempty


class TestTransformProcesses:
    """DateOffsetProcess / HashAttributeProcess parity
    (transform/DateOffsetProcess.scala:28-56,
    transform/HashAttributeProcess.scala:23-92)."""

    def test_parse_iso_duration(self):
        from geomesa_spark.operators.processes import \
            parse_iso_duration_seconds as p
        assert p("P1D") == 86400
        assert p("PT1H30M") == 5400
        assert p("P1DT12H") == 129600
        assert p("-PT10S") == -10
        assert p("PT0.5S") == 0.5
        import pytest as _pt
        with _pt.raises(ValueError):
            p("1 day")

    def test_date_offset(self, spark):
        import pandas as pd
        from geomesa_spark.operators.processes import date_offset
        df = spark.createDataFrame(
            pd.DataFrame({"ts": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-06-15 23:30:00"])}))
        out = date_offset(df, "ts", "P1DT12H").collect()
        assert str(out[0].ts) == "2024-01-02 12:00:00"
        assert str(out[1].ts) == "2024-06-17 11:30:00"

    def test_hash_attribute(self, spark):
        import pandas as pd
        from geomesa_spark.operators.processes import hash_attribute
        df = spark.createDataFrame(
            pd.DataFrame({"name": ["a", "b", "a", None]}))
        out = hash_attribute(df, "name", 10).collect()
        hs = [r.hash for r in out]
        assert all(0 <= h < 10 for h in hs)
        assert hs[0] == hs[2]                    # deterministic
        assert out[3].hash is not None           # NULL hashes as ""

    def test_hash_attribute_color(self, spark):
        import pandas as pd
        from geomesa_spark.operators.processes import hash_attribute_color
        df = spark.createDataFrame(
            pd.DataFrame({"name": [f"n{i}" for i in range(40)]}))
        out = hash_attribute_color(df, "name", 100).collect()
        palette = {"#6495ED", "#B0C4DE", "#00FFFF", "#9ACD32", "#00FA9A",
                   "#FFF8DC", "#F5DEB3"}          # HashAttributeProcess.scala:78-85
        assert {r.hash for r in out} <= palette
        assert len({r.hash for r in out}) > 1


def test_convex_hull_vertices_edge_cases(spark):
    """Integer hull-vertex kernel: vertical stacks, collinear runs, and
    mid-edge points must all resolve to vertices-only (strict turns)."""
    from geomesa_spark.operators.processes import convex_hull_vertices
    rows = []
    # square with mid-edge + interior + vertical-stack points
    sq = [(0, 0), (10, 0), (10, 10), (0, 10),      # vertices
          (5, 0), (10, 5), (5, 10), (0, 5),        # mid-edge (collinear)
          (5, 5), (3, 7),                          # interior
          (0, 3), (0, 8)]                          # extra min-x stack
    rows += [("sq", x, y) for x, y in sq]
    # all-collinear group: only the two endpoints are vertices
    rows += [("line", i, 2 * i) for i in range(5)]
    # single point group
    rows += [("dot", 7, 7)]
    # two-point group
    rows += [("pair", 1, 1), ("pair", 4, 9)]
    df = spark.createDataFrame(rows, "grp string, x_ppm long, y_ppm long")
    out = convex_hull_vertices(df, "grp")
    got = {}
    for r in out.collect():
        got.setdefault(r["grp"], set()).add((r["x_ppm"], r["y_ppm"]))
    assert got["sq"] == {(0, 0), (10, 0), (10, 10), (0, 10)}
    assert got["line"] == {(0, 0), (4, 8)}
    assert got["dot"] == {(7, 7)}
    assert got["pair"] == {(1, 1), (4, 9)}


def test_convex_hull_oracle_sql_edge_cases(spark):
    """The DuckDB hull characterization agrees with the kernel on the
    same adversarial point sets (vertical stacks, collinear, dupes)."""
    import duckdb

    import numpy as np

    from geomesa_spark.entry_queries_processes import Q_CONVEX_HULL_SQL
    from geomesa_spark.operators.processes import convex_hull_vertices
    rng = np.random.RandomState(11)
    rows = []
    for g in range(3):
        n = 200
        xs = rng.randint(-50, 51, n)
        ys = rng.randint(-50, 51, n)
        rows += [(f"g{g}", int(x), int(y)) for x, y in zip(xs, ys)]
        # force vertical stacks at the extremes
        rows += [(f"g{g}", -50, v) for v in (-10, 0, 10)]
        rows += [(f"g{g}", 50, v) for v in (-10, 0, 10)]
    df = spark.createDataFrame(rows, "grp string, x_ppm long, y_ppm long")
    got = {(r["grp"], r["x_ppm"], r["y_ppm"])
           for r in convex_hull_vertices(df, "grp").collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE pts (grp text, x bigint, y bigint)")
    con.executemany("INSERT INTO pts VALUES (?, ?, ?)", rows)
    # reuse the oracle body with the geo CTE swapped for the raw table
    body = Q_CONVEX_HULL_SQL.split("p AS (", 1)[1].split("\n),\n", 1)[1]
    sql = ("WITH p AS (SELECT DISTINCT grp, x, y FROM pts),\n" + body)
    want = {(r[0], r[1], r[2]) for r in con.execute(sql).fetchall()}
    assert got == want


@pytest.fixture(scope="module")
def knn_layout(spark, tmp_path_factory):
    """A z2 layout of 6000 distinct points, denser near the antimeridian
    and the poles."""
    from geomesa_spark.sources.layout import write_indexed
    path = str(tmp_path_factory.mktemp("knn_layout") / "pts")
    rng = np.random.RandomState(17)
    lon = np.concatenate([rng.uniform(-180, 180, 4000), rng.uniform(178, 180, 500),
                          rng.uniform(-180, -178, 500), rng.uniform(-180, 180, 1000)])
    lat = np.concatenate([rng.uniform(-90, 90, 5000),
                          rng.choice([-1.0, 1.0], 1000) * rng.uniform(87, 90, 1000)])
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))],
        "event_id long, lon double, lat double")
    write_indexed(df, path, ts_col="none")
    return path


def test_knn_runs_at_most_four_jobs_with_a_small_scan_plan(
        spark, knn_layout, count_jobs, monkeypatch):
    """From read_indexed to collect(), kNN of one point runs at most 4
    Spark jobs, and the plan of each candidate scan it collects stays
    under 10 kB (a row-major cell key, not a Morton bit-spread tree)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from geomesa_spark.operators.knn import knn_join
    from geomesa_spark.sources.layout import read_indexed
    sizes = []
    to_arrow = DataFrame.toArrow

    def recording(self):
        sizes.append(len(self._jdf.queryExecution().executedPlan().toString()))
        return to_arrow(self)
    monkeypatch.setattr(DataFrame, "toArrow", recording)
    rows = []
    jobs = count_jobs(lambda: rows.extend(knn_join(
        read_indexed(spark, knn_layout), [("q", 12.5, 40.0)], 10,
        n_rows=6000).collect()))
    assert len(rows) == 10
    assert jobs <= 4, jobs
    assert sizes and max(sizes) < 10_000, sizes


def test_knn_many_query_points_match_brute_force(spark, knn_layout):
    """knn_join with 60 query points — antimeridian, poles, duplicated
    positions — returns exactly the brute-force neighbours and ranks."""
    from geomesa_spark.operators.knn import knn_brute_force, knn_join
    from geomesa_spark.sources.layout import read_indexed
    rng = np.random.RandomState(23)
    qs = [(f"r{i}", float(x), float(y)) for i, (x, y) in
          enumerate(zip(rng.uniform(-180, 180, 40), rng.uniform(-85, 85, 40)))]
    qs += [("am0", 179.99, 0.0), ("am1", -179.99, 0.0), ("am2", 180.0, 45.0),
           ("am3", -180.0, -45.0), ("np", 0.0, 90.0), ("sp", 0.0, -90.0),
           ("np1", 120.0, 89.5), ("sp1", -60.0, -89.9), ("c0", 179.0, 88.0),
           ("c1", -179.5, -88.5)]
    qs += [(f"d{i}", x, y) for i, (_q, x, y) in enumerate(qs[::5])]
    assert len(qs) >= 50
    pts = read_indexed(spark, knn_layout)
    key = ["qid", "event_id", "knn_rank"]
    got = {tuple(r) for r in knn_join(pts, qs, 8, n_rows=6000).select(*key).collect()}
    want = {tuple(r) for r in knn_brute_force(pts, qs, 8).select(*key).collect()}
    assert got == want and len(got) == 8 * len(qs)
