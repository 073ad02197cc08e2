"""Spheroid measures + st_transform + convex-hull UDAF
(sql/GeometricDistanceFunctions.scala, udaf/ConvexHull.scala, the
st_geometryFromText / st_idlSafeGeom / st_box2DFromGeoHash aliases of
GeometricConstructorFunctions / SpatialRelationFunctions)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geomesa_spark.functions.crs import (CRS_REGISTRY, reproject,
                                         transform_points_np)
from geomesa_spark.geom import wkb_loads, wkt_loads
from geomesa_spark.geom.algos import (convex_hull_points, distance_spheroid,
                                      length_spheroid_m, vincenty_m)
from geomesa_spark.geom.wkt import wkt_dumps


class TestVincenty:
    def test_meridian_quadrant(self):
        # WGS84 meridian quadrant arc: 10,001,965.729 m (published)
        assert float(vincenty_m(0, 0, 0, 90)) == pytest.approx(
            10001965.729, abs=0.01)

    def test_equator_quadrant(self):
        # lambda-iteration cutoff at 1e-12 rad -> ~6 um on the equator
        assert float(vincenty_m(0, 0, 90, 0)) == pytest.approx(
            6378137.0 * np.pi / 2, abs=1e-4)

    def test_coincident_zero(self):
        assert float(vincenty_m(12.3, 45.6, 12.3, 45.6)) == 0.0

    def test_vs_haversine_magnitude(self):
        # ellipsoidal vs spherical differ < 0.6% at mid-latitudes
        from geomesa_spark.geom.algos import haversine_m
        v = float(vincenty_m(-73.7781, 40.6413, -0.4614, 51.4775))
        h = float(haversine_m(-73.7781, 40.6413, -0.4614, 51.4775))
        assert abs(v - h) / v < 0.006
        assert v == pytest.approx(5554182.0, abs=5.0)

    def test_vectorized(self):
        d = vincenty_m([0, 0], [0, 0], [1, 2], [0, 0])
        assert d.shape == (2,) and d[1] > d[0] > 0

    def test_geotools_chicago_goldens(self):
        """The reference's own expected values
        (SparkSQLGeometricDistanceFunctionsTest.scala:69-70: GeoTools
        GeodeticCalculator on the chicago fixture pairs)."""
        assert float(vincenty_m(-76.5, 38.5, -77.0, 38.0)) == pytest.approx(
            70681.00230533126, abs=1e-5)
        assert float(vincenty_m(-77.0, 38.0, -78.0, 39.0)) == pytest.approx(
            141178.0595870745, abs=1e-5)

    def test_geometry_first_coord_semantics(self):
        # reference: Geometry.getCoordinate (FIRST vertex), not nearest
        a = wkt_loads("LINESTRING (0 0, 10 10)")
        b = wkt_loads("POINT (0 1)")
        assert distance_spheroid(a, b) == pytest.approx(
            float(vincenty_m(0, 0, 0, 1)), abs=1e-9)

    def test_length_spheroid(self):
        g = wkt_loads("LINESTRING (0 0, 0 1, 0 2)")
        assert length_spheroid_m(g) == pytest.approx(
            float(vincenty_m(0, 0, 0, 2)), rel=1e-9)


class TestHullPoints:
    def test_square_with_interior(self):
        pts = np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0.5, 0.5]])
        hull = convex_hull_points(pts)
        assert len(hull) == 4

    def test_collinear_dropped(self):
        pts = np.array([[0, 0], [1, 0], [2, 0], [2, 1]])
        hull = convex_hull_points(pts)
        assert len(hull) == 3


class TestSparkSurface(object):
    def test_distance_spheroid_sql(self, spark):
        row = spark.sql(
            "SELECT st_distanceSpheroid(st_geomFromWKT('POINT (0 0)'),"
            " st_geomFromWKT('POINT (0 90)')) AS d").collect()[0]
        assert row.d == pytest.approx(10001965.729, abs=0.01)

    def test_length_spheroid_sql(self, spark):
        row = spark.sql(
            "SELECT st_lengthSpheroid(st_geomFromWKT("
            "'LINESTRING (0 0, 0 1)')) AS l").collect()[0]
        assert row.l == pytest.approx(float(vincenty_m(0, 0, 0, 1)), rel=1e-9)

    def test_aggregate_distance_spheroid_sql(self, spark):
        row = spark.sql(
            "SELECT st_aggregateDistanceSpheroid(array("
            "st_geomFromWKT('POINT (0 0)'),"
            " st_geomFromWKT('POINT (1 0)'))) AS d").collect()[0]
        assert row.d == pytest.approx(float(vincenty_m(0, 0, 1, 0)), rel=1e-9)

    def test_aliases_registered(self, spark):
        row = spark.sql(
            "SELECT st_asText(st_geometryFromText('POINT (1 2)')) AS a,"
            " st_asText(st_idlSafeGeom(st_geomFromWKT('POINT (1 2)'))) AS b,"
            " st_asText(st_box2DFromGeoHash('u1x0', 20)) AS c").collect()[0]
        assert row.a == "POINT (1 2)"
        assert row.b == "POINT (1 2)"
        assert row.c.startswith("POLYGON")

    def test_convexhull_udaf(self, spark):
        pdf = pd.DataFrame({
            "grp": ["a"] * 5 + ["b"],
            "wkt": ["POINT (0 0)", "POINT (1 0)", "POINT (1 1)",
                    "POINT (0 1)", "POINT (0.5 0.5)", "POINT (7 7)"]})
        df = spark.createDataFrame(pdf)
        df.createOrReplaceTempView("hull_pts")
        rows = {r.grp: r.h for r in spark.sql(
            "SELECT grp, st_asText(st_convexhull(st_geomFromWKT(wkt))) AS h"
            " FROM hull_pts GROUP BY grp").collect()}
        got = wkt_loads(rows["a"])
        assert got.geom_type == "Polygon"
        assert len(got.shell) == 5  # 4 corners + closing repeat
        assert wkt_loads(rows["b"]).geom_type == "Point"

    CODES = (["EPSG:3857", "EPSG:32631", "EPSG:32731"]
             + [f"EPSG:{c}" for c in CRS_REGISTRY])

    @pytest.mark.parametrize(
        "src,dst", [("EPSG:4326", c) for c in CODES]
        + [(c, "EPSG:4326") for c in CODES],
        ids=CODES + [f"{c}->4326" for c in CODES])
    def test_st_transform_matches_native_reproject(self, spark, src, dst):
        """The Column path (reproject) and the numpy path (st_transform)
        evaluate the same formula code — assert they agree per vertex,
        for every supported code, forward and inverse."""
        rng = np.random.RandomState(3)
        x, y = transform_points_np(rng.uniform(-5, 5, 50),
                                   rng.uniform(45, 55, 50), "EPSG:4326", src)
        pdf = pd.DataFrame({"lon": x, "lat": y})
        df = spark.createDataFrame(pdf)
        native = reproject(df, src, dst, x_col="lon", y_col="lat").toPandas()
        viaudf = df.select(
            F.expr(f"st_transform(st_point(lon, lat), '{src}',"
                   f" '{dst}')").alias("g")).collect()
        got = np.array([[wkb_loads(bytes(r.g)).x,
                         wkb_loads(bytes(r.g)).y] for r in viaudf])
        np.testing.assert_allclose(got[:, 0], native["x2"], rtol=1e-12)
        np.testing.assert_allclose(got[:, 1], native["y2"], rtol=1e-12)

    def test_make_valid_sql(self, spark):
        row = spark.sql(
            "SELECT st_asText(st_makeValid(st_geomFromWKT("
            "'POLYGON ((0 0, 0 1, 0 1, 1 1, 1 0, 0 0))'))) AS w"
        ).collect()[0]
        assert row.w == "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"

    def test_st_transform_osgb_golden(self, spark):
        """The reference's own golden
        (SparkSQLGeometricDistanceFunctionsTest.scala:104-110): WGS84
        POINT(-0.871722 52.023636) -> EPSG:27700
        POINT(477514.008 236736.032).  Matching GeoTools' output requires
        the DATUM DIRECTION to be right (a sign-reversed Helmert is ~200 m
        off here while still round-tripping perfectly)."""
        row = spark.sql(
            "SELECT st_transform(st_geomFromWKT("
            "'POINT (-0.871722 52.023636)'), 'EPSG:4326', 'EPSG:27700')"
            " AS g").collect()[0]
        g = wkb_loads(bytes(row.g))
        assert g.x == pytest.approx(477514.0081191745, abs=0.05)
        assert g.y == pytest.approx(236736.03179981868, abs=0.05)

    def test_st_transform_polygon_roundtrip(self, spark):
        row = spark.sql(
            "SELECT st_asText(st_transform(st_transform("
            "st_geomFromWKT('POLYGON ((10 50, 11 50, 11 51, 10 50))'),"
            " 'EPSG:4326', 'EPSG:3857'), 'EPSG:3857', 'EPSG:4326')) AS w"
        ).collect()[0]
        back = wkt_loads(row.w)
        np.testing.assert_allclose(
            back.shell, [[10, 50], [11, 50], [11, 51], [10, 50]], atol=1e-9)


class TestGeomDistanceFixtures:
    """GeomDistanceTest.scala ports — VincentyModel inverse + direct."""

    def test_flinders_peak_to_buninyong(self):
        # the canonical Vincenty reference line (also in the 1975 paper)
        d = float(vincenty_m(144.4248678889, -37.9510334167,
                             143.9264955278, -37.6528211389))
        assert d == pytest.approx(54972.271, abs=0.01)

    def test_ccri_to_albemarle_high_school(self):
        d = float(vincenty_m(-78.4953560, 38.0752150,
                             -78.5002901, 38.0754152))
        assert d == pytest.approx(433.5, abs=0.01)

    def test_ccri_to_mount_potts(self):
        d = float(vincenty_m(-78.4953560, 38.0752150,
                             170.919998, -43.498299))
        assert d == pytest.approx(14301344.142, abs=0.01)

    def test_move_with_bearing_and_distance(self):
        from geomesa_spark.geom.algos import vincenty_move_m
        lon2, lat2 = vincenty_move_m(-78.4953560, 38.0752150, -90.0,
                                     2300000.0)
        assert float(lon2) == pytest.approx(-104.060, abs=0.01)
        assert float(lat2) == pytest.approx(35.236, abs=0.01)
        # round trip: the inverse distance back to the start is the move
        d = float(vincenty_m(-78.4953560, 38.0752150,
                             float(lon2), float(lat2)))
        assert d == pytest.approx(2300000.0, abs=0.1)
