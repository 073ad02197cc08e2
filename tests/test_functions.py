"""Function-surface tests: native cell expressions vs the Python cell library,
and ST_* UDF behavior through Spark SQL (mirrors geomesa-spark-jts udf tests)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geomesa_spark.cells.grid import cell_id
from geomesa_spark.cells.z3 import BinnedTime
from geomesa_spark.cells.zn import Z2SFC, Z3SFC
from geomesa_spark.functions.cell_functions import (cell_col, pixel_cols,
                                                    tile_cols, time_bin_col,
                                                    z2_col, z3_col)
from geomesa_spark.geom import wkb_loads, wkt_loads
from geomesa_spark.geom.wkb import wkb_dumps


@pytest.fixture(scope="module")
def points_df(spark):
    rng = np.random.RandomState(11)
    pdf = pd.DataFrame({
        "lon": rng.uniform(-179.9, 179.9, 500),
        "lat": rng.uniform(-89.9, 89.9, 500),
        "ts": pd.to_datetime(rng.randint(1_500_000_000, 1_700_000_000, 500), unit="s", utc=True),
    })
    return spark.createDataFrame(pdf), pdf


class TestNativeCellExprs:
    def test_z2_col_matches_library(self, points_df):
        df, pdf = points_df
        got = df.select(z2_col(F.col("lon"), F.col("lat")).alias("z")).toPandas()["z"].to_numpy()
        sfc = Z2SFC(31)
        expected = np.array([sfc.index(x, y) for x, y in zip(pdf.lon, pdf.lat)], dtype=np.int64)
        np.testing.assert_array_equal(got, expected)

    @pytest.mark.parametrize("period", ["day", "week", "month", "year"])
    def test_z3_col_matches_library(self, points_df, period):
        df, pdf = points_df
        got = df.select(
            time_bin_col(F.col("ts"), period).alias("bin"),
            z3_col(F.col("lon"), F.col("lat"), F.col("ts"), period).alias("z"),
        ).toPandas()
        sfc = Z3SFC(period)
        millis = (pdf.ts.astype("int64") // 1_000_000).to_numpy()
        for i in range(0, len(pdf), 37):
            bt = BinnedTime.to_binned_time(int(millis[i]), period)
            assert got["bin"][i] == bt.bin
            assert got["z"][i] == sfc.index(pdf.lon[i], pdf.lat[i], bt.offset)

    def test_curve_cols_match_numpy_twins(self, spark, points_df):
        """z2_col, z3_col (every period) and cell_col equal the numpy
        encoders on the same points, the lon/lat edges and the last double
        below each upper bound included (one curve, one normalizer)."""
        from geomesa_spark.cells.grid import cell_id_np
        _, pdf = points_df
        below = [np.nextafter(180.0, 0.0), np.nextafter(90.0, 0.0)]
        edges = pd.DataFrame({
            "lon": [-180.0, 180.0, below[0], 0.0, -180.0, below[0]],
            "lat": [-90.0, 90.0, 0.0, below[1], 90.0, below[1]],
            "ts": pd.to_datetime([0, 1, 86_399, 1_700_000_000, 1_609_459_199,
                                  1_609_459_200], unit="s", utc=True)})
        pdf = pd.concat([pdf, edges], ignore_index=True)
        df = spark.createDataFrame(pdf)
        lon, lat = pdf.lon.to_numpy(), pdf.lat.to_numpy()
        millis = (pdf.ts.astype("int64") // 1_000_000).to_numpy()
        periods = ("day", "week", "month", "year")
        got = df.select(
            z2_col(F.col("lon"), F.col("lat")).alias("z2"),
            cell_col(F.col("lon"), F.col("lat"), 12).alias("cell"),
            *[z3_col(F.col("lon"), F.col("lat"), F.col("ts"), p).alias(p)
              for p in periods]).toPandas()
        assert got.z2.tolist() == Z2SFC().index_np(lon, lat).tolist()
        assert got.cell.tolist() == cell_id_np(lon, lat, 12).tolist()
        for p in periods:
            offsets = np.array([BinnedTime.to_binned_time(int(m), p).offset
                                for m in millis])
            assert got[p].tolist() == Z3SFC(p).index_np(lon, lat, offsets).tolist(), p

    def test_cell_col_matches_library(self, points_df):
        df, pdf = points_df
        got = df.select(cell_col(F.col("lon"), F.col("lat"), 12).alias("c")).toPandas()["c"]
        for i in range(0, len(pdf), 41):
            assert got[i] == cell_id(pdf.lon[i], pdf.lat[i], 12)

    def test_tile_and_pixel(self, spark):
        df = spark.createDataFrame(pd.DataFrame({"lon": [0.0, -180.0, 179.9], "lat": [0.0, -90.0, 89.9]}))
        tx, ty = tile_cols(F.col("lon"), F.col("lat"), 2)
        px, py = pixel_cols(F.col("lon"), F.col("lat"), -180, -90, 180, 90, 256, 256)
        r = df.select(tx.alias("tx"), ty.alias("ty"), px.alias("px"), py.alias("py")).collect()
        assert (r[0].tx, r[0].ty) == (2, 2)
        assert (r[1].tx, r[1].ty) == (0, 0)
        assert (r[2].tx, r[2].ty) == (3, 3)
        assert (r[1].px, r[1].py) == (0, 0)
        assert (r[2].px, r[2].py) == (255, 255)

    def test_pixel_cols_clamps_far_points_under_ansi(self, spark):
        """Points far outside a tiny envelope land in its edge pixels: the
        bigint floor is clamped before the int cast, which would overflow
        (CAST_OVERFLOW under ANSI mode) the other way round."""
        df = spark.createDataFrame(pd.DataFrame({"lon": [170.0, -170.0], "lat": [80.0, -80.0]}))
        px, py = pixel_cols(F.col("lon"), F.col("lat"), 0.0, 0.0, 1e-6, 1e-6, 256, 256)
        assert [tuple(r) for r in df.select(px, py).collect()] == [(255, 255), (0, 0)]

    def test_whole_stage_codegen(self, spark, sf_dir):
        # over a real parquet scan (not a folded local relation) the cell
        # assignment must stay inside whole-stage codegen — no Python eval
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        proj = df.select(z2_col(F.col("value") % 360 - 180, F.col("value") % 180 - 90).alias("z"))
        plan = proj._jdf.queryExecution().executedPlan().toString()
        assert plan.startswith("*(")  # whole-stage codegen: no Python eval node
        assert "EvalPython" not in plan
        assert "ReadSchema: struct<value:double>" in plan  # column pruning reached the scan


class TestSTFunctions:
    def test_constructors_and_outputs(self, spark):
        row = spark.sql("""
            SELECT st_asText(st_geomFromWKT('POINT (1 2)')) AS wkt,
                   st_x(st_makePoint(3.5, -4.5)) AS x,
                   st_y(st_makePoint(3.5, -4.5)) AS y,
                   st_asText(st_makeBBOX(0, 0, 1, 1)) AS bbox,
                   st_geometryType(st_geomFromWKT('LINESTRING (0 0, 1 1)')) AS gt
        """).collect()[0]
        assert row.wkt == "POINT (1 2)"
        assert (row.x, row.y) == (3.5, -4.5)
        assert wkt_loads(row.bbox).area == 1.0
        assert row.gt == "LineString"

    def test_predicates_sql(self, spark):
        row = spark.sql("""
            SELECT st_intersects(st_geomFromWKT('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))'),
                                 st_makePoint(1.0, 1.0)) AS a,
                   st_contains(st_geomFromWKT('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))'),
                               st_makePoint(5.0, 5.0)) AS b,
                   st_within(st_makePoint(1.0, 1.0),
                             st_geomFromWKT('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))')) AS c,
                   st_disjoint(st_makePoint(9.0, 9.0),
                               st_geomFromWKT('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))')) AS d
        """).collect()[0]
        assert (row.a, row.b, row.c, row.d) == (True, False, True, True)

    def test_vectorized_point_fast_path(self, spark):
        # many points vs one constant polygon exercises the numpy kernel
        rng = np.random.RandomState(3)
        pdf = pd.DataFrame({"lon": rng.uniform(40, 50, 2000), "lat": rng.uniform(20, 30, 2000)})
        df = spark.createDataFrame(pdf)
        n = (df.withColumn("g", F.expr("st_makePoint(lon, lat)"))
               .where(F.expr("st_intersects(g, st_geomFromWKT('POLYGON ((45 23, 48 23, 48 27, 45 27, 45 23))'))"))
               .count())
        inside = ((pdf.lon >= 45) & (pdf.lon <= 48) & (pdf.lat >= 23) & (pdf.lat <= 27)).sum()
        assert n == inside

    def test_measures(self, spark):
        row = spark.sql("""
            SELECT st_area(st_geomFromWKT('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))')) AS area,
                   st_length(st_geomFromWKT('LINESTRING (0 0, 3 4)')) AS len,
                   st_distance(st_makePoint(0.0, 0.0), st_makePoint(3.0, 4.0)) AS dist,
                   st_distanceSphere(st_makePoint(0.0, 0.0), st_makePoint(1.0, 0.0)) AS dsph,
                   st_asText(st_centroid(st_geomFromWKT('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))'))) AS ctr
        """).collect()[0]
        assert row.area == 16.0
        assert row.len == 5.0
        assert row.dist == 5.0
        assert 111_100 < row.dsph < 111_260
        assert row.ctr == "POINT (1 1)"

    def test_geohash_round_trip(self, spark):
        row = spark.sql("""
            SELECT st_geoHash(st_makePoint(-0.1278, 51.5074), 35) AS gh
        """).collect()[0]
        assert row.gh.startswith("gcpv")  # London geohash prefix
        row2 = spark.sql(f"""
            SELECT st_asText(st_pointFromGeoHash('{row.gh}', 35)) AS pt
        """).collect()[0]
        g = wkt_loads(row2.pt)
        assert abs(g.x - (-0.1278)) < 0.1 and abs(g.y - 51.5074) < 0.1

    def test_geohash_col_matches_scalar_encoder(self, spark):
        """Native-Catalyst geohash_col is bit-identical to the scalar
        reference encoder at every char width (both interleave parities)
        including the domain corners."""
        import random

        from geomesa_spark.functions import geohash as ghmod
        from geomesa_spark.functions.cell_functions import geohash_col
        rng = random.Random(7)
        pts = [(rng.uniform(-180, 180), rng.uniform(-90, 90))
               for _ in range(200)]
        pts += [(-180.0, -90.0), (180.0, 90.0), (0.0, 0.0),
                (179.9999999, 89.9999999), (-179.9999999, -89.9999999)]
        # every combination of the domain edges and signed zeros
        pts += [(x, y) for x in (-180.0, -0.0, 0.0, 180.0)
                for y in (-90.0, -0.0, 0.0, 90.0)]
        df = spark.createDataFrame(pts, "lon double, lat double")
        for chars in range(1, 13):
            rows = df.select(
                "lon", "lat",
                geohash_col(F.col("lon"), F.col("lat"), chars).alias("gh")
            ).collect()
            for r in rows:
                assert r.gh == ghmod.encode(r.lon, r.lat, 5 * chars), \
                    (chars, r.lon, r.lat)
                xmin, ymin, xmax, ymax = ghmod.decode_bounds(r.gh)
                assert xmin <= r.lon <= xmax and ymin <= r.lat <= ymax

    def test_buffer_point(self, spark):
        row = spark.sql("""
            SELECT st_intersects(st_bufferPoint(st_makePoint(0.0, 0.0), 100000.0),
                                 st_makePoint(0.5, 0.0)) AS near,
                   st_intersects(st_bufferPoint(st_makePoint(0.0, 0.0), 100000.0),
                                 st_makePoint(2.0, 0.0)) AS far
        """).collect()[0]
        assert row.near is True and row.far is False

    def test_envelope_and_boundary(self, spark):
        row = spark.sql("""
            SELECT st_asText(st_envelope(st_geomFromWKT('LINESTRING (0 0, 2 3)'))) AS env,
                   st_numPoints(st_geomFromWKT('LINESTRING (0 0, 1 1, 2 2)')) AS np
        """).collect()[0]
        assert wkt_loads(row.env).bounds == (0.0, 0.0, 2.0, 3.0)
        assert row.np == 3


class TestRelate:
    """DE-9IM truth tables ported from the reference's
    SparkSQLSpatialRelationshipsTest.scala (boxRef vs points/boxes fixtures)
    and SpatialRelationFunctionsTest.scala st_relate case."""

    BOX = "POLYGON((0 0, 0 10, 10 10, 10 0, 0 0))"
    CASES = [
        # (a, b, expected relate(a, b))
        ("LINESTRING(1 2, 3 4)", "LINESTRING(5 6, 7 8)", "FF1FF0102"),
        (BOX, "POINT(5 5)", "0F2FF1FF2"),
        (BOX, "POINT(0 5)", "FF20F1FF2"),
        (BOX, "POINT(0 0)", "FF20F1FF2"),
        (BOX, "POINT(-5 0)", "FF2FF10F2"),
        (BOX, "POLYGON((1 1, 1 2, 2 2, 2 1, 1 1))", "212FF1FF2"),
        (BOX, "POLYGON((0 1, 0 2, 1 2, 1 1, 0 1))", "212F11FF2"),
        (BOX, "POLYGON((-1 1, -1 2, 1 2, 1 1, -1 1))", "212101212"),
        (BOX, "POLYGON((-1 1, -1 2, 0 2, 0 1, -1 1))", "FF2F11212"),
        (BOX, "POLYGON((-2 1, -2 2, -1 2, -1 1, -2 1))", "FF2FF1212"),
        (BOX, "POLYGON((-1 -1, -1 0, 0 0, 0 -1, -1 -1))", "FF2F01212"),
        ("LINESTRING(0 10, 0 -10)", "LINESTRING(0 0, 1 0)", "F01FF0102"),
        ("LINESTRING(0 10, 0 -10)", "LINESTRING(-1 0, 1 0)", "0F1FF0102"),
    ]

    def test_relate_matrices(self):
        from geomesa_spark.geom import relate as rel
        for a, b, want in self.CASES:
            assert rel.relate(wkt_loads(a), wkt_loads(b)) == want, (a, b)

    def test_relate_consistent_with_predicates(self):
        """The DE-9IM matrix must agree with the SFS predicate truth table
        the reference asserts (contains/covers/touches/disjoint...)."""
        from geomesa_spark.geom import relate as rel
        # reference expectations: name -> (contains, covers, touches, disjoint)
        box = wkt_loads(self.BOX)
        exp = {
            "POINT(5 5)": (True, True, False, False),
            "POINT(0 5)": (False, True, True, False),
            "POINT(0 0)": (False, True, True, False),
            "POINT(-5 0)": (False, False, False, True),
            "POLYGON((1 1, 1 2, 2 2, 2 1, 1 1))": (True, True, False, False),
            "POLYGON((0 1, 0 2, 1 2, 1 1, 0 1))": (True, True, False, False),
            "POLYGON((-1 1, -1 2, 1 2, 1 1, -1 1))": (False, False, False, False),
            "POLYGON((-1 1, -1 2, 0 2, 0 1, -1 1))": (False, False, True, False),
            "POLYGON((-2 1, -2 2, -1 2, -1 1, -2 1))": (False, False, False, True),
            "POLYGON((-1 -1, -1 0, 0 0, 0 -1, -1 -1))": (False, False, True, False),
        }
        for w, (c_contains, c_covers, c_touches, c_disjoint) in exp.items():
            g = wkt_loads(w)
            assert rel.relate_bool(box, g, "T*****FF*") == c_contains, w
            assert rel.relate_bool(box, g, "T*****FF*") or not c_contains
            covers = any(rel.relate_bool(box, g, p) for p in
                         ("T*****FF*", "*T****FF*", "***T**FF*", "****T*FF*"))
            assert covers == c_covers, w
            touches = any(rel.relate_bool(box, g, p) for p in
                          ("FT*******", "F**T*****", "F***T****"))
            assert touches == c_touches, w
            assert rel.relate_bool(box, g, "FF*FF****") == c_disjoint, w

    def test_relate_sql(self, spark):
        row = spark.sql("""
            SELECT st_relate(st_geomFromWKT('LINESTRING(1 2, 3 4)'),
                             st_geomFromWKT('LINESTRING(5 6, 7 8)')) AS r,
                   st_relateBool(st_geomFromWKT('LINESTRING(1 2, 3 4)'),
                                 st_geomFromWKT('LINESTRING(5 6, 7 8)'),
                                 'FF*FF****') AS b,
                   st_relate(NULL, NULL) AS rn,
                   st_relateBool(NULL, NULL, NULL) AS bn
        """).collect()[0]
        assert row.r == "FF1FF0102"
        assert row.b is True
        assert row.rn is None and row.bn is None

    def test_difference_sql(self, spark):
        row = spark.sql("""
            SELECT st_area(st_difference(
                     st_geomFromWKT('POLYGON((0 0, 0 10, 10 10, 10 0, 0 0))'),
                     st_geomFromWKT('POLYGON((-1 1, -1 2, 1 2, 1 1, -1 1))'))) AS a,
                   st_asText(st_difference(
                     st_geomFromWKT('LINESTRING(-5 5, 15 5)'),
                     st_geomFromWKT('POLYGON((0 0, 0 10, 10 10, 10 0, 0 0))'))) AS l,
                   st_difference(NULL, NULL) AS n
        """).collect()[0]
        assert abs(row.a - 99.0) < 1e-9
        assert row.l == "MULTILINESTRING ((-5 5, 0 5), (10 5, 15 5))"
        assert row.n is None

    def test_aggregate_distance_sphere_sql(self, spark):
        row = spark.sql("""
            SELECT st_aggregateDistanceSphere(array(
                     st_makePoint(0.0, 0.0), st_makePoint(10.0, 0.0))) AS d
        """).collect()[0]
        assert abs(row.d - 1113194.0) < 2000.0  # reference: beCloseTo(1113194, 1)


class TestEngineCellFunctions:
    def test_s2_col_matches_library(self, spark):
        import numpy as np
        import pandas as pd

        from geomesa_spark.cells.s2 import S2SFC
        from geomesa_spark.functions.cell_functions import s2_col
        rng = np.random.RandomState(9)
        pdf = pd.DataFrame({"lon": rng.uniform(-180, 180, 300),
                            "lat": rng.uniform(-90, 90, 300)})
        df = spark.createDataFrame(pdf)
        got = df.select(s2_col(F.col("lon"), F.col("lat")).alias("s2")) \
                .toPandas()["s2"].to_numpy()
        sfc = S2SFC()
        for i in range(0, 300, 23):
            assert int(got[i]) == sfc.index(pdf.lon[i], pdf.lat[i])

    def test_cell_disk_col(self, spark):
        import pandas as pd

        from geomesa_spark.functions.cell_functions import cell_disk_col
        df = spark.createDataFrame(pd.DataFrame(
            {"lon": [0.0, -179.9, 0.0], "lat": [0.0, 0.0, 89.9]}))
        res, k, n = 4, 1, 16
        out = df.select(cell_disk_col(F.col("lon"), F.col("lat"), res, k)
                        .alias("d")).collect()
        assert len(out[0].d) == 9            # interior point: full 3x3
        assert len(out[1].d) == 9            # antimeridian wraps, still 9
        assert len(out[2].d) == 6            # polar row clamps: 3x2
        # all ids in range
        for r in out:
            assert all(0 <= c < n * n for c in r.d)

    def test_uuid_z3_locality_and_shape(self, spark):
        import pandas as pd

        from geomesa_spark.functions.cell_functions import uuid_z3_col
        pdf = pd.DataFrame({
            "lon": [10.0, 10.001, -120.0],
            "lat": [20.0, 20.001, -45.0],
            "ts": pd.to_datetime(["2024-01-05 10:00:00"] * 3),
            "id": [1, 2, 3]})
        df = spark.createDataFrame(pdf)
        rows = df.select(uuid_z3_col(F.col("lon"), F.col("lat"), F.col("ts"),
                                     F.col("id")).alias("u")).collect()
        import re
        for r in rows:
            assert re.fullmatch(
                r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}",
                r.u)
        # nearby points at the same time share a long prefix; far point differs
        a, b, c = (r.u.replace("-", "") for r in rows)
        common_ab = len([1 for x, y in zip(a, b) if x == y][:next(
            (i for i, (x, y) in enumerate(zip(a, b)) if x != y), 32)])
        common_ac = next((i for i, (x, y) in enumerate(zip(a, c)) if x != y), 32)
        assert common_ab >= 8 and common_ac < common_ab
        # deterministic
        rows2 = df.select(uuid_z3_col(F.col("lon"), F.col("lat"), F.col("ts"),
                                      F.col("id")).alias("u")).collect()
        assert [r.u for r in rows] == [r.u for r in rows2]


class TestColumnFunctionAPI:
    """Typed column bindings (geomesa_pyspark.scala.functions parity)."""

    def test_column_functions(self, spark):
        from geomesa_spark.functions import api as st
        df = spark.range(1)
        row = df.select(
            st.st_asText(st.st_geomFromWKT(F.lit("POINT (1 2)"))).alias("t"),
            st.st_contains(
                st.st_geomFromWKT(F.lit("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")),
                st.st_makePoint(F.lit(1.0), F.lit(2.0))).alias("c"),
            st.st_relate(
                st.st_geomFromWKT(F.lit("LINESTRING(1 2, 3 4)")),
                st.st_geomFromWKT(F.lit("LINESTRING(5 6, 7 8)"))).alias("r"),
        ).collect()[0]
        assert row.t == "POINT (1 2)"
        assert row.c is True
        assert row.r == "FF1FF0102"

    def test_dir_lists_surface(self):
        from geomesa_spark.functions import api as st
        names = dir(st)
        assert "st_intersects" in names and "st_difference" in names
        assert len([n for n in names if n.startswith("st_")]) > 70


class TestAccessorConventions:
    """JTS/reference accessor conventions the round-trip tests cannot pin
    (GeometricAccessorFunctions.scala:29-68): st_geometryN and
    st_interiorRingN are ONE-based with out-of-range -> null; st_pointN
    additionally supports negative (from-end) indices; getEnvelope
    degenerates to LineString/Point for flat extents."""

    def test_geometry_n_one_based(self, spark):
        rows = spark.sql(
            "SELECT st_asText(st_geometryN(g, 1)) AS g1,"
            " st_asText(st_geometryN(g, 3)) AS g3,"
            " st_geometryN(g, 0) AS g0, st_geometryN(g, 4) AS g4,"
            " st_asText(st_geometryN(st_geomFromWKT('POINT (5 6)'), 1)) AS simple"
            " FROM (SELECT st_geomFromWKT("
            "'MULTIPOINT ((1 1), (2 2), (3 3))') AS g)").collect()[0]
        assert rows.g1 == "POINT (1 1)"
        assert rows.g3 == "POINT (3 3)"
        assert rows.g0 is None and rows.g4 is None
        assert rows.simple == "POINT (5 6)"  # JTS: simple geom counts as 1

    def test_interior_ring_n_one_based(self, spark):
        rows = spark.sql(
            "SELECT st_asText(st_interiorRingN(g, 1)) AS r1,"
            " st_interiorRingN(g, 0) AS r0, st_interiorRingN(g, 2) AS r2"
            " FROM (SELECT st_geomFromWKT('POLYGON ((0 0, 10 0, 10 10,"
            " 0 10, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))') AS g)").collect()[0]
        assert rows.r1 == "LINESTRING (1 1, 2 1, 2 2, 1 2, 1 1)"
        assert rows.r0 is None and rows.r2 is None

    def test_point_n_negative_indices(self, spark):
        rows = spark.sql(
            "SELECT st_asText(st_pointN(g, 1)) AS p1,"
            " st_asText(st_pointN(g, -1)) AS pm1, st_pointN(g, 0) AS p0"
            " FROM (SELECT st_geomFromWKT("
            "'LINESTRING (0 0, 1 1, 2 2)') AS g)").collect()[0]
        assert rows.p1 == "POINT (0 0)"
        assert rows.pm1 == "POINT (2 2)"
        assert rows.p0 is None

    def test_envelope_degenerate_shapes(self, spark):
        rows = spark.sql(
            "SELECT st_asText(st_envelope(st_geomFromWKT('POINT (1 2)'))) AS p,"
            " st_asText(st_envelope(st_geomFromWKT('LINESTRING (0 0, 0 5)'))) AS v,"
            " st_asText(st_envelope(st_geomFromWKT('LINESTRING (0 0, 2 3)'))) AS b"
        ).collect()[0]
        assert rows.p == "POINT (1 2)"
        assert rows.v == "LINESTRING (0 0, 0 5)"
        assert rows.b.startswith("POLYGON")


def test_geohash_reference_golden(spark):
    """GeometricOutputFunctionsTest.scala:194-212: st_geoHash precision is
    BITS (25 bits -> 5 base32 chars), POINT(-76.5 38.5) -> 'dqce5'."""
    row = spark.sql(
        "SELECT st_geoHash(st_geomFromWKT('POINT (-76.5 38.5)'), 25) AS g"
    ).collect()[0]
    assert row.g == "dqce5"


class TestGeoHashReferenceGoldens:
    """Literal expectation values mined from the reference's GeoHashTest
    (geomesa-utils/src/test/.../geohash/GeoHashTest.scala:33-175) — the r3
    lesson: property tests can't catch convention errors; goldens can."""

    def test_encode_goldens(self):
        from geomesa_spark.functions import geohash
        assert geohash.encode(-5.6, 42.6, 25) == "ezs42"
        assert geohash.encode(-78, 38, 25) == "dqb81"
        assert geohash.encode(-78, 38, 27) == "dqb81h"    # sub-char bits
        assert geohash.encode(-78, 38, 40) == "dqb81jdn"
        assert geohash.encode(-78, 38, 63) == "dqb81jdnh32t8"

    def test_decode_goldens(self):
        from geomesa_spark.functions import geohash
        # GeoHashTest: cell centers, exact binary midpoints
        assert geohash.decode("ezs42") == (-5.60302734375, 42.60498046875)
        assert geohash.decode("dqb0c") == (-78.68408203125, 38.12255859375)
        # sub-character precision: only the first `prec` bits count
        assert geohash.decode("dqb0cn", 27) == (-78.695068359375,
                                                38.133544921875)
        assert geohash.decode("dqb0cne4", 40) == (-78.70176315307617,
                                                  38.13672065734863)

    def test_bbox_golden(self):
        from geomesa_spark.functions import geohash
        # GeoHashTest:46 — BoundingBox(-5.625, -5.5810546875,
        # 42.626953125, 42.5830078125) in (minX, maxX, maxY, minY) order
        assert geohash.decode_bounds("ezs42") == (
            -5.625, 42.5830078125, -5.5810546875, 42.626953125)

    def test_grid_indices_golden(self):
        from geomesa_spark.functions import geohash
        # GeoHashTest:177-194 — 9q8ys0 (30 bits): lat index 23248 of 2^15,
        # lon index 5232 of 2^15 (bit indices = offset within the dim grid)
        xmin, ymin, xmax, ymax = geohash.decode_bounds("9q8ys0")
        assert round((ymin + 90.0) / 180.0 * (1 << 15)) == 23248
        assert round((xmin + 180.0) / 360.0 * (1 << 15)) == 5232

    def test_sub_char_precision_sql(self, spark):
        # st_geomFromGeoHash honors BIT precision like GeoHash(hash, prec)
        row = spark.sql(
            "SELECT st_asText(st_pointFromGeoHash('dqb0cn', 27)) AS p27,"
            "       st_asText(st_pointFromGeoHash('dqb0cn', 30)) AS p30"
        ).collect()[0]
        assert row.p27 == "POINT (-78.695068359375 38.133544921875)"
        assert row.p27 != row.p30


class TestBoundingBoxGeoHashes:
    """BoundingBoxTest.scala:17-44 ports: covering-geohash counts for the
    five reference bboxes (functions/geohash.geohashes_from_bbox)."""

    def test_bbox_from_geohash_centers(self):
        from geomesa_spark.functions.geohash import (decode,
                                                     geohashes_from_bbox)
        x1, y1 = decode("dqb00")
        x2, y2 = decode("dqbxx")
        hashes = geohashes_from_bbox(min(x1, x2), min(y1, y2),
                                     max(x1, x2), max(y1, y2))
        assert len(hashes) == 24

    def test_charlottesville_bboxes(self):
        from geomesa_spark.functions.geohash import geohashes_from_bbox
        assert len(geohashes_from_bbox(-78, 38, -77.895029, 38.045834,
                                       32)) == 6
        assert len(geohashes_from_bbox(-78, 38, -77.89503, 38.0458335,
                                       32)) == 6

    def test_wide_bbox(self):
        from geomesa_spark.functions.geohash import geohashes_from_bbox
        assert len(geohashes_from_bbox(-50, -40, 50, 40, 32)) == 8

    def test_degenerate_point_bbox(self):
        from geomesa_spark.functions.geohash import geohashes_from_bbox
        assert len(geohashes_from_bbox(1, 1, 1, 1, 32)) == 1


def test_rowmajor_sql_matches_grid_cells(spark):
    """The SQL row-major key shared by pip_join and kNN equals iy * n + ix
    of the grid cell (grid.cell_xy) and the Morton cell_col mapped through
    grid.rowmajor: points on cell edges, at +-180 / +-90, NaN and null
    (NaN and null land in index 0, like cell_id_np's NaN)."""
    from geomesa_spark.cells import grid
    res = 6
    n = 1 << res
    edges = [-180.0 + k * 360.0 / n for k in (0, 1, 17, n - 1, n)]
    lats = [-90.0 + k * 180.0 / n for k in (0, 1, 33, n - 1, n)]
    rows = [(x, y) for x in edges for y in lats]
    rows += [(x + d, y + d) for x, y in rows[::3] for d in (-1e-9, 1e-9)]
    rows += [(float("nan"), 10.0), (10.0, float("nan")), (None, 10.0),
             (10.0, None), (None, None), (float("nan"), float("nan"))]
    df = spark.createDataFrame(rows, "lon double, lat double")
    got = df.select(
        "lon", "lat", F.expr(grid.rowmajor_sql("lon", "lat", n)).alias("key"),
        cell_col(F.col("lon"), F.col("lat"), res).alias("cell")).toPandas()
    lon = got.lon.astype(float).to_numpy()
    lat = got.lat.astype(float).to_numpy()
    with np.errstate(invalid="ignore"):
        cells = grid.cell_id_np(lon, lat, res)
    for i, cid in enumerate(cells):
        _res, ix, iy = grid.cell_xy(int(cid))
        assert got.key[i] == iy * n + ix == grid.rowmajor(int(got.cell[i])), \
            (lon[i], lat[i])
