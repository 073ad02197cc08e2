"""Conic / polar CRS family tests (EPSG 9802 / 9822 / 9829).

No pyproj ships in this container, so correctness rests on properties that
pin each projection family uniquely:

* natural-origin exactness: forward(origin) == (FE, FN) to sub-mm,
* round-trip: inverse(forward(p)) == p to 1e-8 deg across the usage domain,
* differential geometry via finite differences against the ellipsoid's
  meridian/parallel radii: conformal families must be isotropic
  (k_meridian == k_parallel) with k == 1 on the standard parallel(s);
  the equal-area family must satisfy h*k == 1 everywhere.

Reference parity: QueryPlanner.scala:297-301 delegates arbitrary-CRS
result reprojection to GeoTools; these families + the registry cover the
dominant projected systems (Lambert-93, Canada Lambert, CONUS Albers,
polar stereographic) natively.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from geomesa_spark.functions import crs


def _project(spark, proj, pts):
    df = spark.createDataFrame(pts, "lon double, lat double")
    x, y = proj.forward(df.lon, df.lat)
    rows = df.select(x.alias("x"), y.alias("y")).collect()
    return [(r.x, r.y) for r in rows]


def _unproject(spark, proj, pts):
    df = spark.createDataFrame(pts, "x double, y double")
    lon, lat = proj.inverse(df.x, df.y)
    rows = df.select(lon.alias("lon"), lat.alias("lat")).collect()
    return [(r.lon, r.lat) for r in rows]


def _radii(a, f, lat_deg):
    e2 = f * (2 - f)
    s = math.sin(math.radians(lat_deg))
    m = a * (1 - e2) / (1 - e2 * s * s) ** 1.5       # meridian radius
    n = a / math.sqrt(1 - e2 * s * s)                # prime vertical
    return m, n


def _scales(spark, proj, a, f, lon, lat, d=1e-6):
    """(k_meridian, k_parallel) by finite differences."""
    (x0, y0), (xm, ym), (xp, yp) = _project(
        spark, proj, [(lon, lat), (lon, lat + d), (lon + d, lat)])
    m, n = _radii(a, f, lat)
    drad = math.radians(d)
    k_mer = math.hypot(xm - x0, ym - y0) / (m * drad)
    k_par = math.hypot(xp - x0, yp - y0) / (n * math.cos(math.radians(lat)) * drad)
    return k_mer, k_par


LCC = crs.CRS_REGISTRY[2154]
ALBERS = crs.CRS_REGISTRY[5070]
PS_S = crs.CRS_REGISTRY[3031]
PS_N = crs.CRS_REGISTRY[3413]


class TestLambertConformal:
    def test_natural_origin_is_false_origin(self, spark):
        [(x, y)] = _project(spark, LCC, [(3.0, 46.5)])
        assert abs(x - 700_000.0) < 1e-3 and abs(y - 6_600_000.0) < 1e-3

    def test_roundtrip(self, spark):
        pts = [(lon, lat) for lon in (-4.5, 0.0, 3.0, 7.8)
               for lat in (41.5, 44.0, 46.5, 49.0, 51.0)]
        out = _unproject(spark, LCC, _project(spark, LCC, pts))
        for (lon, lat), (lon2, lat2) in zip(pts, out):
            assert abs(lon - lon2) < 1e-8 and abs(lat - lat2) < 1e-8

    def test_conformal_and_unit_scale_on_standard_parallels(self, spark):
        for lat in (44.0, 49.0):          # standard parallels: k == 1
            km, kp = _scales(spark, LCC, crs.GRS80_A, crs.GRS80_F, 2.0, lat)
            assert abs(km - 1.0) < 1e-4 and abs(kp - 1.0) < 1e-4
        # between the parallels: k < 1 but still isotropic (conformal)
        km, kp = _scales(spark, LCC, crs.GRS80_A, crs.GRS80_F, 2.0, 46.5)
        assert abs(km - kp) < 1e-4 and km < 1.0

    def test_reproject_dispatch(self, spark):
        df = spark.createDataFrame([(3.0, 46.5), (2.35, 48.85)],
                                   "x double, y double")
        out = crs.reproject(df, 4326, 2154).collect()
        assert abs(out[0].x2 - 700_000.0) < 1e-3
        back = crs.reproject(
            crs.reproject(df, 4326, 2154).select(
                out_df_cols("x2", "y2")), 2154, 4326).collect()
        assert abs(back[1].x2 - 2.35) < 1e-8
        assert abs(back[1].y2 - 48.85) < 1e-8


def out_df_cols(xc, yc):
    from pyspark.sql import functions as F
    return [F.col(xc).alias("x"), F.col(yc).alias("y")]


class TestAlbers:
    def test_natural_origin(self, spark):
        [(x, y)] = _project(spark, ALBERS, [(-96.0, 23.0)])
        assert abs(x) < 1e-3 and abs(y) < 1e-3

    def test_roundtrip(self, spark):
        pts = [(lon, lat) for lon in (-120.0, -96.0, -75.0)
               for lat in (24.0, 29.5, 37.0, 45.5, 49.0)]
        out = _unproject(spark, ALBERS, _project(spark, ALBERS, pts))
        for (lon, lat), (lon2, lat2) in zip(pts, out):
            assert abs(lon - lon2) < 1e-8 and abs(lat - lat2) < 1e-8

    def test_equal_area_and_standard_parallels(self, spark):
        # h*k == 1 everywhere (equal-area), k_par == 1 on both parallels
        for lat in (29.5, 45.5):
            km, kp = _scales(spark, ALBERS, crs.GRS80_A, crs.GRS80_F,
                             -100.0, lat)
            assert abs(kp - 1.0) < 1e-4 and abs(km * kp - 1.0) < 1e-4
        km, kp = _scales(spark, ALBERS, crs.GRS80_A, crs.GRS80_F, -90.0, 38.0)
        assert abs(km * kp - 1.0) < 1e-4 and abs(kp - 1.0) > 1e-5


class TestPolarStereographic:
    def test_pole_is_false_origin(self, spark):
        [(x, y)] = _project(spark, PS_S, [(0.0, -90.0)])
        assert abs(x) < 1e-6 and abs(y) < 1e-6
        [(x, y)] = _project(spark, PS_N, [(-45.0, 90.0)])
        assert abs(x) < 1e-6 and abs(y) < 1e-6

    def test_roundtrip_south(self, spark):
        pts = [(lon, lat) for lon in (-150.0, -30.0, 0.0, 60.0, 179.0)
               for lat in (-89.0, -80.0, -71.0, -60.0)]
        out = _unproject(spark, PS_S, _project(spark, PS_S, pts))
        for (lon, lat), (lon2, lat2) in zip(pts, out):
            dl = (lon - lon2 + 180.0) % 360.0 - 180.0
            assert abs(dl) < 1e-8 and abs(lat - lat2) < 1e-8

    def test_roundtrip_north(self, spark):
        pts = [(lon, lat) for lon in (-135.0, -45.0, 0.0, 90.0)
               for lat in (60.0, 70.0, 85.0, 89.5)]
        out = _unproject(spark, PS_N, _project(spark, PS_N, pts))
        for (lon, lat), (lon2, lat2) in zip(pts, out):
            dl = (lon - lon2 + 180.0) % 360.0 - 180.0
            assert abs(dl) < 1e-8 and abs(lat - lat2) < 1e-8

    def test_unit_scale_on_standard_parallel_and_conformal(self, spark):
        km, kp = _scales(spark, PS_S, crs.WGS84_A, crs.WGS84_F, 45.0, -71.0)
        assert abs(km - 1.0) < 1e-4 and abs(kp - 1.0) < 1e-4
        km, kp = _scales(spark, PS_S, crs.WGS84_A, crs.WGS84_F, 10.0, -80.0)
        assert abs(km - kp) < 1e-4
        km, kp = _scales(spark, PS_N, crs.WGS84_A, crs.WGS84_F, 30.0, 70.0)
        assert abs(km - 1.0) < 1e-4 and abs(kp - 1.0) < 1e-4


class TestRegistry:
    def test_register_crs_extension(self, spark):
        # a state-plane-style custom LCC zone registers and dispatches
        zone = crs.LambertConformal2SP(crs.GRS80_A, crs.GRS80_F,
                                       34.0, 36.0, 33.75, -79.0,
                                       609601.22, 0.0)
        crs.register_crs(999901, zone)
        try:
            df = spark.createDataFrame([(-79.0, 33.75)], "x double, y double")
            out = crs.reproject(df, 4326, 999901).collect()
            assert abs(out[0].x2 - 609601.22) < 1e-3 and abs(out[0].y2) < 1e-3
        finally:
            crs.CRS_REGISTRY.pop(999901, None)

    def test_unknown_crs_raises(self, spark):
        df = spark.createDataFrame([(0.0, 0.0)], "x double, y double")
        with pytest.raises(ValueError):
            crs.reproject(df, 4326, 123456)


class TestLAEA:
    LAEA = crs.CRS_REGISTRY[3035]

    def test_origin_is_false_origin(self, spark):
        [(x, y)] = _project(spark, self.LAEA, [(10.0, 52.0)])
        assert abs(x - 4_321_000.0) < 1e-3 and abs(y - 3_210_000.0) < 1e-3

    def test_roundtrip(self, spark):
        pts = [(lon, lat) for lon in (-10.0, 0.0, 10.0, 30.0)
               for lat in (35.0, 45.0, 52.0, 60.0, 70.0)]
        out = _unproject(spark, self.LAEA, _project(spark, self.LAEA, pts))
        for (lon, lat), (lon2, lat2) in zip(pts, out):
            assert abs(lon - lon2) < 1e-8 and abs(lat - lat2) < 1e-8

    def test_equal_area_everywhere(self, spark):
        # azimuthal graticules are NOT orthogonal away from the central
        # meridian, so k_mer * k_par = 1/sin(theta') > 1 there even for a
        # perfect equal-area projection — the invariant is the JACOBIAN
        # area scale |x_phi y_lam - x_lam y_phi| / (M N cos(phi)), == 1
        d = 1e-6
        drad = math.radians(d)
        for lon, lat in ((10.0, 52.0), (-5.0, 40.0), (25.0, 65.0)):
            (x0, y0), (xm, ym), (xp, yp) = _project(
                spark, self.LAEA,
                [(lon, lat), (lon, lat + d), (lon + d, lat)])
            m, n = _radii(crs.GRS80_A, crs.GRS80_F, lat)
            sigma = abs((xm - x0) * (yp - y0) - (xp - x0) * (ym - y0)) \
                / (m * drad * n * math.cos(math.radians(lat)) * drad)
            assert abs(sigma - 1.0) < 1e-4
        # azimuthal: scale is 1 in every direction AT the origin
        km, kp = _scales(spark, self.LAEA, crs.GRS80_A, crs.GRS80_F,
                         10.0, 52.0)
        assert abs(km - 1.0) < 1e-4 and abs(kp - 1.0) < 1e-4


class TestTransverseMercator:
    """EPSG method 9807 with arbitrary parameters + Helmert datum."""

    # (lon, lat, easting, northing) on WGS84 UTM zone 16N and zone 60S,
    # recorded from the dedicated Krüger-series UTM expressions that
    # preceded the TransverseMercator special case
    UTM_GOLDENS = {
        32616: [
            (-89.9, -60.0, 338279.2490995865, -6654956.719936298),
            (-89.9, -10.0, 182044.57230534358, -1106810.6571221915),
            (-89.9, 0.0, 177163.80595640402, 0.0),
            (-89.9, 33.3, 229968.46787855146, 3688299.605087026),
            (-89.9, 71.5, 397332.01524130476, 7935627.766889792),
            (-87.0, -60.0, 500000.0, -6651411.190355416),
            (-87.0, -10.0, 500000.0, -1105412.4913014728),
            (-87.0, 0.0, 500000.0, 0.0),
            (-87.0, 33.3, 500000.0, 3684545.774099676),
            (-87.0, 71.5, 500000.0, 7933163.155605031),
            (-84.1, -60.0, 661720.7509004127, -6654956.719936298),
            (-84.1, -10.0, 817955.427694655, -1106810.6571221915),
            (-84.1, 0.0, 822836.1940435944, 0.0),
            (-84.1, 33.3, 770031.5321214474, 3688299.6050870256),
            (-84.1, 71.5, 602667.9847586945, 7935627.766889792),
        ],
        32760: [
            (174.0, -41.0, 247679.15210910758, 5456907.045611669),
            (177.9, -47.5, 567781.8477695208, 4738877.756417878),
            (171.0, -0.5, -168856.2014827506, 9944428.494518721),
        ],
    }

    @pytest.mark.parametrize("code", [32616, 32760])
    def test_utm_matches_recorded_goldens(self, spark, code):
        """UTM is TransverseMercator(WGS84, lat0=0, k0=0.9996, zone
        meridian): the Column path reproduces the recorded UTM outputs to
        1e-9 m, the numpy path to 1e-8 m (numpy's libm and the JVM's
        differ by an ulp or two, and an ulp of a 1e7 m northing is
        1.9e-9 m)."""
        rows = self.UTM_GOLDENS[code]
        df = spark.createDataFrame([r[:2] for r in rows], "x double, y double")
        got = crs.reproject(df, 4326, code).collect()
        ex, ny = crs.transform_points_np([r[0] for r in rows],
                                         [r[1] for r in rows], 4326, code)
        for (lon, lat, e, n), g, xe, yn in zip(rows, got, ex, ny):
            assert abs(g.x2 - e) < 1e-9 and abs(g.y2 - n) < 1e-9, (lon, lat)
            assert abs(xe - e) < 1e-8 and abs(yn - n) < 1e-8, (lon, lat)

    def test_utm_singular_point_is_null_not_a_failure(self, spark):
        """(3, 0) lies 90 degrees from zone 16's meridian, where the
        forward's atanh has its pole: the Column path gives null and the
        numpy path NaN in both coordinates, and the other rows keep their
        values."""
        pts = [(3.0, 0.0), (-87.0, 0.0), (-89.9, 33.3)]
        df = spark.createDataFrame(pts, "x double, y double")
        got = [(r.x2, r.y2) for r in crs.reproject(df, 4326, 32616).collect()]
        ex, ny = crs.transform_points_np(*zip(*pts), 4326, 32616)
        assert got[0] == (None, None)
        assert np.isnan(ex[0]) and np.isnan(ny[0])
        golden = {r[:2]: r[2:] for r in self.UTM_GOLDENS[32616]}
        want = [golden[p] for p in pts[1:]]
        assert got[1:] == want
        assert np.allclose(np.c_[ex[1:], ny[1:]], want, rtol=0, atol=1e-8)

    # (lon, lat) at the poles -> (E, N): the series' limit xi' = +-pi/2,
    # eta' = 0 is E = the false easting, N = the false northing plus k0 times
    # the meridian arc from the origin's latitude to the pole
    POLES = {
        32631: [(3.0, 90.0, 500_000.0, 9_997_964.94), (3.0, -90.0, 500_000.0, -9_997_964.94)],
        32731: [(3.0, 90.0, 500_000.0, 19_997_964.94), (-40.0, -90.0, 500_000.0, 2_035.06)],
        2193: [(173.0, -90.0, 1_600_000.0, 2_035.06)],
        27700: [(-2.0, 90.0, None, None), (0.5, -90.0, None, None)],
    }

    @pytest.mark.parametrize("code", sorted(POLES))
    def test_poles_are_the_series_limit(self, spark, code):
        """The forward is finite at lat +-90 on both paths (it was null /
        NaN there). 27700's datum shift moves the pole off 90 degrees, so
        its rows only have to be finite and agree."""
        rows = self.POLES[code]
        df = spark.createDataFrame([r[:2] for r in rows], "x double, y double")
        got = [(r.x2, r.y2) for r in crs.reproject(df, 4326, code).collect()]
        ex, ny = crs.transform_points_np([r[0] for r in rows], [r[1] for r in rows], 4326, code)
        assert np.isfinite(np.array(got, dtype=float)).all(), got
        assert np.allclose(np.c_[ex, ny], got, rtol=1e-12, atol=1e-8), (got, ex, ny)
        for (_lon, _lat, e, n), (ge, gn) in zip(rows, got):
            if e is not None:
                assert abs(ge - e) < 0.01 and abs(gn - n) < 0.01, (ge, gn)

    def test_bng_projection_os_worked_example(self, spark):
        """OS/EPSG worked example for the 27700 PROJECTION (datumless):
        OSGB36 lat 50d30'N lon 0d30'E -> E 577274.98 N 69740.49 (cm)."""
        proj = crs.TransverseMercator(crs.AIRY1830_A, crs.AIRY1830_F,
                                      49.0, -2.0, 0.9996012717,
                                      400_000.0, -100_000.0)
        [(e, n)] = _project(spark, proj, [(0.5, 50.5)])
        assert abs(e - 577274.98) < 0.02
        assert abs(n - 69740.49) < 0.02
        # natural origin lands on (FE, FN)
        [(e0, n0)] = _project(spark, proj, [(-2.0, 49.0)])
        assert abs(e0 - 400_000.0) < 1e-3 and abs(n0 + 100_000.0) < 1e-3

    def test_bng_roundtrip_with_datum_through_reproject(self, spark):
        """4326 -> 27700 -> 4326 closes to the 2D-convention bound.

        Each direction of a 2D datum shift assumes h=0 on ITS source
        ellipsoid (the PROJ/GeoTools 2D-pipeline convention), so the
        round trip inherently carries ~|h| * e^2 ~ a few cm of lateral
        non-closure where WGS84 and Airy differ by ~1.1 km; the exact
        closure (heights carried) is tested separately below."""
        pts = [(-5.0, 50.1), (-2.0, 53.0), (0.3, 51.5), (1.7, 52.6),
               (-3.2, 58.6)]
        df = spark.createDataFrame(pts, "x double, y double")
        # ONE lineage both ways: the staged datum application must keep
        # the plan linear (pure Column composition used to square the
        # tree per step and hang the optimizer on exactly this chain)
        mid = crs.reproject(df, 4326, 27700).select(
            F.col("x2").alias("x"), F.col("y2").alias("y"))
        back = crs.reproject(mid, 27700, 4326).collect()
        for (lon, lat), r in zip(pts, back):
            assert abs(r.x2 - lon) < 5e-7 and abs(r.y2 - lat) < 5e-7

    def test_datum_roundtrip_exact_with_height(self, spark):
        """With ellipsoidal height carried, the Helmert round trip closes
        to 1e-9 deg — proving the 2D residual above is purely the h=0
        convention, not the transform math."""
        df = spark.createDataFrame(
            [(-5.0, 50.1, 0.0), (0.3, 51.5, 0.0), (-3.2, 58.6, 120.0)],
            "lon double, lat double, h double")
        d = crs.OSGB36_DATUM
        osgb = d.apply(df, "lon", "lat", "lon_o", "lat_o", to_wgs84=False,
                       h_col="h", out_h="h_o")
        back = d.apply(osgb, "lon_o", "lat_o", "lon_b", "lat_b",
                       to_wgs84=True, h_col="h_o", out_h="h_b").collect()
        for r in back:
            assert abs(r.lon_b - r.lon) < 1e-9
            assert abs(r.lat_b - r.lat) < 1e-9
            assert abs(r.h_b - r.h) < 1e-3

    def test_osgb36_datum_shift_magnitude(self, spark):
        """WGS84 -> OSGB36 moves London coordinates by the well-known
        ~110-130 m (mostly westward): the Helmert is actually applied."""
        datum = crs.OSGB36_DATUM
        df = spark.createDataFrame([(-0.1276, 51.5072)],
                                   "lon double, lat double")
        shifted = datum.apply(df, "lon", "lat", "lon2", "lat2",
                              to_wgs84=False)
        [r] = shifted.collect()
        dlon = (r.lon2 - -0.1276) * 111_320.0 * math.cos(math.radians(51.5))
        dlat = (r.lat2 - 51.5072) * 111_320.0
        dist = math.hypot(dlon, dlat)
        assert 80.0 < dist < 200.0
        # and the shift must round-trip back, chained in one lineage
        # (2D convention: h=0 each direction -> few-cm closure bound)
        back = datum.apply(shifted, "lon2", "lat2", "lon3", "lat3",
                           to_wgs84=True)
        [r2] = back.collect()
        assert abs(r2.lon3 - -0.1276) < 5e-7 and abs(r2.lat3 - 51.5072) < 5e-7

    def test_osgb36_datum_direction(self):
        """Direction-pinning goldens (magnitude alone round-trips fine
        with either sign — this is what caught the reversed Helmert):
        (a) Airy transit circle: WGS84 lon -0.001475 -> OSGB36 lon ~ 0
        (the WGS84 meridian passes ~102 m EAST of the OSGB36 one);
        (b) GeoTools' EPSG:4326 -> 27700 golden point from the reference
        test suite, matched to < 5 cm."""
        lon, lat = crs.OSGB36_DATUM.shift_np([-0.001475], [51.477811],
                                             to_wgs84=False)
        assert abs(lon[0]) < 5e-4  # ~35 m bound; reversed sign gives -3e-3
        x, y = crs.transform_points_np([-0.871722], [52.023636],
                                       4326, 27700)
        assert abs(x[0] - 477514.0081191745) < 0.05
        assert abs(y[0] - 236736.03179981868) < 0.05

    def test_osgb36_datum_direction_column_path(self, spark):
        """Same golden through the native Column reproject path."""
        df = spark.createDataFrame([(-0.871722, 52.023636)],
                                   "x double, y double")
        [r] = crs.reproject(df, 4326, 27700).collect()
        assert abs(r.x2 - 477514.0081191745) < 0.05
        assert abs(r.y2 - 236736.03179981868) < 0.05

    def test_nztm_roundtrip_and_origin(self, spark):
        nztm = crs.CRS_REGISTRY[2193]
        [(e0, n0)] = _project(spark, nztm, [(173.0, 0.0)])
        assert abs(e0 - 1_600_000.0) < 1e-3 and abs(n0 - 10_000_000.0) < 1e-3
        pts = [(lon, lat) for lon in (167.0, 173.0, 178.5)
               for lat in (-47.3, -41.2, -34.4)]
        out = _unproject(spark, nztm, _project(spark, nztm, pts))
        for (lon, lat), (lon2, lat2) in zip(pts, out):
            assert abs(lon - lon2) < 1e-8 and abs(lat - lat2) < 1e-8

    def test_tm_conformal_scale(self, spark):
        """Conformal: k_mer == k_par, and k == k0 on the central
        meridian (BNG: 0.9996012717 at lon0=-2)."""
        proj = crs.CRS_REGISTRY[27700]
        km, kp = _scales(spark, proj, crs.AIRY1830_A, crs.AIRY1830_F,
                         -2.0, 52.0)
        assert abs(km - kp) < 1e-6
        assert abs(km - 0.9996012717) < 1e-5


class TestPublishedWorkedExamples:
    """Absolute goldens from EPSG Guidance Note 7-2 / Snyder worked
    examples, evaluated through the numpy twin (same formula code as the
    Column path — parity pinned elsewhere).  Property tests (round-trip,
    conformality, equal-area) cannot catch a mirrored axis or datum sign;
    these can."""

    def test_lcc_2sp_epsg_example(self):
        # NAD27 Texas South Central (Clarke 1866), EPSG 9802 example:
        # lat 28d30'N lon 96dW -> E 2963503.91 ftUS, N 254759.80 ftUS
        import numpy as np
        ft = 0.3048006096012192
        p = crs.LambertConformal2SP(6378206.400, 1 / 294.97870,
                                    28 + 23 / 60, 30 + 17 / 60,
                                    27 + 50 / 60, -99.0,
                                    2_000_000 * ft, 0.0)
        with crs._numpy_funcs():
            x, y = p.forward(np.array([-96.0]), np.array([28.5]))
        assert abs(float(x[0]) / ft - 2963503.91) < 0.02
        assert abs(float(y[0]) / ft - 254759.80) < 0.02

    def test_polar_stereo_b_epsg_example(self):
        # EPSG 9829 example: WGS84, std parallel 71S, origin lon 70E,
        # FE=FN=6000000: lat 75S lon 120E -> E 7255380.79, N 7053389.56
        import numpy as np
        p = crs.PolarStereographicB(crs.WGS84_A, crs.WGS84_F, -71.0, 70.0,
                                    6_000_000.0, 6_000_000.0)
        with crs._numpy_funcs():
            x, y = p.forward(np.array([120.0]), np.array([-75.0]))
        assert abs(float(x[0]) - 7255380.79) < 0.02
        assert abs(float(y[0]) - 7053389.56) < 0.02

    def test_laea_epsg_example(self):
        # EPSG 9820 example (the EPSG:3035 parameters):
        # lat 50N lon 5E -> E 3962799.45, N 2999718.85
        import numpy as np
        p = crs.CRS_REGISTRY[3035]
        with crs._numpy_funcs():
            x, y = p.forward(np.array([5.0]), np.array([50.0]))
        assert abs(float(x[0]) - 3962799.45) < 0.02
        assert abs(float(y[0]) - 2999718.85) < 0.02

    def test_albers_snyder_example(self):
        # Snyder p.292: Clarke 1866, phi1=29.5 phi2=45.5 phi0=23 lam0=96W,
        # lat 35N lon 75W -> x 1885472.7, y 1535925.0
        import numpy as np
        a = crs.AlbersEqualArea(6378206.4, 1 / 294.97870, 29.5, 45.5,
                                23.0, -96.0, 0.0, 0.0)
        with crs._numpy_funcs():
            x, y = a.forward(np.array([-75.0]), np.array([35.0]))
        assert abs(float(x[0]) - 1885472.7) < 0.1
        assert abs(float(y[0]) - 1535925.0) < 0.1


class TestGridShiftDatum:
    """NTv2-style grid-shift datum (crs.GridShiftDatum): bilinear node
    blend in NTv2 sign conventions (lat sec north, lon sec WEST), exact
    on linear grids, fixed-point inverse, zero-shift outside coverage,
    Catalyst path == numpy twin."""

    def _grid(self):
        nlat, nlon = 5, 6
        lat_sec = [0.5 + 0.1 * ix + 0.2 * iy
                   for iy in range(nlat) for ix in range(nlon)]
        lon_w = [1.0 - 0.05 * ix + 0.1 * iy
                 for iy in range(nlat) for ix in range(nlon)]
        return crs.GridShiftDatum(50.0, -8.0, 1.0, 1.0, nlat, nlon,
                                  lat_sec, lon_w)

    def test_linear_grid_exact_and_round_trip(self):
        import numpy as np
        g = self._grid()
        lon = np.array([-6.3, -4.25, -7.999])
        lat = np.array([51.7, 53.9, 50.001])
        olon, olat = g.shift_np(lon, lat, to_wgs84=True)
        # bilinear of a linear field is exact -> analytic expectation
        exp_lat = lat + (0.5 + 0.1 * (lon + 8) + 0.2 * (lat - 50)) / 3600
        exp_lon = lon - (1.0 - 0.05 * (lon + 8) + 0.1 * (lat - 50)) / 3600
        assert np.allclose(olat, exp_lat, atol=1e-12)
        assert np.allclose(olon, exp_lon, atol=1e-12)
        blon, blat = g.shift_np(olon, olat, to_wgs84=False)
        assert np.allclose(blon, lon, atol=1e-10)
        assert np.allclose(blat, lat, atol=1e-10)

    def test_outside_coverage_identity(self):
        import numpy as np
        g = self._grid()
        olon, olat = g.shift_np(np.array([100.0]), np.array([0.0]),
                                to_wgs84=True)
        assert olon[0] == 100.0 and olat[0] == 0.0

    def test_hand_computed_corner_blend(self):
        import numpy as np
        # non-linear grid: hand-blend the 4 corners around (-7.5, 50.25)
        vals = [float(i * i % 7) for i in range(30)]
        g = crs.GridShiftDatum(50.0, -8.0, 1.0, 1.0, 5, 6, vals, [0.0] * 30)
        # gx = 0.5, gy = 0.25 -> corners (0,0),(0,1),(1,0),(1,1) = idx 0,1,6,7
        exp = (vals[0] * 0.5 * 0.75 + vals[1] * 0.5 * 0.75
               + vals[6] * 0.5 * 0.25 + vals[7] * 0.5 * 0.25) / 3600.0
        _, olat = g.shift_np(np.array([-7.5]), np.array([50.25]),
                             to_wgs84=True)
        assert abs((olat[0] - 50.25) - exp) < 1e-14

    def test_catalyst_matches_numpy(self, spark):
        import numpy as np
        g = self._grid()
        pts = [(-6.3, 51.7), (-4.25, 53.9), (-7.999, 50.001),
               (-2.0, 54.0),      # on the grid edge
               (100.0, 0.0)]      # outside coverage
        df = spark.createDataFrame(pts, "lon double, lat double")
        for direction in (True, False):
            got = (g.apply(df, "lon", "lat", "olon", "olat",
                           to_wgs84=direction)
                   .orderBy("lon").collect())
            lon = np.array([p[0] for p in pts])
            lat = np.array([p[1] for p in pts])
            elon, elat = g.shift_np(lon, lat, to_wgs84=direction)
            order = np.argsort(lon)
            for r, i in zip(got, order):
                assert abs(r.olon - elon[i]) < 1e-12
                assert abs(r.olat - elat[i]) < 1e-12

    def test_reproject_integration_round_trip(self, spark):
        # a TM projection on a grid-shifted datum, registered + round-
        # tripped through reproject() like BNG/OSGB36 is for Helmert
        import numpy as np
        g = self._grid()
        proj = crs.TransverseMercator(crs.AIRY1830_A, crs.AIRY1830_F,
                                      49.0, -2.0, 0.9996012717,
                                      400000.0, -100000.0, datum=g)
        crs.register_crs(90001, proj)
        try:
            df = spark.createDataFrame([(-4.0, 52.5), (-1.0, 51.0)],
                                       "x double, y double")
            fwd = crs.reproject(df, 4326, 90001, "x", "y", "e", "n")
            back = crs.reproject(fwd, 90001, 4326, "e", "n", "x2", "y2")
            for r in back.collect():
                assert abs(r.x2 - r.x) < 1e-8
                assert abs(r.y2 - r.y) < 1e-8
            # numpy twin agrees with the Catalyst path
            rows = fwd.orderBy("x").collect()
            ex, ey = crs.transform_points_np(
                np.array([-4.0, -1.0]), np.array([52.5, 51.0]), 4326, 90001)
            for r, xx, yy in zip(rows, ex, ey):
                assert abs(r.e - xx) < 1e-6
                assert abs(r.n - yy) < 1e-6
        finally:
            crs.CRS_REGISTRY.pop(90001, None)


@pytest.mark.parametrize("src,dst", [(2154, 32631), (5070, 32631),
                                     (3035, 32631), (3035, 3035),
                                     (3035, 4326), (3035, 27700),
                                     (5070, 4326)])
def test_iterative_inverse_into_forward_plans_quickly(spark, src, dst):
    """An iterative inverse (Lambert, Albers, LAEA) feeding a Krüger-series
    or LAEA forward: every projection and datum names the intermediates it
    reads more than once as columns, so the plan stays linear in the steps
    (inlined, it grew exponentially: the optimized plan of 3035 -> 4326
    printed about 495,000 characters, and a chained pair ran a 2g driver
    out of heap). Each pair's optimized plan stays under a pinned size,
    and each finishes quickly and matches the numpy path."""
    import time

    import numpy as np

    rng = np.random.default_rng(11)
    lon, lat = rng.uniform(-2.0, 8.0, 20), rng.uniform(43.0, 51.0, 20)
    x, y = crs.transform_points_np(lon, lat, 4326, src)
    df = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(x, y))],
        "id int, x double, y double")
    start = time.perf_counter()
    out = crs.reproject(df, src, dst)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    rows = sorted(out.select("id", "x2", "y2").collect())
    assert time.perf_counter() - start < 30.0
    # the largest of these pairs, 3035 -> 27700, prints about 7,950
    assert len(plan) < 10_000, len(plan)
    ex, ey = crs.transform_points_np(x, y, src, dst)
    np.testing.assert_allclose([r.x2 for r in rows], ex, rtol=1e-12, atol=1e-8)
    np.testing.assert_allclose([r.y2 for r in rows], ey, rtol=1e-12, atol=1e-8)
