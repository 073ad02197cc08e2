"""CRS reprojection as native Catalyst expressions.

Reference parity: QueryPlanner applies an optional result reprojection
(planning/QueryPlanner.scala:94-98, GeoTools CRS transform); the dominant
production pair is EPSG:4326 (lon/lat) <-> EPSG:3857 (spherical web
mercator) — exactly the transform the tile pyramid consumers use.

Pure arithmetic -> whole-stage codegen, no UDFs; formulas follow the EPSG
spherical-mercator definition with R = 6378137 (WGS84 semi-major).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as _spark_funcs

import threading as _threading


class _FuncsProxy:
    """Dispatches ``F.<name>`` to pyspark.sql.functions by default, or to
    the numpy shim installed by ``_numpy_funcs`` — THREAD-LOCALLY, so one
    thread evaluating transform_points_np on numpy arrays never swaps the
    math namespace out from under another thread building Catalyst
    ``reproject()`` expressions (the module-global swap was not
    reentrant)."""

    _local = _threading.local()

    def __getattr__(self, name):
        impl = getattr(self._local, "impl", None)
        return getattr(impl if impl is not None else _spark_funcs, name)


F = _FuncsProxy()

R_MAJOR = 6378137.0
MAX_LAT = 85.05112877980659   # atan(sinh(pi)) — mercator validity bound


def to_mercator_x(lon: Column) -> Column:
    return F.lit(R_MAJOR) * F.radians(lon)


def to_mercator_y(lat: Column) -> Column:
    clamped = F.when(lat > MAX_LAT, F.lit(MAX_LAT)) \
               .when(lat < -MAX_LAT, F.lit(-MAX_LAT)).otherwise(lat)
    rad = F.radians(clamped)
    return F.lit(R_MAJOR) * F.log(F.tan(F.lit(3.141592653589793 / 4.0) + rad / 2.0))


def from_mercator_lon(x: Column) -> Column:
    return F.degrees(x / F.lit(R_MAJOR))


def from_mercator_lat(y: Column) -> Column:
    return F.degrees(2.0 * F.atan(F.exp(y / F.lit(R_MAJOR))) - F.lit(3.141592653589793 / 2.0))


def reproject_4326_to_3857(df: DataFrame, lon_col: str = "lon",
                           lat_col: str = "lat", x_col: str = "x",
                           y_col: str = "y") -> DataFrame:
    return (df.withColumn(x_col, to_mercator_x(F.col(lon_col)))
            .withColumn(y_col, to_mercator_y(F.col(lat_col))))


def reproject_3857_to_4326(df: DataFrame, x_col: str = "x", y_col: str = "y",
                           lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    return (df.withColumn(lon_col, from_mercator_lon(F.col(x_col)))
            .withColumn(lat_col, from_mercator_lat(F.col(y_col))))


def mercator_sql(lon: str, lat: str) -> tuple[str, str]:
    """The same transform in portable SQL (for the DuckDB oracle)."""
    x = f"{R_MAJOR!r} * radians({lon})"
    clamped = (f"(CASE WHEN {lat} > {MAX_LAT!r} THEN {MAX_LAT!r} "
               f"WHEN {lat} < {-MAX_LAT!r} THEN {-MAX_LAT!r} ELSE {lat} END)")
    y = (f"{R_MAJOR!r} * ln(tan({3.141592653589793 / 4.0!r} "
         f"+ radians({clamped}) / 2.0))")
    return x, y


# ---------------------------------------------------------------------------
# Ellipsoidal transverse mercator (UTM zones), Karney/Krüger series —
# the arbitrary-CRS piece of QueryPlanner.scala:297-301's reprojection.
# Pure Catalyst arithmetic (sinh/cosh/atan2/ln), whole-stage codegen.
# ---------------------------------------------------------------------------

WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
UTM_K0 = 0.9996
_N = WGS84_F / (2.0 - WGS84_F)
_E = (WGS84_F * (2.0 - WGS84_F)) ** 0.5
# rectifying radius + Krüger alpha/beta/delta series (3rd order in n —
# sub-millimeter within UTM zone widths)
_A_BAR = WGS84_A / (1 + _N) * (1 + _N ** 2 / 4 + _N ** 4 / 64)
_ALPHA = (_N / 2 - 2 * _N ** 2 / 3 + 5 * _N ** 3 / 16,
          13 * _N ** 2 / 48 - 3 * _N ** 3 / 5,
          61 * _N ** 3 / 240)
_BETA = (_N / 2 - 2 * _N ** 2 / 3 + 37 * _N ** 3 / 96,
         _N ** 2 / 48 + _N ** 3 / 15,
         17 * _N ** 3 / 480)
_DELTA = (2 * _N - 2 * _N ** 2 / 3 - 2 * _N ** 3,
          7 * _N ** 2 / 3 - 8 * _N ** 3 / 5,
          56 * _N ** 3 / 15)


def _atanh(x: Column) -> Column:
    return 0.5 * F.log((1.0 + x) / (1.0 - x))


def utm_exprs(lon: Column, lat: Column, zone: int,
              south: bool = False) -> tuple[Column, Column]:
    """(easting, northing) on WGS84 UTM ``zone`` as native columns."""
    lam0 = math_radians(zone * 6.0 - 183.0)
    phi = F.radians(lat)
    dlam = F.radians(lon) - lam0
    sphi = F.sin(phi)
    t = F.sinh(_atanh(sphi) - _E * _atanh(F.lit(_E) * sphi))
    xi_p = F.atan2(t, F.cos(dlam))
    eta_p = _atanh(F.sin(dlam) / F.sqrt(1.0 + t * t))
    xi, eta = xi_p, eta_p
    for j, a in enumerate(_ALPHA, start=1):
        xi = xi + F.lit(a) * F.sin(2.0 * j * xi_p) * F.cosh(2.0 * j * eta_p)
        eta = eta + F.lit(a) * F.cos(2.0 * j * xi_p) * F.sinh(2.0 * j * eta_p)
    east = F.lit(500_000.0) + F.lit(UTM_K0 * _A_BAR) * eta
    north = F.lit(10_000_000.0 if south else 0.0) + F.lit(UTM_K0 * _A_BAR) * xi
    return east, north


def utm_inverse_exprs(east: Column, north: Column, zone: int,
                      south: bool = False) -> tuple[Column, Column]:
    """(lon, lat) degrees from WGS84 UTM ``zone`` coordinates."""
    lam0 = math_radians(zone * 6.0 - 183.0)
    xi = (north - F.lit(10_000_000.0 if south else 0.0)) / F.lit(UTM_K0 * _A_BAR)
    eta = (east - F.lit(500_000.0)) / F.lit(UTM_K0 * _A_BAR)
    xi_p, eta_p = xi, eta
    for j, b in enumerate(_BETA, start=1):
        xi_p = xi_p - F.lit(b) * F.sin(2.0 * j * xi) * F.cosh(2.0 * j * eta)
        eta_p = eta_p - F.lit(b) * F.cos(2.0 * j * xi) * F.sinh(2.0 * j * eta)
    chi = F.asin(F.sin(xi_p) / F.cosh(eta_p))
    phi = chi
    for j, d in enumerate(_DELTA, start=1):
        phi = phi + F.lit(d) * F.sin(2.0 * j * chi)
    lam = F.atan2(F.sinh(eta_p), F.cos(xi_p))
    return F.degrees(lam + F.lit(lam0)), F.degrees(phi)


def math_radians(deg: float) -> float:
    import math
    return math.radians(deg)


def _parse_epsg(crs: str | int) -> int:
    if isinstance(crs, int):
        return crs
    s = str(crs).upper().replace("EPSG:", "").strip()
    return int(s)


def reproject(df: DataFrame, src: str | int, dst: str | int,
              x_col: str = "x", y_col: str = "y",
              out_x: str = "x2", out_y: str = "y2") -> DataFrame:
    """General reprojection between supported CRSs: EPSG:4326,
    EPSG:3857 (spherical mercator), and EPSG:326zz / 327zz (WGS84 UTM
    north/south).  Unknown codes raise ValueError — the reference
    delegates others to GeoTools (QueryPlanner.scala:297-301)."""
    s, d = _parse_epsg(src), _parse_epsg(dst)
    clash = [c for c in df.columns if c.startswith(("__rp_", "__hd_", "__gs_"))]
    if clash:
        raise ValueError(
            f"reproject: reserved temp columns present: {clash}")
    tmp_created: set[str] = set()
    # normalize source to lon/lat
    if s == 4326:
        lon, lat = F.col(x_col), F.col(y_col)
    elif s == 3857:
        lon, lat = from_mercator_lon(F.col(x_col)), from_mercator_lat(F.col(y_col))
    elif 32601 <= s <= 32660 or 32701 <= s <= 32760:
        lon, lat = utm_inverse_exprs(F.col(x_col), F.col(y_col),
                                     s % 100, south=s >= 32701)
    elif s in CRS_REGISTRY:
        proj = CRS_REGISTRY[s]
        lon, lat = proj.inverse(F.col(x_col), F.col(y_col))
        src_datum = getattr(proj, "datum", None)
        if src_datum is not None:
            # stage the projected->geodetic trees as named columns, then
            # run the datum shift as further staged projections: datum
            # math references its inputs many times, and inlining the
            # inverse-projection tree into each reference would square
            # the plan (see HelmertDatum docstring)
            df = (df.withColumn("__rp_lon", lon)
                    .withColumn("__rp_lat", lat))
            df = src_datum.apply(df, "__rp_lon", "__rp_lat",
                                 "__rp_lon", "__rp_lat", to_wgs84=True)
            lon, lat = F.col("__rp_lon"), F.col("__rp_lat")
            tmp_created.update(("__rp_lon", "__rp_lat"))
    else:
        raise ValueError(f"unsupported source CRS: {src}")
    # lon/lat to target
    if d == 4326:
        ox, oy = lon, lat
    elif d == 3857:
        ox, oy = to_mercator_x(lon), to_mercator_y(lat)
    elif 32601 <= d <= 32660 or 32701 <= d <= 32760:
        ox, oy = utm_exprs(lon, lat, d % 100, south=d >= 32701)
    elif d in CRS_REGISTRY:
        proj = CRS_REGISTRY[d]
        dst_datum = getattr(proj, "datum", None)
        if dst_datum is not None:   # WGS84 hub -> target datum, staged
            df = (df.withColumn("__rp_lon", lon)
                    .withColumn("__rp_lat", lat))
            df = dst_datum.apply(df, "__rp_lon", "__rp_lat",
                                 "__rp_lon", "__rp_lat", to_wgs84=False)
            lon, lat = F.col("__rp_lon"), F.col("__rp_lat")
            tmp_created.update(("__rp_lon", "__rp_lat"))
        ox, oy = proj.forward(lon, lat)
    else:
        raise ValueError(f"unsupported target CRS: {dst}")
    return (df.withColumn(out_x, ox).withColumn(out_y, oy)
            .drop(*tmp_created))


# ---------------------------------------------------------------------------
# Conic + polar projection families (EPSG methods 9802 / 9822 / 9829) —
# the remaining arbitrary-CRS surface of QueryPlanner.scala:297-301's
# result reprojection.  All formulas are the published EPSG Guidance Note
# 7-2 / Snyder forms; constants are computed driver-side in python floats,
# the per-row math is native Catalyst arithmetic (whole-stage codegen).
# ---------------------------------------------------------------------------

import math as _math

GRS80_A = 6378137.0
GRS80_F = 1.0 / 298.257222101


def _e_of(f: float) -> float:
    return _math.sqrt(f * (2.0 - f))


def _m_const(phi: float, e: float) -> float:
    return _math.cos(phi) / _math.sqrt(1 - (e * _math.sin(phi)) ** 2)


def _t_const(phi: float, e: float) -> float:
    s = _math.sin(phi)
    return (_math.tan(_math.pi / 4 - phi / 2)
            / ((1 - e * s) / (1 + e * s)) ** (e / 2))


def _q_const(phi: float, e: float) -> float:
    s = _math.sin(phi)
    return (1 - e * e) * (s / (1 - e * e * s * s)
                          - (1 / (2 * e)) * _math.log((1 - e * s) / (1 + e * s)))


def _t_col(phi: Column, e: float) -> Column:
    s = F.sin(phi)
    return (F.tan(F.lit(_math.pi / 4) - phi / 2)
            / F.pow((1.0 - e * s) / (1.0 + e * s), F.lit(e / 2)))


def _q_col(phi: Column, e: float) -> Column:
    s = F.sin(phi)
    return F.lit(1 - e * e) * (
        s / (1.0 - (e * e) * s * s)
        - F.lit(1 / (2 * e)) * F.log((1.0 - e * s) / (1.0 + e * s)))


class LambertConformal2SP:
    """EPSG method 9802 (Lambert Conic Conformal 2SP)."""

    def __init__(self, a: float, f: float, phi1: float, phi2: float,
                 phi0: float, lam0: float, fe: float, fn: float):
        self.a, self.e = a, _e_of(f)
        self.lam0, self.fe, self.fn = _math.radians(lam0), fe, fn
        p1, p2, p0 = (_math.radians(p) for p in (phi1, phi2, phi0))
        m1, m2 = _m_const(p1, self.e), _m_const(p2, self.e)
        t1, t2, t0 = (_t_const(p, self.e) for p in (p1, p2, p0))
        self.n = (_math.log(m1) - _math.log(m2)) / (_math.log(t1) - _math.log(t2))
        self.F = m1 / (self.n * t1 ** self.n)
        self.r0 = a * self.F * t0 ** self.n

    def forward(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        phi, lam = F.radians(lat), F.radians(lon)
        r = F.lit(self.a * self.F) * F.pow(_t_col(phi, self.e), F.lit(self.n))
        theta = F.lit(self.n) * (lam - self.lam0)
        return (F.lit(self.fe) + r * F.sin(theta),
                F.lit(self.fn + self.r0) - r * F.cos(theta))

    def inverse(self, x: Column, y: Column) -> tuple[Column, Column]:
        dx = x - F.lit(self.fe)
        dy = F.lit(self.r0) - (y - F.lit(self.fn))
        sgn = 1.0 if self.n >= 0 else -1.0
        rp = F.lit(sgn) * F.sqrt(dx * dx + dy * dy)
        tp = F.pow(rp / F.lit(self.a * self.F), F.lit(1.0 / self.n))
        theta = F.atan2(F.lit(sgn) * dx, F.lit(sgn) * dy)
        lam = theta / F.lit(self.n) + F.lit(self.lam0)
        # fixed-point latitude recovery: 6 unrolled iterations converge to
        # double precision for |phi| < 89.9
        phi = F.lit(_math.pi / 2) - 2.0 * F.atan(tp)
        for _ in range(6):
            s = F.sin(phi)
            phi = F.lit(_math.pi / 2) - 2.0 * F.atan(
                tp * F.pow((1.0 - self.e * s) / (1.0 + self.e * s),
                           F.lit(self.e / 2)))
        return F.degrees(lam), F.degrees(phi)


class AlbersEqualArea:
    """EPSG method 9822 (Albers Equal Area conic)."""

    def __init__(self, a: float, f: float, phi1: float, phi2: float,
                 phi0: float, lam0: float, fe: float, fn: float):
        self.a, self.e = a, _e_of(f)
        e = self.e
        self.lam0, self.fe, self.fn = _math.radians(lam0), fe, fn
        p1, p2, p0 = (_math.radians(p) for p in (phi1, phi2, phi0))
        m1, m2 = _m_const(p1, e), _m_const(p2, e)
        q1, q2, q0 = (_q_const(p, e) for p in (p1, p2, p0))
        self.n = (m1 * m1 - m2 * m2) / (q2 - q1)
        self.C = m1 * m1 + self.n * q1
        self.rho0 = a * _math.sqrt(self.C - self.n * q0) / self.n
        self.qp = 1 - ((1 - e * e) / (2 * e)) * _math.log((1 - e) / (1 + e))

    def forward(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        phi, lam = F.radians(lat), F.radians(lon)
        q = _q_col(phi, self.e)
        rho = F.lit(self.a) * F.sqrt(F.lit(self.C) - F.lit(self.n) * q) \
            / F.lit(self.n)
        theta = F.lit(self.n) * (lam - self.lam0)
        return (F.lit(self.fe) + rho * F.sin(theta),
                F.lit(self.fn + self.rho0) - rho * F.cos(theta))

    def inverse(self, x: Column, y: Column) -> tuple[Column, Column]:
        e, e2 = self.e, self.e * self.e
        dx = x - F.lit(self.fe)
        dy = F.lit(self.rho0) - (y - F.lit(self.fn))
        rho = F.sqrt(dx * dx + dy * dy)
        qp_col = (F.lit(self.C)
                  - rho * rho * F.lit(self.n * self.n / (self.a * self.a))) \
            / F.lit(self.n)
        beta = F.asin(qp_col / F.lit(self.qp))
        # authalic -> geodetic latitude: Snyder 3-18 series seed (error
        # O(e^8) ~ 1e-7 deg) + two unrolled Newton steps on q(phi) = q'
        # (dq/dphi = 2(1-e^2)cos(phi)/(1-e^2 sin^2 phi)^2) -> double
        # precision
        phi = (beta
               + F.lit(e2 / 3 + 31 * e2 ** 2 / 180 + 517 * e2 ** 3 / 5040)
               * F.sin(2.0 * beta)
               + F.lit(23 * e2 ** 2 / 360 + 251 * e2 ** 3 / 3780)
               * F.sin(4.0 * beta)
               + F.lit(761 * e2 ** 3 / 45360) * F.sin(6.0 * beta))
        for _ in range(2):
            s = F.sin(phi)
            denom = 1.0 - e2 * s * s
            phi = phi + (qp_col - _q_col(phi, e)) * denom * denom \
                / (F.lit(2 * (1 - e2)) * F.cos(phi))
        theta = F.atan2(dx, dy)
        lam = theta / F.lit(self.n) + F.lit(self.lam0)
        return F.degrees(lam), F.degrees(phi)


class PolarStereographicB:
    """EPSG method 9829 (Polar Stereographic variant B: latitude of
    standard parallel + longitude of origin)."""

    def __init__(self, a: float, f: float, phi_f: float, lam0: float,
                 fe: float, fn: float):
        self.a, self.e = a, _e_of(f)
        e = self.e
        self.south = phi_f < 0
        self.lam0, self.fe, self.fn = _math.radians(lam0), fe, fn
        pf = _math.radians(abs(phi_f))
        mf = _m_const(pf, e)
        tf = _t_const(pf, e)
        self.big = _math.sqrt((1 + e) ** (1 + e) * (1 - e) ** (1 - e))
        self.k0 = mf * self.big / (2 * tf)

    def forward(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        lam = F.radians(lon)
        # fold the south case onto the north formulas by mirroring lat
        phi = F.radians(lat)
        if self.south:
            phi = -phi
        t = _t_col(phi, self.e)
        rho = F.lit(2 * self.a * self.k0 / self.big) * t
        theta = lam - F.lit(self.lam0)
        if self.south:
            # south: theta measured from the 0-meridian with N increasing
            # toward lam0 (E = rho sin, N = +rho cos)
            return (F.lit(self.fe) + rho * F.sin(theta),
                    F.lit(self.fn) + rho * F.cos(theta))
        return (F.lit(self.fe) + rho * F.sin(theta),
                F.lit(self.fn) - rho * F.cos(theta))

    def inverse(self, x: Column, y: Column) -> tuple[Column, Column]:
        e, e2 = self.e, self.e * self.e
        dx = x - F.lit(self.fe)
        dy = y - F.lit(self.fn)
        rho = F.sqrt(dx * dx + dy * dy)
        tp = rho * F.lit(self.big / (2 * self.a * self.k0))
        chi = F.lit(_math.pi / 2) - 2.0 * F.atan(tp)
        # conformal -> geodetic latitude series (Snyder 3-5)
        phi = (chi
               + F.lit(e2 / 2 + 5 * e2 ** 2 / 24 + e2 ** 3 / 12
                       + 13 * e2 ** 4 / 360) * F.sin(2.0 * chi)
               + F.lit(7 * e2 ** 2 / 48 + 29 * e2 ** 3 / 240
                       + 811 * e2 ** 4 / 11520) * F.sin(4.0 * chi)
               + F.lit(7 * e2 ** 3 / 120 + 81 * e2 ** 4 / 1120)
               * F.sin(6.0 * chi)
               + F.lit(4279 * e2 ** 4 / 161280) * F.sin(8.0 * chi))
        if self.south:
            lam = F.lit(self.lam0) + F.atan2(dx, dy)
            return F.degrees(lam), F.degrees(-phi)
        lam = F.lit(self.lam0) + F.atan2(dx, -dy)
        return F.degrees(lam), F.degrees(phi)


class LambertAzimuthalEqualArea:
    """EPSG method 9820 (Lambert Azimuthal Equal Area, oblique aspect)."""

    def __init__(self, a: float, f: float, phi0: float, lam0: float,
                 fe: float, fn: float):
        self.a, self.e = a, _e_of(f)
        e = self.e
        self.lam0, self.fe, self.fn = _math.radians(lam0), fe, fn
        p0 = _math.radians(phi0)
        self.qp = 1 - ((1 - e * e) / (2 * e)) * _math.log((1 - e) / (1 + e))
        q0 = _q_const(p0, e)
        self.beta0 = _math.asin(q0 / self.qp)
        self.rq = a * _math.sqrt(self.qp / 2)
        m0 = _m_const(p0, e)
        self.D = a * m0 / (self.rq * _math.cos(self.beta0))

    def forward(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        phi, lam = F.radians(lat), F.radians(lon)
        beta = F.asin(_q_col(phi, self.e) / F.lit(self.qp))
        dlam = lam - F.lit(self.lam0)
        sb0, cb0 = _math.sin(self.beta0), _math.cos(self.beta0)
        B = F.lit(self.rq) * F.sqrt(
            2.0 / (1.0 + F.lit(sb0) * F.sin(beta)
                   + F.lit(cb0) * F.cos(beta) * F.cos(dlam)))
        x = F.lit(self.fe) + B * F.lit(self.D) * F.cos(beta) * F.sin(dlam)
        y = F.lit(self.fn) + (B / F.lit(self.D)) * (
            F.lit(cb0) * F.sin(beta)
            - F.lit(sb0) * F.cos(beta) * F.cos(dlam))
        return x, y

    def inverse(self, x: Column, y: Column) -> tuple[Column, Column]:
        e, e2 = self.e, self.e * self.e
        sb0, cb0 = _math.sin(self.beta0), _math.cos(self.beta0)
        dx = (x - F.lit(self.fe)) / F.lit(self.D)
        dy = (y - F.lit(self.fn)) * F.lit(self.D)
        rho = F.sqrt(dx * dx + dy * dy)
        C = 2.0 * F.asin(rho / F.lit(2 * self.rq))
        # guard the origin (rho = 0): the dy/rho term tends to 0 there
        frac = F.when(rho > 0, dy * F.sin(C) * F.lit(cb0) / rho)             .otherwise(F.lit(0.0))
        beta = F.asin(F.cos(C) * F.lit(sb0) + frac)
        lam = F.lit(self.lam0) + F.atan2(
            dx * F.sin(C),
            rho * F.lit(cb0) * F.cos(C) - dy * F.lit(sb0) * F.sin(C))
        # authalic -> geodetic: series seed + two Newton steps on q(phi)
        qc = F.sin(beta) * F.lit(self.qp)
        phi = (beta
               + F.lit(e2 / 3 + 31 * e2 ** 2 / 180 + 517 * e2 ** 3 / 5040)
               * F.sin(2.0 * beta)
               + F.lit(23 * e2 ** 2 / 360 + 251 * e2 ** 3 / 3780)
               * F.sin(4.0 * beta)
               + F.lit(761 * e2 ** 3 / 45360) * F.sin(6.0 * beta))
        for _ in range(2):
            sph = F.sin(phi)
            denom = 1.0 - e2 * sph * sph
            phi = phi + (qc - _q_col(phi, e)) * denom * denom \
                / (F.lit(2 * (1 - e2)) * F.cos(phi))
        return F.degrees(lam), F.degrees(phi)


def _krueger(a: float, f: float) -> tuple[float, float, tuple, tuple, tuple]:
    """(e, A_bar, alpha, beta, delta) Krüger series constants for an
    arbitrary ellipsoid — the WGS84 module constants generalized."""
    n = f / (2.0 - f)
    e = _math.sqrt(f * (2.0 - f))
    abar = a / (1 + n) * (1 + n ** 2 / 4 + n ** 4 / 64)
    alpha = (n / 2 - 2 * n ** 2 / 3 + 5 * n ** 3 / 16,
             13 * n ** 2 / 48 - 3 * n ** 3 / 5,
             61 * n ** 3 / 240)
    beta = (n / 2 - 2 * n ** 2 / 3 + 37 * n ** 3 / 96,
            n ** 2 / 48 + n ** 3 / 15,
            17 * n ** 3 / 480)
    delta = (2 * n - 2 * n ** 2 / 3 - 2 * n ** 3,
             7 * n ** 2 / 3 - 8 * n ** 3 / 5,
             56 * n ** 3 / 15)
    return e, abar, alpha, beta, delta


class TransverseMercator:
    """EPSG method 9807 (Transverse Mercator) for ARBITRARY parameters —
    ellipsoid, natural-origin latitude/longitude, scale, false offsets —
    via the same Krüger series as the UTM fast path (state-plane TM
    zones, British National Grid, NZTM2000...).  ``utm_exprs`` is the
    special case (lat0=0, k0=0.9996, zone meridian, WGS84)."""

    def __init__(self, a: float, f: float, phi0: float, lam0: float,
                 k0: float, fe: float, fn: float, datum=None):
        self.e, self.abar, self.alpha, self.beta, self.delta = _krueger(a, f)
        self.lam0 = _math.radians(lam0)
        self.k0, self.fe, self.fn = k0, fe, fn
        self.datum = datum
        # meridian arc at the natural origin, in Krüger xi units (eta = 0
        # on the central meridian, so every cosh factor is 1)
        p0 = _math.radians(phi0)
        if p0 == 0.0:
            self.xi0 = 0.0
        else:
            sp = _math.sin(p0)
            t0 = _math.sinh(_math.atanh(sp) - self.e * _math.atanh(self.e * sp))
            xi_p0 = _math.atan2(t0, 1.0)
            self.xi0 = xi_p0 + sum(
                aj * _math.sin(2 * j * xi_p0)
                for j, aj in enumerate(self.alpha, start=1))

    def forward(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        phi = F.radians(lat)
        dlam = F.radians(lon) - F.lit(self.lam0)
        sphi = F.sin(phi)
        t = F.sinh(_atanh(sphi) - F.lit(self.e) * _atanh(F.lit(self.e) * sphi))
        xi_p = F.atan2(t, F.cos(dlam))
        eta_p = _atanh(F.sin(dlam) / F.sqrt(1.0 + t * t))
        xi, eta = xi_p, eta_p
        for j, aj in enumerate(self.alpha, start=1):
            xi = xi + F.lit(aj) * F.sin(2.0 * j * xi_p) * F.cosh(2.0 * j * eta_p)
            eta = eta + F.lit(aj) * F.cos(2.0 * j * xi_p) * F.sinh(2.0 * j * eta_p)
        east = F.lit(self.fe) + F.lit(self.k0 * self.abar) * eta
        north = F.lit(self.fn) + F.lit(self.k0 * self.abar) * (xi - F.lit(self.xi0))
        return east, north

    def inverse(self, x: Column, y: Column) -> tuple[Column, Column]:
        xi = (y - F.lit(self.fn)) / F.lit(self.k0 * self.abar) + F.lit(self.xi0)
        eta = (x - F.lit(self.fe)) / F.lit(self.k0 * self.abar)
        xi_p, eta_p = xi, eta
        for j, bj in enumerate(self.beta, start=1):
            xi_p = xi_p - F.lit(bj) * F.sin(2.0 * j * xi) * F.cosh(2.0 * j * eta)
            eta_p = eta_p - F.lit(bj) * F.cos(2.0 * j * xi) * F.sinh(2.0 * j * eta)
        chi = F.asin(F.sin(xi_p) / F.cosh(eta_p))
        phi = chi
        for j, dj in enumerate(self.delta, start=1):
            phi = phi + F.lit(dj) * F.sin(2.0 * j * chi)
        lam = F.atan2(F.sinh(eta_p), F.cos(xi_p))
        return F.degrees(lam + F.lit(self.lam0)), F.degrees(phi)


class HelmertDatum:
    """7-parameter Helmert transformation (EPSG method 9606,
    position-vector sign convention) between THIS datum and WGS84, plus
    the datum's own ellipsoid — the missing piece for CRSs whose datum is
    not WGS84/GRS80-equivalent (OSGB36, ED50...).  Planimetric: features
    carry no ellipsoidal height, so h=0 on the source ellipsoid (the
    standard 2D-geometry assumption; sub-mm horizontal effect).

    geodetic -> geocentric XYZ -> small-angle Helmert -> geodetic on the
    other ellipsoid (Bowring seed + two fixed-point refinements, sub-mm
    for the |h| < 1 km pseudo-heights an ellipsoid change creates).

    Applied as STAGED DataFrame projections (:meth:`apply`), not one
    composed Column tree: the refinement references its intermediates
    several times each, and pure Column composition would square the
    Catalyst tree per step (a chained reprojection then hangs the
    optimizer).  Named intermediate columns keep the tree linear —
    CollapseProject does not duplicate non-trivial expressions consumed
    more than once.  All per-row math is native Catalyst arithmetic.
    """

    def __init__(self, a: float, f: float, tx: float, ty: float, tz: float,
                 rx_as: float, ry_as: float, rz_as: float, s_ppm: float):
        self.a, self.f = a, f
        self.t = (tx, ty, tz)
        as_rad = _math.pi / (180.0 * 3600.0)
        self.r = (rx_as * as_rad, ry_as * as_rad, rz_as * as_rad)
        self.s = s_ppm * 1e-6

    def apply(self, df: DataFrame, lon_col: str, lat_col: str,
              out_lon: str, out_lat: str, *, to_wgs84: bool,
              h_col: str | None = None,
              out_h: str | None = None) -> DataFrame:
        """Shift ``(lon_col, lat_col)`` degrees between this datum and
        WGS84 (direction per ``to_wgs84``), writing ``out_lon/out_lat``.
        Temporary ``__hd_*`` columns are dropped before returning.

        ``h_col``/``out_h`` optionally carry ellipsoidal height through
        the transform.  Without them (the 2D GIS convention, same as
        PROJ/GeoTools 2D pipelines) each direction assumes h=0 on ITS
        source ellipsoid, so a 2D round trip closes only to ~|h| * e^2
        lateral error (a few cm where the ellipsoids differ by ~1 km);
        with heights carried the round trip closes to ~1e-9 deg."""
        clash = [c for c in df.columns if c.startswith("__hd_")]
        if clash:
            raise ValueError(
                f"HelmertDatum.apply: reserved temp columns present: {clash}")
        if to_wgs84:
            (a1, f1), (a2, f2) = (self.a, self.f), (WGS84_A, WGS84_F)
        else:
            (a1, f1), (a2, f2) = (WGS84_A, WGS84_F), (self.a, self.f)
        e2s = f1 * (2.0 - f1)
        e2d = f2 * (2.0 - f2)
        b2, ep2 = a2 * (1.0 - f2), e2d / (1.0 - e2d)
        rx, ry, rz = self.r

        lam, phi = F.radians(F.col(lon_col)), F.radians(F.col(lat_col))
        sphi = F.sin(phi)
        nu = F.lit(a1) / F.sqrt(1.0 - F.lit(e2s) * sphi * sphi)
        h0 = F.col(h_col) if h_col is not None else F.lit(0.0)
        # geodetic -> geocentric on the source ellipsoid
        df = (df
              .withColumn("__hd_gx", (nu + h0) * F.cos(phi) * F.cos(lam))
              .withColumn("__hd_gy", (nu + h0) * F.cos(phi) * F.sin(lam))
              .withColumn("__hd_gz",
                          (nu * F.lit(1.0 - e2s) + h0) * sphi))
        gx, gy, gz = F.col("__hd_gx"), F.col("__hd_gy"), F.col("__hd_gz")
        # small-angle Helmert, position-vector convention.  The inverse
        # direction is the EXACT algebraic inverse X = (I-R)(X'-t)/m (to
        # O(r^2) ~ 1e-11 rad on the rotation only) — NOT the
        # negated-parameter shortcut, whose s*t cross term alone is
        # ~1 cm for OSGB36 (20.5 ppm x 540 m) and breaks round trips.
        tx, ty, tz = self.t
        m = 1.0 + self.s
        if to_wgs84:
            df = (df
                  .withColumn("__hd_x",
                              F.lit(m) * (gx - F.lit(rz) * gy + F.lit(ry) * gz)
                              + F.lit(tx))
                  .withColumn("__hd_y",
                              F.lit(m) * (F.lit(rz) * gx + gy - F.lit(rx) * gz)
                              + F.lit(ty))
                  .withColumn("__hd_z",
                              F.lit(m) * (-F.lit(ry) * gx + F.lit(rx) * gy + gz)
                              + F.lit(tz)))
        else:
            df = (df
                  .withColumn("__hd_ux", (gx - F.lit(tx)) / F.lit(m))
                  .withColumn("__hd_uy", (gy - F.lit(ty)) / F.lit(m))
                  .withColumn("__hd_uz", (gz - F.lit(tz)) / F.lit(m)))
            ux, uy, uz = F.col("__hd_ux"), F.col("__hd_uy"), F.col("__hd_uz")
            df = (df
                  .withColumn("__hd_x", ux + F.lit(rz) * uy - F.lit(ry) * uz)
                  .withColumn("__hd_y", -F.lit(rz) * ux + uy + F.lit(rx) * uz)
                  .withColumn("__hd_z", F.lit(ry) * ux - F.lit(rx) * uy + uz))
        x, y, z = F.col("__hd_x"), F.col("__hd_y"), F.col("__hd_z")
        # geocentric -> geodetic on the target ellipsoid: Bowring seed...
        df = df.withColumn("__hd_p", F.sqrt(x * x + y * y))
        p = F.col("__hd_p")
        th = F.atan2(z * F.lit(a2), p * F.lit(b2))
        s3 = F.pow(F.sin(th), F.lit(3.0))
        c3 = F.pow(F.cos(th), F.lit(3.0))
        df = df.withColumn("__hd_phi", F.atan2(
            z + F.lit(ep2 * b2) * s3, p - F.lit(e2d * a2) * c3))
        # ...+ two fixed-point refinements (each contracts the seed error
        # by ~e^2; the seed alone is only good to ~1e-7 rad at the
        # several-hundred-meter pseudo-heights an ellipsoid change makes)
        for _ in range(2):
            s = F.sin(F.col("__hd_phi"))
            df = df.withColumn(
                "__hd_nu", F.lit(a2) / F.sqrt(1.0 - F.lit(e2d) * s * s))
            nu2 = F.col("__hd_nu")
            h = p / F.cos(F.col("__hd_phi")) - nu2
            df = df.withColumn("__hd_phi", F.atan2(
                z, p * (1.0 - F.lit(e2d) * nu2 / (nu2 + h))))
        out = (df
               .withColumn(out_lon, F.degrees(F.atan2(y, x)))
               .withColumn(out_lat, F.degrees(F.col("__hd_phi"))))
        if out_h is not None:
            s = F.sin(F.col("__hd_phi"))
            nu_f = F.lit(a2) / F.sqrt(1.0 - F.lit(e2d) * s * s)
            out = out.withColumn(
                out_h, p / F.cos(F.col("__hd_phi")) - nu_f)
        return out.drop("__hd_gx", "__hd_gy", "__hd_gz", "__hd_ux",
                        "__hd_uy", "__hd_uz", "__hd_x", "__hd_y",
                        "__hd_z", "__hd_p", "__hd_phi", "__hd_nu")


AIRY1830_A = 6377563.396
AIRY1830_F = 1.0 / 299.3249646
# OSGB36 <-> WGS84 Helmert (OS national standard 7 parameters, ~5 m
# nationwide accuracy; exact work uses the OSTN15 grid, out of scope).
# HelmertDatum's convention is THIS-DATUM -> WGS84 in the to_wgs84=True
# direction, so these are the published OSGB36->WGS84 values — the
# negation of the (more often quoted) WGS84->OSGB36 set
# (tx -446.448, ty +125.157, tz -542.060, rx -0.1502", ry -0.2470",
# rz -0.8421", s +20.4894 ppm).  Verified against the Greenwich transit
# circle (WGS84 lon -0.001475 deg <-> OSGB36 lon 0) and GeoTools'
# EPSG:4326 -> EPSG:27700 output (SparkSQLGeometricDistanceFunctionsTest
# golden point, matched to ~1 m).
OSGB36_DATUM = HelmertDatum(AIRY1830_A, AIRY1830_F,
                            446.448, -125.157, 542.060,
                            0.1502, 0.2470, 0.8421, -20.4894)


class GridShiftDatum:
    """NTv2-style grid-shift datum transform (the reference reaches these
    through GeoTools' NTv2 grid handlers when a gridded transform is
    registered for a CRS pair; the grid layout follows the published NTv2
    specification).

    A regular (nlat x nlon) node grid starting at (lat0, lon0) with steps
    (dlat, dlon) degrees carries per-node shifts in ARC-SECONDS, NTv2
    sign conventions: latitude shift positive north, longitude shift
    positive WEST (the spec's historical quirk; this class negates it
    internally).  Shifts are interpolated bilinearly from the four
    surrounding nodes AT SOURCE-DATUM coordinates; ``to_wgs84=True`` adds
    them, and the opposite direction is the standard fixed-point
    iteration (re-evaluate the forward shift at the current estimate and
    subtract), unrolled twice — real grids vary by < 1e-4 deg per node,
    so two iterations close round trips to ~1e-10 deg.  Outside the grid
    the shift is zero (GeoTools' lenient no-coverage behavior): the
    transform degrades to ellipsoid-only instead of erroring mid-job.

    Scale: the node arrays ship inside the plan as constant array
    LITERALS (element_at on a literal is O(1) per row, whole-stage
    codegen, zero joins) — right up to ~10^4 nodes.  A continental
    full-resolution grid (10^6+ nodes) would instead be a broadcast
    (cell -> 4 corner shifts) table joined on the floor-snapped cell id,
    same blend arithmetic — an ingest-time choice, not a different
    transform.  A .gsb reader would populate this constructor after
    reordering the file's SE-corner-first scan into row-major-from-south.
    """

    def __init__(self, lat0: float, lon0: float, dlat: float, dlon: float,
                 nlat: int, nlon: int,
                 lat_shift_sec, lon_shift_sec_west):
        if len(lat_shift_sec) != nlat * nlon or \
                len(lon_shift_sec_west) != nlat * nlon:
            raise ValueError("grid arrays must be nlat*nlon, row-major "
                             "from (lat0, lon0) northward/eastward")
        self.lat0, self.lon0, self.dlat, self.dlon = lat0, lon0, dlat, dlon
        self.nlat, self.nlon = int(nlat), int(nlon)
        self.lat_sec = [float(v) for v in lat_shift_sec]
        self.lon_sec_west = [float(v) for v in lon_shift_sec_west]

    # -- Catalyst path ----------------------------------------------------

    def _stage_shift(self, df: DataFrame, lon_c: str, lat_c: str,
                     tag: str) -> DataFrame:
        """Stage __gs_{tag}_dlon/__gs_{tag}_dlat (DEGREES, positive east/
        north) = bilinear node blend at (lon_c, lat_c).  Staged columns
        keep the tree linear, same reasoning as HelmertDatum.apply."""
        nlat, nlon = self.nlat, self.nlon
        df = (df
              .withColumn(f"__gs_{tag}_gx",
                          (F.col(lon_c) - F.lit(self.lon0)) / F.lit(self.dlon))
              .withColumn(f"__gs_{tag}_gy",
                          (F.col(lat_c) - F.lit(self.lat0)) / F.lit(self.dlat)))
        gx, gy = F.col(f"__gs_{tag}_gx"), F.col(f"__gs_{tag}_gy")
        df = (df
              .withColumn(f"__gs_{tag}_ix",
                          F.least(F.greatest(F.floor(gx), F.lit(0)),
                                  F.lit(nlon - 2)).cast("int"))
              .withColumn(f"__gs_{tag}_iy",
                          F.least(F.greatest(F.floor(gy), F.lit(0)),
                                  F.lit(nlat - 2)).cast("int")))
        ix, iy = F.col(f"__gs_{tag}_ix"), F.col(f"__gs_{tag}_iy")
        fx, fy = gx - ix, gy - iy
        inside = ((gx >= 0) & (gx <= F.lit(float(nlon - 1)))
                  & (gy >= 0) & (gy <= F.lit(float(nlat - 1))))
        base = iy * F.lit(nlon) + ix + F.lit(1)   # element_at is 1-based

        def blend(arr: Column, sign: float) -> Column:
            v = (F.element_at(arr, base) * (1 - fx) * (1 - fy)
                 + F.element_at(arr, base + 1) * fx * (1 - fy)
                 + F.element_at(arr, base + nlon) * (1 - fx) * fy
                 + F.element_at(arr, base + nlon + 1) * fx * fy)
            return F.when(inside, v * F.lit(sign / 3600.0)).otherwise(0.0)

        return (df
                .withColumn(f"__gs_{tag}_dlat", blend(F.lit(self.lat_sec), 1.0))
                .withColumn(f"__gs_{tag}_dlon",
                            blend(F.lit(self.lon_sec_west), -1.0)))

    def apply(self, df: DataFrame, lon_col: str, lat_col: str,
              out_lon: str, out_lat: str, *, to_wgs84: bool) -> DataFrame:
        clash = [c for c in df.columns if c.startswith("__gs_")]
        if clash:
            raise ValueError(
                f"GridShiftDatum.apply: reserved temp columns present: {clash}")
        if to_wgs84:
            df = self._stage_shift(df, lon_col, lat_col, "f")
            out = (df.withColumn(out_lon, F.col(lon_col) + F.col("__gs_f_dlon"))
                     .withColumn(out_lat, F.col(lat_col) + F.col("__gs_f_dlat")))
        else:
            # fixed point: est_{k+1} = wgs84 - shift(est_k), est_0 = wgs84
            df = self._stage_shift(df, lon_col, lat_col, "i0")
            df = (df.withColumn("__gs_e_lon",
                                F.col(lon_col) - F.col("__gs_i0_dlon"))
                    .withColumn("__gs_e_lat",
                                F.col(lat_col) - F.col("__gs_i0_dlat")))
            df = self._stage_shift(df, "__gs_e_lon", "__gs_e_lat", "i1")
            out = (df.withColumn(out_lon, F.col(lon_col) - F.col("__gs_i1_dlon"))
                     .withColumn(out_lat, F.col(lat_col) - F.col("__gs_i1_dlat")))
        return out.drop(*[c for c in out.columns if c.startswith("__gs_")])

    # -- numpy twin (st_transform / transform_points_np path) -------------

    def shift_np(self, lon, lat, *, to_wgs84: bool):
        import numpy as np
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        glat = np.asarray(self.lat_sec).reshape(self.nlat, self.nlon)
        glon = np.asarray(self.lon_sec_west).reshape(self.nlat, self.nlon)

        def interp(lo, la):
            gx = (lo - self.lon0) / self.dlon
            gy = (la - self.lat0) / self.dlat
            ix = np.clip(np.floor(gx).astype(np.int64), 0, self.nlon - 2)
            iy = np.clip(np.floor(gy).astype(np.int64), 0, self.nlat - 2)
            fx, fy = gx - ix, gy - iy
            inside = ((gx >= 0) & (gx <= self.nlon - 1)
                      & (gy >= 0) & (gy <= self.nlat - 1))

            def b(g, sign):
                v = (g[iy, ix] * (1 - fx) * (1 - fy)
                     + g[iy, ix + 1] * fx * (1 - fy)
                     + g[iy + 1, ix] * (1 - fx) * fy
                     + g[iy + 1, ix + 1] * fx * fy)
                return np.where(inside, v * (sign / 3600.0), 0.0)

            return b(glat, 1.0), b(glon, -1.0)

        if to_wgs84:
            dla, dlo = interp(lon, lat)
            return lon + dlo, lat + dla
        est_lon, est_lat = lon, lat
        for _ in range(2):
            dla, dlo = interp(est_lon, est_lat)
            est_lon, est_lat = lon - dlo, lat - dla
        return est_lon, est_lat


# parameterized CRS registry (published EPSG definitions); extensible via
# register_crs for state-plane zones etc.
CRS_REGISTRY: dict[int, object] = {
    # RGF93 / Lambert-93 (France)
    2154: LambertConformal2SP(GRS80_A, GRS80_F, 49.0, 44.0, 46.5, 3.0,
                              700_000.0, 6_600_000.0),
    # NAD83 / Canada Atlas Lambert
    3978: LambertConformal2SP(GRS80_A, GRS80_F, 49.0, 77.0, 49.0, -95.0,
                              0.0, 0.0),
    # NAD83 / Conus Albers
    5070: AlbersEqualArea(GRS80_A, GRS80_F, 29.5, 45.5, 23.0, -96.0,
                          0.0, 0.0),
    # WGS 84 / Antarctic Polar Stereographic
    3031: PolarStereographicB(WGS84_A, WGS84_F, -71.0, 0.0, 0.0, 0.0),
    # WGS 84 / NSIDC Sea Ice Polar Stereographic North
    3413: PolarStereographicB(WGS84_A, WGS84_F, 70.0, -45.0, 0.0, 0.0),
    # ETRS89-extended / LAEA Europe
    3035: LambertAzimuthalEqualArea(GRS80_A, GRS80_F, 52.0, 10.0,
                                    4_321_000.0, 3_210_000.0),
    # OSGB36 / British National Grid (Airy 1830 + OSGB36 Helmert datum)
    27700: TransverseMercator(AIRY1830_A, AIRY1830_F, 49.0, -2.0,
                              0.9996012717, 400_000.0, -100_000.0,
                              datum=OSGB36_DATUM),
    # NZGD2000 / New Zealand Transverse Mercator (GRS80, datum ~ WGS84)
    2193: TransverseMercator(GRS80_A, GRS80_F, 0.0, 173.0, 0.9996,
                             1_600_000.0, 10_000_000.0),
}


def register_crs(epsg: int, projection) -> None:
    """Register a parameterized projection (forward/inverse column pairs)
    for an EPSG code — the extension point for state-plane zones."""
    CRS_REGISTRY[int(epsg)] = projection


# ---------------------------------------------------------------------------
# numpy twin of the dispatch — st_transform's per-vertex engine
# ---------------------------------------------------------------------------
# Every projection above references the module-global ``F`` only through
# functions numpy also provides (plus lit/when); swapping F for this shim
# evaluates the SAME formula code on numpy arrays — zero formula
# duplication between the Column path (reproject) and the per-vertex path
# (st_transform), so the two cannot drift.  Parity is additionally pinned
# by tests comparing both paths on the same points.

class _NpWhen:
    """np.where chain mimicking F.when(...).when(...).otherwise(...):
    earlier branches take priority, like Catalyst CaseWhen."""

    def __init__(self, cond, val):
        self.branches = [(cond, val)]

    def when(self, cond, val):
        self.branches.append((cond, val))
        return self

    def otherwise(self, other):
        import numpy as np
        out = other
        for cond, val in reversed(self.branches):
            out = np.where(cond, val, out)
        return out


class _NpMath:
    """numpy stand-in for the pyspark.sql.functions surface crs.py uses."""

    def __getattr__(self, name):  # pragma: no cover - defensive
        raise AttributeError(f"_NpMath has no numpy mapping for F.{name}")


def _np_math() -> "_NpMath":
    import numpy as np
    m = _NpMath()
    m.lit = lambda v: v
    m.when = _NpWhen
    m.pow = np.power
    m.atan2 = np.arctan2
    m.atan = np.arctan
    m.asin = np.arcsin
    for fn in ("sin", "cos", "tan", "sqrt", "log", "exp", "sinh", "cosh",
               "radians", "degrees"):
        setattr(m, fn, getattr(np, fn))
    return m


import contextlib as _contextlib


@_contextlib.contextmanager
def _numpy_funcs():
    """Install the numpy shim for THIS thread only (see _FuncsProxy)."""
    prev = getattr(_FuncsProxy._local, "impl", None)
    _FuncsProxy._local.impl = _np_math()
    try:
        yield
    finally:
        _FuncsProxy._local.impl = prev


def _helmert_np(dt: HelmertDatum, lon, lat, *, to_wgs84: bool):
    """HelmertDatum.apply's math on numpy arrays (h=0, 2D convention —
    same formulas, same algebraic inverse; see apply's docstring)."""
    import numpy as np
    if to_wgs84:
        (a1, f1), (a2, f2) = (dt.a, dt.f), (WGS84_A, WGS84_F)
    else:
        (a1, f1), (a2, f2) = (WGS84_A, WGS84_F), (dt.a, dt.f)
    e2s, e2d = f1 * (2.0 - f1), f2 * (2.0 - f2)
    b2, ep2 = a2 * (1.0 - f2), (f2 * (2.0 - f2)) / (1.0 - f2) ** 2
    rx, ry, rz = dt.r
    tx, ty, tz = dt.t
    m = 1.0 + dt.s
    lam, phi = np.radians(np.asarray(lon, np.float64)), \
        np.radians(np.asarray(lat, np.float64))
    sphi = np.sin(phi)
    nu = a1 / np.sqrt(1.0 - e2s * sphi * sphi)
    gx = nu * np.cos(phi) * np.cos(lam)
    gy = nu * np.cos(phi) * np.sin(lam)
    gz = nu * (1.0 - e2s) * sphi
    if to_wgs84:
        x = m * (gx - rz * gy + ry * gz) + tx
        y = m * (rz * gx + gy - rx * gz) + ty
        z = m * (-ry * gx + rx * gy + gz) + tz
    else:
        ux, uy, uz = (gx - tx) / m, (gy - ty) / m, (gz - tz) / m
        x = ux + rz * uy - ry * uz
        y = -rz * ux + uy + rx * uz
        z = ry * ux - rx * uy + uz
    p = np.sqrt(x * x + y * y)
    th = np.arctan2(z * a2, p * b2)
    phi2 = np.arctan2(z + ep2 * b2 * np.sin(th) ** 3,
                      p - e2d * a2 * np.cos(th) ** 3)
    for _ in range(2):
        s = np.sin(phi2)
        nu2 = a2 / np.sqrt(1.0 - e2d * s * s)
        h = p / np.cos(phi2) - nu2
        phi2 = np.arctan2(z, p * (1.0 - e2d * nu2 / (nu2 + h)))
    return np.degrees(np.arctan2(y, x)), np.degrees(phi2)


def _datum_np(datum, lon, lat, *, to_wgs84: bool):
    """Numpy-side datum dispatch: grid-shift datums carry their own numpy
    twin; Helmert datums share _helmert_np."""
    if hasattr(datum, "shift_np"):
        return datum.shift_np(lon, lat, to_wgs84=to_wgs84)
    return _helmert_np(datum, lon, lat, to_wgs84=to_wgs84)


def transform_points_np(x, y, src: str | int, dst: str | int):
    """reproject()'s CRS dispatch evaluated on numpy arrays (no
    SparkSession) — the per-vertex engine behind st_transform.  Same
    supported-CRS surface; unknown codes raise ValueError."""
    import numpy as np
    s, d = _parse_epsg(src), _parse_epsg(dst)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    # numpy evaluates BOTH branches of a when() eagerly (Catalyst doesn't):
    # guarded divides (e.g. LAEA's rho=0 origin) emit spurious warnings
    # before np.where masks them
    with _numpy_funcs(), np.errstate(divide="ignore", invalid="ignore"):
        if s == 4326:
            lon, lat = x, y
        elif s == 3857:
            lon, lat = from_mercator_lon(x), from_mercator_lat(y)
        elif 32601 <= s <= 32660 or 32701 <= s <= 32760:
            lon, lat = utm_inverse_exprs(x, y, s % 100, south=s >= 32701)
        elif s in CRS_REGISTRY:
            proj = CRS_REGISTRY[s]
            lon, lat = proj.inverse(x, y)
            if getattr(proj, "datum", None) is not None:
                lon, lat = _datum_np(proj.datum, lon, lat, to_wgs84=True)
        else:
            raise ValueError(f"unsupported source CRS: {src}")
        if d == 4326:
            ox, oy = lon, lat
        elif d == 3857:
            ox, oy = to_mercator_x(lon), to_mercator_y(lat)
        elif 32601 <= d <= 32660 or 32701 <= d <= 32760:
            ox, oy = utm_exprs(lon, lat, d % 100, south=d >= 32701)
        elif d in CRS_REGISTRY:
            proj = CRS_REGISTRY[d]
            if getattr(proj, "datum", None) is not None:
                lon, lat = _datum_np(proj.datum, lon, lat, to_wgs84=False)
            ox, oy = proj.forward(lon, lat)
        else:
            raise ValueError(f"unsupported target CRS: {dst}")
    return np.asarray(ox, np.float64), np.asarray(oy, np.float64)
