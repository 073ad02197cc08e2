"""CRS reprojection as native Catalyst expressions.

Reference parity: QueryPlanner applies an optional result reprojection
(planning/QueryPlanner.scala:94-98 and 297-301, GeoTools CRS transform).
Every supported CRS is one projection object with ``forward`` (lon/lat
degrees -> x/y) and ``inverse``, plus an optional ``datum`` shift to
WGS84: EPSG:4326 (identity), EPSG:3857 (spherical web mercator, the
pair the tile pyramid consumers use), EPSG:326zz / 327zz (WGS84 UTM, a
:class:`TransverseMercator`) and the parameterized families of
``CRS_REGISTRY``.  :func:`_projection` is the one lookup.

Every formula is written once over the module-global ``F``: on the
Column path (:func:`reproject`) it builds pure Catalyst arithmetic
(whole-stage codegen, no UDFs); under :func:`_numpy_funcs` the same code
runs on numpy arrays (:func:`transform_points_np`, st_transform's
per-vertex engine), so the two paths cannot drift.

Every ``forward(lon, lat, stage)``, ``inverse(x, y, stage)`` and datum
``_shift`` names each non-trivial intermediate it reads more than once
through one callback, ``stage(name, expr)``: :class:`_Staged` on the
Column path (a temp column, so the plan stays linear in the number of
steps), :func:`_unstaged` on numpy (the value itself).
"""

from __future__ import annotations

import contextlib as _contextlib
import math as _math
import threading as _threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as _spark_funcs


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

    @staticmethod
    def int_cast(v):
        """``v.cast("int")`` on a Column; the numpy shim's ``floor``
        already yields int64, as Catalyst's floor of a double is BIGINT."""
        return v.cast("int") if isinstance(v, Column) else v


F = _FuncsProxy()

R_MAJOR = 6378137.0
MAX_LAT = 85.05112877980659   # atan(sinh(pi)) — mercator validity bound


class _Staged:
    """The Column path's staging callback: ``stage(name, expr)`` adds
    ``expr`` to ``self.df`` as a temp column and returns its ``F.col``.

    Iterative formulas read each step's result several times; as one
    Column tree they grow exponentially with the steps (a chained
    reprojection then hangs the optimizer).  Named intermediate columns
    keep the tree linear — CollapseProject does not inline a non-trivial
    expression consumed more than once.  Every call makes a new name
    (``__rp_<n>_<name>``), so no temp column is overwritten while a later
    expression still reads it; :meth:`finish` drops them all."""

    prefix = "__rp_"

    def __init__(self, df: DataFrame):
        clash = [c for c in df.columns if c.startswith(self.prefix)]
        if clash:
            raise ValueError(f"reserved temp columns present: {clash}")
        self.df, self.names = df, []

    def __call__(self, name: str, expr: Column) -> Column:
        name = f"{self.prefix}{len(self.names)}_{name}"
        self.names.append(name)
        self.df = self.df.withColumn(name, expr)
        return F.col(name)

    def finish(self, outs: dict) -> DataFrame:
        """``self.df`` with the ``outs`` columns added, temps dropped."""
        return self.df.withColumns(outs).drop(*self.names)


def _unstaged(name: str, value):
    """The numpy path's staging callback: arrays are already values."""
    return value


def mercator_sql(lon: str, lat: str) -> tuple[str, str]:
    """The same transform in portable SQL (for the DuckDB oracle)."""
    x = f"{R_MAJOR!r} * radians({lon})"
    clamped = (f"(CASE WHEN {lat} > {MAX_LAT!r} THEN {MAX_LAT!r} "
               f"WHEN {lat} < {-MAX_LAT!r} THEN {-MAX_LAT!r} ELSE {lat} END)")
    y = (f"{R_MAJOR!r} * ln(tan({3.141592653589793 / 4.0!r} "
         f"+ radians({clamped}) / 2.0))")
    return x, y


# ---------------------------------------------------------------------------
# Ellipsoidal projection families (EPSG methods 9802 / 9822 / 9829 /
# 9820 / 9807) — the arbitrary-CRS surface of QueryPlanner.scala:297-301's
# result reprojection.  All formulas are the published EPSG Guidance Note
# 7-2 / Snyder forms; constants are computed driver-side in python floats,
# the per-row math is native Catalyst arithmetic (whole-stage codegen).
# ---------------------------------------------------------------------------

WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
UTM_K0 = 0.9996
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


def _atanh(x: Column) -> Column:
    """atanh, null (NaN on numpy) at and beyond its poles +-1: a
    transverse-mercator point 90 degrees from the central meridian, or at
    a geographic pole, has no image, and under ANSI mode the division
    would fail the whole job."""
    return F.when((x > -1.0) & (x < 1.0), 0.5 * F.log((1.0 + x) / (1.0 - x))) \
        .otherwise(F.lit(None))


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

    def forward(self, lon, lat, stage=_unstaged):
        phi, lam = F.radians(lat), F.radians(lon)
        r = stage("r", F.lit(self.a * self.F)
                  * F.pow(_t_col(phi, self.e), F.lit(self.n)))
        theta = stage("theta", F.lit(self.n) * (lam - self.lam0))
        return (F.lit(self.fe) + r * F.sin(theta),
                F.lit(self.fn + self.r0) - r * F.cos(theta))

    def inverse(self, x, y, stage=_unstaged):
        dx = stage("dx", x - F.lit(self.fe))
        dy = stage("dy", F.lit(self.r0) - (y - F.lit(self.fn)))
        sgn = 1.0 if self.n >= 0 else -1.0
        rp = F.lit(sgn) * F.sqrt(dx * dx + dy * dy)
        tp = stage("tp", F.pow(rp / F.lit(self.a * self.F), F.lit(1.0 / self.n)))
        theta = F.atan2(F.lit(sgn) * dx, F.lit(sgn) * dy)
        lam = theta / F.lit(self.n) + F.lit(self.lam0)
        # fixed-point latitude recovery: 6 unrolled iterations converge to
        # double precision for |phi| < 89.9
        phi = stage("phi", F.lit(_math.pi / 2) - 2.0 * F.atan(tp))
        for _ in range(6):
            s = F.sin(phi)
            phi = stage("phi", F.lit(_math.pi / 2) - 2.0 * F.atan(
                tp * F.pow((1.0 - self.e * s) / (1.0 + self.e * s),
                           F.lit(self.e / 2))))
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

    def forward(self, lon, lat, stage=_unstaged):
        phi, lam = F.radians(lat), F.radians(lon)
        q = _q_col(phi, self.e)
        rho = stage("rho", F.lit(self.a) * F.sqrt(F.lit(self.C) - F.lit(self.n) * q)
                    / F.lit(self.n))
        theta = stage("theta", F.lit(self.n) * (lam - self.lam0))
        return (F.lit(self.fe) + rho * F.sin(theta),
                F.lit(self.fn + self.rho0) - rho * F.cos(theta))

    def inverse(self, x, y, stage=_unstaged):
        dx = stage("dx", x - F.lit(self.fe))
        dy = stage("dy", F.lit(self.rho0) - (y - F.lit(self.fn)))
        rho = F.sqrt(dx * dx + dy * dy)
        q = stage("q", (F.lit(self.C)
                        - rho * rho * F.lit(self.n * self.n / (self.a * self.a)))
                  / F.lit(self.n))
        beta = stage("beta", F.asin(q / F.lit(self.qp)))
        phi = _authalic_to_geodetic(beta, q, self.e, stage)
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

    def forward(self, lon, lat, stage=_unstaged):
        lam = F.radians(lon)
        # fold the south case onto the north formulas by mirroring lat
        phi = F.radians(lat)
        if self.south:
            phi = -phi
        t = _t_col(phi, self.e)
        rho = stage("rho", F.lit(2 * self.a * self.k0 / self.big) * t)
        theta = stage("theta", lam - F.lit(self.lam0))
        if self.south:
            # south: theta measured from the 0-meridian with N increasing
            # toward lam0 (E = rho sin, N = +rho cos)
            return (F.lit(self.fe) + rho * F.sin(theta),
                    F.lit(self.fn) + rho * F.cos(theta))
        return (F.lit(self.fe) + rho * F.sin(theta),
                F.lit(self.fn) - rho * F.cos(theta))

    def inverse(self, x, y, stage=_unstaged):
        e2 = self.e * self.e
        dx = stage("dx", x - F.lit(self.fe))
        dy = stage("dy", y - F.lit(self.fn))
        rho = F.sqrt(dx * dx + dy * dy)
        tp = rho * F.lit(self.big / (2 * self.a * self.k0))
        chi = stage("chi", F.lit(_math.pi / 2) - 2.0 * F.atan(tp))
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

    def forward(self, lon, lat, stage=_unstaged):
        phi, lam = F.radians(lat), F.radians(lon)
        beta = stage("beta", F.asin(_q_col(phi, self.e) / F.lit(self.qp)))
        dlam = stage("dlam", lam - F.lit(self.lam0))
        sb0, cb0 = _math.sin(self.beta0), _math.cos(self.beta0)
        B = stage("B", F.lit(self.rq) * F.sqrt(
            2.0 / (1.0 + F.lit(sb0) * F.sin(beta)
                   + F.lit(cb0) * F.cos(beta) * F.cos(dlam))))
        x = F.lit(self.fe) + B * F.lit(self.D) * F.cos(beta) * F.sin(dlam)
        y = F.lit(self.fn) + (B / F.lit(self.D)) * (
            F.lit(cb0) * F.sin(beta)
            - F.lit(sb0) * F.cos(beta) * F.cos(dlam))
        return x, y

    def inverse(self, x, y, stage=_unstaged):
        sb0, cb0 = _math.sin(self.beta0), _math.cos(self.beta0)
        dx = stage("dx", (x - F.lit(self.fe)) / F.lit(self.D))
        dy = stage("dy", (y - F.lit(self.fn)) * F.lit(self.D))
        rho = stage("rho", F.sqrt(dx * dx + dy * dy))
        C = stage("C", 2.0 * F.asin(rho / F.lit(2 * self.rq)))
        # guard the origin (rho = 0): the dy/rho term tends to 0 there
        frac = F.when(rho > 0, dy * F.sin(C) * F.lit(cb0) / rho) \
            .otherwise(F.lit(0.0))
        beta = stage("beta", F.asin(F.cos(C) * F.lit(sb0) + frac))
        lam = F.lit(self.lam0) + F.atan2(
            dx * F.sin(C),
            rho * F.lit(cb0) * F.cos(C) - dy * F.lit(sb0) * F.sin(C))
        phi = _authalic_to_geodetic(beta, F.sin(beta) * F.lit(self.qp),
                                    self.e, stage)
        return F.degrees(lam), F.degrees(phi)


def _authalic_to_geodetic(beta, q, e: float, stage):
    """Geodetic latitude of the authalic latitude ``beta``, whose q(phi)
    is ``q``: the Snyder 3-18 series seed (error O(e^8) ~ 1e-7 deg) and
    two Newton steps on q(phi) = q (dq/dphi = 2(1-e^2)cos(phi)/(1-e^2
    sin^2 phi)^2) -> double precision."""
    e2 = e * e
    phi = stage("phi", beta
                + F.lit(e2 / 3 + 31 * e2 ** 2 / 180 + 517 * e2 ** 3 / 5040)
                * F.sin(2.0 * beta)
                + F.lit(23 * e2 ** 2 / 360 + 251 * e2 ** 3 / 3780)
                * F.sin(4.0 * beta)
                + F.lit(761 * e2 ** 3 / 45360) * F.sin(6.0 * beta))
    for _ in range(2):
        s = F.sin(phi)
        denom = 1.0 - e2 * s * s
        phi = stage("phi", phi + (q - _q_col(phi, e)) * denom * denom
                    / (F.lit(2 * (1 - e2)) * F.cos(phi)))
    return phi


def _krueger(a: float, f: float) -> tuple[float, float, tuple, tuple, tuple]:
    """(e, A_bar, alpha, beta, delta): rectifying radius and Krüger
    alpha/beta/delta series, 3rd order in n (sub-millimeter within UTM
    zone widths)."""
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
    via the Karney/Krüger series (UTM zones, state-plane TM zones,
    British National Grid, NZTM2000...).  WGS84 UTM is the special case
    lat0=0, k0=0.9996 on the zone meridian (see ``_projection``)."""

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

    def forward(self, lon, lat, stage=_unstaged):
        phi = F.radians(lat)
        dlam = F.radians(lon) - F.lit(self.lam0)
        sphi = stage("sphi", F.sin(phi))
        t = stage("t", F.sinh(_atanh(sphi)
                              - F.lit(self.e) * _atanh(F.lit(self.e) * sphi)))
        xi_p = stage("xi_p", F.atan2(t, F.cos(dlam)))
        eta_p = stage("eta_p", _atanh(F.sin(dlam) / F.sqrt(1.0 + t * t)))
        xi, eta = xi_p, eta_p
        for j, aj in enumerate(self.alpha, start=1):
            xi = xi + F.lit(aj) * F.sin(2.0 * j * xi_p) * F.cosh(2.0 * j * eta_p)
            eta = eta + F.lit(aj) * F.cos(2.0 * j * xi_p) * F.sinh(2.0 * j * eta_p)
        # at a pole atanh(sin phi) is infinite; the series' limit there is
        # xi' = +-pi/2 (every sin(2j xi') vanishes) and eta' = 0
        pole = (sphi >= 1.0) | (sphi <= -1.0)
        east = F.when(pole, F.lit(self.fe)).otherwise(
            F.lit(self.fe) + F.lit(self.k0 * self.abar) * eta)
        north = F.lit(self.fn) + F.lit(self.k0 * self.abar) * (
            F.when(pole, sphi * (_math.pi / 2)).otherwise(xi) - F.lit(self.xi0))
        return east, north

    def inverse(self, x, y, stage=_unstaged):
        xi = stage("xi", (y - F.lit(self.fn)) / F.lit(self.k0 * self.abar)
                   + F.lit(self.xi0))
        eta = stage("eta", (x - F.lit(self.fe)) / F.lit(self.k0 * self.abar))
        xi_p, eta_p = xi, eta
        for j, bj in enumerate(self.beta, start=1):
            xi_p = xi_p - F.lit(bj) * F.sin(2.0 * j * xi) * F.cosh(2.0 * j * eta)
            eta_p = eta_p - F.lit(bj) * F.cos(2.0 * j * xi) * F.sinh(2.0 * j * eta)
        xi_p, eta_p = stage("xi_p", xi_p), stage("eta_p", eta_p)
        chi = stage("chi", F.asin(F.sin(xi_p) / F.cosh(eta_p)))
        phi = chi
        for j, dj in enumerate(self.delta, start=1):
            phi = phi + F.lit(dj) * F.sin(2.0 * j * chi)
        lam = F.atan2(F.sinh(eta_p), F.cos(xi_p))
        return F.degrees(lam + F.lit(self.lam0)), F.degrees(phi)


class _Datum:
    """A datum shift between THIS datum and WGS84, written once as
    ``_shift(lon, lat, h, stage, to_wgs84) -> (lon, lat, h)`` over ``F``
    and a staging callback: :meth:`apply` runs it as staged Catalyst
    projections, :meth:`shift_np` on numpy arrays."""

    def apply(self, df: DataFrame, lon_col: str, lat_col: str,
              out_lon: str, out_lat: str, *, to_wgs84: bool,
              h_col: str | None = None,
              out_h: str | None = None) -> DataFrame:
        """Shift ``(lon_col, lat_col)`` degrees between this datum and
        WGS84 (direction per ``to_wgs84``), writing ``out_lon/out_lat``.
        Temporary columns are dropped before returning.

        ``h_col``/``out_h`` optionally carry ellipsoidal height through
        the transform.  Without them (the 2D GIS convention, same as
        PROJ/GeoTools 2D pipelines) each direction assumes h=0 on ITS
        source ellipsoid, so a 2D Helmert round trip closes only to
        ~|h| * e^2 lateral error (a few cm where the ellipsoids differ by
        ~1 km); with heights carried it closes to ~1e-9 deg."""
        stage = _Staged(df)
        h = F.col(h_col) if h_col is not None else F.lit(0.0)
        lon, lat, h = self._shift(F.col(lon_col), F.col(lat_col), h, stage,
                                  to_wgs84)
        outs = {out_lon: lon, out_lat: lat}
        if out_h is not None:
            outs[out_h] = h
        return stage.finish(outs)

    def shift_np(self, lon, lat, *, to_wgs84: bool):
        """:meth:`apply`'s formula on numpy arrays (h=0, 2D convention)."""
        import numpy as np
        with _numpy_funcs():
            lon, lat, _ = self._shift(np.asarray(lon, np.float64),
                                      np.asarray(lat, np.float64), 0.0,
                                      _unstaged, to_wgs84)
        return lon, lat


class HelmertDatum(_Datum):
    """7-parameter Helmert transformation (EPSG method 9606,
    position-vector sign convention) between THIS datum and WGS84, plus
    the datum's own ellipsoid — the missing piece for CRSs whose datum is
    not WGS84/GRS80-equivalent (OSGB36, ED50...).  Planimetric: features
    carry no ellipsoidal height, so h=0 on the source ellipsoid (the
    standard 2D-geometry assumption; sub-mm horizontal effect).

    geodetic -> geocentric XYZ -> small-angle Helmert -> geodetic on the
    other ellipsoid (Bowring seed + two fixed-point refinements, sub-mm
    for the |h| < 1 km pseudo-heights an ellipsoid change creates).
    On the Column path every intermediate is a staged column (see
    :class:`_Staged`); all per-row math is native Catalyst arithmetic.
    """

    def __init__(self, a: float, f: float, tx: float, ty: float, tz: float,
                 rx_as: float, ry_as: float, rz_as: float, s_ppm: float):
        self.a, self.f = a, f
        self.t = (tx, ty, tz)
        as_rad = _math.pi / (180.0 * 3600.0)
        self.r = (rx_as * as_rad, ry_as * as_rad, rz_as * as_rad)
        self.s = s_ppm * 1e-6

    def _shift(self, lon, lat, h, stage, to_wgs84: bool):
        if to_wgs84:
            (a1, f1), (a2, f2) = (self.a, self.f), (WGS84_A, WGS84_F)
        else:
            (a1, f1), (a2, f2) = (WGS84_A, WGS84_F), (self.a, self.f)
        e2s = f1 * (2.0 - f1)
        e2d = f2 * (2.0 - f2)
        b2, ep2 = a2 * (1.0 - f2), e2d / (1.0 - e2d)
        rx, ry, rz = self.r

        lam, phi = F.radians(lon), F.radians(lat)
        sphi = F.sin(phi)
        nu = F.lit(a1) / F.sqrt(1.0 - F.lit(e2s) * sphi * sphi)
        # geodetic -> geocentric on the source ellipsoid
        gx = stage("gx", (nu + h) * F.cos(phi) * F.cos(lam))
        gy = stage("gy", (nu + h) * F.cos(phi) * F.sin(lam))
        gz = stage("gz", (nu * F.lit(1.0 - e2s) + h) * sphi)
        # small-angle Helmert, position-vector convention.  The inverse
        # direction is the EXACT algebraic inverse X = (I-R)(X'-t)/m (to
        # O(r^2) ~ 1e-11 rad on the rotation only) — NOT the
        # negated-parameter shortcut, whose s*t cross term alone is
        # ~1 cm for OSGB36 (20.5 ppm x 540 m) and breaks round trips.
        tx, ty, tz = self.t
        m = 1.0 + self.s
        if to_wgs84:
            x = stage("x",
                      F.lit(m) * (gx - F.lit(rz) * gy + F.lit(ry) * gz)
                      + F.lit(tx))
            y = stage("y",
                      F.lit(m) * (F.lit(rz) * gx + gy - F.lit(rx) * gz)
                      + F.lit(ty))
            z = stage("z",
                      F.lit(m) * (-F.lit(ry) * gx + F.lit(rx) * gy + gz)
                      + F.lit(tz))
        else:
            ux = stage("ux", (gx - F.lit(tx)) / F.lit(m))
            uy = stage("uy", (gy - F.lit(ty)) / F.lit(m))
            uz = stage("uz", (gz - F.lit(tz)) / F.lit(m))
            x = stage("x", ux + F.lit(rz) * uy - F.lit(ry) * uz)
            y = stage("y", -F.lit(rz) * ux + uy + F.lit(rx) * uz)
            z = stage("z", F.lit(ry) * ux - F.lit(rx) * uy + uz)
        # geocentric -> geodetic on the target ellipsoid: Bowring seed...
        p = stage("p", F.sqrt(x * x + y * y))
        th = F.atan2(z * F.lit(a2), p * F.lit(b2))
        s3 = F.pow(F.sin(th), F.lit(3.0))
        c3 = F.pow(F.cos(th), F.lit(3.0))
        phi = stage("phi", F.atan2(z + F.lit(ep2 * b2) * s3,
                                   p - F.lit(e2d * a2) * c3))
        # ...+ two fixed-point refinements (each contracts the seed error
        # by ~e^2; the seed alone is only good to ~1e-7 rad at the
        # several-hundred-meter pseudo-heights an ellipsoid change makes)
        for _ in range(2):
            s = F.sin(phi)
            nu2 = stage("nu", F.lit(a2) / F.sqrt(1.0 - F.lit(e2d) * s * s))
            h2 = p / F.cos(phi) - nu2
            phi = stage("phi", F.atan2(
                z, p * (1.0 - F.lit(e2d) * nu2 / (nu2 + h2))))
        s = F.sin(phi)
        h_out = p / F.cos(phi) - F.lit(a2) / F.sqrt(1.0 - F.lit(e2d) * s * s)
        return F.degrees(F.atan2(y, x)), F.degrees(phi), h_out


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


class GridShiftDatum(_Datum):
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

    def _blend(self, lon, lat, stage):
        """(dlon, dlat) DEGREES, positive east/north: the bilinear blend
        of the four nodes around (lon, lat), zero outside the grid."""
        nlat, nlon = self.nlat, self.nlon
        gx = stage("gx", (lon - F.lit(self.lon0)) / F.lit(self.dlon))
        gy = stage("gy", (lat - F.lit(self.lat0)) / F.lit(self.dlat))
        ix = stage("ix", F.int_cast(
            F.least(F.greatest(F.floor(gx), F.lit(0)), F.lit(nlon - 2))))
        iy = stage("iy", F.int_cast(
            F.least(F.greatest(F.floor(gy), F.lit(0)), F.lit(nlat - 2))))
        fx, fy = gx - ix, gy - iy
        inside = ((gx >= 0) & (gx <= F.lit(float(nlon - 1)))
                  & (gy >= 0) & (gy <= F.lit(float(nlat - 1))))
        base = iy * F.lit(nlon) + ix + F.lit(1)   # element_at is 1-based

        def blend(arr, sign: float):
            v = (F.element_at(arr, base) * (1 - fx) * (1 - fy)
                 + F.element_at(arr, base + 1) * fx * (1 - fy)
                 + F.element_at(arr, base + nlon) * (1 - fx) * fy
                 + F.element_at(arr, base + nlon + 1) * fx * fy)
            return F.when(inside, v * F.lit(sign / 3600.0)).otherwise(0.0)

        dlat = stage("dlat", blend(F.lit(self.lat_sec), 1.0))
        dlon = stage("dlon", blend(F.lit(self.lon_sec_west), -1.0))
        return dlon, dlat

    def _shift(self, lon, lat, h, stage, to_wgs84: bool):
        if to_wgs84:
            dlon, dlat = self._blend(lon, lat, stage)
            return lon + dlon, lat + dlat, h
        # fixed point: est_{k+1} = wgs84 - shift(est_k), est_0 = wgs84
        dlon, dlat = self._blend(lon, lat, stage)
        e_lon = stage("e_lon", lon - dlon)
        e_lat = stage("e_lat", lat - dlat)
        dlon, dlat = self._blend(e_lon, e_lat, stage)
        return lon - dlon, lat - dlat, h


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
    """Register a parameterized projection (``forward(lon, lat, stage)``
    and ``inverse(x, y, stage)``, each returning a pair) for an EPSG code
    — the extension point for state-plane zones."""
    CRS_REGISTRY[int(epsg)] = projection


class _LonLat:
    """EPSG:4326: lon/lat degrees are the coordinates."""

    def forward(self, lon, lat, stage=_unstaged):
        return lon, lat

    inverse = forward


class _WebMercator:
    """EPSG:3857: spherical mercator on the WGS84 semi-major axis
    (:func:`mercator_sql` is the forward in portable SQL)."""

    def forward(self, lon, lat, stage=_unstaged):
        clamped = F.when(lat > MAX_LAT, F.lit(MAX_LAT)) \
                   .when(lat < -MAX_LAT, F.lit(-MAX_LAT)).otherwise(lat)
        return (F.lit(R_MAJOR) * F.radians(lon),
                F.lit(R_MAJOR) * F.log(F.tan(F.lit(3.141592653589793 / 4.0)
                                             + F.radians(clamped) / 2.0)))

    def inverse(self, x, y, stage=_unstaged):
        return (F.degrees(x / F.lit(R_MAJOR)),
                F.degrees(2.0 * F.atan(F.exp(y / F.lit(R_MAJOR)))
                          - F.lit(3.141592653589793 / 2.0)))


def _parse_epsg(crs: str | int) -> int:
    if isinstance(crs, int):
        return crs
    s = str(crs).upper().replace("EPSG:", "").strip()
    return int(s)


def _projection(crs: str | int):
    """The projection object of a supported CRS: EPSG:4326, EPSG:3857,
    EPSG:326zz / 327zz (WGS84 UTM north / south) or a ``CRS_REGISTRY``
    code.  Unknown codes raise ValueError — the reference delegates
    others to GeoTools (QueryPlanner.scala:297-301)."""
    code = _parse_epsg(crs)
    if code == 4326:
        return _LonLat()
    if code == 3857:
        return _WebMercator()
    if 32601 <= code <= 32660 or 32701 <= code <= 32760:
        return TransverseMercator(WGS84_A, WGS84_F, 0.0,
                                  (code % 100) * 6.0 - 183.0, UTM_K0,
                                  500_000.0,
                                  10_000_000.0 if code >= 32701 else 0.0)
    if code in CRS_REGISTRY:
        return CRS_REGISTRY[code]
    raise ValueError(f"unsupported CRS: {crs}")


def _transform(src, dst, x, y, stage):
    """``src`` -> ``dst`` through lon/lat on WGS84: ``src.inverse``, each
    side's datum shift, then ``dst.forward``, all through ``stage``, which
    also names the lon/lat each step hands to the next."""
    lon, lat = src.inverse(x, y, stage)
    for proj, to_wgs84 in ((src, True), (dst, False)):
        datum = getattr(proj, "datum", None)
        if datum is not None:
            lon, lat, _ = datum._shift(stage("lon", lon), stage("lat", lat),
                                       F.lit(0.0), stage, to_wgs84)
    return dst.forward(stage("lon", lon), stage("lat", lat), stage)


def reproject(df: DataFrame, src: str | int, dst: str | int,
              x_col: str = "x", y_col: str = "y",
              out_x: str = "x2", out_y: str = "y2") -> DataFrame:
    """Reproject ``(x_col, y_col)`` from ``src`` to ``dst`` (any two
    CRSs :func:`_projection` supports) into ``(out_x, out_y)``."""
    s, d = _projection(src), _projection(dst)
    stage = _Staged(df)
    ox, oy = _transform(s, d, F.col(x_col), F.col(y_col), stage)
    return stage.finish({out_x: ox, out_y: oy})


def transform_points_np(x, y, src: str | int, dst: str | int):
    """:func:`reproject` on numpy arrays (no SparkSession) — the
    per-vertex engine behind st_transform: same lookup, same formulas."""
    import numpy as np
    s, d = _projection(src), _projection(dst)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    # numpy evaluates BOTH branches of a when() eagerly (Catalyst doesn't):
    # guarded divides (e.g. LAEA's rho=0 origin) emit spurious warnings
    # before np.where masks them
    with _numpy_funcs(), np.errstate(divide="ignore", invalid="ignore"):
        ox, oy = _transform(s, d, x, y, _unstaged)
    return np.asarray(ox, np.float64), np.asarray(oy, np.float64)


# ---------------------------------------------------------------------------
# numpy shim: every formula above references the module-global ``F`` only
# through names this shim also provides, so the same code runs on numpy
# arrays (parity is pinned by tests comparing both paths).
# ---------------------------------------------------------------------------

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
    m.lit = lambda v: np.nan if v is None else v
    m.when = _NpWhen
    m.pow = np.power
    m.atan2 = np.arctan2
    m.atan = np.arctan
    m.asin = np.arcsin
    m.least, m.greatest = np.minimum, np.maximum
    m.floor = lambda v: np.floor(v).astype(np.int64)   # Catalyst: BIGINT
    m.element_at = lambda arr, i: np.asarray(arr)[i - 1]   # 1-based
    for fn in ("sin", "cos", "tan", "sqrt", "log", "exp", "sinh", "cosh",
               "radians", "degrees"):
        setattr(m, fn, getattr(np, fn))
    return m


@_contextlib.contextmanager
def _numpy_funcs():
    """Install the numpy shim for THIS thread only (see _FuncsProxy)."""
    prev = getattr(_FuncsProxy._local, "impl", None)
    _FuncsProxy._local.impl = _np_math()
    try:
        yield
    finally:
        _FuncsProxy._local.impl = prev
