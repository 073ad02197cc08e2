"""WPS-process analogs: proximity join, tube select, route search, lookup
join, merged views, convex hull — the geomesa-process module surface
re-expressed as DataFrame plans.

Reference parity:
* proximity_join — ProximitySearchProcess (geomesa-process/.../query/
  ProximitySearchProcess.scala:29): features of the store within distance d
  of a (small) query collection.  Plan: broadcast anchors, bbox prefilter
  (native, pushdown-friendly), exact haversine refine.
* tube_select — TubeSelectProcess / TubeBuilder (tube/TubeBuilder.scala:38-
  223): spatio-temporal "tube" around a track; events match when they fall
  within the tube's buffer AND time window of some tube waypoint.
* route_search — RouteSearchProcess (query/RouteSearchProcess.scala:38):
  match moving features to a route by proximity + heading tolerance; the
  feature heading is derived from its track's previous point (lag window).
* lookup_join — JoinProcess (query/JoinProcess.scala): semi/inner join of
  the store against an in-memory attribute collection (broadcast).
* merged_view — MergedQueryRunner (index-api/.../view/MergedQueryRunner
  .scala:41-87): union-all over N stores with optional feature-id dedupe.
* convex_hull — spark-jts ConvexHull UDAF (geomesa-spark-jts/.../udaf/
  ConvexHull.scala:16-50): per-group hull via collect + monotone chain.

Scale notes: anchors/tubes/routes are inherently small (query-side
collections) -> broadcast; the fact side stays a single pruned scan.  The
only shuffles are the final per-group aggregations.  Window-over-track ops
shuffle once on user_id (same key reused by lag + any later track agg).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geomesa_spark.geom.algos import EARTH_RADIUS_M


def haversine_col(lon1, lat1, lon2, lat2):
    """Native haversine (meters) — pure Catalyst, matches algos.haversine_m;
    null when a coordinate is null."""
    r1lon, r1lat = F.radians(lon1), F.radians(lat1)
    r2lon, r2lat = F.radians(lon2), F.radians(lat2)
    a = (F.pow(F.sin((r2lat - r1lat) / 2), 2)
         + F.cos(r1lat) * F.cos(r2lat) * F.pow(F.sin((r2lon - r1lon) / 2), 2))
    # clamp without F.least: least() ignores nulls and would turn a null
    # distance (null input coords) into asin(1)
    clamped = F.when(a > 1.0, F.lit(1.0)).otherwise(a)
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(clamped))


def bearing_col(lon1, lat1, lon2, lat2):
    """Initial great-circle bearing (degrees in [0, 360))."""
    dlon = F.radians(lon2) - F.radians(lon1)
    y = F.sin(dlon) * F.cos(F.radians(lat2))
    x = (F.cos(F.radians(lat1)) * F.sin(F.radians(lat2))
         - F.sin(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.cos(dlon))
    return (F.degrees(F.atan2(y, x)) + 360.0) % 360.0


def _deg_margin(radius_m: float) -> float:
    # safe LATITUDE prefilter margin: a meridian degree is >= ~110.57 km
    # everywhere, so radius/110567 * 1.01 never under-covers in latitude.
    return radius_m / 110_567.0 * 1.01


def _prefilter_cond(lon_col, lat_col, alon_col, alat_col, radius_m: float):
    """Latitude-aware bbox prefilter that never drops a true match.

    The latitude margin is the constant _deg_margin.  The longitude margin
    scales by 1/cos(lat) (a degree of longitude shrinks toward the poles);
    we evaluate cos at the anchor latitude pushed |margin| closer to the
    pole (the worst case inside the band) and clamp near the pole so the
    margin degenerates to "any longitude".  The longitude delta is taken
    modulo 360 so anchors near the antimeridian still match points on the
    other side of +/-180.  The exact haversine refine runs after this, so
    the prefilter only needs to be a superset.
    """
    m = _deg_margin(radius_m)
    lat_ok = lat_col.between(alat_col - m, alat_col + m)
    worst_lat = F.least(F.abs(alat_col) + F.lit(m), F.lit(89.9))
    m_lon = F.least(F.lit(m) / F.cos(F.radians(worst_lat)), F.lit(180.0))
    dlon = F.abs(F.pmod(lon_col - alon_col + 180.0, F.lit(360.0)) - 180.0)
    return lat_ok & (dlon <= m_lon)


def proximity_join(points: DataFrame, anchors: list[tuple],
                   radius_m: float, lon_col: str = "lon",
                   lat_col: str = "lat") -> DataFrame:
    """Pairs (anchor qid, point row) within great-circle radius_m.

    anchors: [(qid, lon, lat), ...] — broadcast; bbox prefilter keeps the
    refine predicate off most rows.
    """
    spark = points.sparkSession
    a = spark.createDataFrame(anchors, "qid string, alon double, alat double")
    cond = _prefilter_cond(F.col(lon_col), F.col(lat_col),
                           F.col("alon"), F.col("alat"), radius_m)
    d = haversine_col(F.col(lon_col), F.col(lat_col),
                      F.col("alon"), F.col("alat"))
    return (points.join(F.broadcast(a), cond)
            .where(d <= radius_m)
            .drop("alon", "alat"))


def tube_select(points: DataFrame, waypoints: list[tuple],
                radius_m: float, dt_seconds: int,
                lon_col: str = "lon", lat_col: str = "lat",
                ts_col: str = "ts") -> DataFrame:
    """Events inside the spatio-temporal tube around a track.

    waypoints: [(ts_string, lon, lat), ...].  An event matches when some
    waypoint is within radius_m AND |event_ts - waypoint_ts| <= dt_seconds
    (TubeBuilder's none-gap-fill semantics).  Returns distinct matches with
    the number of matched waypoints.
    """
    spark = points.sparkSession
    w = spark.createDataFrame(waypoints, "wts string, wlon double, wlat double") \
        .withColumn("wts", F.to_timestamp("wts"))
    time_ok = (F.abs(F.unix_timestamp(ts_col) - F.unix_timestamp("wts"))
               <= dt_seconds)
    bbox_ok = _prefilter_cond(F.col(lon_col), F.col(lat_col),
                              F.col("wlon"), F.col("wlat"), radius_m)
    d = haversine_col(F.col(lon_col), F.col(lat_col),
                      F.col("wlon"), F.col("wlat"))
    key_cols = [c for c in points.columns]
    return (points.join(F.broadcast(w), time_ok & bbox_ok)
            .where(d <= radius_m)
            .groupBy(*key_cols)
            .agg(F.count("*").alias("n_waypoints")))


def route_search(points: DataFrame, route: list[tuple], radius_m: float,
                 heading_tol_deg: float, track_col: str = "user_id",
                 lon_col: str = "lon", lat_col: str = "lat",
                 ts_col: str = "ts", id_col: str = "event_id") -> DataFrame:
    """Match track points to a route by proximity + heading tolerance.

    route: [(rid, lon, lat, bearing_deg), ...] — the route's waypoints with
    the route bearing at each.  A point matches if it lies within radius_m
    of a waypoint and its own track heading (bearing from the previous point
    of the same track) is within heading_tol_deg of the route bearing.
    Points with no predecessor have no heading and never match (reference
    skips them too).
    """
    spark = points.sparkSession
    r = spark.createDataFrame(
        route, "rid string, rlon double, rlat double, rbearing double")
    trk = Window.partitionBy(track_col).orderBy(ts_col, id_col)
    pts = (points
           .withColumn("_plon", F.lag(lon_col).over(trk))
           .withColumn("_plat", F.lag(lat_col).over(trk))
           .where(F.col("_plon").isNotNull())
           .withColumn("heading", bearing_col(F.col("_plon"), F.col("_plat"),
                                              F.col(lon_col), F.col(lat_col))))
    bbox_ok = _prefilter_cond(F.col(lon_col), F.col(lat_col),
                              F.col("rlon"), F.col("rlat"), radius_m)
    d = haversine_col(F.col(lon_col), F.col(lat_col),
                      F.col("rlon"), F.col("rlat"))
    diff = F.abs(F.col("heading") - F.col("rbearing"))
    ang = F.least(diff, 360.0 - diff)
    return (pts.join(F.broadcast(r), bbox_ok)
            .where((d <= radius_m) & (ang <= heading_tol_deg))
            .select(id_col, "rid").distinct())


def lookup_join(facts: DataFrame, lookup: DataFrame, on: str,
                how: str = "inner") -> DataFrame:
    """JoinProcess: store x small attribute collection -> broadcast join."""
    return facts.join(F.broadcast(lookup), on, how)


def merged_view(stores: list[DataFrame], fid_col: str = "event_id",
                dedupe: bool = True) -> DataFrame:
    """MergedQueryRunner: one logical layer over N stores."""
    out = stores[0]
    for s in stores[1:]:
        out = out.unionByName(s)
    if dedupe:
        w = Window.partitionBy(fid_col).orderBy(*[F.col(c) for c in out.columns])
        out = (out.withColumn("_rn", F.row_number().over(w))
               .where(F.col("_rn") == 1).drop("_rn"))
    return out


def convex_hull_agg(points: DataFrame, group_col: str,
                    lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Per-group planar convex hull (monotone chain) via applyInPandas.

    Returns (group, n_hull_points, hull_area_e6 = floor(area_deg2 * 1e6),
    hull_wkt).  The per-group pandas kernel sees only that group's points;
    groups are the shuffle key (same model as the reference's UDAF fold).
    """

    def hull(pdf: pd.DataFrame) -> pd.DataFrame:
        pts = np.unique(pdf[[lon_col, lat_col]].to_numpy(np.float64), axis=0)
        if len(pts) > 64:
            # Akl-Toussaint prefilter (exact): points strictly inside the
            # octagon of the 8 directional extremes cannot be hull vertices;
            # one vectorized ray-cast drops ~90% before the chain walk
            x, y = pts[:, 0], pts[:, 1]
            idx = {x.argmin(), x.argmax(), y.argmin(), y.argmax(),
                   (x + y).argmin(), (x + y).argmax(),
                   (x - y).argmin(), (x - y).argmax()}
            oct_pts = pts[sorted(idx)]
            c = oct_pts.mean(axis=0)
            ang = np.arctan2(oct_pts[:, 1] - c[1], oct_pts[:, 0] - c[0])
            ring = oct_pts[np.argsort(ang)]
            ring = np.vstack([ring, ring[:1]])
            from geomesa_spark.geom.algos import IN, points_in_ring
            keep = points_in_ring(x, y, ring) != IN
            pts = pts[keep]
        if len(pts) <= 2:
            hull_pts = pts
        else:
            # Andrew's monotone chain
            def half(points_sorted):
                out = []
                for p in points_sorted:
                    while len(out) >= 2 and np.cross(
                            out[-1] - out[-2], p - out[-2]) <= 0:
                        out.pop()
                    out.append(p)
                return out
            srt = pts[np.lexsort((pts[:, 1], pts[:, 0]))]
            lower, upper = half(srt), half(srt[::-1])
            hull_pts = np.array(lower[:-1] + upper[:-1])
        if len(hull_pts) >= 3:
            x, y = hull_pts[:, 0], hull_pts[:, 1]
            area = 0.5 * abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
        else:
            area = 0.0
        ring = np.vstack([hull_pts, hull_pts[:1]])
        wkt = ("POLYGON ((" + ", ".join(f"{a:.6f} {b:.6f}" for a, b in ring)
               + "))") if len(hull_pts) >= 3 else "GEOMETRYCOLLECTION EMPTY"
        return pd.DataFrame({
            "grp": [pdf[group_col].iloc[0]],
            "n_hull_points": [len(hull_pts)],
            "hull_area_e6": [int(np.floor(area * 1e6))],
            "hull_wkt": [wkt]})

    schema = (f"grp string, n_hull_points long, hull_area_e6 long, "
              f"hull_wkt string")
    return (points.select(group_col, lon_col, lat_col)
            .groupBy(group_col).applyInPandas(hull, schema)
            .withColumnRenamed("grp", group_col))


def convex_hull_vertices(points: DataFrame, group_col: str,
                         x_col: str = "x_ppm",
                         y_col: str = "y_ppm") -> DataFrame:
    """Per-group convex hull VERTEX set over INTEGER coordinates —
    the oracle-checkable projection of the ConvexHull UDAF (reference:
    udaf/ConvexHull.scala:16-50).

    Integer (ppm-scaled) inputs make every cross product exact in int64
    on both engines (|coord| <= 1.8e8 -> |cross| <= ~1.3e17 < 2^63), so
    hull membership is bit-identical to a DuckDB SQL oracle.  Output is
    one row per hull vertex (collinear mid-edge points excluded — strict
    turns, the monotone-chain convention), lexicographically ordered
    within the group; the vertex SET fully determines the hull polygon.
    """

    def hull(pdf: pd.DataFrame) -> pd.DataFrame:
        pts = np.unique(pdf[[x_col, y_col]].to_numpy(np.int64), axis=0)
        if len(pts) <= 2:
            hp = [(int(p[0]), int(p[1])) for p in pts]
        else:
            def half(ps):
                out: list[tuple[int, int]] = []
                for p in ps:
                    px, py = int(p[0]), int(p[1])
                    while len(out) >= 2:
                        ax, ay = out[-2]
                        bx, by = out[-1]
                        if (bx - ax) * (py - ay) - (by - ay) * (px - ax) <= 0:
                            out.pop()
                        else:
                            break
                    out.append((px, py))
                return out
            lower, upper = half(pts), half(pts[::-1])
            hp = lower[:-1] + upper[:-1]
        hp = sorted(set(hp))
        return pd.DataFrame({
            group_col: [pdf[group_col].iloc[0]] * len(hp),
            x_col: [a for a, _ in hp],
            y_col: [b for _, b in hp]})

    schema = f"{group_col} string, {x_col} long, {y_col} long"
    return (points.select(group_col, x_col, y_col)
            .groupBy(group_col).applyInPandas(hull, schema))


_ISO_DUR = None  # compiled lazily


def parse_iso_duration_seconds(text: str) -> float:
    """ISO-8601 duration (java.time.Duration subset: PnDTnHnMnS, negatives
    allowed) -> seconds.  Duration has no month/year units, so the result
    is always an exact second count (DateOffsetProcess.scala:39-41)."""
    import re
    global _ISO_DUR
    if _ISO_DUR is None:
        _ISO_DUR = re.compile(
            r"^(?P<sign>[+-])?P(?:(?P<d>[+-]?\d+)D)?"
            r"(?:T(?:(?P<h>[+-]?\d+)H)?(?:(?P<m>[+-]?\d+)M)?"
            r"(?:(?P<s>[+-]?\d+(?:\.\d+)?)S)?)?$", re.IGNORECASE)
    m = _ISO_DUR.match(text.strip())
    if not m or text.strip().upper() in ("P", "PT"):
        raise ValueError(f"Invalid offset {text}")
    sec = (int(m.group("d") or 0) * 86400 + int(m.group("h") or 0) * 3600
           + int(m.group("m") or 0) * 60 + float(m.group("s") or 0))
    return -sec if m.group("sign") == "-" else sec


def date_offset(df: DataFrame, date_col: str, time_offset: str) -> DataFrame:
    """DateOffsetProcess (transform/DateOffsetProcess.scala:28-56): shift a
    timestamp column by an ISO-8601 duration.  Native arithmetic on the
    epoch — Duration is an exact second count, so no calendar logic."""
    sec = parse_iso_duration_seconds(time_offset)
    # interval arithmetic (not unix_timestamp round-trip): preserves
    # sub-second precision on the column
    return df.withColumn(
        date_col, F.col(date_col) + F.expr(f"INTERVAL '{sec}' SECOND"))


def hash_attribute(df: DataFrame, attribute: str, modulo: int,
                   out_col: str = "hash") -> DataFrame:
    """HashAttributeProcess (transform/HashAttributeProcess.scala:23-58):
    append abs(murmur3(attr)) % modulo — the reference's deterministic
    bucketing/coloring aid.

    Native: Spark's `hash()` IS Murmur3 x86_32, applied to the attribute's
    UTF-16LE bytes like the reference; the SEED differs (Spark fixes 42,
    scala.util.hashing uses arraySeed), so bucket ASSIGNMENTS differ from
    the JVM process while every semantic property (determinism, uniform
    spread, stable modulo buckets) is preserved.  NULL hashes as "" per
    the reference (`Option(...).getOrElse("")`).
    """
    attr = F.coalesce(F.col(attribute).cast("string"), F.lit(""))
    h = F.hash(F.encode(attr, "UTF-16LE"))
    return df.withColumn(out_col,
                         (F.abs(h) % F.lit(int(modulo))).cast("int"))


def hash_attribute_color(df: DataFrame, attribute: str, modulo: int,
                         out_col: str = "hash") -> DataFrame:
    """HashAttributeColorProcess: like hash_attribute but emits a stable
    hex color from a small web-safe palette (the reference picks from a
    fixed color list by hash index)."""
    palette = ["#6495ED", "#B0C4DE", "#00FFFF", "#9ACD32", "#00FA9A",
               "#FFF8DC", "#F5DEB3"]
    bucketed = hash_attribute(df, attribute, modulo, out_col="__hac")
    arr = F.array(*[F.lit(c) for c in palette])
    return (bucketed
            .withColumn(out_col, F.element_at(
                arr, (F.col("__hac") % len(palette)) + 1))
            .drop("__hac"))
