"""Process/analytic query catalog: proximity join, tube select, route search,
merged view, lookup join, top-k, z3 histogram, BIN export, attribute/JSON
filters, convex hull.

Same (spark_fn, oracle_sql) contract as entry_queries.QUERIES.  Spatial
inputs use the deterministic geo derivation (sources/testdata.geo_events) so
lon/lat are bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geomesa_spark.operators import processes as proc
from geomesa_spark.sources.testdata import (geo_events, geo_events_sql,
                                            oracle_haversine_sql)

GEO = f"WITH geo AS ({geo_events_sql()})"

PROX_ANCHORS = [("q_cluster", 46.0, 25.0), ("q_origin", 0.0, 0.0),
                ("q_mid", -60.0, -30.0)]
PROX_RADIUS_M = 500_000.0

TUBE_WAYPOINTS = [
    ("2024-01-02 00:00:00", 45.0, 24.0),
    ("2024-01-02 06:00:00", 46.0, 25.0),
    ("2024-01-02 12:00:00", 47.0, 26.0),
    ("2024-01-03 00:00:00", 48.0, 27.0),
]
TUBE_RADIUS_M = 300_000.0
TUBE_DT_S = 6 * 3600

ROUTE = [("r0", 45.0, 24.0, 45.0), ("r1", 46.0, 25.0, 45.0),
         ("r2", 47.0, 26.0, 45.0), ("r3", 48.0, 27.0, 45.0)]
ROUTE_RADIUS_M = 400_000.0
ROUTE_TOL_DEG = 60.0

def _bearing(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    return (f"(degrees(atan2("
            f"sin(radians({lon2}) - radians({lon1})) * cos(radians({lat2})), "
            f"cos(radians({lat1})) * sin(radians({lat2})) "
            f"- sin(radians({lat1})) * cos(radians({lat2})) "
            f"* cos(radians({lon2}) - radians({lon1})))) + 360.0e0) % 360.0e0")


# --------------------------------------------------------------------------

def q_proximity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ProximitySearchProcess: (anchor, event) pairs within 500 km."""
    df = geo_events(spark, sf_dir)
    return (proc.proximity_join(df, PROX_ANCHORS, PROX_RADIUS_M)
            .select("qid", "event_id"))


def _prox_sql() -> str:
    anchors = ", ".join(f"('{q}', {lon!r}, {lat!r})"
                        for q, lon, lat in PROX_ANCHORS)
    return f"""
{GEO}, a AS (SELECT * FROM (VALUES {anchors}) t(qid, alon, alat))
SELECT a.qid, geo.event_id
FROM geo CROSS JOIN a
WHERE {oracle_haversine_sql('geo.lon', 'geo.lat', 'a.alon', 'a.alat')} <= {PROX_RADIUS_M!r}
"""


Q_PROXIMITY_SQL = _prox_sql()


def q_tube_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TubeSelect: events inside the 300km/±6h tube around a track."""
    df = geo_events(spark, sf_dir)
    out = proc.tube_select(df, TUBE_WAYPOINTS, TUBE_RADIUS_M, TUBE_DT_S)
    return out.select("event_id", "n_waypoints")


def _tube_sql() -> str:
    wp = ", ".join(f"(TIMESTAMP '{t}', {lon!r}, {lat!r})"
                   for t, lon, lat in TUBE_WAYPOINTS)
    return f"""
{GEO}, w AS (SELECT * FROM (VALUES {wp}) t(wts, wlon, wlat))
SELECT geo.event_id, count(*) AS n_waypoints
FROM geo JOIN w
  ON abs(CAST(floor(epoch(geo.ts)) AS BIGINT)
         - CAST(floor(epoch(w.wts)) AS BIGINT)) <= {TUBE_DT_S}
 AND {oracle_haversine_sql('geo.lon', 'geo.lat', 'w.wlon', 'w.wlat')} <= {TUBE_RADIUS_M!r}
GROUP BY geo.event_id
"""


Q_TUBE_SQL = _tube_sql()


def q_route_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RouteSearch: events near route waypoints with matching heading."""
    df = geo_events(spark, sf_dir)
    return proc.route_search(df, ROUTE, ROUTE_RADIUS_M, ROUTE_TOL_DEG)


def _route_sql() -> str:
    rt = ", ".join(f"('{rid}', {lon!r}, {lat!r}, {b!r})"
                   for rid, lon, lat, b in ROUTE)
    heading = _bearing("p.plon", "p.plat", "p.lon", "p.lat")
    return f"""
{GEO}, p AS (
  SELECT event_id, lon, lat,
         lag(lon) OVER w AS plon, lag(lat) OVER w AS plat
  FROM geo WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
h AS (
  SELECT event_id, lon, lat, {heading} AS heading
  FROM p WHERE plon IS NOT NULL
),
r AS (SELECT * FROM (VALUES {rt}) t(rid, rlon, rlat, rbearing))
SELECT DISTINCT h.event_id, r.rid
FROM h CROSS JOIN r
WHERE {oracle_haversine_sql('h.lon', 'h.lat', 'r.rlon', 'r.rlat')} <= {ROUTE_RADIUS_M!r}
  AND least(abs(h.heading - r.rbearing),
            360.0e0 - abs(h.heading - r.rbearing)) <= {ROUTE_TOL_DEG!r}
"""


Q_ROUTE_SQL = _route_sql()


def q_merged_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MergedQueryRunner: two overlapping stores union'd + fid-deduped."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    store_a = ev.where("event_id % 2 = 0 OR event_id % 7 = 0")
    store_b = ev.where("event_id % 2 = 1 OR event_id % 7 = 0")
    merged = proc.merged_view([store_a, store_b], fid_col="event_id")
    return merged.groupBy("event_type").agg(F.count("*").alias("cnt"))


Q_MERGED_VIEW_SQL = """
WITH u AS (
  SELECT * FROM events WHERE event_id % 2 = 0 OR event_id % 7 = 0
  UNION ALL
  SELECT * FROM events WHERE event_id % 2 = 1 OR event_id % 7 = 0
),
d AS (SELECT DISTINCT event_id, event_type FROM u)
SELECT event_type, count(*) AS cnt FROM d GROUP BY event_type
"""


def q_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JoinProcess: events x broadcast user-tier collection."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    tiers = spark.createDataFrame(
        [(u, ["gold", "silver", "bronze"][u % 3]) for u in range(20)],
        "user_id long, tier string")
    joined = proc.lookup_join(ev, tiers, on="user_id")
    return (joined.groupBy("tier")
            .agg(F.count("*").alias("cnt"),
                 F.round(F.sum("value"), 3).alias("sum_value")))


Q_LOOKUP_JOIN_SQL = """
WITH tiers AS (
  SELECT u AS user_id,
         CASE u % 3 WHEN 0 THEN 'gold' WHEN 1 THEN 'silver'
                    ELSE 'bronze' END AS tier
  FROM (SELECT unnest(range(20)) AS u)
)
SELECT t.tier, count(*) AS cnt, round(sum(e.value), 3) AS sum_value
FROM events e JOIN tiers t ON t.user_id = e.user_id
GROUP BY t.tier
"""


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TopK stat: 5 busiest users (deterministic tie-break on user_id)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("user_id"))
    return (counts.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select("user_id", "cnt", "rank"))


Q_TOPK_SQL = """
WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
r AS (SELECT user_id, cnt,
             row_number() OVER (ORDER BY cnt DESC, user_id ASC) AS rnk
      FROM c)
SELECT user_id, cnt, CAST(rnk AS INT) AS rank FROM r WHERE rnk <= 5
"""


def q_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three histogram stats, one tagged driver row.  kind='value': fixed-
    width bins of `value` (the Histogram stat; b1 = bucket, b2 = -1).
    kind='binned': the same column through BinnedArray.indexOf semantics
    (functions/binning.binned_index_col — BinnedArray.scala:195-201
    equal-width doubles, upper bound folded into the last bin, 16 bins
    over declared bounds (0, 512)).  kind='z3': Z3Histogram — counts
    keyed by (week bin -> b1, res-4 grid cell -> b2), the reference's
    spatio-temporal sketch."""
    from geomesa_spark.functions.binning import binned_index_col

    df = geo_events(spark, sf_dir)
    neg1 = F.lit(-1).cast("long")
    val = (df.withColumn("b1", F.floor(F.col("value") / 50.0).cast("long"))
           .groupBy("b1").agg(F.count("*").alias("cnt"))
           .select(F.lit("value").alias("kind"), "b1",
                   neg1.alias("b2"), "cnt"))
    binned = (df.withColumn("b1",
                            binned_index_col(F.col("value"), 0.0, 512.0, 16))
              .groupBy("b1").agg(F.count("*").alias("cnt"))
              .select(F.lit("binned").alias("kind"), "b1",
                      neg1.alias("b2"), "cnt"))
    week = F.floor(F.unix_timestamp("ts") / 604800).cast("long")
    ix = F.least(F.floor((F.col("lon") + 180.0) / 360.0 * 16), F.lit(15))
    iy = F.least(F.floor((F.col("lat") + 90.0) / 180.0 * 16), F.lit(15))
    z3 = (df.withColumn("b1", week)
          .withColumn("b2", (iy * 16 + ix).cast("long"))
          .groupBy("b1", "b2").agg(F.count("*").alias("cnt"))
          .select(F.lit("z3").alias("kind"), "b1", "b2", "cnt"))
    return val.unionByName(binned).unionByName(z3)


Q_HISTOGRAMS_SQL = f"""
{GEO}
SELECT 'value' AS kind, CAST(floor(value / 50.0) AS BIGINT) AS b1,
       CAST(-1 AS BIGINT) AS b2, count(*) AS cnt
FROM geo GROUP BY 2
UNION ALL
SELECT 'binned' AS kind,
       CAST(CASE WHEN value < 0.0e0 OR value > 512.0e0 THEN -1
                 ELSE least(floor(value / 32.0e0), 15) END AS BIGINT) AS b1,
       CAST(-1 AS BIGINT) AS b2, count(*) AS cnt
FROM geo GROUP BY 2
UNION ALL
SELECT 'z3' AS kind,
       CAST(floor(floor(epoch(ts)) / 604800) AS BIGINT) AS b1,
       CAST(least(floor((lat + 90.0e0) / 180.0e0 * 16), 15) * 16
            + least(floor((lon + 180.0e0) / 360.0e0 * 16), 15) AS BIGINT)
         AS b2,
       count(*) AS cnt
FROM geo GROUP BY 2, 3
"""


def q_bin_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIN aggregation: (track-hash, unix secs, lat, lon) per row.

    BinaryOutputEncoder packs these into 16-byte LE records
    (utils/bin/BinaryOutputEncoder.scala); the checked surface is the field
    values — byte packing is a writer detail.
    """
    df = geo_events(spark, sf_dir)
    return df.select(
        F.expr("(user_id * 2654435761) % 4294967296").alias("track_hash"),
        F.unix_timestamp("ts").alias("secs"),
        "lat", "lon")


Q_BIN_EXPORT_SQL = f"""
{GEO}
SELECT (user_id * 2654435761) % 4294967296 AS track_hash,
       CAST(floor(epoch(ts)) AS BIGINT) AS secs, lat, lon
FROM geo
"""


def q_attr_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-index predicates: LIKE prefix, IN list, between, age-off."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (ev.where(
        "(event_type LIKE 'sign%' OR event_type IN ('error', 'purchase')) "
        "AND value BETWEEN 50.0 AND 150.0 "
        "AND ts > TIMESTAMP '2024-01-10 00:00:00'")
        .select("event_id", "event_type"))


Q_ATTR_FILTER_SQL = """
SELECT event_id, event_type FROM events
WHERE (event_type LIKE 'sign%' OR event_type IN ('error', 'purchase'))
  AND value BETWEEN 50.0 AND 150.0
  AND ts > TIMESTAMP '2024-01-10 00:00:00'
"""


def q_json_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-path attribute query (ObjectType json=true analog)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # from_json with an explicit schema beats per-row JsonPath evaluation
    k = F.from_json("props", "k INT").getField("k")
    return (ev.withColumn("k", k)
            .where("k % 5 = 0")
            .groupBy("k").agg(F.count("*").alias("cnt")))


Q_JSON_ATTR_SQL = """
WITH j AS (SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k
           FROM events)
SELECT k, count(*) AS cnt FROM j WHERE k % 5 = 0 GROUP BY k
"""


FOOTPRINT_EXPRS = [
    "event_id", "ts", "lon AS xmin", "lat AS ymin",
    "lon + 0.1e0 + (event_id % 10) * 0.05e0 AS xmax",
    "lat + 0.1e0 + (event_id % 7) * 0.05e0 AS ymax",
]


def q_xz3_bbox_during(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XZ3 index path for non-point footprints: per-bin sequence-code range
    prefilter + exact bbox/interval refine (XZ3IndexKeySpace analog)."""
    from geomesa_spark.operators.footprints import xz3_bbox_during
    fp = geo_events(spark, sf_dir).selectExpr(*FOOTPRINT_EXPRS)
    out = xz3_bbox_during(fp, (40.0, 20.0, 50.0, 30.0),
                          ("2024-01-05 00:00:00", "2024-01-20 00:00:00"))
    return out.select("event_id")


Q_XZ3_SQL = f"""
{GEO}, f AS (
  SELECT event_id, ts, lon AS xmin, lat AS ymin,
         lon + 0.1e0 + (event_id % 10) * 0.05e0 AS xmax,
         lat + 0.1e0 + (event_id % 7) * 0.05e0 AS ymax
  FROM geo
)
SELECT event_id FROM f
WHERE xmax >= 40.0 AND xmin <= 50.0 AND ymax >= 20.0 AND ymin <= 30.0
  AND ts BETWEEN TIMESTAMP '2024-01-05 00:00:00'
             AND TIMESTAMP '2024-01-20 00:00:00'
"""


def q_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ConvexHull UDAF (reference: udaf/ConvexHull.scala:16-50), oracle-
    checked: per-event-type hull VERTEX rows over ppm-scaled integer
    coordinates (exact int64 cross products on both engines).  The WKT/
    area variant (proc.convex_hull_agg) stays brute-force-tested in
    tests/test_processes.py; this projection makes the hull itself
    hash-checkable against an independent SQL hull characterization."""
    df = geo_events(spark, sf_dir).select(
        "event_type",
        F.floor(F.col("lon") * F.lit(1e6)).cast("long").alias("x_ppm"),
        F.floor(F.col("lat") * F.lit(1e6)).cast("long").alias("y_ppm"))
    return proc.convex_hull_vertices(df, "event_type")


# Independent SQL convex-hull characterization (no chain walk):
#   1. Akl-Toussaint prefilter: the 8 directional extreme anchors (ties
#      broken lexicographically) form a CCW polygon; points strictly left
#      of ALL its edges are interior and can never be hull vertices.
#   2. vertical-stack rule: a point with same-x points strictly above AND
#      below lies on a segment -> never a vertex.
#   3. p is an upper-hull vertex iff NO pair a <lex p <lex b has p
#      on-or-below segment ab (cross <= 0); lower hull symmetric.  Strict
#      cross drops collinear mid-edge points — the monotone-chain strict-
#      turn convention the engine kernel uses.
# All arithmetic on ppm BIGINTs: bit-exact across engines.
Q_CONVEX_HULL_SQL = f"""
{GEO},
p AS (
  SELECT DISTINCT event_type AS grp,
         CAST(floor(lon * 1e6) AS BIGINT) AS x,
         CAST(floor(lat * 1e6) AS BIGINT) AS y
  FROM geo
),
ranked AS (
  SELECT grp, x, y,
    row_number() OVER (PARTITION BY grp ORDER BY x, y) AS r0,
    row_number() OVER (PARTITION BY grp ORDER BY x + y, x, y) AS r1,
    row_number() OVER (PARTITION BY grp ORDER BY y, x) AS r2,
    row_number() OVER (PARTITION BY grp ORDER BY x - y DESC, x, y) AS r3,
    row_number() OVER (PARTITION BY grp ORDER BY x DESC, y DESC) AS r4,
    row_number() OVER (PARTITION BY grp ORDER BY x + y DESC, x DESC, y DESC) AS r5,
    row_number() OVER (PARTITION BY grp ORDER BY y DESC, x DESC) AS r6,
    row_number() OVER (PARTITION BY grp ORDER BY x - y, x DESC, y DESC) AS r7
  FROM p
),
anchors AS (  -- CCW by outward direction: 180,225,270,315,0,45,90,135 deg
            SELECT grp, 0 AS k, x, y FROM ranked WHERE r0 = 1
  UNION ALL SELECT grp, 1, x, y FROM ranked WHERE r1 = 1
  UNION ALL SELECT grp, 2, x, y FROM ranked WHERE r2 = 1
  UNION ALL SELECT grp, 3, x, y FROM ranked WHERE r3 = 1
  UNION ALL SELECT grp, 4, x, y FROM ranked WHERE r4 = 1
  UNION ALL SELECT grp, 5, x, y FROM ranked WHERE r5 = 1
  UNION ALL SELECT grp, 6, x, y FROM ranked WHERE r6 = 1
  UNION ALL SELECT grp, 7, x, y FROM ranked WHERE r7 = 1
),
edges AS (  -- degenerate (coincident-anchor) edges skipped: cross would be
            -- 0 for every point and disable the prefilter
  SELECT a.grp, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by
  FROM anchors a JOIN anchors b
    ON a.grp = b.grp AND b.k = (a.k + 1) % 8
  WHERE NOT (a.x = b.x AND a.y = b.y)
),
cand AS (  -- survives unless strictly left of every anchor edge;
           -- anchors themselves are hull points and always survive
  SELECT pp.grp, pp.x, pp.y FROM p pp
  WHERE EXISTS (
    SELECT 1 FROM edges e WHERE e.grp = pp.grp
      AND (e.bx - e.ax) * (pp.y - e.ay)
          - (e.by - e.ay) * (pp.x - e.ax) <= 0)
     OR EXISTS (
    SELECT 1 FROM anchors an WHERE an.grp = pp.grp
      AND an.x = pp.x AND an.y = pp.y)
)
SELECT c.grp AS event_type, c.x AS x_ppm, c.y AS y_ppm
FROM cand c
WHERE NOT (
    EXISTS (SELECT 1 FROM p u
            WHERE u.grp = c.grp AND u.x = c.x AND u.y > c.y)
    AND EXISTS (SELECT 1 FROM p d
                WHERE d.grp = c.grp AND d.x = c.x AND d.y < c.y))
  AND (
    NOT EXISTS (  -- upper-hull exclusion witness
      SELECT 1 FROM cand a, cand b
      WHERE a.grp = c.grp AND b.grp = c.grp
        AND (a.x < c.x OR (a.x = c.x AND a.y < c.y))
        AND (b.x > c.x OR (b.x = c.x AND b.y > c.y))
        AND (b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) <= 0)
    OR
    NOT EXISTS (  -- lower-hull exclusion witness
      SELECT 1 FROM cand a, cand b
      WHERE a.grp = c.grp AND b.grp = c.grp
        AND (a.x < c.x OR (a.x = c.x AND a.y < c.y))
        AND (b.x > c.x OR (b.x = c.x AND b.y > c.y))
        AND (b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) >= 0)
  )
"""


def q_density_footprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extent rasterization: bbox footprints rendered onto a 128x128 grid
    over the cluster region (DensityScan polygon-renderer analog)."""
    from geomesa_spark.operators.tiling import density_boxes
    fp = geo_events(spark, sf_dir).selectExpr(*FOOTPRINT_EXPRS)
    out = density_boxes(fp, (40.0, 20.0, 50.0, 30.0), 128, 128)
    return out.select("px", "py", F.round("weight", 1).alias("weight"))


Q_DENSITY_FOOTPRINTS_SQL = f"""
{GEO}, f AS (
  SELECT lon AS xmin, lat AS ymin,
         lon + 0.1e0 + (event_id % 10) * 0.05e0 AS xmax,
         lat + 0.1e0 + (event_id % 7) * 0.05e0 AS ymax
  FROM geo
), clipped AS (
  SELECT least(greatest(cast(floor((xmin - 40.0e0) / 10.0e0 * 128) as bigint), 0), 127) AS px0,
         least(greatest(cast(floor((xmax - 40.0e0) / 10.0e0 * 128) as bigint), 0), 127) AS px1,
         least(greatest(cast(floor((ymin - 20.0e0) / 10.0e0 * 128) as bigint), 0), 127) AS py0,
         least(greatest(cast(floor((ymax - 20.0e0) / 10.0e0 * 128) as bigint), 0), 127) AS py1
  FROM f
  WHERE xmax >= 40.0 AND xmin <= 50.0 AND ymax >= 20.0 AND ymin <= 30.0
), px AS (
  SELECT unnest(range(px0, px1 + 1)) AS px, py0, py1 FROM clipped
), pixels AS (
  SELECT px, unnest(range(py0, py1 + 1)) AS py FROM px
)
SELECT cast(px AS int) AS px, cast(py AS int) AS py,
       round(cast(count(*) AS double), 1) AS weight
FROM pixels GROUP BY px, py
"""


def q_reproject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRS reprojection (QueryPlanner reproject analog): EPSG:4326 ->
    EPSG:3857 web mercator, integer-meter outputs (libm last-ulp safe)."""
    from geomesa_spark.functions.crs import reproject
    df = geo_events(spark, sf_dir)
    out = reproject(df, 4326, 3857, "lon", "lat", "x", "y")
    return out.select("event_id",
                      F.floor("x").cast("long").alias("merc_x_m"),
                      F.floor("y").cast("long").alias("merc_y_m"))


def _reproject_sql() -> str:
    from geomesa_spark.functions.crs import mercator_sql
    x, y = mercator_sql("lon", "lat")
    return f"""
{GEO}
SELECT event_id,
       CAST(floor({x}) AS BIGINT) AS merc_x_m,
       CAST(floor({y}) AS BIGINT) AS merc_y_m
FROM geo
"""


Q_REPROJECT_SQL = _reproject_sql()


def q_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal path: decode synthetic image bytes (Arrow batches), compute
    per-image pixel stats, roll up per format. Rows-only (the deterministic
    GSI1 codec is not SQL-expressible); PSNR/caption fidelity is gated in
    tests/test_images_pipeline.py."""
    from geomesa_spark.operators.multimodal import decode_stats
    from geomesa_spark.sources.images import synthetic_images
    imgs = synthetic_images(spark, 512)
    stats = decode_stats(imgs)
    return (stats.groupBy("fmt")
            .agg(F.count("*").alias("n"),
                 F.round(F.avg("mean_r"), 2).alias("avg_r"),
                 F.round(F.avg("std_lum"), 2).alias("avg_std")))


def q_image_header_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only scan of the image blobs: the GSI1 header (magic,
    fmt, w, h) parsed with PURE Catalyst expressions — no decode, no
    Python; the 100 TB routing/validation path.  Rows-only (bytes are
    engine-generated, not a driver table); header-vs-column consistency
    is fully asserted in tests/test_images_pipeline."""
    from geomesa_spark.sources.images import (synthetic_images,
                                              with_header_meta)
    meta = with_header_meta(synthetic_images(spark, 512))
    consistent = (F.col("hdr_ok") & (F.col("hdr_fmt") == F.col("fmt"))
                  & (F.col("hdr_w") == F.col("w"))
                  & (F.col("hdr_h") == F.col("h")))
    return (meta.groupBy("hdr_fmt")
            .agg(F.count("*").alias("n"),
                 F.sum(consistent.cast("int")).alias("n_consistent"),
                 F.max("hdr_w").alias("max_w"),
                 F.max("hdr_h").alias("max_h"))
            .orderBy("hdr_fmt"))


def q_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash dedup over image bytes: 64-bit average hash groups.
    Rows-only (binary decode outside SQL)."""
    from geomesa_spark.operators.multimodal import avg_hash
    from geomesa_spark.sources.images import synthetic_images
    imgs = synthetic_images(spark, 512)
    # plant duplicates: re-ingest every 4th image under a new id (same
    # bytes -> same perceptual hash), the image analog of the documents
    # corpus' planted duplicates
    copies = (imgs.where("id % 4 = 0")
              .withColumn("image_id", F.concat(F.col("image_id"), F.lit("_copy"))))
    hashed = avg_hash(imgs.unionByName(copies))
    return (hashed.groupBy("ahash").agg(F.count("*").alias("n_images"))
            .where(F.col("n_images") > 1))


def q_image_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal image pipeline, consolidated (rows-only — the GSI1 codec
    is engine-side binary, not SQL-expressible; PSNR/caption fidelity and
    header consistency are gated in tests/test_images_pipeline.py).  Runs
    all three image operators and stacks their rollups into one labeled
    frame so each keeps a driver row without costing three gate slots:

    * ``stats``    — Arrow-batched decode + per-image pixel stats
      (q_image_stats' rollup per format)
    * ``header``   — pure-Catalyst GSI1 header scan, no decode, no Python
      (q_image_header_meta's consistency rollup)
    * ``phash_dup``— 64-bit average-hash perceptual dedup with planted
      duplicates (q_image_phash_dedup's duplicate groups)
    """
    stats = q_image_stats(spark, sf_dir).select(
        F.lit("stats").alias("section"), F.col("fmt").alias("key"),
        F.col("n").cast("long").alias("n"),
        F.col("avg_r").cast("double").alias("m1"),
        F.col("avg_std").cast("double").alias("m2"))
    hdr = q_image_header_meta(spark, sf_dir).select(
        F.lit("header").alias("section"), F.col("hdr_fmt").alias("key"),
        F.col("n").cast("long").alias("n"),
        F.col("n_consistent").cast("double").alias("m1"),
        (F.col("max_w") * 100000 + F.col("max_h")).cast("double").alias("m2"))
    dup = q_image_phash_dedup(spark, sf_dir).select(
        F.lit("phash_dup").alias("section"),
        F.col("ahash").cast("string").alias("key"),
        F.col("n_images").cast("long").alias("n"),
        F.lit(None).cast("double").alias("m1"),
        F.lit(None).cast("double").alias("m2"))
    return stats.unionByName(hdr).unionByName(dup)


def q_st_relate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DE-9IM relate of every cluster-region point against the diamond
    polygon (SpatialRelationFunctions.scala:38 ST_Relate).  The points-vs-
    constant-polygon shape takes the vectorized ray-cast fast path; the
    oracle reproduces the three possible matrices from the diamond's exact
    L1 membership form."""
    from geomesa_spark.functions.st_functions import register
    register(spark)
    geo_events(spark, sf_dir).createOrReplaceTempView("_relate_pts")
    return spark.sql("""
        SELECT event_id,
               st_relate(st_makePoint(lon, lat),
                         st_geomFromWKT('POLYGON ((44 25, 46 21, 48 25, 46 29, 44 25))')) AS de9im
        FROM _relate_pts
        WHERE lon BETWEEN 44 AND 48 AND lat BETWEEN 21 AND 29
    """)


Q_ST_RELATE_SQL = f"""
{GEO},
f AS (
  SELECT event_id, abs(lon - 46.0e0) / 2.0e0 + abs(lat - 25.0e0) / 4.0e0 AS d
  FROM geo WHERE lon BETWEEN 44 AND 48 AND lat BETWEEN 21 AND 29
)
SELECT event_id,
       CASE WHEN d < 1.0e0 THEN '0FFFFF212'
            WHEN d = 1.0e0 THEN 'F0FFFF212'
            ELSE 'FF0FFF212' END AS de9im
FROM f
"""


def q_s2_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 index scan: vectorized leaf-cell assignment (Hilbert lookup
    kernel, cells/s2.py) + the library-exact 8-cell covering of the query
    bbox as a range prefilter + exact bbox refine — the engine analog of
    S2IndexKeySpace.getRanges (index/s2/S2IndexKeySpace.scala:45-48,
    curve/S2SFC.scala:37-64).  Oracle is the plain bbox filter: the
    covering can only over-select (golden-tested cover property), the
    refine makes it exact."""
    from geomesa_spark.functions.cell_functions import s2_col
    from geomesa_spark.plans.cover import s2_range_predicate
    df = geo_events(spark, sf_dir).withColumn("s2", s2_col(F.col("lon"), F.col("lat")))
    return (df.where(s2_range_predicate("s2", [(40.0, 20.0, 50.0, 30.0)], max_cells=8))
            .where("lon BETWEEN 40.0 AND 50.0 AND lat BETWEEN 20.0 AND 30.0")
            .select("event_id"))


Q_S2_INDEX_SQL = f"""
{GEO}
SELECT event_id FROM geo
WHERE lon BETWEEN 40.0 AND 50.0 AND lat BETWEEN 20.0 AND 30.0
"""


def q_xz2_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XZ2 index path for non-point footprints WITHOUT time: sequence-code
    range prefilter + exact bbox-overlap refine
    (index/z2/XZ2IndexKeySpace.scala analog; the purely-spatial sibling of
    xz3_bbox_during)."""
    from geomesa_spark.operators.footprints import xz2_bbox
    fp = geo_events(spark, sf_dir).selectExpr(*FOOTPRINT_EXPRS)
    out = xz2_bbox(fp, (40.0, 20.0, 50.0, 30.0))
    return out.select("event_id")


Q_XZ2_SQL = f"""
{GEO}, f AS (
  SELECT event_id, lon AS xmin, lat AS ymin,
         lon + 0.1e0 + (event_id % 10) * 0.05e0 AS xmax,
         lat + 0.1e0 + (event_id % 7) * 0.05e0 AS ymax
  FROM geo
)
SELECT event_id FROM f
WHERE xmax >= 40.0 AND xmin <= 50.0 AND ymax >= 20.0 AND ymin <= 30.0
"""


def q_density_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line rasterization, two tagged renderers over the same segments.

    kind='dda': pure-Catalyst sub-cell DDA (the engine's default line
    renderer).  kind='bres': the reference's EXACT cell walk
    (operators/tiling.density_lines_bresenham — GridSnap.bresenhamLine's
    float64 error accumulation and endpoint exclusion, bit-for-bit); its
    oracle replays the identical IEEE ops in a DuckDB recursive CTE, so a
    single drifted increment anywhere in the walk fails the hash."""
    from geomesa_spark.operators.tiling import (density_lines,
                                                density_lines_bresenham)
    geo = geo_events(spark, sf_dir)
    trk = Window.partitionBy("user_id").orderBy("ts", "event_id")
    segs = (geo
            .withColumn("x2", F.lead("lon").over(trk))
            .withColumn("y2", F.lead("lat").over(trk))
            .where(F.col("x2").isNotNull())
            .selectExpr("lon AS x1", "lat AS y1", "x2", "y2"))
    env = (40.0, 20.0, 50.0, 30.0)
    dda = density_lines(segs, env, 128, 128)
    bres = density_lines_bresenham(segs, env, 128, 128)
    return (dda.select(F.lit("dda").alias("kind"), "px", "py",
                       F.col("weight").cast("long").alias("w"))
            .unionByName(bres.select(
                F.lit("bres").alias("kind"), "px", "py",
                F.col("weight").cast("long").alias("w"))))


Q_DENSITY_LINES_SQL = f"""
{GEO},
segs AS (
  SELECT lon AS x1, lat AS y1,
         lead(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x2,
         lead(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y2
  FROM geo
),
f AS (
  SELECT x1, y1, x2, y2 FROM segs
  WHERE x2 IS NOT NULL
    AND x1 BETWEEN 40.0 AND 50.0 AND x2 BETWEEN 40.0 AND 50.0
    AND y1 BETWEEN 20.0 AND 30.0 AND y2 BETWEEN 20.0 AND 30.0
),
p AS (
  SELECT least(greatest((x1 - 40.0e0) / 10.0e0 * 128, 0.0e0), 128 - 1e-9) AS ax,
         least(greatest((y1 - 20.0e0) / 10.0e0 * 128, 0.0e0), 128 - 1e-9) AS ay,
         least(greatest((x2 - 40.0e0) / 10.0e0 * 128, 0.0e0), 128 - 1e-9) AS bx,
         least(greatest((y2 - 20.0e0) / 10.0e0 * 128, 0.0e0), 128 - 1e-9) AS by
  FROM f
),
n AS (
  SELECT ax, ay, bx, by,
         CAST(greatest(abs(floor(bx) - floor(ax)),
                       abs(floor(by) - floor(ay)), 0) AS INT) AS n
  FROM p
),
pix AS (
  SELECT unnest(list_distinct(list_transform(range(0, n + 1), i ->
           CAST(floor(ax + (bx - ax) * i / greatest(n, 1)) AS BIGINT) * 128
           + CAST(floor(ay + (by - ay) * i / greatest(n, 1)) AS BIGINT)))) AS pix
  FROM n
),
-- 'bres': integer-cell endpoints (GridSnap's floor((v - min) / d),
-- d = (max - min) / n), then the reference's bresenhamLine walk
-- replayed with the SAME float64 ops in the SAME order (err + dErr, >= 0.5,
-- err - 1.0) — bit-identical to the engine's numpy walk and the JVM's.
cells AS (
  SELECT CAST(least(floor((x1 - 40.0e0) / (10.0e0 / 128)), 127) AS BIGINT) AS ix0,
         CAST(least(floor((y1 - 20.0e0) / (10.0e0 / 128)), 127) AS BIGINT) AS iy0,
         CAST(least(floor((x2 - 40.0e0) / (10.0e0 / 128)), 127) AS BIGINT) AS ix1,
         CAST(least(floor((y2 - 20.0e0) / (10.0e0 / 128)), 127) AS BIGINT) AS iy1,
         row_number() OVER () AS seg
  FROM f
),
params AS (
  SELECT seg, ix0, iy0, ix1, iy1,
         abs(ix1 - ix0) AS dx, abs(iy1 - iy0) AS dy,
         greatest(greatest(abs(ix1 - ix0), abs(iy1 - iy0)), 1) AS steps,
         abs(ix1 - ix0) > abs(iy1 - iy0) AS majorx,
         CASE WHEN abs(ix1 - ix0) > abs(iy1 - iy0)
              THEN CAST(abs(iy1 - iy0) AS DOUBLE)
                   / CAST(greatest(abs(ix1 - ix0), 1) AS DOUBLE)
              ELSE CAST(abs(ix1 - ix0) AS DOUBLE)
                   / CAST(greatest(abs(iy1 - iy0), 1) AS DOUBLE) END AS derr,
         CASE WHEN ix0 < ix1 THEN 1 ELSE -1 END AS stepx,
         CASE WHEN iy0 < iy1 THEN 1 ELSE -1 END AS stepy
  FROM cells
),
walk AS (
  WITH RECURSIVE w(seg, k, x, y, err, steps, majorx, derr, stepx, stepy) AS (
    SELECT seg, 0, ix0, iy0, 0.0e0, steps, majorx, derr, stepx, stepy
    FROM params
    UNION ALL
    SELECT seg, k + 1,
           CASE WHEN majorx THEN x + stepx
                WHEN err + derr >= 0.5e0 THEN x + stepx ELSE x END,
           CASE WHEN NOT majorx THEN y + stepy
                WHEN err + derr >= 0.5e0 THEN y + stepy ELSE y END,
           CASE WHEN err + derr >= 0.5e0 THEN err + derr - 1.0e0
                ELSE err + derr END,
           steps, majorx, derr, stepx, stepy
    FROM w WHERE k + 1 < steps
  )
  SELECT x * 128 + y AS pix FROM w
)
SELECT 'dda' AS kind, CAST(pix // 128 AS INT) AS px,
       CAST(pix % 128 AS INT) AS py,
       CAST(count(*) AS BIGINT) AS w
FROM pix GROUP BY pix
UNION ALL
SELECT 'bres' AS kind, CAST(pix // 128 AS INT) AS px,
       CAST(pix % 128 AS INT) AS py,
       CAST(count(*) AS BIGINT) AS w
FROM walk GROUP BY pix
"""


PROCESS_QUERIES = {
    "st_relate": (q_st_relate, Q_ST_RELATE_SQL),
    "s2_index": (q_s2_index, Q_S2_INDEX_SQL),
    "xz2_bbox": (q_xz2_bbox, Q_XZ2_SQL),
    "density_lines": (q_density_lines, Q_DENSITY_LINES_SQL),
    "proximity_join": (q_proximity_join, Q_PROXIMITY_SQL),
    "tube_select": (q_tube_select, Q_TUBE_SQL),
    "route_search": (q_route_search, Q_ROUTE_SQL),
    "merged_view": (q_merged_view, Q_MERGED_VIEW_SQL),
    "lookup_join": (q_lookup_join, Q_LOOKUP_JOIN_SQL),
    "topk": (q_topk, Q_TOPK_SQL),
    # "histogram" consolidates the former histogram / z3_histogram entries
    # (both stats still computed, rows tagged by `kind`)
    "histogram": (q_histograms, Q_HISTOGRAMS_SQL),
    "bin_export": (q_bin_export, Q_BIN_EXPORT_SQL),
    "attr_filter": (q_attr_filter, Q_ATTR_FILTER_SQL),
    "json_attr": (q_json_attr, Q_JSON_ATTR_SQL),
    "convex_hull": (q_convex_hull, Q_CONVEX_HULL_SQL),
    "xz3_bbox_during": (q_xz3_bbox_during, Q_XZ3_SQL),
    "reproject": (q_reproject, Q_REPROJECT_SQL),
    "density_footprints": (q_density_footprints, Q_DENSITY_FOOTPRINTS_SQL),
    # image_pipeline consolidates the former image_stats /
    # image_header_meta / image_phash_dedup entries (all three operators
    # still run; rows-only — binary codec outside SQL)
    "image_pipeline": (q_image_pipeline, None),
}
