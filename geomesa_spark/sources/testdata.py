"""Loaders for the driver-provided test tables + deterministic geo derivation.

The driver's tables (region/nation/customer/supplier/part/orders/lineitem/
events/documents/embeddings) carry no geometry, so spatial columns are derived
deterministically from integer keys with expressions that evaluate to
IDENTICAL float64 values in Spark SQL and DuckDB (pure int64 arithmetic
followed by one float division) — this is what makes the driver's
oracle-diff (CORRECTNESS_r{N}.json) able to hash-compare spatial results.

Knuth multiplicative-hash constants spread event ids uniformly over the
globe; the derived table plays the role of the reference's test feature sets
(TestData.scala's 1000 clustered features).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from geomesa_spark.geom.algos import EARTH_RADIUS_M

# lon in [-180,180), lat in [-90,90), deterministic from event_id
LON_EXPR = "CAST((event_id * 2654435761) % 4294967296 AS DOUBLE) / 4294967296e0 * 360e0 - 180e0"
LAT_EXPR = "CAST((event_id * 2246822519) % 4294967296 AS DOUBLE) / 4294967296e0 * 180e0 - 90e0"

# a clustered subset (mirrors the reference tests' cluster near POLYGON
# ((45 23, 48 23, 48 27, 45 27, 45 23)), TestData.scala:40): squeeze 20% of
# points into [40,50]x[20,30]
CLUST_LON_EXPR = f"CASE WHEN event_id % 5 = 0 THEN 40e0 + (({LON_EXPR}) + 180e0) / 36e0 ELSE ({LON_EXPR}) END"
CLUST_LAT_EXPR = f"CASE WHEN event_id % 5 = 0 THEN 20e0 + (({LAT_EXPR}) + 90e0) / 18e0 ELSE ({LAT_EXPR}) END"


def oracle_haversine_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """Haversine distance (meters) in the DuckDB oracle SQL. Written apart
    from the engine's ``processes.haversine_sql`` so the oracle checks the
    engine rather than repeating it."""
    return (f"2.0 * {EARTH_RADIUS_M!r} * asin(sqrt(least("
            f"pow(sin((radians({lat2}) - radians({lat1})) / 2), 2) + "
            f"cos(radians({lat1})) * cos(radians({lat2})) * "
            f"pow(sin((radians({lon2}) - radians({lon1})) / 2), 2), 1.0)))")


def geo_events_sql(table: str = "events") -> str:
    """Oracle-side (DuckDB) CTE body producing the derived geo events table."""
    return f"""
        SELECT event_id, ts, user_id, event_type, value,
               {CLUST_LON_EXPR} AS lon,
               {CLUST_LAT_EXPR} AS lat
        FROM {table}
    """


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def table_num_rows(sf_dir: str, name: str) -> int:
    """Row count from the parquet footer — driver-side metadata read, no
    Spark job (the layout-manifest n_rows pattern applied to raw driver
    tables)."""
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    if os.path.isdir(path):
        return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                   for f in os.listdir(path) if f.endswith(".parquet"))
    return pq.ParquetFile(path).metadata.num_rows


def geo_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + derived lon/lat (identical values to geo_events_sql)."""
    return load_table(spark, sf_dir, "events").selectExpr(
        "event_id", "ts", "user_id", "event_type", "value",
        f"{CLUST_LON_EXPR} AS lon",
        f"{CLUST_LAT_EXPR} AS lat",
    )
