"""Oracle-checked PLANNER-path queries: cost-decider-driven scans,
attribute-index join-back reads, and visibility filtering.

These route through the same machinery the reference's query planner uses
(StrategyDecider.scala:73-174 cost selection; AttributeJoinIndex.scala:19-56
join-back; VisibilityEvaluator label filtering) executed end-to-end over a
written layout, and each asserts the decider actually CHOSE the strategy the
query claims to exercise — the oracle is the plain unindexed predicate, so a
hash match proves the chosen indexed plan returns identical rows (the cover
property).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geomesa_spark.plans.decider import (AttrPredicate, QuerySpec, TableStats,
                                         scan_with_strategy, select_strategy)
from geomesa_spark.plans.query import SpatialQuery
from geomesa_spark.plans.visibility import visibility_filter
from geomesa_spark.sources import layout as lay
from geomesa_spark.sources.attr_index import (AttributeIndex,
                                              ensure_attribute_index)
from geomesa_spark.sources.sigtable import cache_path
from geomesa_spark.sources.testdata import geo_events, geo_events_sql

GEO = f"WITH geo AS ({geo_events_sql()})"

# a bbox+interval+attribute conjunction: the estimator makes z3 the
# cheapest primary (bbox*interval selectivity ~0.1% at multiplier 1.1
# beats event_type equality at ~20% selectivity, multiplier 1.0)
S_BBOX = (40.0, 20.0, 50.0, 30.0)
S_INTERVAL = ("2024-01-05 00:00:00", "2024-01-20 00:00:00")
S_INDICES = ["id", "z3", "z2", "attr:event_type"]


def q_strategy_z3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based decider picks the z3 index; scan_with_strategy executes
    the choice over a written z2/time_bin layout (pruned scan + exact
    residual).  StrategyDecider.scala:73-174 + QueryRunner parity."""
    df = geo_events(spark, sf_dir)
    path = cache_path("events_z2", sf_dir, kind="layouts")
    lay.ensure_indexed(df, path, period="week")
    stats = TableStats.collect(df, ["event_type"], ts_col="ts")
    # the estimator compares against epoch-second time bounds
    import datetime as dt
    epoch = tuple(
        dt.datetime.fromisoformat(s).replace(tzinfo=dt.timezone.utc)
        .timestamp() for s in S_INTERVAL)
    spec = QuerySpec(bbox=S_BBOX, interval=epoch,
                     attrs=(AttrPredicate("event_type", "eq", ("click",)),))
    strategy = select_strategy(spec, S_INDICES, stats)
    assert strategy.index == "z3", f"decider chose {strategy.index}"
    q = SpatialQuery(bbox=S_BBOX, interval=S_INTERVAL,
                     where="event_type = 'click'")
    indexed = lay.read_indexed(spark, path)
    return (scan_with_strategy(indexed, q, strategy)
            .select("event_id", "user_id"))


Q_STRATEGY_Z3_SQL = f"""
{GEO}
SELECT event_id, user_id FROM geo
WHERE lon BETWEEN 40.0 AND 50.0 AND lat BETWEEN 20.0 AND 30.0
  AND ts BETWEEN TIMESTAMP '2024-01-05 00:00:00'
             AND TIMESTAMP '2024-01-20 00:00:00'
  AND event_type = 'click'
"""


def q_strategy_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decider picks the attribute index for a no-geometry equality query;
    the read exercises the JOIN-BACK path (queried columns exceed the
    covering set, so index hits semi-join back to the primary by feature
    id — AttributeJoinIndex.scala:19-56)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    spec = QuerySpec(attrs=(AttrPredicate("event_type", "eq", ("error",)),))
    stats = TableStats.collect(events, ["event_type"], ts_col="ts")
    strategy = select_strategy(spec, S_INDICES, stats)
    assert strategy.index == "attr:event_type", \
        f"decider chose {strategy.index}"
    path = cache_path("events_attr", sf_dir, kind="layouts")
    ensure_attribute_index(events, path, attr="event_type",
                           id_col="event_id", covered=["user_id"])
    ix = AttributeIndex(spark, path, events)
    cols = ["event_id", "user_id", "value"]       # 'value' is NOT covered
    assert not ix.is_covering(cols)
    return ix.query("event_type = 'error'", cols)


Q_STRATEGY_ATTR_SQL = """
SELECT event_id, user_id, value FROM events WHERE event_type = 'error'
"""


# deterministic label assignment: the four Accumulo-style expressions the
# VisibilityEvaluator corpus exercises (empty = visible to everyone)
VIS_EXPR = ("CASE CAST(event_id % 4 AS INT) WHEN 0 THEN '' WHEN 1 THEN 'user' "
            "WHEN 2 THEN 'user&admin' ELSE 'admin|ops' END")
VIS_AUTHS = {"user", "ops"}
# with auths {user, ops}: '' passes, 'user' passes, 'user&admin' fails
# (no admin), 'admin|ops' passes via ops


def q_visibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level visibility: label expressions evaluated against scan
    authorizations (driver-evaluated distinct labels + broadcast
    semi-join — VisibilityEvaluator parity)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .withColumn("visibility", F.expr(VIS_EXPR))
    return (visibility_filter(events, VIS_AUTHS)
            .select("event_id", "visibility"))


Q_VISIBILITY_SQL = f"""
SELECT event_id, {VIS_EXPR} AS visibility
FROM events WHERE event_id % 4 != 2
"""


PLANNER_QUERIES = {
    "strategy_z3": (q_strategy_z3, Q_STRATEGY_Z3_SQL),
    "strategy_attr": (q_strategy_attr, Q_STRATEGY_ATTR_SQL),
    "visibility_filter": (q_visibility, Q_VISIBILITY_SQL),
}
