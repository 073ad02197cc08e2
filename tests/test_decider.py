"""Cost-based strategy decider tests (StrategyDecider.scala:73-174 analog):
the planner must pick the attribute index for selective attribute
predicates, z3 for bbox+interval, z2 for bbox-only, and the id lookup
whenever ids are present."""

import math

import pytest

from geomesa_spark.plans.decider import (HIGH, LOW, AttrPredicate, QuerySpec,
                                         Strategy, TableStats,
                                         estimate_count, select_strategy)

INDICES = ["id", "z3", "z2", "attr:event_type", "attr:user_id"]

STATS = TableStats(
    count=1_000_000,
    attr_stats={"event_type": (5, None, None),
                "user_id": (100_000, 0, 100_000)},
    time_bounds=(1_700_000_000, 1_702_678_400),  # ~31 days
)


def spec_st(bbox=(40.0, 20.0, 50.0, 30.0),
            interval=(1_700_000_000, 1_700_086_400)):
    return QuerySpec(bbox=bbox, interval=interval)


def test_z3_wins_bbox_plus_interval():
    s = select_strategy(spec_st(), INDICES, STATS)
    assert s.index == "z3"
    assert s.multiplier == 1.1
    # one-day interval of a 31-day table bounds the estimate
    assert s.est_count <= STATS.count * 0.05


def test_z2_wins_bbox_only():
    s = select_strategy(QuerySpec(bbox=(40.0, 20.0, 50.0, 30.0)),
                        INDICES, STATS)
    assert s.index == "z2"
    assert s.multiplier == 1.2


def test_selective_attribute_beats_z3():
    # user_id equality: ~10 rows; much cheaper than the z3 scan even with
    # a bbox+interval present
    spec = QuerySpec(bbox=(0.0, -90.0, 180.0, 90.0),
                     interval=(1_700_000_000, 1_702_678_400),
                     attrs=(AttrPredicate("user_id", "eq", (42,)),))
    s = select_strategy(spec, INDICES, STATS)
    assert s.index == "attr:user_id"
    assert s.multiplier == 1.0
    assert "bbox" in s.secondary  # residual filter still applied


def test_low_cardinality_attribute_loses():
    # event_type has 5 distinct values -> 200k rows per value; z3 wins
    spec = QuerySpec(bbox=(40.0, 20.0, 50.0, 30.0),
                     interval=(1_700_000_000, 1_700_086_400),
                     attrs=(AttrPredicate("event_type", "eq", ("error",)),))
    s = select_strategy(spec, INDICES, STATS)
    assert s.index == "z3"


def test_cardinality_hint_overrides():
    spec = QuerySpec(bbox=(40.0, 20.0, 50.0, 30.0),
                     interval=(1_700_000_000, 1_700_086_400),
                     attrs=(AttrPredicate("event_type", "eq", ("error",)),))
    # LOW hint makes the attribute even worse; HIGH on user-style attr
    s = select_strategy(spec, INDICES, STATS,
                        cardinality={"event_type": LOW})
    assert s.index == "z3"
    # a HIGH-cardinality hint divides the multiplier by 10
    spec2 = QuerySpec(attrs=(AttrPredicate("user_id", "eq", (42,)),))
    s2 = select_strategy(spec2, INDICES, STATS,
                         cardinality={"user_id": HIGH})
    assert s2.index == "attr:user_id" and s2.multiplier == 0.1


def test_id_lookup_always_wins():
    spec = QuerySpec(bbox=(40.0, 20.0, 50.0, 30.0),
                     interval=(1_700_000_000, 1_700_086_400),
                     ids=(1, 2, 3))
    s = select_strategy(spec, INDICES, STATS)
    assert s.index == "id" and s.multiplier == 0.001


def test_one_sided_interval_deprioritized():
    spec = QuerySpec(bbox=(40.0, 20.0, 50.0, 30.0),
                     interval=(1_700_000_000, None))
    s = select_strategy(spec, INDICES, STATS)
    # z3 with one-sided interval carries multiplier 3.0; z2 (1.2) can win
    # depending on selectivity — here the bbox is small so z2 wins
    assert s.index in ("z2", "z3")
    z3 = [o for o in [s] if o.index == "z3"]
    if z3:
        assert z3[0].multiplier == 3.0


def test_temporal_priority_override():
    # temporal-priority types pick the cheapest TEMPORAL plan even when a
    # spatial plan is cheaper (StrategyDecider.selectFilterPlan temporal).
    # A one-sided interval gives z3 the 3.0 multiplier, so z2 (1.2) wins
    # on cost — unless temporal priority forces the z3 plan.
    spec = QuerySpec(bbox=(40.0, 20.0, 41.0, 21.0),
                     interval=(1_700_000_000, None))
    plain = select_strategy(spec, INDICES, STATS)
    forced = select_strategy(spec, INDICES, STATS, temporal_priority=True)
    assert plain.index == "z2"
    assert forced.index == "z3" and forced.temporal


def test_full_scan_when_no_predicates():
    s = select_strategy(QuerySpec(), ["z3", "z2", "full"], STATS)
    assert math.isinf(s.cost)


def test_estimator_and_semantics():
    # AND -> min of conjunct estimates
    spec = QuerySpec(bbox=(0.0, -90.0, 360.0, 90.0),  # whole world
                     attrs=(AttrPredicate("user_id", "eq", (1,)),))
    assert estimate_count(STATS, spec) == 1_000_000 / 100_000


def test_no_stats_default_guess():
    s = select_strategy(spec_st(), INDICES, None)
    assert s.index == "z3"
    assert s.est_count == 100  # the reference's default guess


def test_collect_stats_from_table(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    st = TableStats.collect(df, ["event_type", "user_id"])
    assert st.count == df.count()
    assert st.attr_stats["event_type"][0] >= 4
    assert st.time_bounds is not None and st.time_bounds[0] < st.time_bounds[1]
    spec = QuerySpec(attrs=(AttrPredicate("user_id", "eq", (7,)),))
    est = estimate_count(st, spec)
    assert 0 < est < st.count


def test_spatial_query_plan_integration():
    from geomesa_spark.plans.query import SpatialQuery
    q = SpatialQuery(bbox=(40.0, 20.0, 50.0, 30.0),
                     interval=(1_700_000_000, 1_700_086_400),
                     where="user_id = 42")
    s = q.plan(INDICES, STATS)
    assert s.index == "attr:user_id"   # ~10 rows beats the z3 scan
    s2 = q.plan(["z3", "z2"], STATS)
    assert s2.index == "z3"


def test_scan_with_strategy_on_layout(spark, sf_dir, tmp_path):
    """End-to-end: pick a strategy, execute it over an indexed layout —
    result identical to the plain query; the chosen index's range
    predicate appears in the plan."""
    from pyspark.sql import functions as F

    from geomesa_spark.plans.decider import scan_with_strategy, select_strategy
    from geomesa_spark.plans.query import SpatialQuery
    from geomesa_spark.sources.layout import read_indexed, write_indexed
    from geomesa_spark.sources.testdata import geo_events

    path = str(tmp_path / "layout")
    write_indexed(geo_events(spark, sf_dir), path, period="week")
    df = read_indexed(spark, path)

    q = SpatialQuery(bbox=(40.0, 20.0, 50.0, 30.0),
                     interval=("2024-01-05 00:00:00", "2024-01-20 00:00:00"),
                     allow_full_scan=True)
    strat = q.plan(["z3", "z2"], None)
    assert strat.index == "z3"
    got = scan_with_strategy(df, q, strat)
    want = q.apply(df)
    assert got.count() == want.count() > 0
    assert {r.event_id for r in got.select("event_id").collect()} \
        == {r.event_id for r in want.select("event_id").collect()}
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "z2" in plan and "time_bin" in plan

    # s2 layout path
    path2 = str(tmp_path / "layout_s2")
    write_indexed(geo_events(spark, sf_dir), path2, period="week", cell="s2")
    df2 = read_indexed(spark, path2)
    q2 = SpatialQuery(bbox=(40.0, 20.0, 50.0, 30.0), allow_full_scan=True)
    strat2 = q2.plan(["s2"], None)
    got2 = scan_with_strategy(df2, q2, strat2)
    assert got2.count() == q2.apply(df2).count() > 0


@pytest.mark.parametrize("period", ["day", "week", "month", "year"])
def test_scan_with_strategy_reads_the_layout_period(spark, sf_dir, tmp_path, period):
    """The time_bin prefilter counts bins in the period the layout was
    written with (recorded on its time column), so every period returns
    the plain query's rows; a layout without that record skips it."""
    from geomesa_spark.plans.decider import scan_with_strategy
    from geomesa_spark.plans.query import SpatialQuery
    from geomesa_spark.sources.layout import read_indexed, write_indexed
    from geomesa_spark.sources.testdata import geo_events

    path = str(tmp_path / period)
    write_indexed(geo_events(spark, sf_dir), path, period=period)
    df = read_indexed(spark, path)
    assert df.schema["ts"].metadata == {"time_bin_period": period}
    q = SpatialQuery(bbox=(40.0, 20.0, 50.0, 30.0),
                     interval=("2024-01-05 00:00:00", "2024-01-20 00:00:00"),
                     allow_full_scan=True)
    strat = q.plan(["z3"], None)

    def ids(d):
        return sorted(r.event_id for r in d.select("event_id").collect())

    want = ids(q.apply(df))
    assert want and ids(scan_with_strategy(df, q, strat)) == want
    filters = scan_with_strategy(df, q, strat)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PartitionFilters: [isnotnull(time_bin" in filters
    bare = df.withMetadata("ts", {})   # period unknown: no bin prefilter
    assert ids(scan_with_strategy(bare, q, strat)) == want


# ---------------------------------------------------------------------------
# QueryStrategyDeciderTest ports (accumulo .../index/QueryStrategyDecider
# Test.scala:92-344): strategy choice for each filter family.

def test_z3_with_only_temporal_filters():
    # "get the z3 strategy with only temporal filters"
    s = select_strategy(QuerySpec(interval=(1_700_000_000, 1_700_086_400)),
                        INDICES, STATS)
    assert s.index == "z3"


def test_z3_with_whole_world_and_temporal():
    # "work with whole world filters and temporal filters"
    s = select_strategy(QuerySpec(bbox=(-180.0, -90.0, 180.0, 90.0),
                                  interval=(1_700_000_000, 1_700_086_400)),
                        INDICES, STATS)
    assert s.index == "z3"


def test_z2_with_non_bounded_time_interval():
    # "get the z2 strategy with non-bounded time intervals": a one-sided
    # interval de-prioritizes z3 (multiplier 3.0) below the z2 scan
    s = select_strategy(QuerySpec(bbox=(40.0, 20.0, 50.0, 30.0),
                                  interval=(1_700_000_000, None)),
                        INDICES, STATS)
    assert s.index == "z2"


def test_mixed_id_query_gets_records_strategy():
    # "get the records strategy for mixed id queries": ids win over
    # everything else in the conjunction
    spec = QuerySpec(bbox=(40.0, 20.0, 50.0, 30.0),
                     interval=(1_700_000_000, 1_700_086_400),
                     attrs=(AttrPredicate("user_id", "eq", (42,)),),
                     ids=("a", "b", "c"))
    s = select_strategy(spec, INDICES, STATS)
    assert s.index == "id"


def test_not_null_gets_attr_strategy_when_indexed():
    # "IS NOT NULL ... get the attribute strategy if attribute is indexed"
    spec = QuerySpec(attrs=(AttrPredicate("user_id", "not_null"),))
    s = select_strategy(spec, INDICES, STATS)
    assert s.index == "attr:user_id"


def test_not_null_gets_full_table_when_not_indexed():
    # "... get full table strategy if attribute is not indexed"
    spec = QuerySpec(attrs=(AttrPredicate("value", "not_null"),))
    s = select_strategy(spec, ["id", "z3", "z2", "full"], STATS)
    assert s.index == "full"


def test_not_null_deprioritized_below_equality():
    # "de-prioritize not-null queries": age = 21 AND name IS NOT NULL must
    # scan the equality index, keeping the not-null as secondary
    indices = ["attr:user_id", "attr:event_type", "full"]
    spec = QuerySpec(attrs=(AttrPredicate("event_type", "eq", ("a",)),
                            AttrPredicate("user_id", "not_null")))
    s = select_strategy(spec, indices, STATS)
    assert s.index == "attr:event_type"
    assert "user_id" in s.secondary


@pytest.mark.parametrize("order", ["first", "middle", "last"])
def test_best_attr_filter_among_several(order):
    # "find the best filter among several / when best is first|middle|last":
    # the highest-selectivity equality wins regardless of position
    best = AttrPredicate("user_id", "eq", (7,))        # 100k distinct
    worse = AttrPredicate("event_type", "eq", ("x",))  # 5 distinct
    also = AttrPredicate("event_type", "in", ("y", "z"))
    attrs = {"first": (best, worse, also),
             "middle": (worse, best, also),
             "last": (worse, also, best)}[order]
    s = select_strategy(QuerySpec(attrs=attrs), INDICES + ["full"], STATS)
    assert s.index == "attr:user_id"


def test_z3_beats_declared_low_cardinality_attr():
    # "prioritize z3 index over low-cardinality join indexed attributes":
    # the declared-cardinality override (x10 multiplier), independent of
    # collected stats
    spec = QuerySpec(bbox=(40.0, 20.0, 50.0, 30.0),
                     interval=(1_700_000_000, 1_700_086_400),
                     attrs=(AttrPredicate("event_type", "eq", ("a",)),))
    s = select_strategy(spec, INDICES, STATS, cardinality={"event_type": LOW})
    assert s.index == "z3"


@pytest.mark.parametrize("interval, days", [
    (("2024-01-05 00:00:00", None), list(range(5, 11))),
    ((None, "2024-01-03 00:00:00"), [1, 2, 3]),
], ids=["from", "until"])
def test_one_sided_interval_leaves_its_open_end_unbounded(spark, tmp_path, interval, days):
    """A None end of ``SpatialQuery.interval`` is unbounded, as the guard
    and the estimator read it: ten daily rows inside the bbox return the
    days on the interval's side, directly and through a z3 strategy over
    an indexed layout (whose time_bin prefilter is one-sided too)."""
    from geomesa_spark.plans.decider import scan_with_strategy
    from geomesa_spark.plans.query import SpatialQuery
    from geomesa_spark.sources.arrow_io import local_table
    from geomesa_spark.sources.layout import read_indexed, write_indexed

    rows = local_table(spark, {"id": list(range(1, 11)),
                               "lon": [40.0 + d for d in range(10)],
                               "lat": [20.0 + d for d in range(10)],
                               "ts": [f"2024-01-{d:02d} 00:00:00" for d in range(1, 11)]},
                       "id int, lon double, lat double, ts string")
    df = rows.selectExpr("id", "lon", "lat", "CAST(ts AS TIMESTAMP) AS ts")
    path = str(tmp_path / "daily")
    write_indexed(df, path, period="day", id_col="id")
    lay = read_indexed(spark, path)
    q = SpatialQuery(bbox=(39.0, 19.0, 51.0, 31.0), interval=interval)

    def ids(d):
        return sorted(r.id for r in d.select("id").collect())

    assert ids(q.apply(df)) == days
    strat = q.plan(["z3"], None)
    assert strat.index == "z3"
    assert ids(scan_with_strategy(lay, q, strat)) == days
