"""One ECQL grammar, two evaluators: ``plans/ecql.parse`` reads a filter
once into a tree, ``ecql_to_column`` renders the tree as Catalyst SQL and
``plans/local.evaluate`` runs it over pandas (the test oracle).

The parser is pinned by literal trees of the FilterTest corpus and by
print-then-parse of every generated tree; the evaluators by a hypothesis
differential over attributes with nulls, LIKE/IN/BETWEEN, instants at
exact endpoints, lon/lat spatial leaves and NOT/AND/OR nesting.
"""

from __future__ import annotations

import math
from datetime import datetime

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, Phase, given, seed, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from geomesa_spark.functions.cell_functions import s2_col, z2_col
from geomesa_spark.geom import algos, wkt
from geomesa_spark.plans.ecql import EcqlContext, ecql_to_column, parse
from geomesa_spark.plans.local import evaluate, local_filter
from geomesa_spark.plans.query import SpatialQuery
from geomesa_spark.sources.arrow_io import local_table
from test_filter_corpus import CORPUS, POLY_A, POLY_B, POLY_C

LONLAT = EcqlContext(prefer_lonlat=True)


def to_ecql(node: tuple) -> str:
    """ECQL text of a tree: ``parse(to_ecql(t)) == t``."""
    kind = node[0]
    if kind in ("and", "or"):
        return f"({to_ecql(node[1])} {kind.upper()} {to_ecql(node[2])})"
    if kind == "not":
        return f"NOT ({to_ecql(node[1])})"
    if kind == "const":
        return "INCLUDE" if node[1] else "EXCLUDE"
    if kind == "cmp":
        return f"{_value(node[2])} {node[1]} {_value(node[3])}"
    if kind == "spatial":
        return f"{node[1]}({node[2]}, {node[3]})"
    if kind == "dwithin":
        return f"DWITHIN({node[1]}, {node[2]}, {node[3]!r}, meters)"
    prop = node[1] or ""
    if kind == "isnull":
        return f"{prop} IS NULL"
    if kind == "like":
        return f"{prop} {'ILIKE' if node[3] else 'LIKE'} {_literal(node[2])}"
    if kind == "in":
        return f"{prop} IN ({', '.join(_literal(v) for v in node[2])})"
    if kind == "between":
        return f"{prop} BETWEEN {_literal(node[2])} AND {_literal(node[3])}"
    return f"{prop} DURING {node[2].isoformat()}Z/{node[3].isoformat()}Z"


def _literal(v) -> str:
    if isinstance(v, datetime):
        return f"'{v.isoformat()}Z'"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _value(v: tuple) -> str:
    if v[0] == "prop":
        return v[1]
    if v[0] == "fn":
        return f"{v[1]}({', '.join(_value(a) for a in v[2])})"
    return str(v[1]).lower() if isinstance(v[1], bool) else _literal(v[1])


# ---------------------------------------------------------------------------
# parser pin: the tree of every FilterTest corpus string

CORPUS_TREES = [
    ("spatial", "INTERSECTS", "geom", POLY_A),
    ("spatial", "INTERSECTS", "geom", POLY_B),
    ("not", ("spatial", "INTERSECTS", "geom", POLY_A)),
    ("not", ("spatial", "INTERSECTS", "geom", POLY_B)),
    ("cmp", "=", ("prop", "attr2"), ("lit", "val56")),
    ("between", "dtg", datetime(2010, 7, 1, 0, 0), datetime(2010, 7, 31, 0, 0)),
    ("and",
     ("spatial", "INTERSECTS", "geom", POLY_C),
     ("cmp", "=", ("prop", "attr2"), ("lit", "val17"))),
    ("and",
     ("spatial", "INTERSECTS", "geom", POLY_B),
     ("spatial", "INTERSECTS", "geom", POLY_C)),
    ("and",
     ("cmp", "=", ("prop", "attr2"), ("lit", "val15")),
     ("spatial", "INTERSECTS", "geom", POLY_C)),
    ("and",
     ("spatial", "INTERSECTS", "geom", POLY_B),
     ("during", "dtg", datetime(2010, 8, 8, 0, 0), datetime(2010, 8, 8, 23, 59, 59))),
    ("and",
     ("and",
      ("spatial", "INTERSECTS", "geom", POLY_C),
      ("spatial", "INTERSECTS", "geom", POLY_C)),
     ("cmp", "=", ("prop", "attr2"), ("lit", "val17"))),
    ("and",
     ("cmp", "=", ("prop", "attr2"), ("lit", "val15")),
     ("and",
      ("and",
       ("spatial", "INTERSECTS", "geom", POLY_C),
       ("cmp", "=", ("prop", "attr2"), ("lit", "val37"))),
      ("cmp", "=", ("prop", "attr2"), ("lit", "val19")))),
    ("or", ("spatial", "INTERSECTS", "geom", POLY_A), ("spatial", "INTERSECTS", "geom", POLY_A)),
    ("or",
     ("spatial", "INTERSECTS", "geom", POLY_A),
     ("cmp", "=", ("prop", "attr2"), ("lit", "val4"))),
    ("or",
     ("spatial", "INTERSECTS", "geom", POLY_C),
     ("cmp", "=", ("prop", "attr2"), ("lit", "val36"))),
    ("or",
     ("cmp", "=", ("prop", "attr2"), ("lit", "val37")),
     ("cmp", "=", ("prop", "attr2"), ("lit", "val19"))),
    ("or",
     ("or",
      ("spatial", "INTERSECTS", "geom", POLY_C),
      ("spatial", "INTERSECTS", "geom", POLY_B)),
     ("cmp", "=", ("prop", "attr2"), ("lit", "val20"))),
    ("or",
     ("or",
      ("cmp", "=", ("prop", "attr2"), ("lit", "val19")),
      ("cmp", "=", ("prop", "attr2"), ("lit", "val75"))),
     ("cmp", "=", ("prop", "attr2"), ("lit", "val72"))),
    ("not", ("spatial", "INTERSECTS", "geom", POLY_C)),
    ("not", ("cmp", "=", ("prop", "attr2"), ("lit", "val23"))),
    ("not", ("between", "dtg", datetime(2010, 7, 1, 0, 0), datetime(2010, 7, 31, 0, 0))),
    ("and",
     ("or",
      ("spatial", "INTERSECTS", "geom", POLY_A),
      ("spatial", "INTERSECTS", "geom", POLY_C)),
     ("or",
      ("between", "dtg", datetime(2010, 7, 1, 0, 0), datetime(2010, 7, 31, 0, 0)),
      ("cmp", "=", ("prop", "attr2"), ("lit", "val22")))),
    ("or",
     ("between", "dtg", datetime(2010, 7, 1, 0, 0), datetime(2010, 7, 31, 0, 0)),
     ("cmp", "=", ("prop", "attr2"), ("lit", "val31"))),
    ("and",
     ("and",
      ("cmp", "=", ("prop", "attr2"), ("lit", "val32")),
      ("between", "dtg", datetime(2010, 7, 1, 0, 0), datetime(2010, 7, 31, 0, 0))),
     ("or",
      ("or",
       ("spatial", "INTERSECTS", "geom", POLY_B),
       ("cmp", "=", ("prop", "attr2"), ("lit", "val82"))),
      ("spatial", "INTERSECTS", "geom", POLY_A))),
    ("or",
     ("and",
      ("cmp", "=", ("prop", "attr2"), ("lit", "val44")),
      ("spatial", "INTERSECTS", "geom", POLY_B)),
     ("or",
      ("spatial", "INTERSECTS", "geom", POLY_C),
      ("cmp", "=", ("prop", "attr2"), ("lit", "val2")))),
    ("spatial", "INTERSECTS", "geom", POLY_B),
    ("spatial", "OVERLAPS", "geom", POLY_B),
    ("spatial", "WITHIN", "geom", POLY_B),
    ("spatial", "CONTAINS", "geom", POLY_B),
    ("spatial", "CROSSES", "geom", POLY_B),
    ("spatial", "INTERSECTS", "geom", POLY_B),
    ("and", ("spatial", "INTERSECTS", "geom", POLY_A), ("spatial", "OVERLAPS", "geom", POLY_C)),
    ("and", ("spatial", "INTERSECTS", "geom", POLY_A), ("spatial", "DISJOINT", "geom", POLY_C)),
    ("or", ("spatial", "OVERLAPS", "geom", POLY_A), ("spatial", "WITHIN", "geom", POLY_C)),
    ("and", ("spatial", "DISJOINT", "geom", POLY_A), ("spatial", "CROSSES", "geom", POLY_C)),
    ("or", ("spatial", "WITHIN", "geom", POLY_A), ("spatial", "CROSSES", "geom", POLY_C)),
    ("cmp", "=", ("prop", "attr2"), ("lit", "2nd100001")),
    ("like", "attr2", "%1", True),
    ("like", "attr2", "2nd1%", True),
    ("like", "attr2", "1%", True),
    ("and",
     ("cmp", "=", ("prop", "attr2"), ("lit", "2nd100001")),
     ("spatial", "INTERSECTS", "geom", "POLYGON ((45 20, 48 20, 48 27, 45 27, 45 20))")),
    ("and", ("like", "attr2", "2nd1%", True), ("spatial", "INTERSECTS", "geom", POLY_B)),
    ("and",
     ("not", ("cmp", ">", ("prop", "dtg"), ("lit", datetime(2010, 8, 8, 23, 59, 59)))),
     ("not", ("cmp", "<", ("prop", "dtg_end_time"), ("lit", datetime(2010, 8, 8, 0, 0))))),
    ("between", "dtg", datetime(2010, 8, 8, 0, 0), datetime(2010, 8, 8, 23, 59, 59)),
    ("during", "dtg", datetime(2010, 8, 8, 0, 0), datetime(2010, 8, 8, 23, 59, 59)),
    ("and",
     ("spatial", "INTERSECTS", "geom", POLY_B),
     ("during", "dtg", datetime(2010, 8, 8, 0, 0), datetime(2010, 8, 8, 23, 59, 59))),
    ("dwithin", "geom", "POINT (45 23)", 10000.0),
    ("dwithin", "geom", "POINT (45 23)", 50000.0),
    ("dwithin", "geom", "LINESTRING (45 23, 48 27)", 1000.0),
    ("dwithin", "geom", POLY_B, 1000.0),
    ("dwithin", "geom", POLY_B, 20001.0),
    ("in", None, ["|data|100001", "|data|100002"]),
    ("and", ("in", None, ["|data|100003", "|data|100005"]), ("in", None, ["|data|100001"])),
    ("and",
     ("in", None, ["|data|100001", "|data|100002"]),
     ("cmp", "=", ("prop", "attr2"), ("lit", "2nd100001"))),
    ("and",
     ("cmp", "=", ("prop", "attr2"), ("lit", "2nd100001")),
     ("in", None, ["|data|100001"])),
    ("in", None, ["|data|100010"]),
]


def test_corpus_trees():
    assert [parse(text) for text in CORPUS] == CORPUS_TREES
    for tree in CORPUS_TREES:
        assert parse(to_ecql(tree)) == tree


def test_parser_types_literals_and_normalizes_forms():
    assert parse("a = 5 AND b = 5.0 AND c = 1e5 AND d = -2") == (
        "and", ("and", ("and", ("cmp", "=", ("prop", "a"), ("lit", 5)),
                        ("cmp", "=", ("prop", "b"), ("lit", 5.0))),
                ("cmp", "=", ("prop", "c"), ("lit", 100000.0))),
        ("cmp", "=", ("prop", "d"), ("lit", -2)))
    assert parse("t BEFORE 2010-01-02T03:04:05.5Z") == (
        "cmp", "<", ("prop", "t"), ("lit", datetime(2010, 1, 2, 3, 4, 5, 500000)))
    assert parse("BBOX(geom, 1, 2, 3, 4)") == (
        "spatial", "INTERSECTS", "geom", "POLYGON ((1 2, 3 2, 3 4, 1 4, 1 2))")
    assert parse("BEYOND(geom, POINT (1 2), 2, kilometers)") == (
        "not", ("dwithin", "geom", "POINT (1 2)", 2000.0))
    assert parse("name NOT LIKE 'a%' AND name IS NOT NULL") == (
        "and", ("not", ("like", "name", "a%", False)), ("not", ("isnull", "name")))
    assert parse("strReplace(s, 'a', 'b', true) = 'x'") == (
        "cmp", "=", ("fn", "strReplace", [("prop", "s"), ("lit", "a"), ("lit", "b"),
                                          ("lit", True)]), ("lit", "x"))


# ---------------------------------------------------------------------------
# DWITHIN units

def test_dwithin_reads_two_word_units():
    assert parse("DWITHIN(geom, POINT (0 0), 2, statute miles)") == (
        "dwithin", "geom", "POINT (0 0)", 2 * 1609.344)
    assert parse("DWITHIN(geom, POINT (0 0), 1, nautical miles)")[3] == 1852.0
    assert parse("DWITHIN(geom, POINT (0 0), 3, feet)")[3] == 3 * 0.3048


@pytest.mark.parametrize("units", ["km", "metres", "mi", "miles", "statute"])
def test_dwithin_refuses_unknown_units(units):
    with pytest.raises(ValueError, match="meters, kilometers, feet, statute miles, "
                                         "nautical miles"):
        ecql_to_column(f"DWITHIN(geom, POINT (0 0), 1, {units})", LONLAT)


# ---------------------------------------------------------------------------
# the local evaluator

def test_local_like_never_matches_null():
    """A null attribute matches no LIKE/ILIKE pattern (it used to read as
    the string 'None'), and NOT LIKE of it is true."""
    pdf = pd.DataFrame({"name": ["Nina", None, "bob"]})
    assert list(local_filter("name LIKE 'N%'", pdf)["name"]) == ["Nina"]
    assert list(local_filter("name ILIKE 'n%'", pdf)["name"]) == ["Nina"]
    assert local_filter("name NOT LIKE 'N%'", pdf)["name"].tolist() == [None, "bob"]


def test_local_refuses_filter_functions():
    with pytest.raises(ValueError, match="not supported by the local evaluator"):
        local_filter("strToUpperCase(name) = 'BOB'", pd.DataFrame({"name": ["bob"]}))


# ---------------------------------------------------------------------------
# DWITHIN / BEYOND on lon/lat tables: the pandas UDF against the kernels

def _degrees(meters: float, g) -> float:
    _, ymin, _, ymax = g.bounds
    return meters / (111_195.0 * max(math.cos(math.radians((ymin + ymax) / 2.0)), 0.01))


@pytest.fixture(scope="module")
def grid_points(spark):
    """A half-degree grid around (20, 40), one null row and one NaN row."""
    gx, gy = np.meshgrid(np.arange(16.0, 24.01, 0.5), np.arange(36.0, 44.01, 0.5))
    x, y = gx.ravel(), gy.ravel()
    n = len(x)
    df = local_table(spark, {"id": np.arange(n + 1), "lon": list(x) + [None],
                             "lat": list(y) + [None]}, "id int, lon double, lat double")
    df = df.unionByName(spark.range(n + 1, n + 2).selectExpr(
        "CAST(id AS INT) AS id", "CAST('NaN' AS DOUBLE) AS lon", "40.0D AS lat"))
    return df.repartition(2).cache(), x, y, n


@pytest.mark.parametrize("geom", ["POINT (20 40)", "LINESTRING (17 37, 21 41, 23 38)",
                                  "POLYGON ((18 38, 21 38, 21 41, 18 38))"])
@pytest.mark.parametrize("dist,units,meters", [(150000.0, "meters", 150000.0),
                                               (90.0, "kilometers", 90000.0)])
def test_lonlat_dwithin_and_beyond_match_kernels(spark, grid_points, geom, dist, units,
                                                 meters):
    df, x, y, n = grid_points
    g = wkt.wkt_loads(geom)
    hit = algos.points_dwithin(x, y, g, _degrees(meters, g))
    assert 0 < hit.sum() < n
    for op, want in (("DWITHIN", set(np.nonzero(hit)[0])),
                     ("BEYOND", set(np.nonzero(~hit)[0]) | {n, n + 1})):
        got = {r.id for r in df.where(ecql_to_column(
            f"{op}(geom, {geom}, {dist}, {units})", LONLAT)).select("id").collect()}
        assert got == want, (op, geom, units, sorted(got ^ want)[:5])


def test_lonlat_dwithin_filters_by_bounds_below_the_udf(spark, tmp_path):
    """DWITHIN on lon/lat puts a bbox primary (the geometry's bounds
    widened by the distance) in front of its pandas UDF: Spark evaluates
    that lon/lat range Filter below ArrowEvalPython and pushes it into the
    parquet scan's DataFilters, so rows far from the geometry never reach
    the Python worker."""
    path = str(tmp_path / "pts")
    local_table(spark, {"lon": [20.0, 21.0, 60.0], "lat": [40.0, 40.5, 10.0]},
                "lon double, lat double").write.parquet(path)
    df = spark.read.parquet(path).where(
        ecql_to_column("DWITHIN(geom, POINT (20 40), 90, kilometers)", LONLAT))
    plan = df._jdf.queryExecution().executedPlan().toString()
    below = plan[plan.index("ArrowEvalPython"):].splitlines()
    bounds = [line for line in below if "Filter " in line and "lon#" in line
              and "lat#" in line and "pythonUDF" not in line]
    assert bounds, plan
    scan = next(line for line in below if "FileScan" in line)
    data_filters = scan[scan.index("DataFilters:"):scan.index("]", scan.index("DataFilters:"))]
    assert "lon" in data_filters and "lat" in data_filters, scan
    assert sorted(r.lon for r in df.collect()) == [20.0]


def test_lonlat_dwithin_keeps_points_the_kernel_rounds_within(spark):
    """The DWITHIN bbox primary reaches a margin past the bounds grown by
    the distance: a point one ulp beyond that edge, which the kernel's
    rounding puts within the distance, still matches."""
    g = wkt.wkt_loads("POINT (-0.7 0)")
    d = _degrees(100000.0, g)
    lon = float(np.nextafter(g.bounds[2] + d, np.inf))
    assert algos.points_dwithin(np.array([lon]), np.array([0.0]), g, d)[0]
    df = local_table(spark, {"lon": [lon], "lat": [0.0]}, "lon double, lat double")
    assert df.where(ecql_to_column("DWITHIN(geom, POINT (-0.7 0), 100, kilometers)",
                                   LONLAT)).count() == 1


@pytest.mark.parametrize("empty", ["POINT EMPTY", "LINESTRING EMPTY", "POLYGON EMPTY"])
def test_lonlat_empty_geometry_matches_oracle(spark, grid_points, empty):
    """An empty query geometry holds no point: on lon/lat, INTERSECTS and
    DWITHIN keep no row and DISJOINT keeps every row (null and NaN
    coordinates too), in the Catalyst compiler as in the numpy evaluator;
    ``SpatialQuery(geometry=…)`` keeps no row, with a z2 or s2 index
    column as without one."""
    df, _x, _y, n = grid_points
    pdf = df.toPandas()
    for text, want in ((f"INTERSECTS(geom, {empty})", set()),
                       (f"DISJOINT(geom, {empty})", set(range(n + 2))),
                       (f"DWITHIN(geom, {empty}, 10, meters)", set())):
        got = {r.id for r in df.where(ecql_to_column(text, LONLAT)).select("id").collect()}
        assert got == set(local_filter(text, pdf, LONLAT)["id"]) == want, text
    lon, lat = F.col("lon"), F.col("lat")
    for frame in (df, df.withColumn("z2", z2_col(lon, lat)),
                  df.withColumn("s2", s2_col(lon, lat))):
        query = SpatialQuery(geometry=empty, z2_col="z2", s2_col="s2")
        assert query.apply(frame).count() == 0, frame.columns


# ---------------------------------------------------------------------------
# the round-trip gates

def _benchmark_ring() -> str:
    """The benchmark's query polygon shape: a 12-vertex circle."""
    t = 2.0 * np.pi * np.arange(13) / 12
    ring = ", ".join(f"{x!r} {y!r}" for x, y in zip(5.0 * np.cos(t) + 10.0, 5.0 * np.sin(t)))
    return f"POLYGON (({ring}))"


def test_benchmark_shaped_filter_round_trips(spark, count_round_trips):
    """Building the benchmark's ECQL query (a 12-vertex polygon, an int
    bound and a DURING window over lon/lat) talks to the JVM a bounded
    number of times: one SQL expression per leaf."""
    df = local_table(spark, {"lon": [0.5], "lat": [0.5], "w": [32],
                             "ts": [datetime(2020, 1, 1)]},
                     "lon double, lat double, w int, ts timestamp")
    text = (f"INTERSECTS(geom, {_benchmark_ring()}) AND w >= 32"
            " AND ts DURING 2019-03-01T00:00:00Z/2021-01-15T00:00:00Z")
    ctx = EcqlContext(lon_col="lon", lat_col="lat", prefer_lonlat=True)

    def build():
        return df.where(ecql_to_column(text, ctx))
    for _ in range(3):
        build()
    assert count_round_trips(build) <= 40


@pytest.mark.parametrize("kind", ["polygon", "bbox"])
def test_benchmark_shaped_spatial_query_round_trips(spark, count_round_trips, kind):
    """Planning and applying the benchmark's polygon and bbox queries over
    a z2 table talks to the JVM a bounded number of times: SpatialQuery
    renders its predicate with the ECQL compiler's SQL leaves, one
    expression, and ANDs on the z2 range prefilter."""
    df = local_table(spark, {"lon": [0.5], "lat": [0.5], "ts": [datetime(2020, 1, 1)],
                             "z2": [0]}, "lon double, lat double, ts timestamp, z2 long")

    def build():
        q = (SpatialQuery(geometry=_benchmark_ring(), z2_col="z2") if kind == "polygon"
             else SpatialQuery(bbox=(5.0, -3.0, 14.0, 6.0), z2_col="z2",
                               interval=("2019-03-01 00:00:00", "2021-01-15 00:00:00")))
        q.plan(["z2", "z3"])
        return q.apply(df)
    for _ in range(3):
        build()
    assert count_round_trips(build) <= 25


# ---------------------------------------------------------------------------
# differential: Catalyst against the numpy evaluator over generated trees

INSTANTS = [datetime(2020, 1, 1), datetime(2020, 1, 1, 12, 0, 0, 500000),
            datetime(2020, 3, 1, 6), datetime(2021, 7, 4, 23, 59, 59)]
VALUES = {
    "i": [-3, 0, 2, 7],
    "d": [-1.5, 0.0, 0.25, 2.0, 1e20],
    "s": ["", "a", "ab", "Ab", "b_", "a%c", "it's", "x\\y", "ba"],
    "t": INSTANTS,
}
GEOMS = ["POLYGON ((-2 -2, 2 -2, 2 2, -2 2, -2 -2))", "POLYGON ((-3 -1, 2 -2, 0 3, -3 -1))",
         "POLYGON ((-3 -3, 3 -3, 3 3, 1 3, 1 -1, -1 -1, -1 3, -3 3, -3 -3))"]
N_ROWS = 64


def _column_values(rng: np.random.Generator, name: str) -> list:
    vals = VALUES[name]
    return [None if rng.random() < 0.15 else vals[rng.integers(len(vals))]
            for _ in range(N_ROWS)]


@pytest.fixture(scope="module")
def frames(spark):
    """64 rows: an int, a double, a string and a timestamp attribute, each
    15% null, and lon/lat on a half-degree grid (some null)."""
    rng = np.random.default_rng(20261019)
    grid = np.arange(-4.0, 4.01, 0.5)
    pdf = pd.DataFrame({
        "id": np.arange(N_ROWS),
        "i": pd.array(_column_values(rng, "i"), dtype="Int64"),
        "d": pd.array(_column_values(rng, "d"), dtype="float64"),
        "s": _column_values(rng, "s"),
        "t": pd.to_datetime(_column_values(rng, "t")),
        "lon": [None if rng.random() < 0.05 else grid[rng.integers(len(grid))]
                for _ in range(N_ROWS)],
        "lat": [grid[rng.integers(len(grid))] for _ in range(N_ROWS)],
    })
    pdf["lon"] = pdf["lon"].astype("float64")
    df = local_table(spark, pdf, "id long, i long, d double, s string, t timestamp,"
                                 " lon double, lat double")
    # repartitioned and cached: the predicates run in generated code, not
    # folded into the local relation
    return df.repartition(2).cache(), pdf


def _literal_of(name):
    return st.sampled_from(VALUES[name])


@st.composite
def leaves(draw):
    kind = draw(st.sampled_from(["cmp", "cmp", "between", "like", "in", "isnull", "during",
                                 "const", "spatial", "bbox"]))
    name = draw(st.sampled_from(sorted(VALUES)))
    if kind == "cmp":
        prop, lit = ("prop", name), ("lit", draw(_literal_of(name)))
        op = draw(st.sampled_from(["=", "<>", "<", "<=", ">", ">="]))
        return ("cmp", op, *(draw(st.permutations([prop, lit]))))
    if kind == "between":
        return ("between", name, draw(_literal_of(name)), draw(_literal_of(name)))
    if kind == "like":
        pattern = "".join(draw(st.lists(st.sampled_from(["a", "b", "A", "%", "_", "'"]),
                                        max_size=4)))
        return ("like", "s", pattern, draw(st.booleans()))
    if kind == "in":
        return ("in", name, draw(st.lists(_literal_of(name), min_size=1, max_size=3)))
    if kind == "isnull":
        return ("isnull", name)
    if kind == "during":
        lo, hi = draw(st.sampled_from(INSTANTS)), draw(st.sampled_from(INSTANTS))
        return ("during", "t", lo, hi)
    if kind == "const":
        return ("const", draw(st.booleans()))
    if kind == "spatial":
        return ("spatial", "INTERSECTS", "geom", draw(st.sampled_from(GEOMS)))
    x0, y0 = draw(st.integers(-5, 3)), draw(st.integers(-5, 3))
    x1, y1 = x0 + draw(st.integers(0, 4)) / 2, y0 + draw(st.integers(0, 4)) / 2
    return parse(f"BBOX(geom, {x0}, {y0}, {x1}, {y1})")


def trees(depth: int):
    if depth == 0:
        return leaves()
    sub = trees(depth - 1)
    return st.one_of(leaves(), st.tuples(st.just("not"), sub),
                     st.tuples(st.sampled_from(["and", "or"]), sub, sub))


@seed(20261019)
@settings(max_examples=150, deadline=None, database=None,
          phases=(Phase.explicit, Phase.generate), suppress_health_check=list(HealthCheck))
@given(tree=trees(3))
def test_catalyst_matches_numpy_evaluator(spark, frames, tree):
    df, pdf = frames
    text = to_ecql(tree)
    assert parse(text) == tree, text
    got = sorted(r.id for r in df.where(ecql_to_column(text, LONLAT)).select("id").collect())
    want = sorted(pdf["id"][evaluate(tree, pdf, LONLAT)])
    assert got == want, (text, sorted(set(got) ^ set(want)))
