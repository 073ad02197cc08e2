"""Type-inference ingest, SFT spec strings, routed views, CRS round-trip."""

import pytest
from pyspark.sql import functions as F

from geomesa_spark.functions import crs
from geomesa_spark.sources.ingest import RoutedView, infer_csv

CSV = """name,dtg,geom,count,score
alpha,2024-01-01T00:00:00,POINT (10 20),3,1.5
beta,2024-01-02T12:30:00,POINT (-40 5),7,2.25
gamma,2024-01-03T06:15:00,POINT (120 -33),1,0.5
"""


@pytest.fixture()
def csv_path(tmp_path):
    p = tmp_path / "feats.csv"
    p.write_text(CSV)
    return str(p)


def test_infer_csv_types_and_spec(spark, csv_path):
    df, spec = infer_csv(spark, csv_path)
    assert spec == ("name:String,dtg:Date,*geom:Point:srid=4326,"
                    "count:Integer,score:Double")
    schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert schema["dtg"] == "timestamp"
    assert schema["count"] == "int"
    assert schema["score"] == "double"
    assert schema["geom"] == "string"   # WKT payload column
    assert df.count() == 3


def test_infer_csv_mixed_geometries(spark, tmp_path):
    p = tmp_path / "mixed.csv"
    p.write_text('g\n"POINT (0 0)"\n"POLYGON ((0 0, 1 0, 1 1, 0 0))"\n')
    _, spec = infer_csv(spark, str(p))
    assert spec == "*g:Geometry:srid=4326"


def test_routed_view(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    view = RoutedView([({"event_type", "user_id"}, ev), ({"lang"}, docs)],
                      default=ev)
    assert view.route({"user_id"}) is ev
    assert view.route({"lang"}) is docs
    assert view.route({"unknown"}) is ev
    n = view.query("event_type = 'error'", {"event_type"}).count()
    assert n == ev.where("event_type = 'error'").count()


def test_mercator_round_trip(spark, sf_dir):
    from geomesa_spark.sources.testdata import geo_events
    df = geo_events(spark, sf_dir).limit(500)
    merc = crs.reproject(df, 4326, 3857, "lon", "lat", "x", "y")
    back = crs.reproject(
        merc.select("event_id", "x", "y",
                    F.col("lon").alias("lon0"), F.col("lat").alias("lat0")),
        3857, 4326, "x", "y", "lon", "lat")
    bad = back.where(
        (F.abs(F.col("lon") - F.col("lon0")) > 1e-9)
        | ((F.abs(F.col("lat") - F.col("lat0")) > 1e-9)
           & (F.abs("lat0") < crs.MAX_LAT))).count()
    assert bad == 0


JSONL = """\
{"name": "alpha", "dtg": "2024-01-01T00:00:00", "geom": {"type": "Point", "coordinates": [10.0, 20.0]}, "count": 3, "props": {"k": 1, "tag": "x"}}
{"name": "beta", "dtg": "2024-01-02T12:30:00", "geom": {"type": "Point", "coordinates": [-40.0, 5.0]}, "count": 7, "props": {"k": 2, "tag": "y"}}
{"name": "gamma", "dtg": "2024-01-03T06:15:00", "geom": {"type": "Point", "coordinates": [120.0, -33.0]}, "count": 1, "props": {"k": 3, "tag": "z"}}
"""


def test_infer_json_geojson_and_nested(spark, tmp_path):
    from geomesa_spark.sources.ingest import infer_json
    p = tmp_path / "feats.jsonl"
    p.write_text(JSONL)
    df, spec = infer_json(spark, str(p))
    schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert schema["dtg"] == "timestamp"
    assert schema["count"] == "bigint"
    assert schema["geom"] == "string"
    assert schema["props.k"] == "bigint"
    assert schema["props.tag"] == "string"
    assert "*geom:Point:srid=4326" in spec
    assert "props.k:Long" in spec and "props.tag:String" in spec
    rows = {r["name"]: r for r in df.collect()}
    assert rows["alpha"]["geom"] == "POINT (10 20)"
    assert rows["gamma"]["geom"] == "POINT (120 -33)"


def test_infer_json_wkt_strings(spark, tmp_path):
    from geomesa_spark.sources.ingest import infer_json
    p = tmp_path / "wkt.jsonl"
    p.write_text('{"g": "POINT (1 2)"}\n{"g": "POINT (3 4)"}\n')
    df, spec = infer_json(spark, str(p))
    assert spec == "*g:Point:srid=4326"


def test_utm_forward_known_points(spark):
    """UTM zone 31N anchors: the central meridian maps to E=500000, the
    equator to N=0, and N at 45 deg equals k0 * meridian arc length."""
    import pandas as pd
    df = spark.createDataFrame(pd.DataFrame(
        {"lon": [3.0, 3.0, 3.0], "lat": [0.0, 45.0, -0.0]}))
    rows = crs.reproject(df, 4326, 32631, "lon", "lat", "e", "n").collect()
    assert abs(rows[0].e - 500_000.0) < 1e-6
    assert abs(rows[0].n - 0.0) < 1e-6
    # meridian arc 0->45deg on WGS84 is 4984944.378 m
    assert abs(rows[1].n - 0.9996 * 4_984_944.378) < 2.0
    assert abs(rows[1].e - 500_000.0) < 1e-6


def test_utm_round_trip(spark):
    import numpy as np
    import pandas as pd
    rng = np.random.RandomState(4)
    lon = rng.uniform(0.5, 5.5, 200)   # zone 31 band (plus margin)
    lat = rng.uniform(-79, 83, 200)
    df = spark.createDataFrame(pd.DataFrame({"x": lon, "y": lat}))
    utm = crs.reproject(df, "EPSG:4326", "EPSG:32631",
                        out_x="e", out_y="n")
    back = crs.reproject(utm.select(F.col("e").alias("x"),
                                    F.col("n").alias("y"),
                                    F.col("x").alias("lon0"),
                                    F.col("y").alias("lat0")),
                         32631, 4326, out_x="lon1", out_y="lat1")
    bad = back.where("abs(lon1 - lon0) > 1e-8 OR abs(lat1 - lat0) > 1e-8")
    assert bad.count() == 0


def test_utm_south_and_dispatch(spark):
    import pandas as pd
    df = spark.createDataFrame(pd.DataFrame({"x": [174.0], "y": [-41.0]}))
    # Wellington NZ ~ zone 60S
    out = crs.reproject(df, 4326, 32760, out_x="e", out_y="n").collect()[0]
    assert 0 < out.e < 1_000_000 and 0 < out.n < 10_000_000
    # Lambert-93 is now a registered family (test_crs_families.py);
    # unknown codes still fail loud
    with pytest.raises(ValueError):
        crs.reproject(df, 4326, 999999)


def test_infer_fixed_width(spark, tmp_path):
    from geomesa_spark.sources.ingest import infer_fixed_width
    p = tmp_path / "fixed.txt"
    p.write_text(
        "alpha     2024-01-01T00:00:00   3 1.5\n"
        "beta      2024-01-02T12:30:00   72.25\n")
    df, spec = infer_fixed_width(spark, str(p), widths=[10, 20, 3, 4],
                                 names=["name", "dtg", "count", "score"])
    schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert schema["count"] == "bigint" and schema["score"] == "double"
    assert schema["dtg"] == "timestamp"
    assert "name:String" in spec and "count:Long" in spec
    assert df.count() == 2


def test_shapefile_round_trip(spark, sf_dir, tmp_path):
    from geomesa_spark.sources.export import write_shapefile
    from geomesa_spark.sources.ingest import read_shapefile
    from geomesa_spark.sources.testdata import geo_events
    geo = geo_events(spark, sf_dir).where("event_id < 40") \
        .select("event_id", "event_type", "lon", "lat")
    base = str(tmp_path / "layer")
    write_shapefile(geo, base)
    back = read_shapefile(spark, base)
    assert back.count() == geo.count()
    src = {r.event_id: r for r in geo.collect()}
    for r in back.collect():
        s = src[int(r.event_id)]
        assert r.event_type == s.event_type
        assert abs(r.lon - s.lon) < 1e-12 and abs(r.lat - s.lat) < 1e-12


def test_infer_json_nested_timestamp_promotion(spark, tmp_path):
    """Flattened nested columns carry literal dots (props.dtg); the
    timestamp promotion must backtick-quote them instead of resolving
    struct access against a struct that no longer exists."""
    from geomesa_spark.sources.ingest import infer_json
    p = tmp_path / "nested_ts.json"
    p.write_text(
        '{"id": 1, "props": {"dtg": "2024-03-01 12:00:00", "tag": "a"}}\n'
        '{"id": 2, "props": {"dtg": "2024-03-02 13:30:00", "tag": "b"}}\n')
    df, spec = infer_json(spark, str(p))
    field = dict(zip(df.columns, [f.dataType.simpleString()
                                  for f in df.schema.fields]))
    assert field["props.dtg"] == "timestamp"
    rows = df.orderBy("id").collect()
    assert rows[0]["props.dtg"].day == 1 and rows[1]["props.dtg"].hour == 13


def test_read_xml_explicit_fields(spark, tmp_path):
    from geomesa_spark.sources.ingest import read_xml
    doc = """<?xml version="1.0"?>
<features>
  <feature id="f1"><name>alpha</name><pos><lon>1.5</lon><lat>2.5</lat></pos></feature>
  <feature id="f2"><name>beta</name><pos><lon>-3.0</lon><lat>4.0</lat></pos></feature>
</features>"""
    (tmp_path / "a.xml").write_text(doc)
    (tmp_path / "b.xml").write_text(doc.replace("f1", "f3").replace("f2", "f4"))
    df = read_xml(spark, str(tmp_path), "feature",
                  fields={"fid": "@id", "name": "name",
                          "lon": "pos/lon", "lat": "pos/lat"})
    rows = {r.fid: r for r in df.collect()}
    assert set(rows) == {"f1", "f2", "f3", "f4"}
    assert rows["f1"].name == "alpha" and rows["f3"].lon == "1.5"


def test_infer_xml_promotes_types(spark, tmp_path):
    from geomesa_spark.sources.ingest import infer_xml
    doc = """<?xml version="1.0"?>
<obs>
  <row n="1"><dtg>2024-05-01T10:00:00Z</dtg><geom>POINT (1 2)</geom><v>7</v></row>
  <row n="2"><dtg>2024-05-02T11:30:00Z</dtg><geom>POINT (3 4)</geom><v>9</v></row>
</obs>"""
    (tmp_path / "obs.xml").write_text(doc)
    df, spec = infer_xml(spark, str(tmp_path), "row")
    types = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)
    assert types["dtg"] == "timestamp"
    assert types["v"] == "bigint"
    assert "geom:Point" in spec or "geom" in spec
    assert df.count() == 2
