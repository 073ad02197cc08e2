"""Table layout + lineage/resume tests (north rule: checkpointed, idempotent)."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from geomesa_spark.sources.layout import (CheckpointedPipeline, read_indexed,
                                          read_manifest, write_indexed)
from geomesa_spark.sources.testdata import geo_events


@pytest.fixture(scope="module")
def indexed_path(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("layout") / "events_indexed")
    df = geo_events(spark, sf_dir)
    write_indexed(df, path, period="day", id_col="event_id", n_salts=4)  # events span one month
    return path


class TestIndexedLayout:
    def test_round_trip(self, spark, sf_dir, indexed_path):
        src = geo_events(spark, sf_dir)
        out = read_indexed(spark, indexed_path)
        assert out.count() == src.count()
        assert {"z2", "time_bin", "salt"} <= set(out.columns)
        m = read_manifest(spark, indexed_path)
        assert m["period"] == "day" and m["n_salts"] == 4

    def test_partition_dirs(self, indexed_path):
        dirs = glob.glob(f"{indexed_path}/time_bin=*")
        assert len(dirs) > 1  # multi-year events -> many month bins

    def test_partition_pruning(self, spark, indexed_path):
        df = read_indexed(spark, indexed_path)
        one_bin = df.select("time_bin").distinct().limit(1).collect()[0][0]
        plan = df.where(F.col("time_bin") == one_bin)._jdf \
            .queryExecution().executedPlan().toString()
        # directory-level pruning: only that partition's files remain
        assert f"time_bin={one_bin}" in plan or "PartitionFilters" in plan

    def test_z2_pushdown(self, spark, indexed_path):
        df = read_indexed(spark, indexed_path)
        plan = df.where(F.col("z2").between(10**17, 10**18))._jdf \
            .queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan and "z2" in plan.split("PushedFilters")[1][:200]

    def test_geohash_layout_prefix_pushdown(self, spark, sf_dir, tmp_path):
        """cell='geohash' layout: decompose_geometry's whole-character cells
        compile to an OR of prefix matches that reaches the parquet scan as
        pushed StringStartsWith filters (the scan-level file skipping a
        geohash-keyed index exists for), and the covered scan is a superset
        of the exact polygon rows."""
        from geomesa_spark.functions import geohash as ghmod
        from geomesa_spark.geom.gh_decompose import (cover_predicate,
                                                     decompose_geometry)
        path = str(tmp_path / "gh_layout")
        src = geo_events(spark, sf_dir)
        write_indexed(src, path, cell="geohash")
        out = read_indexed(spark, path)
        assert "gh" in out.columns
        # the stored key matches the scalar reference encoder
        r = out.select("lon", "lat", "gh").first()
        assert r["gh"] == ghmod.encode(r["lon"], r["lat"], 35)

        poly = "POLYGON ((44 25, 46 21, 48 25, 46 29, 44 25))"
        cells = decompose_geometry(poly, max_size=32)
        assert all(prec % 5 == 0 for _, prec in cells)  # whole chars
        pred = cover_predicate("gh", cells)
        plan = out.where(pred)._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan
        pushed = plan.split("PushedFilters")[1][:800]
        assert "StringStartsWith(gh" in pushed
        # cover property: every exact polygon row survives the coarse scan
        from geomesa_spark.plans.query import SpatialQuery
        exact = set(SpatialQuery(geometry=poly).apply(src)
                    .select("event_id").toPandas()["event_id"])
        coarse = set(out.where(pred).select("event_id").toPandas()["event_id"])
        assert exact <= coarse

    def test_geohash_point_query_returns_its_row(self, spark, tmp_path):
        """A Point decomposes to its finest cell; geohash_cover stops at the
        layout's key width, so the prefix matches the point's own key (an
        8-character prefix of a 7-character key matched no row)."""
        from geomesa_spark.plans.query import SpatialQuery
        from geomesa_spark.sources.layout import geohash_cover
        path = str(tmp_path / "gh_points")
        src = spark.createDataFrame(
            [("a", 46.123456, 25.654321), ("b", 46.2, 25.7), ("c", -120.5, 33.25)],
            "event_id string, lon double, lat double")
        write_indexed(src, path, cell="geohash")
        out = read_indexed(spark, path)
        for eid, lon, lat in (("a", 46.123456, 25.654321), ("c", -120.5, 33.25)):
            point = f"POINT ({lon} {lat})"
            got = SpatialQuery(geometry=point).apply(geohash_cover(out, point))
            assert [r.event_id for r in got.collect()] == [eid]

    def test_sorted_within_files(self, spark, indexed_path):
        # z2-sorted files -> row-group stats can skip; check monotone z2 per file
        df = read_indexed(spark, indexed_path).withColumn("f", F.input_file_name())
        from pyspark.sql import Window
        w = Window.partitionBy("f").orderBy(F.monotonically_increasing_id())
        bad = (df.withColumn("prev", F.lag("z2").over(w))
               .where(F.col("prev").isNotNull() & (F.col("z2") < F.col("prev")))
               .count())
        assert bad == 0


class TestCheckpointedPipeline:
    def test_resume_skips_completed(self, spark, sf_dir, tmp_path):
        root = str(tmp_path / "pipe")
        src = geo_events(spark, sf_dir).cache()
        parts = ["a", "b", "c"]

        def build(key):
            lo, hi = {"a": (0, 300), "b": (300, 600), "c": (600, 10**9)}[key]
            return src.where((F.col("event_id") >= lo) & (F.col("event_id") < hi))

        p1 = CheckpointedPipeline(spark, root)
        r1 = p1.run_stage("filter", ["a", "b"], build)
        assert r1.executed == ["a", "b"] and r1.skipped == []

        # a NEW pipeline instance (fresh run) resumes: a/b skipped, c executed
        p2 = CheckpointedPipeline(spark, root)
        r2 = p2.run_stage("filter", parts, build)
        assert r2.skipped == ["a", "b"] and r2.executed == ["c"]

        # union of stage output == full source
        total = p2.read_stage("filter").count()
        assert total == src.count()
        src.unpersist()

    def test_lineage_and_metrics_tables(self, spark, sf_dir, tmp_path):
        root = str(tmp_path / "pipe2")
        src = geo_events(spark, sf_dir)
        p = CheckpointedPipeline(spark, root)
        p.run_stage("all", ["only"], lambda k: src)
        lin = p.lineage().collect()
        assert len(lin) == 1
        assert lin[0]["rows"] == src.count()
        assert lin[0]["checksum"] != 0
        mets = {r["metric"]: r["value"] for r in p.metrics().collect()}
        assert mets["partitions_executed"] == 1.0
        assert mets["rows_written"] == float(src.count())

    def test_checksum_is_deterministic(self, spark, sf_dir, tmp_path):
        src = geo_events(spark, sf_dir)
        p1 = CheckpointedPipeline(spark, str(tmp_path / "x1"))
        p2 = CheckpointedPipeline(spark, str(tmp_path / "x2"))
        p1.run_stage("s", ["k"], lambda k: src)
        p2.run_stage("s", ["k"], lambda k: src)
        c1 = p1.lineage().collect()[0]["checksum"]
        c2 = p2.lineage().collect()[0]["checksum"]
        assert c1 == c2


class TestAttributeIndex:
    """AttributeJoinIndex analog: covering reads vs join-back by feature id."""

    @pytest.fixture(scope="class")
    def idx(self, spark, sf_dir, tmp_path_factory):
        from geomesa_spark.sources.attr_index import (AttributeIndex,
                                                      write_attribute_index)
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        path = str(tmp_path_factory.mktemp("attr_idx"))
        write_attribute_index(ev, path, attr="value", id_col="event_id",
                              covered=["event_type"])
        return AttributeIndex(spark, path, ev), ev

    def test_covering_read_matches(self, idx):
        ai, ev = idx
        got = ai.query("value BETWEEN 50 AND 60", ["event_id", "event_type"])
        want = ev.where("value BETWEEN 50 AND 60").select("event_id", "event_type")
        assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}
        assert ai.is_covering(["event_id", "event_type"])

    def test_join_back_for_uncovered_columns(self, idx):
        ai, ev = idx
        assert not ai.is_covering(["event_id", "user_id"])
        got = ai.query("value BETWEEN 50 AND 60", ["event_id", "user_id"])
        want = ev.where("value BETWEEN 50 AND 60").select("event_id", "user_id")
        assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}

    def test_attr_predicate_pushdown(self, idx):
        ai, _ = idx
        plan = (ai.index_df().where("value BETWEEN 50 AND 60")
                ._jdf.queryExecution().executedPlan().toString())
        assert "PushedFilters" in plan
        tail = plan.split("PushedFilters")[1][:220]
        assert "GreaterThanOrEqual(value" in tail


class TestS2Layout:
    """S2-keyed layout: sorted s2 files + covering-range pruned reads."""

    @pytest.fixture(scope="class")
    def s2_path(self, spark, sf_dir, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("layout_s2") / "events_s2")
        write_indexed(geo_events(spark, sf_dir), path, period="day",
                      cell="s2")
        return path

    def test_manifest_and_columns(self, spark, s2_path):
        m = read_manifest(spark, s2_path)
        assert m["cell"] == "s2"
        df = read_indexed(spark, s2_path)
        assert "s2" in df.columns and "z2" not in df.columns

    def test_s2_pruned_read_matches_bbox(self, spark, s2_path):
        from geomesa_spark.plans.cover import s2_range_predicate
        df = read_indexed(spark, s2_path)
        bbox = (40.0, 20.0, 50.0, 30.0)
        pre = s2_range_predicate("s2", [bbox])
        exact = (F.col("lon").between(bbox[0], bbox[2])
                 & F.col("lat").between(bbox[1], bbox[3]))
        got = df.where(pre).where(exact).count()
        want = df.where(exact).count()
        assert got == want and got > 0
        # the range predicate reaches the parquet scan for file skipping
        plan = df.where(pre)._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan
        assert "s2" in plan.split("PushedFilters")[1][:400]

    def test_s2_sorted_within_files(self, spark, s2_path):
        df = read_indexed(spark, s2_path).withColumn("f", F.input_file_name())
        from pyspark.sql import Window
        w = Window.partitionBy("f").orderBy(F.monotonically_increasing_id())
        bad = (df.withColumn("prev", F.lag("s2").over(w))
               .where(F.col("prev").isNotNull() & (F.col("s2") < F.col("prev")))
               .count())
        assert bad == 0


class TestSchemaEvolution:
    """Add-only schema evolution (GeoMesaDataStoreAlterSchemaTest analog):
    appended batches may carry NEW columns; old rows surface them as NULL;
    dropping existing columns is rejected."""

    def test_append_with_new_column(self, spark, sf_dir, tmp_path):
        from geomesa_spark.sources.layout import append_indexed
        path = str(tmp_path / "evolving")
        base = geo_events(spark, sf_dir).where("event_id < 500")
        write_indexed(base, path, period="day")
        batch2 = (geo_events(spark, sf_dir)
                  .where("event_id >= 500 AND event_id < 900")
                  .withColumn("quality", F.lit(0.9)))
        append_indexed(batch2, path)
        out = read_indexed(spark, path)
        assert out.count() == base.count() + batch2.count()
        assert "quality" in out.columns
        # pre-evolution rows read as NULL for the new column
        assert out.where("event_id < 500 AND quality IS NULL").count() \
            == base.count()
        assert out.where("event_id >= 500 AND quality = 0.9").count() \
            == batch2.count()
        m = read_manifest(spark, path)
        assert "quality" in m["columns"] and m["schema_version"] == 2

    def test_dropping_column_rejected(self, spark, sf_dir, tmp_path):
        from geomesa_spark.sources.layout import append_indexed
        path = str(tmp_path / "evolving2")
        write_indexed(geo_events(spark, sf_dir).where("event_id < 100"),
                      path, period="day")
        bad = geo_events(spark, sf_dir).where("event_id >= 100") \
            .drop("event_type")
        with pytest.raises(ValueError, match="add-only"):
            append_indexed(bad, path)


def test_append_salts_by_recorded_key(spark, tmp_path):
    """append_indexed must salt by the SAME key write_indexed used
    (id_col when configured), recorded in the manifest."""
    from geomesa_spark.functions.cell_functions import salt_col
    from geomesa_spark.sources import layout as lay
    df = spark.createDataFrame(
        [(i, -50.0 + i, 10.0 + i * 0.1) for i in range(20)],
        "fid long, lon double, lat double")
    path = str(tmp_path / "salted")
    lay.write_indexed(df, path, id_col="fid", n_salts=4, ts_col="none")
    manifest = lay.read_manifest(spark, path)
    assert manifest["salt_key"] == "fid"
    extra = spark.createDataFrame(
        [(100 + i, 20.0 + i, -5.0) for i in range(5)],
        "fid long, lon double, lat double")
    lay.append_indexed(extra, path)
    got = lay.read_indexed(spark, path).where(F.col("fid") >= 100) \
        .select("fid", "salt").collect()
    expect = {r.fid: r.s for r in
              extra.select("fid", salt_col(F.col("fid"), 4).alias("s"))
              .collect()}
    assert all(expect[r.fid] == r.salt for r in got)


def test_salt_col_handles_negative_hash_values(spark):
    """ShardStrategyTest.scala:21-29 semantics: shard assignment must stay
    valid for keys whose hash is NEGATIVE (the reference test's
    '1371494157#3638946185' feature id exists because a raw hash % n went
    out of range).  salt_col uses pmod, so every shard lands in [0, n)."""
    from geomesa_spark.functions.cell_functions import salt_col
    ids = ["1371494157#3638946185"] + [f"id{i}" for i in range(200)]
    df = spark.createDataFrame([(s,) for s in ids], "fid string")
    rows = df.select("fid", salt_col(F.col("fid"), 60).alias("s"),
                     F.hash("fid").alias("h")).collect()
    assert all(0 <= r.s < 60 for r in rows)
    assert any(r.h < 0 for r in rows)  # negatives actually exercised


class TestBucketedJoin:
    """write_bucketed: the shuffle-free co-located join layout (Spark
    bucketBy analog of AttributeJoinIndex's pre-split attribute tables)."""

    @pytest.fixture()
    def bucketed_pair(self, spark, tmp_path):
        from geomesa_spark.sources.layout import write_bucketed
        import pandas as pd
        import numpy as np
        rng = np.random.RandomState(9)
        facts = pd.DataFrame({
            "k": rng.randint(0, 200, 5000),
            "v": rng.uniform(0, 1, 5000)})
        dims = pd.DataFrame({
            "k": np.arange(200), "label": [f"d{i}" for i in range(200)]})
        fa = write_bucketed(spark.createDataFrame(facts), "bj_facts",
                            str(tmp_path / "facts"), ["k"], 8,
                            sort_cols=["k"])
        di = write_bucketed(spark.createDataFrame(dims), "bj_dims",
                            str(tmp_path / "dims"), ["k"], 8,
                            sort_cols=["k"])
        yield fa, di, facts, dims
        spark.sql("DROP TABLE IF EXISTS bj_facts")
        spark.sql("DROP TABLE IF EXISTS bj_dims")

    def test_join_has_no_exchange(self, spark, bucketed_pair):
        fa, di, _, _ = bucketed_pair
        # forbid broadcast so the co-location itself must carry the join
        with_conf = [("spark.sql.autoBroadcastJoinThreshold", "-1"),
                     ("spark.sql.adaptive.enabled", "false"),
                     # since 3.0 Spark ignores bucket sortBy ordering
                     # unless this opt-in is set (needs 1 file/bucket,
                     # which write_bucketed guarantees via repartition)
                     ("spark.sql.legacy.bucketedTableScan.outputOrdering",
                      "true")]
        saved = {k: spark.conf.get(k) for k, _ in with_conf}
        try:
            for k, v in with_conf:
                spark.conf.set(k, v)
            joined = fa.join(di, "k")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
            # bucket-local sort satisfied by sortBy: no per-query Sort
            # above the scans either
            assert plan.count("Sort ") == 0, plan
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)

    def test_join_results_correct(self, spark, bucketed_pair):
        fa, di, facts, dims = bucketed_pair
        got = fa.join(di, "k").count()
        assert got == len(facts)  # every fact key exists in dims

    def test_bucket_pruning_filter(self, spark, bucketed_pair):
        fa, _, facts, _ = bucketed_pair
        got = fa.where("k = 17").count()
        assert got == int((facts["k"] == 17).sum())


class TestZ3YearlyIndex:
    """Port of the reference's Z3IndexTest 'index and query yearly epochs
    correctly' (geomesa-index-api .../index/Z3IndexTest.scala:26-67): 32
    December-2020 features (2020 is a leap year — the yearly bin must use
    real calendar lengths, not 365-day arithmetic), indexed with
    period='year', then (a) a month-wide bbox+during returns ALL features
    and (b) a last-day narrow bbox+during returns exactly the last one."""

    @pytest.fixture(scope="class")
    def features(self, spark):
        rows = []
        for i in range(10):       # track1: hours of Dec 7, lon 40+i
            rows.append((i, f"name{i}", "track1",
                         f"2020-12-07 0{i}:00:00", 40.0 + i, 60.0))
        for i in range(10, 20):   # track2: day i, hour i, lon 40+(i-10)
            rows.append((i, f"name{i}", "track2",
                         f"2020-12-{i} {i}:00:00", 40.0 + (i - 10), 60.0))
        for i in range(20, 30):   # track3: day i, hour i-10, lon 60+(i-20)
            rows.append((i, f"name{i}", "track3",
                         f"2020-12-{i} {i - 10}:00:00", 60.0 + (i - 20), 60.0))
        for i in range(30, 32):   # track4: day i, hour i-10, lon i-20
            rows.append((i, f"name{i}", "track4",
                         f"2020-12-{i} {i - 10}:00:00", float(i - 20), 60.0))
        df = spark.createDataFrame(
            rows, "fid long, name string, track string, ts string, "
                  "lon double, lat double").withColumn("ts", F.to_timestamp("ts"))
        return df

    @pytest.fixture(scope="class")
    def year_indexed(self, spark, features, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("z3year") / "feats")
        write_indexed(features, path, period="year", id_col="fid")
        return read_indexed(spark, path)

    def test_yearly_bin_is_calendar_based(self, year_indexed):
        # one yearly bin for all of Dec 2020; bin == years since 1970
        bins = [r.time_bin for r in
                year_indexed.select("time_bin").distinct().collect()]
        assert bins == [2020 - 1970]

    def test_month_window_returns_all(self, year_indexed):
        from geomesa_spark.plans.query import SpatialQuery
        q = SpatialQuery(bbox=(0, 55, 70, 65),
                         interval=("2020-12-01 00:00:00",
                                   "2020-12-31 23:59:59.999"),
                         z2_col="z2")
        got = sorted(r.fid for r in q.apply(year_indexed).collect())
        assert got == list(range(32))

    def test_last_day_window_returns_last_feature(self, year_indexed):
        from geomesa_spark.plans.query import SpatialQuery
        q = SpatialQuery(bbox=(9, 59, 12, 61),
                         interval=("2020-12-31 00:00:00",
                                   "2020-12-31 23:59:59.999"),
                         z2_col="z2")
        rows = q.apply(year_indexed).collect()
        assert [r.fid for r in rows] == [31]
        assert rows[0].name == "name31" and rows[0].track == "track4"


class TestS3WeeklyIndex:
    """Port of the reference's S3IndexTest (geomesa-index-api
    .../index/S3IndexTest.scala:30-178): 30 May-2010 features over an
    S2-keyed weekly layout (the S3 index = S2 cell + week bin,
    index/s3/S3IndexKeySpace.scala), with the suite's twelve exact
    expected-id sets — inclusive/exclusive bbox and date windows, whole
    world, week-boundary crossings, tiny bbox+minute window, GT/LT dates,
    secondary attribute filters, and (functional) transforms."""

    @pytest.fixture(scope="class")
    def s3_indexed(self, spark, tmp_path_factory):
        rows = []
        for i in range(10):       # track1: hours of May 7, lon 40+i
            rows.append((i, f"name{i}", "track1",
                         f"2010-05-07 0{i}:00:00", 40.0 + i, 60.0))
        for i in range(10, 20):   # track2: day i, hour i, lon 40+(i-10)
            rows.append((i, f"name{i}", "track2",
                         f"2010-05-{i} {i}:00:00", 40.0 + (i - 10), 60.0))
        for i in range(20, 30):   # track3: day i, hour i-10, lon 60+(i-20)
            rows.append((i, f"name{i}", "track3",
                         f"2010-05-{i} {i - 10}:00:00", 60.0 + (i - 20), 60.0))
        df = spark.createDataFrame(
            rows, "fid long, name string, track string, ts string, "
                  "lon double, lat double").withColumn("ts", F.to_timestamp("ts"))
        path = str(tmp_path_factory.mktemp("s3week") / "feats")
        write_indexed(df, path, period="week", id_col="fid", cell="s2")
        return read_indexed(spark, path)

    def _ids(self, s3_indexed, bbox, lo, hi, where=None):
        from geomesa_spark.plans.query import SpatialQuery
        q = SpatialQuery(bbox=bbox, interval=(lo, hi), where=where,
                         s2_col="s2")
        return sorted(r.fid for r in q.apply(s3_indexed).select("fid").collect())

    def test_inclusive_filter_returns_all_of_day(self, s3_indexed):
        got = self._ids(s3_indexed, (38, 59, 51, 61),
                        "2010-05-07 00:00:00", "2010-05-08 00:00:00")
        assert got == list(range(10))

    def test_exclusive_geom_filter(self, s3_indexed):
        got = self._ids(s3_indexed, (38, 59, 45, 61),
                        "2010-05-07 00:00:00", "2010-05-08 00:00:00")
        assert got == list(range(6))

    def test_exclusive_date_filter(self, s3_indexed):
        got = self._ids(s3_indexed, (38, 59, 51, 61),
                        "2010-05-07 06:00:00", "2010-05-08 00:00:00")
        assert got == list(range(6, 10))

    def test_whole_world_filter(self, s3_indexed):
        got = self._ids(s3_indexed, (-180, -90, 180, 90),
                        "2010-05-07 05:00:00", "2010-05-07 08:00:00")
        assert got == list(range(5, 9))

    def test_across_week_bounds(self, s3_indexed):
        got = self._ids(s3_indexed, (45, 59, 51, 61),
                        "2010-05-07 06:00:00", "2010-05-21 00:00:00")
        assert got == list(range(6, 10)) + list(range(15, 20))

    def test_across_two_weeks(self, s3_indexed):
        got = self._ids(s3_indexed, (44.5, 59, 50, 61),
                        "2010-05-10 00:00:00", "2010-05-17 23:59:59.999")
        assert got == list(range(15, 18))

    def test_whole_world_across_week_bounds(self, s3_indexed):
        got = self._ids(s3_indexed, (-180, -90, 180, 90),
                        "2010-05-07 06:00:00", "2010-05-21 00:00:00")
        assert got == list(range(6, 21))

    def test_whole_world_across_three_weeks(self, s3_indexed):
        got = self._ids(s3_indexed, (-180, -90, 180, 90),
                        "2010-05-08 06:00:00", "2010-05-30 00:00:00")
        assert got == list(range(10, 30))

    def test_small_bbox_and_minute_window(self, s3_indexed):
        got = self._ids(s3_indexed, (40.999, 59.999, 41.001, 60.001),
                        "2010-05-07 00:59:00", "2010-05-07 01:01:00")
        assert got == [1]

    def test_anded_gt_lt_dates(self, s3_indexed):
        # dtg >= lo AND dtg <= hi == inclusive between
        got = self._ids(s3_indexed, (38, 59, 51, 61),
                        "2010-05-07 06:00:00", "2010-05-08 00:00:00")
        assert got == list(range(6, 10))

    def test_secondary_attribute_filter(self, s3_indexed):
        got = self._ids(s3_indexed, (38, 59, 51, 61),
                        "2010-05-07 05:00:00", "2010-05-07 10:00:00",
                        where="name = 'name8'")
        assert got == [8]

    def test_transforms(self, s3_indexed):
        from geomesa_spark.plans.query import SpatialQuery
        q = SpatialQuery(bbox=(38, 59, 51, 61),
                         interval=("2010-05-07 06:00:00",
                                   "2010-05-08 00:00:00"),
                         s2_col="s2", select=["name"])
        out = q.apply(s3_indexed)
        assert out.columns == ["name"]
        assert sorted(r.name for r in out.collect()) == [
            f"name{i}" for i in range(6, 10)]

    def test_functional_transforms(self, s3_indexed):
        import re
        from geomesa_spark.plans.query import SpatialQuery
        q = SpatialQuery(bbox=(38, 59, 51, 61),
                         interval=("2010-05-07 06:00:00",
                                   "2010-05-08 00:00:00"),
                         s2_col="s2",
                         select=["concat('my', name) AS derived"])
        out = q.apply(s3_indexed)
        assert out.columns == ["derived"]
        vals = sorted(r.derived for r in out.collect())
        assert len(vals) == 4
        assert all(re.fullmatch(r"myname\d", v) for v in vals)

    def test_s2_ranges_prune_the_scan(self, s3_indexed):
        # the s2 BETWEEN ranges must reach the parquet scan as pushed
        # filters (index scan, not full scan + recheck)
        from geomesa_spark.plans.query import SpatialQuery
        q = SpatialQuery(bbox=(40.999, 59.999, 41.001, 60.001),
                         interval=("2010-05-07 00:59:00",
                                   "2010-05-07 01:01:00"),
                         s2_col="s2")
        plan = q.apply(s3_indexed)._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan
        assert "s2" in plan.split("PushedFilters")[1][:400]


class TestXZ3LineStringIndex:
    """Port of the reference's XZ3IndexTest (geomesa-index-api
    .../index/XZ3IndexTest.scala:26-66): the same 32-feature December-2020
    fixture as Z3IndexTest but with vertical LINESTRING(lon 60, lon 61)
    footprints — non-point geometries go through the XZ3 footprint index
    (xz3_bbox_during: XZ sequence-code prefilter + exact overlap recheck).
    Weekly bins here (with_xz3's fixed-width binning; the yearly
    calendar-bin behavior is covered by TestZ3YearlyIndex) — the expected
    result sets are bin-width independent because the recheck is exact."""

    @pytest.fixture(scope="class")
    def lines(self, spark):
        rows = []
        for i in range(10):
            rows.append((i, f"name{i}", "track1",
                         f"2020-12-07 0{i}:00:00",
                         40.0 + i, 60.0, 40.0 + i, 61.0))
        for i in range(10, 20):
            rows.append((i, f"name{i}", "track2",
                         f"2020-12-{i} {i}:00:00",
                         40.0 + (i - 10), 60.0, 40.0 + (i - 10), 61.0))
        for i in range(20, 30):
            rows.append((i, f"name{i}", "track3",
                         f"2020-12-{i} {i - 10}:00:00",
                         60.0 + (i - 20), 60.0, 60.0 + (i - 20), 61.0))
        for i in range(30, 32):
            rows.append((i, f"name{i}", "track4",
                         f"2020-12-{i} {i - 10}:00:00",
                         float(i - 20), 60.0, float(i - 20), 61.0))
        return spark.createDataFrame(
            rows, "fid long, name string, track string, ts string, "
                  "xmin double, ymin double, xmax double, ymax double"
        ).withColumn("ts", F.to_timestamp("ts"))

    def test_month_window_returns_all(self, lines):
        from geomesa_spark.operators.footprints import xz3_bbox_during
        got = sorted(r.fid for r in xz3_bbox_during(
            lines, (0, 55, 70, 65),
            ("2020-12-01 00:00:00", "2020-12-31 23:59:59.999")).collect())
        assert got == list(range(32))

    def test_last_day_window_returns_last_feature(self, lines):
        from geomesa_spark.operators.footprints import xz3_bbox_during
        rows = xz3_bbox_during(
            lines, (9, 59, 12, 61),
            ("2020-12-31 00:00:00", "2020-12-31 23:59:59.999")).collect()
        assert [r.fid for r in rows] == [31]
        assert rows[0].name == "name31" and rows[0].track == "track4"


class TestS2SpatialIndex:
    """Port of the reference's S2IndexTest (geomesa-index-api
    .../index/S2IndexTest.scala:28-127): 30 features spread across
    LATITUDES (lat 60..69 twice, 80..89 once, all at lon 40) over an
    S2-keyed layout, with the suite's eight exact expected-id sets —
    including the pure-spatial small-bbox case with no time filter."""

    @pytest.fixture(scope="class")
    def s2_indexed(self, spark, tmp_path_factory):
        rows = []
        for i in range(10):       # track1: hours of May 7, lat 60+i
            rows.append((i, f"name{i}", "track1",
                         f"2010-05-07 0{i}:00:00", 40.0, 60.0 + i))
        for i in range(10, 20):   # track2: day i, hour i, lat 60+(i-10)
            rows.append((i, f"name{i}", "track2",
                         f"2010-05-{i} {i}:00:00", 40.0, 60.0 + (i - 10)))
        for i in range(20, 30):   # track3: day i, hour i-10, lat 80+(i-20)
            rows.append((i, f"name{i}", "track3",
                         f"2010-05-{i} {i - 10}:00:00", 40.0, 80.0 + (i - 20)))
        df = spark.createDataFrame(
            rows, "fid long, name string, track string, ts string, "
                  "lon double, lat double").withColumn("ts", F.to_timestamp("ts"))
        path = str(tmp_path_factory.mktemp("s2idx") / "feats")
        write_indexed(df, path, period="week", id_col="fid", cell="s2")
        return read_indexed(spark, path)

    def _ids(self, s2_indexed, bbox, lo=None, hi=None, where=None):
        from geomesa_spark.plans.query import SpatialQuery
        q = SpatialQuery(bbox=bbox,
                         interval=(lo, hi) if lo else None,
                         where=where, s2_col="s2")
        return sorted(r.fid for r in q.apply(s2_indexed).select("fid").collect())

    def test_inclusive_filter(self, s2_indexed):
        got = self._ids(s2_indexed, (34.9, 54.9, 45.1, 75.1),
                        "2010-05-07 00:00:00", "2010-05-08 00:00:00")
        assert got == list(range(10))

    def test_exclusive_geom_filter(self, s2_indexed):
        got = self._ids(s2_indexed, (34.9, 54.9, 45.1, 65.1),
                        "2010-05-07 00:00:00", "2010-05-08 00:00:00")
        assert got == list(range(6))

    def test_exclusive_date_filter(self, s2_indexed):
        got = self._ids(s2_indexed, (34.9, 54.9, 45.1, 75.1),
                        "2010-05-07 06:00:00", "2010-05-08 00:00:00")
        assert got == list(range(6, 10))

    def test_whole_world_filter(self, s2_indexed):
        got = self._ids(s2_indexed, (-180, -90, 180, 90),
                        "2010-05-07 05:00:00", "2010-05-07 08:00:00")
        assert got == list(range(5, 9))

    def test_small_bbox_no_time(self, s2_indexed):
        got = self._ids(s2_indexed, (39.999, 60.999, 40.001, 61.001))
        assert got == [1, 11]

    def test_secondary_filter(self, s2_indexed):
        got = self._ids(s2_indexed, (34.9, 54.9, 45.1, 75.1),
                        "2010-05-07 06:00:00", "2010-05-08 00:00:00",
                        where="name = 'name8'")
        assert got == [8]

    def test_transforms(self, s2_indexed):
        from geomesa_spark.plans.query import SpatialQuery
        q = SpatialQuery(bbox=(34.9, 54.9, 45.1, 75.1),
                         interval=("2010-05-07 06:00:00",
                                   "2010-05-08 00:00:00"),
                         s2_col="s2", select=["name"])
        out = q.apply(s2_indexed)
        assert out.columns == ["name"]
        assert sorted(r.name for r in out.collect()) == [
            f"name{i}" for i in range(6, 10)]

    def test_functional_transforms(self, s2_indexed):
        import re
        from geomesa_spark.plans.query import SpatialQuery
        q = SpatialQuery(bbox=(34.9, 54.9, 45.1, 75.1),
                         interval=("2010-05-07 06:00:00",
                                   "2010-05-08 00:00:00"),
                         s2_col="s2",
                         select=["concat('my', name) AS derived"])
        vals = sorted(r.derived for r in q.apply(s2_indexed).collect())
        assert len(vals) == 4
        assert all(re.fullmatch(r"myname\d", v) for v in vals)


class TestXZ3DayPeriod:
    """with_xz3 period handling: the reference's per-period offset
    precision (BinnedTime: day offsets in millis, week in seconds) must
    agree between the write-side column and the z-axis bounds; daily bins
    must answer cross-bin queries exactly, and calendar-variable periods
    are rejected rather than silently mis-binned."""

    def test_day_period_exact_results(self, spark):
        from geomesa_spark.operators.footprints import xz3_bbox_during
        rows = [(i, f"2020-12-{7 + (i % 3)} {i % 24:02d}:30:00",
                 40.0 + i, 60.0, 40.0 + i, 61.0) for i in range(12)]
        df = (spark.createDataFrame(
            rows, "fid long, ts string, xmin double, ymin double, "
                  "xmax double, ymax double")
            .withColumn("ts", F.to_timestamp("ts")))
        # window spanning two day-bins
        got = sorted(r.fid for r in xz3_bbox_during(
            df, (39, 59, 60, 62),
            ("2020-12-07 00:00:00", "2020-12-08 23:59:59"),
            period="day").collect())
        want = sorted(i for i in range(12) if (i % 3) in (0, 1))
        assert got == want

    def test_calendar_periods_rejected(self, spark):
        from geomesa_spark.operators.footprints import with_xz3
        df = spark.range(1).selectExpr(
            "0.0 xmin", "0.0 ymin", "1.0 xmax", "1.0 ymax",
            "timestamp('2020-01-01') ts")
        with pytest.raises(ValueError, match="fixed-width"):
            with_xz3(df, "xmin", "ymin", "xmax", "ymax", "ts",
                     period="month")


class TestPredicatePushdown:
    """SparkSQLDataTest pushdown assertions (geomesa-spark-sql .../
    SparkSQLDataTest.scala:217-346) re-expressed for the parquet layout:
    attribute comparisons, IN lists, and timestamp filters must reach the
    scan as PushedFilters; a UDF (st_*) predicate must not prevent the
    non-UDF conjuncts from pushing down."""

    @pytest.fixture(scope="class")
    def indexed(self, spark, sf_dir, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("pushdown") / "ev")
        write_indexed(geo_events(spark, sf_dir), path, period="day",
                      id_col="event_id")
        return read_indexed(spark, path)

    @staticmethod
    def _pushed(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan
        return plan.split("PushedFilters")[1][:400]

    def test_comparison_pushdown(self, indexed):
        pushed = self._pushed(indexed.where(F.col("value") > 500.0))
        assert "value" in pushed and "GreaterThan" in pushed

    def test_in_list_pushdown(self, indexed):
        pushed = self._pushed(
            indexed.where(F.col("event_type").isin("a", "b", "c")))
        assert "event_type" in pushed and "In" in pushed

    def test_timestamp_pushdown(self, indexed):
        pushed = self._pushed(indexed.where(
            F.col("ts").between("2024-01-01", "2024-01-08")))
        assert "ts" in pushed

    def test_udf_conjunct_does_not_block_pushdown(self, spark, indexed):
        # st_* predicates evaluate post-scan (python/JVM UDF), but the
        # native conjuncts alongside them must still push down
        from geomesa_spark.functions.st_functions import register
        register(spark)
        df = indexed.where(
            (F.col("value") > 500.0)
            & F.expr("st_contains(st_geomFromWKT('POLYGON ((40 20, 50 20, "
                     "50 30, 40 30, 40 20))'), st_makePoint(lon, lat))"))
        pushed = self._pushed(df)
        assert "value" in pushed and "GreaterThan" in pushed


@pytest.mark.parametrize("period", ["day", "week"])
def test_xz3_random_exactness(spark, period):
    """Randomized cover-property check for both fixed-width periods: the
    XZ3 prefilter + exact recheck must equal the brute-force filter on
    random footprints and a random-ish query window (seeded)."""
    import random
    from geomesa_spark.operators.footprints import xz3_bbox_during
    r = random.Random(42)
    rows = []
    for i in range(300):
        x = r.uniform(-170, 160)
        y = r.uniform(-80, 70)
        day = r.randint(1, 27)
        rows.append((i, f"2021-03-{day:02d} {r.randint(0, 23):02d}:15:00",
                     x, y, x + r.uniform(0, 8), y + r.uniform(0, 8)))
    df = (spark.createDataFrame(
        rows, "fid long, ts string, xmin double, ymin double, "
              "xmax double, ymax double")
        .withColumn("ts", F.to_timestamp("ts")))
    bbox = (-40.0, -30.0, 25.0, 35.0)
    lo, hi = "2021-03-05 12:00:00", "2021-03-19 06:00:00"
    got = sorted(r_.fid for r_ in xz3_bbox_during(
        df, bbox, (lo, hi), period=period).collect())
    want = sorted(
        i for i, (fid, ts, xmin, ymin, xmax, ymax) in enumerate(rows)
        if xmax >= bbox[0] and xmin <= bbox[2]
        and ymax >= bbox[1] and ymin <= bbox[3]
        and lo <= ts <= hi)
    assert got == want


def test_s2_pruning_random_exactness(spark, tmp_path_factory):
    """Randomized cover-property check for SpatialQuery's s2 range
    pruning: pruned scan + exact lon/lat recheck must equal the plain
    bbox filter on random points (seeded)."""
    import random
    from geomesa_spark.plans.query import SpatialQuery
    r = random.Random(7)
    rows = [(i, r.uniform(-179, 179), r.uniform(-85, 85),
             f"2022-06-{r.randint(1, 28):02d} 12:00:00")
            for i in range(500)]
    df = (spark.createDataFrame(
        rows, "fid long, lon double, lat double, ts string")
        .withColumn("ts", F.to_timestamp("ts")))
    path = str(tmp_path_factory.mktemp("s2rand") / "pts")
    write_indexed(df, path, period="week", id_col="fid", cell="s2")
    indexed = read_indexed(spark, path)
    bbox = (-60.0, -20.0, 45.0, 55.0)
    q = SpatialQuery(bbox=bbox, s2_col="s2")
    got = sorted(r_.fid for r_ in q.apply(indexed).select("fid").collect())
    want = sorted(i for i, (fid, lon, lat, ts) in enumerate(rows)
                  if bbox[0] <= lon <= bbox[2] and bbox[1] <= lat <= bbox[3])
    assert got == want


def test_ensure_indexed_writes_once(spark, tmp_path):
    """ensure_indexed reuses a layout whose manifest matches the request
    (write_ivf_index pattern: the layout is built at ingest, not per
    query) and rewrites when any shaping parameter differs."""
    import os
    from geomesa_spark.sources.layout import ensure_indexed
    df = spark.createDataFrame(
        [(i, 10.0 + i * 0.01, 20.0, "2024-03-04 00:00:00") for i in range(50)],
        "event_id long, lon double, lat double, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    path = str(tmp_path / "lay")

    out1 = ensure_indexed(df, path, period="week")
    t1 = max(os.path.getmtime(os.path.join(r, f))
             for r, _, fs in os.walk(path) for f in fs)
    out2 = ensure_indexed(df, path, period="week")   # manifest match -> reuse
    t2 = max(os.path.getmtime(os.path.join(r, f))
             for r, _, fs in os.walk(path) for f in fs)
    assert t2 == t1
    assert out2.count() == out1.count() == 50

    ensure_indexed(df, path, period="day")           # param change -> rewrite
    t3 = max(os.path.getmtime(os.path.join(r, f))
             for r, _, fs in os.walk(path) for f in fs)
    assert t3 > t1

    # a manifest whose time column does not record the period (a layout
    # written before it was recorded) -> rewrite, so the period is readable
    import json

    from geomesa_spark.sources.layout import MANIFEST, _write_text
    m = read_manifest(spark, path)
    for f in m["schema"]["fields"]:
        f["metadata"] = {}
    _write_text(spark, f"{path}/{MANIFEST}", json.dumps(m))
    out4 = ensure_indexed(df, path, period="day")
    t4 = max(os.path.getmtime(os.path.join(r, f))
             for r, _, fs in os.walk(path) for f in fs)
    assert t4 > t3
    assert out4.schema["ts"].metadata == {"time_bin_period": "day"}


def test_ensure_indexed_rewrites_on_salt_key_or_partition_change(spark, tmp_path):
    """The manifest match covers the salt key and the partition count: a
    different id_col (salted layout) or target_partitions rewrites the
    layout instead of reusing one salted or split differently."""
    from geomesa_spark.functions.cell_functions import salt_col
    from geomesa_spark.sources.layout import ensure_indexed
    df = spark.range(0, 200, 1, 2).selectExpr(
        "id AS fid", "id * 7 % 200 AS alt", "-50e0 + id * 0.5e0 AS lon",
        "10e0 + id * 0.1e0 AS lat")
    path = str(tmp_path / "lay")

    def salts_by(key):
        got = ensure_indexed(df, path, ts_col="none", id_col=key, n_salts=4,
                             target_partitions=4)
        want = df.select("fid", salt_col(F.col(key), 4).alias("s"))
        return got.select("fid", F.col("salt").alias("s")) \
            .exceptAll(want).count() == 0

    assert salts_by("fid")
    assert read_manifest(spark, path)["salt_key"] == "fid"
    assert salts_by("alt")                     # different id_col -> rewrite
    assert read_manifest(spark, path)["salt_key"] == "alt"

    ensure_indexed(df, path, ts_col="none", id_col="alt", n_salts=4,
                   target_partitions=3)        # different count -> rewrite
    assert read_manifest(spark, path)["target_partitions"] == 3
    assert len(glob.glob(f"{path}/time_bin=0/part-*.parquet")) == 3


def _layout_frame(spark, n=400):
    return spark.range(0, n, 1, 4).selectExpr(
        "id AS fid", "format_string('n%04d', id) AS name",
        "-179e0 + (id * 7919 % 400) * 0.895e0 AS lon",
        "-89e0 + (id * 104729 % 400) * 0.445e0 AS lat",
        "timestamp_seconds(1600000000 + id * 86400) AS ts")


@pytest.mark.parametrize("kw", [{"cell": "z2"}, {"cell": "s2"}, {"cell": "geohash"},
                                {"cell": "z2", "id_col": "fid", "n_salts": 4}],
                         ids=["z2", "s2", "geohash", "salted"])
def test_read_indexed_uses_recorded_schema(spark, tmp_path, count_jobs, kw):
    """read_indexed reads with the manifest's schema: it runs no Spark job
    (no schema inference) and yields exactly the schema the reader would
    infer — names, types, order and nullability.  (File listing stays on
    the driver while a layout has at most 32 time bins, Spark's
    parallelPartitionDiscovery threshold.)"""
    path = str(tmp_path / "lay")
    write_indexed(_layout_frame(spark), path, period="month", **kw)
    assert count_jobs(lambda: read_indexed(spark, path)) == 0
    assert read_indexed(spark, path).schema == spark.read.parquet(path).schema
    assert read_indexed(spark, path).count() == 400


def test_appended_layout_records_superset_schema(spark, tmp_path, count_jobs):
    """After an append with a new column the recorded schema equals the
    footer-merged one and still reads without a job; a manifest without a
    schema (written before the schema was recorded) falls back to
    inference and still surfaces the new column."""
    import json

    from geomesa_spark.sources.layout import MANIFEST, _write_text, append_indexed
    path = str(tmp_path / "lay")
    df = _layout_frame(spark)
    write_indexed(df.where("fid < 300"), path, period="month", id_col="fid",
                  n_salts=2)
    append_indexed(df.where("fid >= 300").withColumn("quality", F.lit(0.5))
                   .select("quality", *df.columns), path)
    merged = spark.read.option("mergeSchema", "true").parquet(path).schema
    assert count_jobs(lambda: read_indexed(spark, path)) == 0
    assert read_indexed(spark, path).schema == merged
    assert merged.names[-2:] == ["quality", "time_bin"]

    m = read_manifest(spark, path)
    del m["schema"]
    _write_text(spark, f"{path}/{MANIFEST}", json.dumps(m))
    legacy = read_indexed(spark, path)
    assert legacy.schema == merged
    assert legacy.where("quality IS NULL").count() == 300
    assert legacy.where("quality = 0.5").count() == 100


def test_polygon_query_over_layout_runs_one_job(spark, tmp_path, count_jobs):
    """From read_indexed to collect(), a polygon SpatialQuery with its z2
    range predicate runs exactly one Spark job: no schema-inference job."""
    from geomesa_spark.plans.query import SpatialQuery
    path = str(tmp_path / "lay")
    write_indexed(_layout_frame(spark), path, period="month")
    ring = "POLYGON ((-60 -40, 40 -45, 50 30, -20 60, -60 -40))"
    rows = []
    assert count_jobs(lambda: rows.extend(
        SpatialQuery(geometry=ring, z2_col="z2")
        .apply(read_indexed(spark, path)).collect())) == 1
    assert rows


def test_range_predicates_match_per_range_columns(spark):
    """The one-expression z2/s2 range predicates select the same rows as
    the OR of one Column.between per range: seeded random boxes, the world
    box and boxes touching the antimeridian and the poles."""
    import random
    from functools import reduce

    from geomesa_spark.cells.s2 import S2SFC
    from geomesa_spark.functions.cell_functions import s2_col, z2_col
    from geomesa_spark.plans.cover import (s2_range_predicate, z2_range_predicate,
                                           z2_ranges)
    r = random.Random(5)
    boxes = [(-180.0, -90.0, 180.0, 90.0), (170.0, 80.0, 180.0, 90.0),
             (-180.0, -90.0, -170.0, -80.0), (-180.0, -10.0, 180.0, 10.0),
             (179.5, -90.0, 180.0, 90.0), (-1.0, 89.0, 1.0, 90.0)]
    for _ in range(14):
        x0, x1 = sorted(r.uniform(-180, 180) for _ in range(2))
        y0, y1 = sorted(r.uniform(-90, 90) for _ in range(2))
        boxes.append((x0, y0, x1, y1))
    pts = [(r.uniform(-180, 180), r.uniform(-90, 90)) for _ in range(1500)]
    pts += [(b[i], b[j]) for b in boxes for i in (0, 2) for j in (1, 3)]
    df = (spark.createDataFrame([(i, x, y) for i, (x, y) in enumerate(pts)],
                                "id long, lon double, lat double")
          .withColumn("z2", z2_col(F.col("lon"), F.col("lat")))
          .withColumn("s2", s2_col(F.col("lon"), F.col("lat"))))

    def per_range(col, ranges):
        return reduce(lambda a, b: a | b,
                      [F.col(col).between(q.lower, q.upper) for q in ranges])

    cols = []
    for i, b in enumerate(boxes):
        cols += [z2_range_predicate("z2", [b]).alias(f"z{i}"),
                 per_range("z2", z2_ranges([b], max_ranges=64)).alias(f"zc{i}"),
                 s2_range_predicate("s2", [b]).alias(f"s{i}"),
                 per_range("s2", S2SFC(max_cells=16).ranges([b])).alias(f"sc{i}")]
    got = df.select("lon", "lat", *cols).toPandas()
    for i, b in enumerate(boxes):
        for one, per in ((f"z{i}", f"zc{i}"), (f"s{i}", f"sc{i}")):
            assert (got[one] == got[per]).all(), (b, one)
        # the cover property: every point in the box passes both
        inside = got.lon.between(b[0], b[2]) & got.lat.between(b[1], b[3])
        assert inside.any() and got[f"z{i}"][inside].all() \
            and got[f"s{i}"][inside].all(), b
