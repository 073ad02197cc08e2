"""Tests of the benchmark's own arithmetic on tiny inputs: the oracles, the
seeded inputs, percentiles, self time, Spark metric parsing and the
traced run's least rounds. No Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import measure  # noqa: E402
import oracles  # noqa: E402
import workloads  # noqa: E402

SQUARE = np.array([[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]])


def test_convex_ring_is_boundary_inclusive():
    x = np.array([1.0, 0.0, 2.0, 1.0, 3.0, -0.5])
    y = np.array([1.0, 0.0, 1.0, 2.0, 1.0, 1.0])
    assert oracles.in_convex_ring(x, y, SQUARE).tolist() == [True, True, True, True, False, False]


def test_pip_pairs_match_brute_force():
    rng = np.random.default_rng(0)
    lon, lat = rng.uniform(-180, 180, 5000), rng.uniform(-90, 90, 5000)
    rings = [inputs.circle(10.0, 5.0, 20.0, 32), inputs.circle(20.0, 0.0, 15.0, 32)]
    pts, polys = oracles.pip_pairs(lon, lat, rings)
    want = {(i, k) for k, r in enumerate(rings)
            for i in np.nonzero(oracles.in_convex_ring(lon, lat, r))[0]}
    assert set(zip(pts.tolist(), polys.tolist())) == want
    assert len(want) > 100


def test_pyramid_counts_and_fingerprint():
    lon = np.array([-180.0, -180.0, 0.0, 179.999999, 180.0])
    lat = np.array([-90.0, -90.0, 0.0, 89.9, 90.0])
    pyr = oracles.pyramid(lon, lat)
    # zoom 0 is a 256 x 256 grid: the two edge points at 180/90 clamp into
    # the last pixel together with the point just inside it
    assert pyr[0][:2] == (3, 5)
    assert pyr[8][:2] == (4, 5)
    assert all(v[1] == len(lon) for v in pyr.values())
    gx, gy, cnt = np.array([0, 128, 255]), np.array([0, 128, 255]), np.array([2, 1, 2])
    assert pyr[0][2] == oracles.fingerprint(gx, gy, cnt)


def test_check_pyramid_names_the_wrong_zoom():
    exp = {0: (3, 5, 10), 2: (4, 5, 11)}
    assert oracles.check_pyramid(dict(exp), exp) == []
    errs = oracles.check_pyramid({0: (3, 5, 10), 2: (4, 5, 12)}, exp)
    assert len(errs) == 1 and errs[0].startswith("zoom 2")


def _table():
    return {"id": np.arange(100, 106), "lon": np.array([0.0, 1.0, 2.0, 3.0, 1.0, 1.0]),
            "lat": np.array([0.0, 1.0, 2.0, 3.0, 1.0, 1.0]),
            "ts": np.array([10, 20, 30, 40, 10, 30]), "w": np.array([16, 32, 48, 64, 32, 16])}


def test_bbox_interval_is_inclusive_and_during_is_exclusive():
    a = _table()
    assert oracles.bbox_ids(a, (0.0, 0.0, 2.0, 2.0), (10, 30)).tolist() == [100, 101, 102, 104, 105]
    ring = inputs.circle(1.0, 1.0, 1.5, 12)
    assert oracles.ecql_ids(a, ring, (10, 30), 32).tolist() == [101]


def test_check_ids():
    assert oracles.check_ids([3, 1, 2], np.array([1, 2, 3])) == []
    assert oracles.check_ids([1, 2], np.array([1, 2, 3])) == ["2 rows, expected 3"]
    assert oracles.check_ids([1, 2, 4], np.array([1, 2, 3])) == ["1 of 3 ids differ"]


def test_knn_check_accepts_the_answer_and_rejects_a_wrong_rank():
    a = inputs.image_arrays(1000, 2000)
    point = (12.5, -3.0)
    ids, _d = oracles.knn(a, point, 5)
    good = [(int(i), r + 1) for r, i in enumerate(ids)]
    assert oracles.check_knn(good, a, point, 5) == []
    swapped = [(good[1][0], 1), (good[0][0], 2)] + good[2:]
    assert oracles.check_knn(swapped, a, point, 5)
    assert oracles.check_knn(good[:4], a, point, 5)


def test_table_checksum_is_order_insensitive():
    a = inputs.image_arrays(5, 50)
    perm = np.random.default_rng(1).permutation(50)
    b = {k: v[perm] for k, v in a.items()}
    assert oracles.table_checksum(a) == oracles.table_checksum(b)
    b["lat"] = b["lat"].copy()
    b["lat"][0] += 180.0 / 1048576.0
    assert oracles.table_checksum(a) != oracles.table_checksum(b)


def test_image_rows_sit_on_the_grid():
    a = inputs.image_arrays(inputs.id_offset(inputs.DEFAULT_SEED), 1000)
    kx = (a["lon"] + 180.0) / 360.0 * 1048576.0
    assert np.array_equal(kx, np.floor(kx))
    assert a["lon"].min() >= -180.0 and a["lat"].max() < 90.0
    assert np.all((a["ts"] >= inputs.TS_BASE) & (a["ts"] < inputs.TS_BASE + inputs.TS_SPAN))


def test_inputs_are_seeded():
    for fn in (inputs.pip_polygons, lambda s: inputs.query_stream(s, 8)):
        one, again, other = fn(1), fn(1), fn(2)
        assert repr(one) == repr(again) and repr(one) != repr(other)
    assert inputs.id_offset(1) != inputs.id_offset(inputs.HELD_OUT_SEED)


def test_polygons_and_queries_are_well_formed():
    for ring in inputs.pip_polygons(inputs.HELD_OUT_SEED):
        assert ring.shape == (inputs.POLY_VERTICES + 1, 2)
        assert ring[:, 0].min() >= -180 and ring[:, 0].max() <= 180
        assert ring[:, 1].min() >= -90 and ring[:, 1].max() <= 90
    stream = inputs.query_stream(3, 8)
    assert [q.kind for q in stream] == list(inputs.QUERY_TYPES) * 2
    for q in stream:
        if q.interval is not None:
            assert q.interval[0] < q.interval[1]
            assert q.interval_sql[0].count(":") == 2 and q.interval_iso[0].endswith("Z")


def test_ring_wkt_round_trips_exactly():
    ring = inputs.pip_polygons(1)[0]
    body = inputs.ring_wkt(ring)[len("POLYGON(("):-2]
    back = np.array([[float(v) for v in p.split()] for p in body.split(", ")])
    assert np.array_equal(back, ring)


@pytest.mark.parametrize("n, want", [(5, None), (19, None), (20, (50, 9.0)),
                                     (40, (75, 29.0)), (100, (90, 89.0))])
def test_tail_leaves_ten_samples_beyond(n, want):
    values = [float(v) for v in range(n)]
    assert measure.tail(values) == want
    if want:
        assert sum(v > want[1] for v in values) >= 10


def test_self_time_subtracts_covered_child_time():
    spans = [
        {"id": 0, "layer": "bench", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "layer": "plans.query", "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "layer": "spark.action", "parent": 0, "start": 2.0, "end": 6.0},
        {"id": 3, "layer": "plans.query", "parent": 2, "start": 4.0, "end": 5.0},
    ]
    st = measure.self_times(spans)
    assert st["bench"] == pytest.approx(10.0 - 5.0)     # children cover 1..6
    assert st["plans.query"] == pytest.approx(2.0 + 1.0)
    assert st["spark.action"] == pytest.approx(4.0 - 1.0)


def test_tracer_records_parents_and_op_ids():
    tr = measure.Tracer(True)
    with tr.span("q", "bench", "op1"):
        with tr.span("apply", "plans.query"):
            pass
    assert [(s["name"], s["parent"], s["op"]) for s in tr.spans] == \
        [("q", None, "op1"), ("apply", 0, "op1")]
    off = measure.Tracer(False)
    with off.span("q", "bench", "op1"):
        pass
    assert off.spans == []


@pytest.mark.parametrize("text, want", [
    ("116,903", 116903.0), ("20.2 MiB", 20.2 * 2 ** 20), ("0 ms", 0.0),
    ("total (min, med, max (stageId: taskId))\n6.4 s (711 ms, 1.9 s, 2.0 s (stage 1.0: task 2))",
     6400.0),
    ("832.0 B", 832.0)])
def test_parse_metric(text, want):
    assert measure.parse_metric(text) == pytest.approx(want)


def test_traced_run_has_samples_enough_for_the_query_tail():
    class TracedRun:
        traced, seconds = True, 0.0

        def set_cpus(self, n):
            pass

    times, cpu = workloads._measure(TracedRun(), lambda i, c: (0.01, 0.02),
                                    workloads.TRACED_QUERY_ROUNDS)
    assert measure.tail([0.0] * len(times[4]) * len(inputs.QUERY_TYPES)) is not None
    assert len(times[2]) == len(times[4]) == len(cpu)


def test_snapshot_covers_both_seeds_and_workloads():
    with open(os.path.join(HERE, "snapshot.json")) as f:
        snap = json.load(f)
    for seed in (inputs.DEFAULT_SEED, inputs.HELD_OUT_SEED):
        assert set(snap[str(seed)]) == {"pipeline", "query"}
