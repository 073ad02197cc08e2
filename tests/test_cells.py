"""Golden-value tests for the SFC cell library.

Expected constants are ported row-for-row from the reference test suites:
- geomesa-z3/src/test/.../zorder/sfcurve/Z2Test.scala:20-72 (interleave,
  Tropf/Herzog and Wikipedia zdivide examples)
- geomesa-z3/src/test/.../zorder/sfcurve/Z3Test.scala
- geomesa-z3/src/test/.../curve/XZ2SFCTest.scala:19-120
- geomesa-z3/src/test/.../curve/BinnedTimeTest.scala (round-trips)
- geomesa-z3/src/test/.../curve/NormalizedDimensionTest.scala (boundaries)
"""

import numpy as np
import pytest

from geomesa_spark.cells import zn
from geomesa_spark.cells.grid import (cell_bounds, cell_id, cell_xy, cover_bbox,
                                      disk, from_xy, ring)
from geomesa_spark.cells.xz import XZ2SFC
from geomesa_spark.cells.z3 import BinnedTime
from geomesa_spark.cells.zn import (Z2, Z2SFC, Z3, Z3SFC, NormalizedLat,
                                    NormalizedLon)


class TestZ2:
    def test_interlaces_bits(self):
        assert Z2.encode(1, 0) == 1
        assert Z2.encode(2, 0) == 4
        assert Z2.encode(3, 0) == 5
        assert Z2.encode(0, 1) == 2
        assert Z2.encode(0, 2) == 8
        assert Z2.encode(0, 3) == 10

    def test_deinterlaces_bits(self):
        imax = 2**31 - 1
        assert Z2.decode(Z2.encode(23, 13)) == (23, 13)
        assert Z2.decode(Z2.encode(imax, 0)) == (imax, 0)
        assert Z2.decode(Z2.encode(0, imax)) == (0, imax)
        assert Z2.decode(Z2.encode(imax, imax)) == (imax, imax)

    def test_tropf_herzog_example(self):
        rmin, rmax, p = Z2.encode(5, 3), Z2.encode(10, 5), Z2.encode(4, 7)
        assert (rmin, rmax, p) == (27, 102, 58)
        litmax, bigmin = zn.zdivide(p, rmin, rmax, dims=2)
        assert (litmax, bigmin) == (55, 74)

    def test_wikipedia_example(self):
        rmin, rmax, p = Z2.encode(2, 2), Z2.encode(3, 6), Z2.encode(5, 1)
        assert (rmin, rmax, p) == (12, 45, 19)
        litmax, bigmin = zn.zdivide(p, rmin, rmax, dims=2)
        assert (litmax, bigmin) == (15, 36)

    def test_numpy_matches_scalar(self):
        rng = np.random.RandomState(42)
        x = rng.randint(0, 2**31 - 1, 1000)
        y = rng.randint(0, 2**31 - 1, 1000)
        z_np = Z2.encode_np(x.astype(np.uint64), y.astype(np.uint64))
        for i in range(0, 1000, 97):
            assert int(z_np[i]) == Z2.encode(int(x[i]), int(y[i]))
        dx, dy = Z2.decode_np(z_np)
        np.testing.assert_array_equal(dx.astype(np.int64), x)
        np.testing.assert_array_equal(dy.astype(np.int64), y)


class TestZ2SFC:
    sfc = Z2SFC(31)

    def test_whole_world_endpoints(self):
        # from Z2Test.scala:74+ maxRanges fixtures
        assert self.sfc.index(-180, -90) == 0
        assert self.sfc.index(180, 90) == 4611686018427387903  # 2^62 - 1

    def test_fixture_endpoints(self):
        # exact z endpoints from Z2Test.scala maxRanges fixtures (note: the
        # reference test's inline comments swap two rows; values verified
        # against the actual constants in the ZRange list)
        assert self.sfc.index(-90, -45) == 864691128455135232
        assert self.sfc.index(35, 65) == 4105065703422263800
        assert self.sfc.index(90, 45) == 4323455642275676160
        assert self.sfc.index(45, 75) == 4261005727442805282
        assert self.sfc.index(35, 55) == 4069591195588206970
        assert self.sfc.index(40, 70) == 4203729178335734358
        assert self.sfc.index(51.0, 51.0) == 4117455696967246884
        assert self.sfc.index(51.0000001, 51.0000001) == 4117455696967246886
        # round-trip: invert(index(x,y)) lands within one bin of the input
        for x, y in [(35.0, 65.0), (45.0, 75.0), (-90.0, -45.0), (51.0, 51.0), (0.0, 0.0)]:
            ix, iy = self.sfc.invert(self.sfc.index(x, y))
            assert abs(ix - x) < 1e-6 and abs(iy - y) < 1e-6

    def test_max_ranges_bounded(self):
        fixtures = [
            (-180.0, -90.0, 180.0, 90.0),
            (35.0, 65.0, 45.0, 75.0),
            (-90.0, -45.0, 90.0, 45.0),
            (35.0, 55.0, 45.0, 75.0),
            (35.0, 65.0, 37.0, 68.0),
            (39.999, 60.999, 40.001, 61.001),
            (51.0, 51.0, 51.1, 51.1),
            (51.0, 51.0, 51.0000001, 51.0000001),
        ]
        for box in fixtures:
            ranges = self.sfc.ranges([box], max_ranges=1000)
            assert 1 <= len(ranges) <= 1000

    def test_ranges_cover_points_inside(self):
        box = (35.0, 65.0, 45.0, 75.0)
        ranges = self.sfc.ranges([box], max_ranges=1000)
        rng = np.random.RandomState(7)
        xs = rng.uniform(35, 45, 200)
        ys = rng.uniform(65, 75, 200)
        for x, y in zip(xs, ys):
            z = self.sfc.index(float(x), float(y))
            assert any(r.lower <= z <= r.upper for r in ranges), (x, y)

    def test_out_of_bounds(self):
        with pytest.raises(ValueError):
            self.sfc.index(-181, 0)
        assert self.sfc.index(-181, 0, lenient=True) == self.sfc.index(-180, 0)



class TestZGoldens:
    """The one Z curve against literal outputs of the separate Z2/Z3
    implementations it replaced (tests/data/z_goldens.json): index, index_np
    and invert of the reference fixtures, seeded random points and the
    lon/lat edges, lenient clamping with its error texts, Z3 at every
    period, and the range covers of the TestZ2SFC/TestZ3SFC windows at
    max_ranges None and 64."""

    @pytest.fixture(scope="class")
    def gold(self):
        import json
        import pathlib
        path = pathlib.Path(__file__).parent / "data" / "z_goldens.json"
        return json.loads(path.read_text())

    @staticmethod
    def _ranges(rs):
        return [[r.lower, r.upper, int(r.contained)] for r in rs]

    def test_z2_index_invert(self, gold):
        g, sfc = gold["z2"], Z2SFC()
        pts = [tuple(p) for p in g["points"]]
        assert [sfc.index(x, y) for x, y in pts] == g["index"]
        assert [list(sfc.invert(z)) for z in g["index"]] == g["invert"]
        assert [Z2SFC(16).index(x, y) for x, y in pts[:40]] == g["precision_16"]
        out = [tuple(p) for p in g["out_of_bounds"]]
        assert [sfc.index(x, y, lenient=True) for x, y in out] == g["lenient"]
        for (x, y), msg in zip(out, g["errors"]):
            with pytest.raises(ValueError) as e:
                sfc.index(x, y)
            assert str(e.value) == msg
        xs, ys = np.array(pts + out).T
        assert sfc.index_np(xs, ys).tolist() == g["index_np"]

    def test_z2_ranges(self, gold):
        g, sfc = gold["z2"], Z2SFC()
        windows = [tuple(w) for w in g["windows"]]
        assert [self._ranges(sfc.ranges([w])) for w in windows] == g["ranges_none"]
        assert [self._ranges(sfc.ranges([w], max_ranges=64))
                for w in windows] == g["ranges_64"]
        assert self._ranges(sfc.ranges(windows[1:4], max_ranges=64)) == g["ranges_multi_64"]

    @pytest.mark.parametrize("period", ["day", "week", "month", "year"])
    def test_z3_index_invert(self, gold, period):
        g, sfc = gold["z3"][period], Z3SFC(period)
        pts = [tuple(p) + (t,) for p, t in zip(gold["z2"]["points"], g["t"])]
        assert [sfc.index(*p) for p in pts] == g["index"]
        assert [list(sfc.invert(z)) for z in g["index"]] == g["invert"]
        out = [tuple(p) for p in g["out_of_bounds"]]
        assert [sfc.index(*p, lenient=True) for p in out] == g["lenient"]
        for p, msg in zip(out, g["errors"]):
            with pytest.raises(ValueError) as e:
                sfc.index(*p)
            assert str(e.value) == msg
        xs, ys, ts = np.array(pts + out).T
        assert sfc.index_np(xs, ys, ts.astype(np.int64)).tolist() == g["index_np"]

    @pytest.mark.parametrize("period", ["day", "week", "month", "year"])
    def test_z3_ranges(self, gold, period):
        g, sfc = gold["z3"][period], Z3SFC(period)
        windows = [tuple(w) for w in gold["z3_windows"]]
        times = [tuple(t) for t in g["times"]]
        assert [[self._ranges(sfc.ranges([w], [t], max_ranges=64)) for t in times]
                for w in windows] == g["ranges_64"]
        want = [self._ranges(sfc.ranges([windows[1]], [t])) for t in times]
        if period == "week":   # the TestZ3SFC window over the whole week
            want.append(self._ranges(sfc.ranges([windows[0]], times[:1])))
        assert want == g["ranges_none"]

    def test_precision_errors(self, gold):
        errors = []
        for make in (lambda: Z2SFC(0), lambda: Z2SFC(32), lambda: Z3SFC("week", 22)):
            with pytest.raises(ValueError) as e:
                make()
            errors.append(str(e.value))
        assert errors == gold["precision_errors"]

    def test_normalize_clamps_below_the_upper_bound(self):
        """Just below the upper bound the floor can round up to 2^p: the
        scalar and numpy paths clamp it to the last bin, as z2_col does,
        instead of letting the spread mask wrap it to bin 0."""
        x = np.nextafter(180.0, 0.0)
        for p in (21, 31):
            dim = NormalizedLon(p)
            assert np.floor((x - dim.min) * dim.normalizer) == dim.bins
            assert dim.normalize(x) == dim.max_index
            assert dim.normalize_np(np.array([x])).tolist() == [dim.max_index]
        assert Z2SFC().index(x, 0.0) == Z2SFC().index(180.0, 0.0)

    def test_split_combine_match_table(self):
        """split/combine on ints and uint64 arrays agree, for every value
        width and with values wider than the table's bits masked off."""
        from geomesa_spark.cells.zn import SPREAD, combine, split
        rng = np.random.default_rng(5)
        for d, (bits, _) in SPREAD.items():
            v = rng.integers(0, 1 << 40, 500, dtype=np.uint64)
            s = split(v, d)
            assert s.dtype == np.uint64
            assert s.tolist() == [split(int(x), d) for x in v]
            assert combine(s, d).tolist() == (v & np.uint64((1 << bits) - 1)).tolist()
            assert [combine(int(x), d) for x in s] == combine(s, d).tolist()
            assert (s & ~np.uint64(SPREAD[d][1][-1][1])).max() == 0

class TestZ3:
    def test_interlaces(self):
        assert Z3.encode(1, 0, 0) == 1
        assert Z3.encode(0, 1, 0) == 2
        assert Z3.encode(0, 0, 1) == 4
        assert Z3.encode(1, 1, 1) == 7

    def test_decode(self):
        assert Z3.decode(Z3.encode(23, 13, 200)) == (23, 13, 200)
        imax = 2**31 - 1
        assert Z3.decode(Z3.encode(imax, 0, 0)) == (2097151, 0, 0)  # 21-bit mask
        assert Z3.decode(Z3.encode(imax, 0, imax)) == (2097151, 0, 2097151)

    def test_numpy_matches_scalar(self):
        rng = np.random.RandomState(1)
        x = rng.randint(0, 2**21 - 1, 500)
        y = rng.randint(0, 2**21 - 1, 500)
        t = rng.randint(0, 2**21 - 1, 500)
        z = Z3.encode_np(x.astype(np.uint64), y.astype(np.uint64), t.astype(np.uint64))
        for i in range(0, 500, 41):
            assert int(z[i]) == Z3.encode(int(x[i]), int(y[i]), int(t[i]))


class TestZ3SFC:
    def test_query_ranges_cover_index(self):
        sfc = Z3SFC("week")
        # a point + time inside a queried box must fall in the cover
        t_offset = 3 * 86400 * 1000  # 3 days into the week, in millis
        bt = BinnedTime.to_binned_time(1000 * WEEK_SECONDS * 52 + t_offset, "week")
        z = sfc.index(10.0, 10.0, bt.offset)
        ranges = sfc.ranges([(5.0, 5.0, 15.0, 15.0)], [(0, BinnedTime.max_offset("week"))],
                            max_ranges=2000)
        assert any(r.lower <= z <= r.upper for r in ranges)

    def test_time_bounds(self):
        sfc = Z3SFC("week")
        assert sfc.time.max == float(BinnedTime.max_offset("week"))


WEEK_SECONDS = 7 * 86400


class TestBinnedTime:
    @pytest.mark.parametrize("period", ["day", "week", "month", "year"])
    def test_round_trip(self, period):
        rng = np.random.RandomState(574)
        for _ in range(25):
            millis = int(rng.randint(0, 2**31)) * 1000  # second precision
            if period == "year":
                millis = (millis // 60000) * 60000  # minute precision for year bins
            bt = BinnedTime.to_binned_time(millis, period)
            assert BinnedTime.from_binned_time(bt, period) == millis

    def test_day_millis(self):
        bt = BinnedTime.to_binned_time(86400000 + 123, "day")
        assert bt.bin == 1 and bt.offset == 123

    def test_month_bins(self):
        # 2020-12-15T00:00:00Z = 1607990400000 ms; months since epoch = 50*12+11
        bt = BinnedTime.to_binned_time(1607990400000, "month")
        assert bt.bin == (2020 - 1970) * 12 + 11

    def test_max_offsets(self):
        assert BinnedTime.max_offset("day") == 86400000
        assert BinnedTime.max_offset("week") == WEEK_SECONDS
        assert BinnedTime.max_offset("month") == 86400 * 31
        assert BinnedTime.max_offset("year") == 1440 * 366 + 10


class TestNormalizedDimension:
    def test_boundaries(self):
        for dim in (NormalizedLon(31), NormalizedLat(31), NormalizedLon(21)):
            assert dim.normalize(dim.min) == 0
            assert dim.normalize(dim.max) == dim.max_index
            # denormalize is the bin midpoint
            assert dim.min < dim.denormalize(0) < dim.max
            assert dim.normalize(dim.denormalize(0)) == 0
            assert dim.normalize(dim.denormalize(dim.max_index)) == dim.max_index

    def test_numpy_matches_scalar(self):
        dim = NormalizedLon(31)
        xs = np.array([-180.0, -179.999, 0.0, 45.5, 179.999, 180.0])
        expected = [dim.normalize(float(x)) for x in xs]
        np.testing.assert_array_equal(dim.normalize_np(xs).astype(np.int64), expected)


class TestXZ2:
    sfc = XZ2SFC(12)

    poly = None

    def _matches(self, ranges, code):
        return any(r.lower <= code <= r.upper for r in ranges)

    def test_index_polygons_and_query(self):
        code = self.sfc.index(10, 10, 12, 12)
        containing = [(9.0, 9.0, 13.0, 13.0), (-180.0, -90.0, 180.0, 90.0),
                      (0.0, 0.0, 180.0, 90.0), (0.0, 0.0, 20.0, 20.0)]
        overlapping = [(11.0, 11.0, 13.0, 13.0), (9.0, 9.0, 11.0, 11.0),
                       (10.5, 10.5, 11.5, 11.5), (11.0, 11.0, 11.0, 11.0)]
        disjoint = [(-180.0, -90.0, 8.0, 8.0), (0.0, 0.0, 8.0, 8.0),
                    (9.0, 9.0, 9.5, 9.5), (20.0, 20.0, 180.0, 90.0)]
        for bbox in containing + overlapping:
            assert self._matches(self.sfc.ranges([bbox]), code), bbox
        for bbox in disjoint:
            assert not self._matches(self.sfc.ranges([bbox]), code), bbox

    def test_index_points_and_query(self):
        code = self.sfc.index(11, 11, 11, 11)
        containing = [(9.0, 9.0, 13.0, 13.0), (-180.0, -90.0, 180.0, 90.0),
                      (0.0, 0.0, 180.0, 90.0), (0.0, 0.0, 20.0, 20.0)]
        overlapping = [(11.0, 11.0, 13.0, 13.0), (9.0, 9.0, 11.0, 11.0),
                       (10.5, 10.5, 11.5, 11.5), (11.0, 11.0, 11.0, 11.0)]
        disjoint = [(-180.0, -90.0, 8.0, 8.0), (0.0, 0.0, 8.0, 8.0),
                    (9.0, 9.0, 9.5, 9.5), (12.5, 12.5, 13.5, 13.5),
                    (20.0, 20.0, 180.0, 90.0)]
        for bbox in containing + overlapping:
            assert self._matches(self.sfc.ranges([bbox]), code), bbox
        for bbox in disjoint:
            assert not self._matches(self.sfc.ranges([bbox]), code), bbox

    def test_out_of_bounds_raises(self):
        for bbox in [(-180.1, 0.0, -179.9, 1.0), (179.9, 0.0, 180.1, 1.0),
                     (0.0, -90.1, 1.0, -89.9), (0.0, 89.9, 1.0, 90.1),
                     (-181.0, -91.0, 0.0, 0.0), (0.0, 0.0, 181.0, 91.0)]:
            with pytest.raises(ValueError):
                self.sfc.index(*bbox)

    def test_extent_takes_two_mins_and_two_maxes(self):
        # lenient is keyword-only: a fifth value is an error, not a flag
        for call in (lambda: self.sfc.index(10, 10, 12, 12, True),
                     lambda: self.sfc.ranges([(10, 10, 12)]),
                     lambda: self.sfc.index_np(*np.zeros((3, 4)))):
            with pytest.raises(TypeError):
                call()

    def test_numpy_matches_scalar(self):
        rng = np.random.RandomState(3)
        xmin = rng.uniform(-179, 178, 300)
        ymin = rng.uniform(-89, 88, 300)
        xmax = xmin + rng.uniform(0, 1.5, 300)
        ymax = ymin + rng.uniform(0, 1.5, 300)
        codes = self.sfc.index_np(xmin, ymin, xmax, ymax)
        for i in range(0, 300, 23):
            assert int(codes[i]) == self.sfc.index(float(xmin[i]), float(ymin[i]),
                                                   float(xmax[i]), float(ymax[i]))


class TestGridCells:
    def test_pack_unpack(self):
        cid = cell_id(10.0, 20.0, 8)
        res, ix, iy = cell_xy(cid)
        assert res == 8
        xmin, ymin, xmax, ymax = cell_bounds(cid)
        assert xmin <= 10.0 <= xmax and ymin <= 20.0 <= ymax

    def test_ring_wrap_and_clamp(self):
        res = 4
        n = 1 << res
        # antimeridian wrap: cell at ix=0 has a neighbor at ix=n-1
        cid = from_xy(res, 0, n // 2)
        r1 = ring(cid, 1)
        assert from_xy(res, n - 1, n // 2) in r1
        assert len(r1) == 8
        # pole clamp: cell at iy=0 has only 5 ring-1 neighbors
        cid = from_xy(res, 5, 0)
        assert len(ring(cid, 1)) == 5

    def test_disk_size(self):
        cid = from_xy(6, 30, 30)
        assert len(disk(cid, 2)) == 25

    def test_cover_bbox(self):
        cells = cover_bbox(-1.0, -1.0, 1.0, 1.0, 8)
        assert cell_id(0.5, 0.5, 8) in cells
        assert cell_id(-0.5, -0.5, 8) in cells
        for cid in cells:
            xmin, ymin, xmax, ymax = cell_bounds(cid)
            assert xmax >= -1.0 and xmin <= 1.0 and ymax >= -1.0 and ymin <= 1.0


class TestXZ3:
    """Golden behavior ported from the reference XZ3SFCTest.scala
    (geomesa-z3/src/test/scala/.../curve/XZ3SFCTest.scala:20-126)."""

    def _sfc(self):
        from geomesa_spark.cells.xz import XZ3SFC
        return XZ3SFC(12, period="week")

    CONTAINING = [(9.0, 9.0, 900.0, 13.0, 13.0, 1100.0),
                  (-180.0, -90.0, 900.0, 180.0, 90.0, 1100.0),
                  (0.0, 0.0, 900.0, 180.0, 90.0, 1100.0),
                  (0.0, 0.0, 900.0, 20.0, 20.0, 1100.0)]
    OVERLAPPING = [(11.0, 11.0, 900.0, 13.0, 13.0, 1100.0),
                   (9.0, 9.0, 900.0, 11.0, 11.0, 1100.0),
                   (10.5, 10.5, 900.0, 11.5, 11.5, 1100.0),
                   (11.0, 11.0, 900.0, 11.0, 11.0, 1100.0)]
    DISJOINT = [(-180.0, -90.0, 900.0, 8.0, 8.0, 1100.0),
                (0.0, 0.0, 900.0, 8.0, 8.0, 1100.0),
                (9.0, 9.0, 900.0, 9.5, 9.5, 1100.0),
                (20.0, 20.0, 900.0, 180.0, 90.0, 1100.0)]

    def _matches(self, sfc, windows, idx):
        out = []
        for w in windows:
            rs = sfc.ranges([w], max_ranges=10000)
            out.append(any(r.lower <= idx <= r.upper for r in rs))
        return out

    def test_index_polygons_and_query(self):
        sfc = self._sfc()
        poly = sfc.index(10, 10, 1000, 12, 12, 1000)
        assert all(self._matches(sfc, self.CONTAINING + self.OVERLAPPING, poly))
        assert not any(self._matches(sfc, self.DISJOINT, poly))

    def test_index_points_and_query(self):
        sfc = self._sfc()
        pt = sfc.index(11, 11, 1000, 11, 11, 1000)
        assert all(self._matches(sfc, self.CONTAINING + self.OVERLAPPING, pt))
        assert not any(self._matches(sfc, self.DISJOINT, pt))

    def test_out_of_bounds_raises_and_lenient_clamps(self):
        sfc = self._sfc()
        import pytest as _pytest
        with _pytest.raises(ValueError):
            sfc.index(-181.0, 0.0, 0.0, 0.0, 0.0, 10.0)
        assert sfc.index(-181.0, 0.0, 0.0, 0.0, 0.0, 10.0, lenient=True) == \
            sfc.index(-180.0, 0.0, 0.0, 0.0, 0.0, 10.0)

    def test_vectorized_matches_scalar(self):
        import numpy as np
        sfc = self._sfc()
        rng = np.random.default_rng(7)
        xmin = rng.uniform(-180, 170, 200); xmax = xmin + rng.uniform(0, 8, 200)
        ymin = rng.uniform(-90, 80, 200); ymax = ymin + rng.uniform(0, 8, 200)
        zmin = rng.uniform(0, 500000, 200); zmax = zmin + rng.uniform(0, 80000, 200)
        vec = sfc.index_np(xmin, ymin, zmin, xmax, ymax, zmax)
        for i in range(200):
            assert vec[i] == sfc.index(xmin[i], ymin[i], zmin[i],
                                       xmax[i], ymax[i], min(zmax[i], sfc.zhi),
                                       lenient=True)

    def test_sequence_code_is_octal_prefix_order(self):
        sfc = self._sfc()
        # the whole-space query covers every index in one contiguous range
        rs = sfc.ranges([(-180.0, -90.0, 0.0, 180.0, 90.0, sfc.zhi)])
        idx = sfc.index(42.0, -17.0, 12345.0, 43.0, -16.0, 12400.0)
        assert any(r.lower <= idx <= r.upper for r in rs)


class TestS2:
    """Golden parity with the reference S2 curve (S2SFCTest.scala) plus
    invariants of the cell-id scheme."""

    GOLDEN_1 = [  # sfc.ranges(34.9 -> 45.1, 54.9 -> 75.1)
        (4683743612465315841, 4719772409484279807),
        (4899914195555844097, 4899916394579099647),
        (4899916394579099649, 4935945191598063615),
        (5017009984890732545, 5026017184145473535),
        (5088926841440305153, 5089067578928660479),
        (5089067578928660481, 5098074778183401471),
        (5100326577997086721, 5102578377810771967),
    ]
    GOLDEN_2 = [  # sfc.ranges(35d -> 45d, 55d -> 75d)
        (4683743612465315841, 4719772409484279807),
        (4899916394579099647, 4899916394579099647),
        (4899916394579099649, 4935945191598063615),
        (5017009984890732545, 5026017184145473535),
        (5089032394556571649, 5089067578928660479),
        (5089067578928660481, 5098074778183401471),
        (5100326577997086721, 5102578377810771967),
    ]

    @pytest.fixture(scope="class")
    def sfc(self):
        from geomesa_spark.cells.s2 import S2SFC
        return S2SFC(0, 30, 1, 8)

    def test_golden_ranges(self, sfc):
        got = sorted((r.lower, r.upper)
                     for r in sfc.ranges([(34.9, 54.9, 45.1, 75.1)]))
        assert got == sorted(self.GOLDEN_1)

    def test_golden_ranges_2(self, sfc):
        got = sorted((r.lower, r.upper)
                     for r in sfc.ranges([(35.0, 55.0, 45.0, 75.0)]))
        assert got == sorted(self.GOLDEN_2)

    def test_index_invert_roundtrip(self, sfc):
        rng = np.random.RandomState(5)
        for lon, lat in zip(rng.uniform(-179.9, 179.9, 50),
                            rng.uniform(-89.9, 89.9, 50)):
            cid = sfc.index(lon, lat)
            ilon, ilat = sfc.invert(cid)
            # leaf cells are ~1cm: the center is within a microdegree
            assert abs(ilon - lon) < 1e-5 and abs(ilat - lat) < 1e-5

    def test_index_np_matches_scalar(self, sfc):
        rng = np.random.RandomState(6)
        lon = rng.uniform(-180, 180, 500)
        lat = rng.uniform(-90, 90, 500)
        got = sfc.index_np(lon, lat)
        for i in range(0, 500, 17):
            assert int(got[i]) == sfc.index(lon[i], lat[i])

    def test_covering_covers_points_inside(self, sfc):
        """Cover property: every point inside the rect falls in some range."""
        rng = np.random.RandomState(8)
        ranges = sfc.ranges([(34.9, 54.9, 45.1, 75.1)])
        lon = rng.uniform(34.9, 45.1, 300)
        lat = rng.uniform(54.9, 75.1, 300)
        ids = sfc.index_np(lon, lat)
        for v in ids:
            assert any(r.lower <= int(v) <= r.upper for r in ranges)

    def test_cell_hierarchy(self):
        from geomesa_spark.cells import s2
        cid = s2.from_lat_lng(40.0, -70.0)
        assert s2.level(cid) == 30
        p = s2.parent(cid, 10)
        assert s2.level(p) == 10
        assert s2.range_min(p) <= cid <= s2.range_max(p)
        kids = s2.children(p)
        assert len(kids) == 4
        assert all(s2.level(k) == 11 for k in kids)
        assert all(s2.range_min(p) <= k <= s2.range_max(p) for k in kids)

    def test_lenient_and_bounds(self, sfc):
        assert sfc.index(200.0, 95.0, lenient=True) == sfc.index(180.0, 90.0)
        with pytest.raises(ValueError):
            sfc.index(200.0, 0.0)


def test_xz2_geoms_list_corpus():
    """XZ2SFCTest.scala:105-128 'index complex features and query them2':
    every geometry bbox in the reference's geoms.list resource (135
    fixtures from the accumulo FilterTest) must be matched by the XZ2
    ranges for the query window (45, 23, 48, 27)."""
    from tests.data.xz2_geoms_list import GEOMS
    sfc = XZ2SFC(12)
    ranges = sfc.ranges([(45.0, 23.0, 48.0, 27.0)])
    assert len(GEOMS) == 135
    for xmin, ymin, xmax, ymax in GEOMS:
        idx = sfc.index(xmin, ymin, xmax, ymax)
        assert any(r.lower <= idx <= r.upper for r in ranges), \
            (xmin, ymin, xmax, ymax)


class TestXZGoldens:
    """The generic XZ curve against literal outputs of the separate XZ2/XZ3
    implementations it replaced (tests/data/xz_goldens.json): XZ2 codes of
    the 135 geoms.list fixtures, XZ3 codes of 50 seeded extents per period
    (zero-width and out-of-bounds ones included) and the full range covers
    of the XZ2SFCTest/XZ3SFCTest query windows."""

    @pytest.fixture(scope="class")
    def gold(self):
        import json
        import pathlib
        path = pathlib.Path(__file__).parent / "data" / "xz_goldens.json"
        return json.loads(path.read_text())

    @staticmethod
    def _ranges(rs):
        return [[r.lower, r.upper, int(r.contained)] for r in rs]

    def test_xz2_index_of_fixtures(self, gold):
        from tests.data.xz2_geoms_list import GEOMS
        sfc = XZ2SFC(12)
        assert [sfc.index(*g) for g in GEOMS] == gold["xz2_geoms_index"]
        assert sfc.index_np(*np.array(GEOMS).T).tolist() == gold["xz2_index_np"]

    def test_xz2_ranges(self, gold):
        sfc = XZ2SFC(12)
        windows = [tuple(w) for w in gold["xz2_windows"]]
        assert [self._ranges(sfc.ranges([w], max_ranges=24))
                for w in windows] == gold["xz2_ranges_24"]
        # the default cover of the geoms.list window (45, 23, 48, 27)
        assert self._ranges(sfc.ranges([windows[-1]])) == gold["xz2_ranges_default"]
        assert len(gold["xz2_ranges_default"]) == 124

    @pytest.mark.parametrize("period", ["week", "day"])
    def test_xz3_index(self, gold, period):
        from geomesa_spark.cells.xz import XZ3SFC
        sfc = XZ3SFC(12, period=period)
        g = gold["xz3"][period]
        ext = np.array(g["extents"])
        assert [sfc.index(*map(float, e), lenient=True) for e in ext] == g["index"]
        assert sfc.index_np(*ext.T).tolist() == g["index_np"]
        assert any(g["lenient"])
        for e, lenient in zip(ext, g["lenient"]):
            if lenient:
                with pytest.raises(ValueError):
                    sfc.index(*map(float, e))

    @pytest.mark.parametrize("period", ["week", "day"])
    def test_xz3_ranges(self, gold, period):
        from geomesa_spark.cells.xz import XZ3SFC
        sfc = XZ3SFC(12, period=period)
        g = gold["xz3"][period]
        windows = [tuple(w) for w in gold["xz3_windows"]]
        assert [self._ranges(sfc.ranges([w], max_ranges=24))
                for w in windows] == g["ranges_24"]
        # the default cover of the window (9, 9, 900, 13, 13, 1100)
        assert self._ranges(sfc.ranges([windows[0]])) == g["ranges_default"]
        assert len(g["ranges_default"]) == {"week": 329, "day": 386}[period]


def _xz_ranges_loop(sfc, windows, range_stop):
    """The element-at-a-time XZ cover the numpy cover replaced: a FIFO of
    elements, each checked against the windows and coded from the root."""
    from collections import deque

    from geomesa_spark.cells.zn import IndexRange
    d, ranges = sfc.d, []
    remaining = deque([((0.0,) * d, (1.0,) * d, 1.0)])

    def push_children(mins, maxs, ext):
        for q in range(1 << d):
            c = [(a + b) / 2.0 for a, b in zip(mins, maxs)]
            remaining.append((
                tuple(c[k] if q >> k & 1 else mins[k] for k in range(d)),
                tuple(maxs[k] if q >> k & 1 else c[k] for k in range(d)), ext / 2.0))

    def whole(mins, level):
        lo = sfc._sequence_code(mins, level)
        return lo, lo + (((1 << d) ** (sfc.g - level + 1) - 1) // ((1 << d) - 1))

    push_children(*remaining.popleft())
    remaining.append(None)
    level = 1
    while level < sfc.g and remaining and len(ranges) < range_stop:
        el = remaining.popleft()
        if el is None:
            if remaining:
                level += 1
                remaining.append(None)
            continue
        mins, maxs, ext = el
        if any(all(w[k] <= mins[k] and w[d + k] >= maxs[k] + ext for k in range(d))
               for w in windows):
            ranges.append(IndexRange(*whole(mins, level), True))
        elif any(all(w[d + k] >= mins[k] and w[k] <= maxs[k] + ext for k in range(d))
                 for w in windows):
            code = sfc._sequence_code(mins, level)
            ranges.append(IndexRange(code, code, False))
            push_children(mins, maxs, ext)
    for el in remaining:
        if el is None:
            level += 1
        else:
            ranges.append(IndexRange(*whole(el[0], level), False))
    ranges.sort(key=lambda r: (r.lower, r.upper))
    merged = [ranges[0]]
    for r in ranges[1:]:
        if r.lower <= merged[-1].upper + 1:
            m = merged[-1]
            merged[-1] = IndexRange(m.lower, max(m.upper, r.upper),
                                    m.contained and r.contained)
        else:
            merged.append(r)
    return merged


@pytest.mark.parametrize("g", [1, 2, 5, 12])
def test_xz_ranges_match_loop_reference(g):
    """The level-at-a-time numpy cover equals the element-at-a-time loop on
    random 1-3 window queries, for every range budget the cut-off can hit."""
    from geomesa_spark.cells.xz import XZ3SFC
    rng = np.random.default_rng(g)
    for sfc in (XZ2SFC(g), XZ3SFC(g)):
        lo, hi = np.array(sfc.lo), np.array(sfc.hi)
        for t in range(12):
            windows = []
            for _ in range(1 + t % 3):
                a = rng.uniform(lo, hi)
                b = np.minimum(a + (hi - lo) * rng.uniform(0, 0.3, sfc.d), hi)
                windows.append(tuple(np.concatenate([a, b]).tolist()))
            normalized = [sfc._normalize(w) for w in windows]
            for stop in (5, 24, 100, 2000):
                assert sfc.ranges(windows, max_ranges=stop) == \
                    _xz_ranges_loop(sfc, normalized, stop), (g, windows, stop)

class TestZ3Range:
    """Z3RangeTest.scala:16-63 port: range cut/length/overlaps/contains
    over the 3-D curve (engine side: cells/zn.zcut, zrange_overlaps,
    zrange_contains, zdivide)."""

    zmin = Z3.encode(2, 2, 0)
    zmax = Z3.encode(3, 6, 0)

    def test_requires_ordered_min_and_max(self):
        # Z3(2,2,0) -> Z3(1,4,0) is a VALID range (z-ordered even though
        # the user-space components are not)
        assert Z3.encode(2, 2, 0) < Z3.encode(1, 4, 0)
        with pytest.raises(ValueError):
            zn.zcut((self.zmax, self.zmin), Z3.encode(5, 1, 0), False,
                    dims=3)

    def test_uncuttable_range_is_empty(self):
        assert zn.zcut((self.zmin, self.zmin), Z3.encode(0, 0, 0), False,
                       dims=3) == []

    def test_cut_out_of_range_z(self):
        zcut = Z3.encode(5, 1, 0)
        assert zn.zcut((self.zmin, self.zmax), zcut, False, dims=3) == [
            (self.zmin, Z3.encode(3, 3, 0)),
            (Z3.encode(2, 4, 0), self.zmax),
        ]

    def test_length(self):
        assert self.zmax - self.zmin + 1 == 130

    def test_overlaps(self):
        rng = (self.zmin, self.zmax)
        def z3r(x0, y0, t0, x1, y1, t1):
            return (Z3.encode(x0, y0, t0), Z3.encode(x1, y1, t1))
        assert zn.zrange_overlaps(rng, rng, dims=3)
        assert zn.zrange_overlaps(rng, z3r(3, 0, 0, 3, 2, 0), dims=3)
        assert zn.zrange_overlaps(rng, z3r(0, 0, 0, 2, 2, 0), dims=3)
        assert zn.zrange_overlaps(rng, z3r(1, 6, 0, 4, 6, 0), dims=3)
        assert not zn.zrange_overlaps(rng, z3r(2, 0, 0, 3, 1, 0), dims=3)
        assert not zn.zrange_overlaps(rng, z3r(4, 6, 0, 6, 7, 0), dims=3)

    def test_contains(self):
        rng = (self.zmin, self.zmax)
        def z3r(x0, y0, t0, x1, y1, t1):
            return (Z3.encode(x0, y0, t0), Z3.encode(x1, y1, t1))
        assert zn.zrange_contains(rng, rng, dims=3)
        assert zn.zrange_contains(rng, z3r(2, 2, 0, 3, 3, 0), dims=3)
        assert zn.zrange_contains(rng, z3r(3, 5, 0, 3, 6, 0), dims=3)
        assert not zn.zrange_contains(rng, z3r(2, 2, 0, 4, 3, 0), dims=3)
        assert not zn.zrange_contains(rng, z3r(2, 1, 0, 3, 3, 0), dims=3)
        assert not zn.zrange_contains(rng, z3r(2, 1, 0, 3, 7, 0), dims=3)
