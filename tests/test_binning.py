"""BinnedArrayTest.scala ports — Histogram stat bin-assignment parity.

Every fixture and expected value below is from the reference's
BinnedArrayTest.scala:22-262 (int/long/float/double/date/string/geometry
binnings); the engine side is geomesa_spark/functions/binning.py.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from geomesa_spark.functions.binning import (DateBinning, DoubleBinning,
                                             FloatBinning, GeometryBinning,
                                             IntBinning, LongBinning,
                                             StringBinning,
                                             WholeNumberBinning,
                                             binned_index_col)

UTC = dt.timezone.utc


def test_bin_integers():
    """BinnedArrayTest 'bin integers': 10 bins over (0, 99)."""
    a = IntBinning(10, (0, 99))
    for b in range(10):
        for v in range(b * 10, b * 10 + 10):
            assert a.index_of(v) == b, v
    # medianValue pins Scala math.round: round(54.45) == 54, round(4.95)==5
    assert [a.median_value(i) for i in range(10)] == \
        [5, 15, 25, 35, 45, 54, 64, 74, 84, 94]
    assert [a.bounds(i) for i in range(10)] == \
        [(0, 9), (10, 19), (20, 29), (30, 39), (40, 49),
         (50, 59), (60, 69), (70, 79), (80, 89), (90, 99)]


def test_bin_longs():
    a = LongBinning(10, (0, 99))
    for b in range(10):
        for v in range(b * 10, b * 10 + 10):
            assert a.index_of(v) == b
    assert [a.median_value(i) for i in range(10)] == \
        [5, 15, 25, 35, 45, 54, 64, 74, 84, 94]
    assert [a.bounds(i) for i in range(10)] == \
        [(0, 9), (10, 19), (20, 29), (30, 39), (40, 49),
         (50, 59), (60, 69), (70, 79), (80, 89), (90, 99)]


def test_bin_floats():
    """float32 arithmetic throughout (jFloat semantics)."""
    import numpy as np
    a = FloatBinning(10, (0.0, 1.0))
    for b in range(10):
        for i in range(10):
            v = float(np.float32(np.float32(0.1) * b)
                      + np.float32(np.float32(0.01) * i))
            assert a.index_of(v) == b, (b, i)
    for i in range(10):
        assert a.median_value(i) == pytest.approx(0.05 + 0.1 * i, abs=1e-3)
        lo, hi = a.bounds(i)
        assert lo == pytest.approx(0.1 * i, abs=1e-3)
        assert hi == pytest.approx(0.1 * (i + 1), abs=1e-3)


def test_bin_doubles():
    a = DoubleBinning(10, (0.0, 1.0))
    for b in range(10):
        for i in range(1, 10):
            assert a.index_of(0.1 * b + 0.01 * i) == b, (b, i)
    for i in range(10):
        assert a.median_value(i) == pytest.approx(0.05 + 0.1 * i, abs=1e-3)
        lo, hi = a.bounds(i)
        assert lo == pytest.approx(0.1 * i, abs=1e-3)
        assert hi == pytest.approx(0.1 * (i + 1), abs=1e-3)


def _date(hh: int, mm: int) -> dt.datetime:
    return dt.datetime(2016, 1, 1, hh, mm, tzinfo=UTC)


def test_bin_dates():
    """10 one-hour bins over 2016-01-01T00:00..10:00."""
    a = DateBinning(10, (_date(0, 0), _date(10, 0)))
    for hh in range(10):
        for mm in range(60):
            assert a.index_of(_date(hh, mm)) == hh
    for hh in range(10):
        assert a.median_value(hh) == int(_date(hh, 30).timestamp() * 1000)
        lo, hi = a.bounds(hh)
        assert lo == int(_date(hh, 0).timestamp() * 1000)
        assert hi == int(_date(hh + 1, 0).timestamp() * 1000)


def test_date_bounds_not_out_of_order():
    """Millisecond-scale bounds: bin bounds stay ordered and their
    indexes monotone (BinnedArrayTest 'not provide date bounds that are
    out of order' — 10 bins over 5 ms)."""
    base = int(dt.datetime(2016, 1, 1, tzinfo=UTC).timestamp() * 1000)
    a = DateBinning(10, (base, base + 5))
    for i in range(10):
        lo, hi = a.bounds(i)
        assert lo <= hi
        assert a.index_of(lo) <= a.index_of(hi)


def test_bin_strings():
    a = StringBinning(36, ("aa0", "aaz"))
    for i in range(10):
        assert a.index_of("aa" + chr(ord("0") + i) + chr(ord("0") + 12)) == i
    for i in range(25):
        assert a.index_of("aa" + chr(ord("a") + i) + chr(ord("0") + 12)) \
            == i + 10
    assert a.index_of("aaz") == 35
    for i in range(1, 10):
        assert a.median_value(i).startswith(f"aa{i}")
    for i in range(10, 15):
        assert a.median_value(i).startswith("aa" + chr(ord("a") + i - 10))


def test_bin_strings_different_length_endpoints():
    a = StringBinning(100, ("Addams", "Clemens"))
    assert a.index_of("Addams") == 0
    assert a.index_of("Clemens") == 99


def test_string_bounds_not_out_of_order():
    for b in [("0", "z"), ("0name0", "9nrcyk5rcykg"), ("abc000", "abc099")]:
        a = StringBinning(1000, b)
        for i in range(1000):
            lo, hi = a.bounds(i)
            assert a.index_of(lo) <= a.index_of(hi), (b, i)


def test_bin_points():
    """GeometryBinning: z2-of-centroid keeps every point in range."""
    a = GeometryBinning(4, ("POINT (-180 -90)", "POINT (180 90)"))
    for x in range(1, 19):
        for y in range(1, 10):
            assert 0 <= a.index_of(f"POINT ({-10 * x} {-10 * y})") <= 3


def test_binned_index_col_matches_scalar(spark):
    """The Catalyst expression and the scalar DoubleBinning agree on
    in-bounds, out-of-bounds, and the folded upper edge."""
    vals = [-0.5, 0.0, 0.05, 0.11, 0.5, 0.99, 1.0, 1.5]
    a = DoubleBinning(10, (0.0, 1.0))
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {r.v: r.b for r in
           df.select("v", binned_index_col(F.col("v"), 0.0, 1.0, 10)
                     .alias("b")).collect()}
    for v in vals:
        assert got[v] == a.index_of(v), v


# ---------------------------------------------------------------------------
# property-based invariants (hypothesis)

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st
    _HYP = True
except ImportError:  # pragma: no cover - hypothesis is in the base image
    _HYP = False

if _HYP:

    @settings(max_examples=200, deadline=None)
    @given(lo=st.integers(-10**6, 10**6), span=st.integers(1, 10**6),
           length=st.integers(1, 1000), data=st.data())
    def test_whole_binning_index_bounds_roundtrip(lo, span, length, data):
        """For any in-bounds value: 0 <= indexOf(v) < length and
        bounds(indexOf(v)) contains v. The reference's double edges can
        miss such a value (max clamped into the last bin while
        floor(binSize*length) < max at lo=-474644 span=1000000 length=47;
        ceil(binSize*183) one past v=108404 at lo=54202 span=108404
        length=366, both found by hypothesis); bounds() widens its edges
        over them, and the max-value clause keeps the reference's upper
        edge acceptable. Out-of-bounds values map to -1."""
        hi = lo + span
        a = WholeNumberBinning(length, (lo, hi))
        v = data.draw(st.integers(lo, hi))
        i = a.index_of(v)
        assert 0 <= i < length
        blo, bhi = a.bounds(i)
        assert blo <= v
        assert v <= bhi or (i == length - 1 and v == hi)
        assert a.index_of(lo - 1) == -1
        assert a.index_of(hi + 1) == -1
        m = a.median_value(i)
        assert lo <= m <= hi

    @settings(max_examples=200, deadline=None)
    @given(x0=st.integers(0, 400), y0=st.integers(0, 400),
           x1=st.integers(0, 400), y1=st.integers(0, 400))
    def test_bresenham_walk_invariants(x0, y0, x1, y1):
        """Any walk: max(|dx|,|dy|) cells (1 when degenerate), starts at
        the start cell, consecutive cells are 8-connected single steps,
        never revisits a cell, and matches the scalar reference loop."""
        from test_gridsnap import _scalar_bresenham, _vector_bresenham_one
        cells = _vector_bresenham_one(x0, y0, x1, y1)
        assert len(cells) == max(abs(x1 - x0), abs(y1 - y0), 1)
        assert cells[0] == (x0, y0)
        assert len(set(cells)) == len(cells)
        for (ax, ay), (bx, by) in zip(cells, cells[1:]):
            assert max(abs(bx - ax), abs(by - ay)) == 1
        assert cells == _scalar_bresenham(x0, y0, x1, y1)
