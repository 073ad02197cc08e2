"""Histogram binning — the reference's BinnedArray semantics.

Port of ``geomesa-utils/src/main/scala/org/locationtech/geomesa/utils/
stats/BinnedArray.scala`` (the value->bin mapping under every Histogram
stat): equal-width bins between declared bounds with the reference's
exact edge behavior —

* ``index_of``: ``floor((v - min) / binSize)`` with ``binSize = (max -
  min) / length`` as a double; out-of-bounds values map to ``-1``; the
  upper bound folds into the last bin (``BinnedArray.scala:195-201``).
* whole-number types (int/long/date) round-trip through a long and their
  ``median_value`` is ``min + round(binSize/2 + binSize*index)`` with
  Scala ``math.round`` semantics (``floor(x + 0.5)``, NOT banker's
  rounding — ``BinnedArray.scala:205-211``; BinnedArrayTest pins
  ``medianValue(5) == 54`` for bounds (0, 99) x 10, i.e. round(54.45)).
* ``bounds(i)`` for whole numbers is ``(min + ceil(binSize*i),
  max(lo, min + floor(binSize*(i+1))))`` clamped into the declared
  bounds (``BinnedArray.scala:213-222``), each edge widened over the
  values that ``index_of`` rounds into bin ``i`` (the reference's double
  edges can exclude them).
* FloatBinning does ALL arithmetic in float32 (jFloat ops,
  ``BinnedArray.scala:284-316``); DoubleBinning in float64.
* StringBinning normalizes to base-36 (non-alphanumeric -> '0'),
  pads/truncates both bounds to a common shape, and maps the 12
  significant base-36 digits after the common prefix into a long
  (``BinnedArray.scala:359-419``).
* GeometryBinning bins by the z2 index of the centroid
  (``BinnedArray.scala:257-282``).

``binned_index_col`` exposes the numeric mapping as a native Catalyst
expression for engine-side histograms (no Python in the hot path).
"""

from __future__ import annotations

import math
import re

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _scala_round(x: float) -> int:
    """Scala/Java ``math.round(double)``: floor(x + 0.5) as a long."""
    return int(math.floor(x + 0.5))


class WholeNumberBinning:
    """Int/long binning (BinnedArray.scala:185-247 WholeNumberBinning)."""

    def __init__(self, length: int, bounds: tuple[int, int]):
        self.length = length
        self.lo, self.hi = int(bounds[0]), int(bounds[1])
        if self.lo >= self.hi:
            raise ValueError(
                f"Upper bound must be greater than lower bound: "
                f"lower='{self.lo}' upper='{self.hi}'")
        self.bin_size = (self.hi - self.lo) / length

    def index_of(self, value: int) -> int:
        v = int(value)
        if v < self.lo or v > self.hi:
            return -1
        i = int(math.floor((v - self.lo) / self.bin_size))
        if i < 0 or i > self.length:
            return -1
        return self.length - 1 if i == self.length else i

    def median_value(self, index: int) -> int:
        if index < 0 or index > self.length:
            raise IndexError(index)
        long = self.lo + _scala_round(self.bin_size / 2
                                      + self.bin_size * index)
        return self.hi if long > self.hi else long

    def bounds(self, index: int) -> tuple[int, int]:
        if index < 0 or index > self.length:
            raise IndexError(index)
        lo_l = self.lo + int(math.ceil(self.bin_size * index))
        hi_l = max(lo_l, self.lo + int(math.floor(self.bin_size
                                                  * (index + 1))))
        # binSize*index and (v - min)/binSize round independently, so the
        # reference's edges can miss a value that index_of puts in this
        # bin (lo=54202, span=108404, 366 bins: v=108404 lands in bin 183
        # whose ceil edge is 108405). Widen each edge over such values.
        index_of = WholeNumberBinning.index_of
        while lo_l > self.lo and index_of(self, lo_l - 1) == index:
            lo_l -= 1
        while hi_l < self.hi and index_of(self, hi_l + 1) == index:
            hi_l += 1
        return (max(lo_l, self.lo), min(hi_l, self.hi))


IntBinning = WholeNumberBinning
LongBinning = WholeNumberBinning


class DateBinning(WholeNumberBinning):
    """Date binning over epoch millis (BinnedArray.scala:254-257)."""

    def __init__(self, length: int, bounds: tuple):
        super().__init__(length, (self._ms(bounds[0]), self._ms(bounds[1])))

    @staticmethod
    def _ms(d) -> int:
        if isinstance(d, (int, np.integer)):
            return int(d)
        return int(d.timestamp() * 1000)  # datetime (UTC-aware)

    def index_of(self, value) -> int:                 # noqa: D102
        return super().index_of(self._ms(value))


class DoubleBinning:
    """Float64 binning (BinnedArray.scala:318-351 DoubleBinning)."""

    _f = staticmethod(float)

    def __init__(self, length: int, bounds: tuple[float, float]):
        f = self._f
        self.length = length
        self.lo, self.hi = f(bounds[0]), f(bounds[1])
        if not self.lo < self.hi:
            raise ValueError(
                f"Upper bound must be greater than lower bound: "
                f"lower='{self.lo}' upper='{self.hi}'")
        self.bin_size = f(f(self.hi - self.lo) / length)

    def index_of(self, value: float) -> int:
        f = self._f
        v = f(value)
        if v < self.lo or v > self.hi:
            return -1
        i = int(math.floor(f(f(v - self.lo) / self.bin_size)))
        if i < 0 or i > self.length:
            return -1
        return self.length - 1 if i == self.length else i

    def median_value(self, index: int) -> float:
        if index < 0 or index > self.length:
            raise IndexError(index)
        f = self._f
        return f(f(self.lo + f(self.bin_size / 2))
                 + f(self.bin_size * index))

    def bounds(self, index: int) -> tuple[float, float]:
        if index < 0 or index > self.length:
            raise IndexError(index)
        f = self._f
        return (f(self.lo + f(self.bin_size * index)),
                f(self.lo + f(self.bin_size * (index + 1))))


class FloatBinning(DoubleBinning):
    """Float32 binning: every op in jFloat precision
    (BinnedArray.scala:284-316)."""

    _f = staticmethod(lambda v: float(np.float32(v)))


_BASE36 = "0123456789abcdefghijklmnopqrstuvwxyz"


def _normalize(s: str) -> str:
    return re.sub(r"[^0-9a-z]", "0", s.lower())


def _normalize_bounds(lo: str, hi: str) -> tuple[str, str]:
    """StringBinning.normalizeBounds (BinnedArray.scala:390-418)."""
    length = max(len(lo), len(hi))
    lo36, hi36 = _normalize(lo), _normalize(hi)
    if lo36 < hi36:
        lo_p = lo36.ljust(length, "0")
        hi_p = hi36.ljust(length, "z")
    else:
        lo_p = hi36.ljust(length, "0")
        hi_p = lo36.ljust(length, "z")
    if lo_p == hi_p:
        lo_p, hi_p = lo_p + "0", hi_p + "z"
    prefix = next((i for i, (a, b) in enumerate(zip(lo_p, hi_p))
                   if a != b), -1)
    lo_f = lo_p[:prefix + 12] if len(lo_p) > prefix + 12 else lo_p
    hi_f = hi_p[:prefix + 12] if len(hi_p) > prefix + 12 else hi_p
    if lo_f == hi_f:
        lo_f, hi_f = lo_f[:-1] + "0", hi_f[:-1] + "z"
    return lo_f, hi_f


class StringBinning(WholeNumberBinning):
    """Base-36 string binning (BinnedArray.scala:359-388)."""

    def __init__(self, length: int, bounds: tuple[str, str]):
        self.start, self.end = _normalize_bounds(*bounds)
        self.prefix_len = next(
            (i for i, (a, b) in enumerate(zip(self.start, self.end))
             if a != b), -1)
        self.prefix = self.start[:self.prefix_len]
        super().__init__(length, (self._to_long(self.start),
                                  self._to_long(self.end)))

    def _to_long(self, value: str) -> int:
        normalized = _normalize(value).ljust(len(self.start), "0")
        if normalized < self.start:
            return 0
        if normalized > self.end:
            return 2 ** 63 - 1  # Long.MaxValue
        sig = normalized[self.prefix_len:].ljust(12, "0")[:12]
        return int(sig, 36)

    def _from_long(self, value: int) -> str:
        digits = ""
        v = value
        while v:
            digits = _BASE36[v % 36] + digits
            v //= 36
        digits = (digits or "0").rjust(12, "0")
        return self.prefix + re.sub(r"0+$", "", digits)

    def index_of(self, value: str) -> int:             # noqa: D102
        return super().index_of(self._to_long(value))

    def median_value(self, index: int) -> str:         # noqa: D102
        return self._from_long(super().median_value(index))

    def bounds(self, index: int) -> tuple[str, str]:   # noqa: D102
        lo, hi = super().bounds(index)
        return self._from_long(lo), self._from_long(hi)


class GeometryBinning(WholeNumberBinning):
    """Bins geometries by the z2 index of their centroid
    (BinnedArray.scala:257-282)."""

    def __init__(self, length: int, bounds: tuple):
        super().__init__(length, (self._z(bounds[0]), self._z(bounds[1])))

    @staticmethod
    def _z(geom) -> int:
        from geomesa_spark.cells.z2 import Z2SFC
        from geomesa_spark.geom.wkt import wkt_loads
        if isinstance(geom, str):
            geom = wkt_loads(geom)
        c = geom if getattr(geom, "geom_type", "") == "Point" \
            else geom.centroid()
        return Z2SFC().index(c.x, c.y, lenient=True)

    def index_of(self, geom) -> int:                   # noqa: D102
        return super().index_of(self._z(geom))


def binned_index_col(col: Column, lo: float, hi: float,
                     length: int) -> Column:
    """``BinnedArray.indexOf`` as a native Catalyst expression (numeric
    double semantics): out-of-bounds -> -1, floor((v - lo) / binSize),
    upper bound folds into the last bin."""
    bin_size = (float(hi) - float(lo)) / length
    i = F.floor((col - F.lit(float(lo))) / F.lit(bin_size))
    return (F.when((col < lo) | (col > hi), F.lit(-1))
            .otherwise(F.least(i, F.lit(length - 1)))
            .cast("long"))
