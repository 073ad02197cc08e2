"""The Z-order (Morton) curve, written once for 2 and 3 dimensions.

Semantics match the reference row-for-row (golden tests in
``tests/test_cells.py``, ``tests/data/z_goldens.json``):

* ``SPREAD`` — per dimension d, the bits per dimension and the
  (shift, mask) steps that spread a value's bits d apart: 31 bits for
  d = 2, 21 for d = 3 (reference: zorder/sfcurve/Z2.scala:58-78,
  Z3.scala:75-97).  ``split``/``combine`` run the steps forwards and
  backwards on Python ints or uint64 arrays; ``interleave``/``deinterleave``
  lay d spread values side by side (``Z2``/``Z3`` are the raw encoders).
* ``ZSFC`` — the curve over d ``NormalizedDimension``s: ``index``,
  ``index_np``, ``invert``, ``ranges``.  ``Z2SFC`` (lon/lat) and ``Z3SFC``
  (lon/lat/offset in a time bin) are constructors over it (reference:
  curve/Z2SFC.scala, curve/Z3SFC.scala, curve/NormalizedDimension.scala).
* ``zdivide`` — Tropf/Herzog LITMAX/BIGMIN ("Multidimensional Range Search in
  Dynamically Balanced Trees", H. Tropf & H. Herzog, 1981)
  (reference: zorder/sfcurve/ZN.scala:309-361).
* ``zranges`` — breadth-first quad/oct-tree decomposition of query boxes into
  z ranges with a loose ``max_ranges`` cap and a recursion budget
  (reference: zorder/sfcurve/ZN.scala:110-242; defaults
  geomesa.scan.ranges.target=2000, recurse=7).

Driver-side planning code is pure Python (arbitrary-precision ints, masked
to 64 bits); the same table drives the numpy paths here and the Catalyst
expressions in ``functions/cell_functions.py``.
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass

import numpy as np

from geomesa_spark.cells.z3 import BinnedTime

M64 = (1 << 64) - 1

# --- the Morton spread --------------------------------------------------------

# d -> (bits per dimension, the (shift, mask) steps of the spread)
SPREAD = {
    2: (31, ((32, 0x00000000FFFFFFFF), (16, 0x0000FFFF0000FFFF),
             (8, 0x00FF00FF00FF00FF), (4, 0x0F0F0F0F0F0F0F0F),
             (2, 0x3333333333333333), (1, 0x5555555555555555))),
    3: (21, ((32, 0x1F00000000FFFF), (16, 0x1F0000FF0000FF),
             (8, 0x100F00F00F00F00F), (4, 0x10C30C30C30C30C3),
             (2, 0x1249249249249249))),
}


def _typed_table(bits, steps, k):
    """(value mask, spread steps, gather steps), every constant made by ``k``.
    Gathering undoes the spread steps in reverse order: undoing step i
    shifts back by its shift and keeps the mask of step i - 1 (the value
    mask for the first step)."""
    value_mask = (1 << bits) - 1
    shifts, masks = [s for s, _ in steps], [m for _, m in steps]
    gather = zip(shifts[::-1], masks[-2::-1] + [value_mask])
    return (k(value_mask), [(k(s), k(m)) for s, m in steps],
            [(k(s), k(m)) for s, m in gather])


# numpy 1.26 promotes uint64 mixed with a Python int to float64 in some
# operations: the array paths use uint64 constants only
_TABLES = {(d, np_): _typed_table(bits, steps, np.uint64 if np_ else int)
           for d, (bits, steps) in SPREAD.items() for np_ in (False, True)}


def split(v, d: int):
    """Spread the low bits of ``v`` (an int or an integer array) d - 1 zero
    bits apart."""
    arr = isinstance(v, np.ndarray)
    value_mask, steps, _ = _TABLES[d, arr]
    x = (v.astype(np.uint64) if arr else v) & value_mask
    for shift, mask in steps:
        x = (x | (x << shift)) & mask
    return x


def combine(z, d: int):
    """Gather every d-th bit of ``z`` from bit 0: the inverse of ``split``."""
    arr = isinstance(z, np.ndarray)
    _, steps, gather = _TABLES[d, arr]
    x = (z.astype(np.uint64) if arr else z) & steps[-1][1]
    for shift, mask in gather:
        x = (x ^ (x >> shift)) & mask
    return x


def interleave(values):
    """z of d = ``len(values)`` values: bit i of value k is bit i*d + k."""
    d = len(values)
    z = split(values[0], d)
    for k in range(1, d):
        v = split(values[k], d)
        z = z | (v << (np.uint64(k) if isinstance(v, np.ndarray) else k))
    return z


def deinterleave(z, d: int) -> tuple:
    """The d values interleaved in ``z``."""
    if isinstance(z, np.ndarray):
        return tuple(combine(z >> np.uint64(k), d) for k in range(d))
    return tuple([combine(z >> k, d) for k in range(d)])


class ZN:
    """The raw d-dimensional interleave: ``encode(*values)``/``decode(z)``;
    the ``_np`` names are the same functions, for uint64 arrays."""

    def __init__(self, d: int):
        self.d = d

    def encode(self, *values):
        return interleave(values)

    def decode(self, z):
        return deinterleave(z, self.d)

    encode_np, decode_np = encode, decode


Z2, Z3 = ZN(2), ZN(3)

# --- the curve ----------------------------------------------------------------


class NormalizedDimension:
    """Maps a double in [min,max] to an int in [0, 2^precision): the
    reference's BitNormalizedDimension, with the floor clamped to the last
    bin as the Catalyst side clamps it."""

    def __init__(self, lo: float, hi: float, precision: int):
        if not (0 < precision < 32):
            raise ValueError("precision must be in [1,31]")
        self.min, self.max, self.precision = lo, hi, precision
        self.bins = 1 << precision
        self.normalizer = self.bins / (hi - lo)
        self.denormalizer = (hi - lo) / self.bins
        self.max_index = self.bins - 1

    def normalize(self, x: float) -> int:
        if x >= self.max:
            return self.max_index
        return min(int(np.floor((x - self.min) * self.normalizer)), self.max_index)

    def denormalize(self, x: int) -> float:
        return self.min + (min(x, self.max_index) + 0.5) * self.denormalizer

    def normalize_np(self, x: np.ndarray) -> np.ndarray:
        out = np.minimum(np.floor((x - self.min) * self.normalizer), self.max_index)
        return np.where(x >= self.max, self.max_index, out.astype(np.int64)).astype(np.uint64)


LON, LAT = (-180.0, 180.0), (-90.0, 90.0)


def NormalizedLon(precision: int) -> NormalizedDimension:
    return NormalizedDimension(*LON, precision)


def NormalizedLat(precision: int) -> NormalizedDimension:
    return NormalizedDimension(*LAT, precision)


class ZSFC:
    """Z-order curve over d = ``len(bounds)`` dimensions, ``precision`` bits
    each: values are normalized per dimension, then interleaved."""

    def __init__(self, bounds: tuple[tuple[float, float], ...], precision: int):
        self.d = len(bounds)
        bits = SPREAD[self.d][0]
        if not (0 < precision <= bits):
            raise ValueError(f"precision must be in [1,{bits}]")
        self.precision = precision
        self.dims = [NormalizedDimension(lo, hi, precision) for lo, hi in bounds]

    def index(self, *values: float, lenient: bool = False) -> int:
        if not all(n.min <= v <= n.max for n, v in zip(self.dims, values)):
            if not lenient:
                raise ValueError("value(s) out of bounds: " + ", ".join(map(str, values)))
            values = [min(max(v, n.min), n.max) for n, v in zip(self.dims, values)]
        return interleave([n.normalize(v) for n, v in zip(self.dims, values)])

    def index_np(self, *values: np.ndarray) -> np.ndarray:
        """Vectorized lenient index (values clamped to the bounds)."""
        return interleave([n.normalize_np(np.clip(np.asarray(v, np.float64), n.min, n.max))
                           for n, v in zip(self.dims, values)])

    def invert(self, z: int) -> tuple[float, ...]:
        return tuple(n.denormalize(v) for n, v in zip(self.dims, deinterleave(z, self.d)))

    def ranges(self, boxes: list[tuple[float, ...]], precision: int = 64,
               max_ranges: int | None = None) -> list[IndexRange]:
        """Cover the OR'd boxes (d mins, then d maxes) with z ranges."""
        d = self.d
        zbounds = [(self.index(*b[:d]), self.index(*b[d:])) for b in boxes]
        return zranges(zbounds, precision, max_ranges, dims=d)


class Z2SFC(ZSFC):
    """Lon/lat curve at a given precision (default 31 bits/dim, 62-bit z);
    ``ranges`` takes (xmin, ymin, xmax, ymax) boxes."""

    def __init__(self, precision: int = 31):
        super().__init__((LON, LAT), precision)
        self.lon, self.lat = self.dims


class Z3SFC(ZSFC):
    """Space-time curve for one time period (bin handled by the caller):
    lon, lat and the offset into the bin, 21 bits/dim by default."""

    def __init__(self, period: str = "week", precision: int = 21):
        super().__init__((LON, LAT, (0.0, float(BinnedTime.max_offset(period)))), precision)
        self.period = period
        self.lon, self.lat, self.time = self.dims

    def invert(self, z: int) -> tuple[float, float, int]:
        x, y, t = super().invert(z)
        return x, y, int(t)

    def ranges(self, xy: list[tuple[float, float, float, float]],
               times: list[tuple[int, int]], precision: int = 64,
               max_ranges: int | None = None) -> list[IndexRange]:
        """Cover OR'd lon/lat boxes x offset-in-bin intervals with z ranges."""
        return super().ranges([(x0, y0, t0, x1, y1, t1) for (x0, y0, x1, y1) in xy
                               for (t0, t1) in times], precision, max_ranges)


# --- ranges -------------------------------------------------------------------


@dataclass(frozen=True)
class IndexRange:
    lower: int
    upper: int
    contained: bool  # True when the whole z range lies inside the query box

    def tuple(self) -> tuple[int, int]:
        return (self.lower, self.upper)


class _Dim:
    """Per-dimensionality helpers shared by zdivide/zranges."""

    def __init__(self, dims: int):
        self.dims = dims
        self.bits_per_dim = SPREAD[dims][0]
        self.total_bits = dims * self.bits_per_dim
        self.max_mask = (1 << self.bits_per_dim) - 1

    def box(self, rng: tuple[int, int]) -> tuple[tuple[int, ...], tuple[int, ...]]:
        """The user-space (mins, maxes) of a z range's endpoints."""
        return deinterleave(rng[0], self.dims), deinterleave(rng[1], self.dims)

    def load(self, target: int, p: int, bits: int, dim: int) -> int:
        """Overwrite ``bits`` high bits of dimension ``dim`` in ``target`` with ``p``."""
        mask = ~(split(self.max_mask >> (self.bits_per_dim - bits), self.dims) << dim) & M64
        return (target & mask) | (split(p, self.dims) << dim)


def _contains(box, value_box) -> bool:
    """ZN.contains on decoded boxes: ``value_box`` inside ``box``."""
    return all(r0 <= v0 and v1 <= r1 for r0, r1, v0, v1 in zip(*box, *value_box))


def _overlaps(box, value_box) -> bool:
    """ZN.overlaps on decoded boxes: the two boxes intersect."""
    return all(max(r0, v0) <= min(r1, v1) for r0, r1, v0, v1 in zip(*box, *value_box))


_DIMS = {d: _Dim(d) for d in SPREAD}

DEFAULT_RECURSE = 7
DEFAULT_MAX_RANGES = 2000  # geomesa.scan.ranges.target


def zdivide(p: int, rmin: int, rmax: int, dims: int = 2) -> tuple[int, int]:
    """LITMAX/BIGMIN split of range [rmin,rmax] around out-of-box point p."""
    if rmin >= rmax:
        raise ValueError(f"min ({rmin}) must be less than max ({rmax})")
    d = _DIMS[dims]
    zmin, zmax = rmin, rmax
    litmax = bigmin = 0
    for i in range(63, -1, -1):
        bits = i // dims + 1
        dim = i % dims
        xb = (p >> i) & 1
        nb = (zmin >> i) & 1
        xb2 = (zmax >> i) & 1
        if xb == 0 and nb == 0 and xb2 == 1:
            zmax = d.load(zmax, (1 << (bits - 1)) - 1, bits, dim)
            bigmin = d.load(zmin, 1 << (bits - 1), bits, dim)
        elif xb == 0 and nb == 1 and xb2 == 1:
            return litmax, zmin
        elif xb == 1 and nb == 0 and xb2 == 0:
            return zmax, bigmin
        elif xb == 1 and nb == 0 and xb2 == 1:
            litmax = d.load(zmax, (1 << (bits - 1)) - 1, bits, dim)
            zmin = d.load(zmin, 1 << (bits - 1), bits, dim)
    return litmax, bigmin


def zcut(rng: tuple[int, int], xd: int, in_range: bool,
         dims: int = 2) -> list[tuple[int, int]]:
    """Split a z range around a point (ZN.scala:250-265 ``cut``).

    ``in_range``: the point lies inside the query box, so both halves
    exclude it (degenerate single-node cases when it sits on an
    endpoint); otherwise the LITMAX/BIGMIN divide drops the dead span
    between the halves.  An empty list for an uncuttable (single-z)
    range; reversed bounds raise (ZRange's ordering requirement,
    enforced here by zdivide)."""
    rmin, rmax = rng
    if rmin == rmax:
        return []
    if in_range:
        if xd == rmin:
            return [(rmax, rmax)]
        if xd == rmax:
            return [(rmin, rmin)]
        return [(rmin, xd - 1), (xd + 1, rmax)]
    litmax, bigmin = zdivide(xd, rmin, rmax, dims)
    return [(rmin, litmax), (bigmin, rmax)]


def zrange_contains(rng: tuple[int, int], value_rng: tuple[int, int],
                    dims: int = 2) -> bool:
    """ZN.contains: value range's user-space box inside rng's box."""
    d = _DIMS[dims]
    return _contains(d.box(rng), d.box(value_rng))


def zrange_overlaps(rng: tuple[int, int], value_rng: tuple[int, int],
                    dims: int = 2) -> bool:
    """ZN.overlaps: user-space boxes of the two z ranges intersect."""
    d = _DIMS[dims]
    return _overlaps(d.box(rng), d.box(value_rng))


def _longest_common_prefix(dims: _Dim, *values: int) -> tuple[int, int]:
    bit_shift = dims.total_bits - dims.dims
    head = values[0] >> bit_shift
    while bit_shift > -1 and all((v >> bit_shift) == head for v in values[1:]):
        bit_shift -= dims.dims
        head = values[0] >> bit_shift if bit_shift >= 0 else 0
    bit_shift += dims.dims
    prefix = values[0] & (((1 << 63) - 1) << bit_shift) & M64
    return prefix, 64 - bit_shift


def zranges(zbounds: list[tuple[int, int]], precision: int = 64,
            max_ranges: int | None = None, max_recurse: int | None = DEFAULT_RECURSE,
            dims: int = 2) -> list[IndexRange]:
    """BFS decomposition of z-space query boxes into merged index ranges."""
    d = _DIMS[dims]
    quadrants = 1 << dims
    ranges: list[IndexRange] = []
    remaining: deque[tuple[int, int] | None] = deque()  # None = level terminator

    flat = [v for b in zbounds for v in b]
    common_prefix, common_bits = _longest_common_prefix(d, *flat)
    offset = 64 - common_bits

    boxes = [d.box(b) for b in zbounds]

    def check_value(prefix: int, quadrant: int) -> None:
        lo = (prefix | (quadrant << offset)) & M64
        hi = (lo | ((1 << offset) - 1)) & M64
        cell = d.box((lo, hi))
        if any(_contains(b, cell) for b in boxes) or offset < 64 - precision:
            ranges.append(IndexRange(lo, hi, True))
        elif any(_overlaps(b, cell) for b in boxes):
            remaining.append((lo, hi))

    def bottom_out() -> None:
        while remaining:
            mm = remaining.popleft()
            if mm is not None:
                ranges.append(IndexRange(mm[0], mm[1], False))

    check_value(common_prefix, 0)
    remaining.append(None)
    offset -= dims

    level = 0
    range_stop = max_ranges if max_ranges is not None else (1 << 62)
    recurse_stop = max_recurse if max_recurse is not None else DEFAULT_RECURSE

    while remaining:
        nxt = remaining.popleft()
        if nxt is None:
            if remaining:
                level += 1
                offset -= dims
                if level >= recurse_stop or offset < 0:
                    bottom_out()
                else:
                    remaining.append(None)
        else:
            prefix = nxt[0]
            for quadrant in range(quadrants):
                check_value(prefix, quadrant)
            if len(ranges) + len(remaining) - 1 >= range_stop:
                bottom_out()

    ranges.sort(key=lambda r: (r.lower, r.upper))
    result: list[IndexRange] = []
    current = ranges[0]
    for rng in ranges[1:]:
        if rng.lower <= current.upper + 1:
            current = IndexRange(current.lower, max(current.upper, rng.upper),
                                 current.contained and rng.contained)
        else:
            result.append(current)
            current = rng
    result.append(current)
    return result
