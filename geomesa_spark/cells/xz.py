"""XZ-ordering curve for extents (non-point geometries), in any dimension.

Implements XZ-Ordering ("XZ-Ordering: A Space-Filling Curve for Objects with
Spatial Extension", Böhm/Klump/Kriegel, SSD 1999) with the conventions of
the reference's curve/XZ2SFC.scala and curve/XZ3SFC.scala, written once
for d dimensions: an extent (its d mins, then its d maxes) is normalized to
[0,1]^d, the sequence-code length is chosen from its largest side (l1, or
l1+1 when the two-cell predicate of §4.1 holds in every dimension), and
covers enumerate the elements whose *extended* (2x) footprint meets the
query.

Element paths are base-B prefixes, B = 2^d: bit k of a child index q picks
the upper half of dimension k, and each level adds
``1 + q*(B^(g-i) - 1)/(B - 1)`` to the sequence code (Definition 2 of the
paper).

* ``XZ2SFC`` — (lon, lat) extents, the reference's XZ2SFC.
* ``XZ3SFC`` — (lon, lat, offset-within-time-bin) extents; the default z
  bounds are one week of seconds, the reference's ``XZ3SFC(g,
  TimePeriod.Week)`` (BinnedTime.maxOffset).
"""

from __future__ import annotations

from math import floor, log

import numpy as np

from geomesa_spark.cells.z3 import BinnedTime
from geomesa_spark.cells.zn import DEFAULT_MAX_RANGES, IndexRange

_LOG_HALF = log(0.5)


class XZSFC:
    def __init__(self, g: int, bounds: tuple[tuple[float, float], ...]):
        self.g = g
        self.d = len(bounds)
        self.lo = [b[0] for b in bounds]
        self.hi = [b[1] for b in bounds]
        self.size = [h - lo for lo, h in zip(self.lo, self.hi)]
        base = 1 << self.d
        # _step[i] = (B^(g-i) - 1)/(B - 1): the code distance between sibling
        # subtrees at level i. Codes are int64 in the numpy paths, as the
        # reference's are Longs: g <= 30 at d = 2, g <= 20 at d = 3
        self._step = [(base ** (g - i) - 1) // (base - 1) for i in range(g + 1)]

    # -- normalization ------------------------------------------------------

    def _check_extent(self, extent) -> None:
        if len(extent) != 2 * self.d:
            raise TypeError(f"an extent is {self.d} mins then {self.d} maxes, "
                            f"got {len(extent)} values")

    def _normalize(self, extent, lenient=False) -> tuple[float, ...]:
        self._check_extent(extent)
        d = self.d
        mins, maxs = list(extent[:d]), list(extent[d:])
        spans = " ".join(f"[{a} {b}]" for a, b in zip(mins, maxs))
        if any(a > b for a, b in zip(mins, maxs)):
            raise ValueError(f"bounds must be ordered: {spans}")
        if not all(lo <= a and b <= hi
                   for a, b, lo, hi in zip(mins, maxs, self.lo, self.hi)):
            if not lenient:
                raise ValueError(f"values out of bounds: {spans}")
            mins = [min(max(a, lo), hi) for a, lo, hi in zip(mins, self.lo, self.hi)]
            maxs = [min(max(b, lo), hi) for b, lo, hi in zip(maxs, self.lo, self.hi)]
        return tuple((v - lo) / s for v, lo, s in zip(mins + maxs, self.lo * 2, self.size * 2))

    # -- indexing -----------------------------------------------------------

    def index(self, *extent: float, lenient: bool = False) -> int:
        """Sequence code of one extent: its d mins, then its d maxes."""
        d = self.d
        n = self._normalize(extent, lenient)
        mins, maxs = n[:d], n[d:]
        max_dim = max(b - a for a, b in zip(mins, maxs))
        if max_dim == 0.0:
            length = self.g
        else:
            l1 = int(floor(log(max_dim) / _LOG_HALF))
            if l1 >= self.g:
                length = self.g
            else:
                w2 = 0.5 ** (l1 + 1)
                fits = all(b <= (floor(a / w2) * w2) + 2 * w2 for a, b in zip(mins, maxs))
                length = l1 + 1 if fits else l1
        return self._sequence_code(mins, length)

    def index_np(self, *extent: np.ndarray) -> np.ndarray:
        """Vectorized (lenient) index over extent arrays: d mins, d maxes."""
        self._check_extent(extent)
        lo = np.array(self.lo * 2, dtype=np.float64)[:, None]
        hi = np.array(self.hi * 2, dtype=np.float64)[:, None]
        size = np.array(self.size * 2, dtype=np.float64)[:, None]
        norm = (np.clip(np.stack(extent).astype(np.float64), lo, hi) - lo) / size
        nmin, nmax = norm[:self.d], norm[self.d:]
        max_dim = (nmax - nmin).max(axis=0)
        with np.errstate(divide="ignore"):
            l1 = np.where(max_dim > 0,
                          np.floor(np.log(np.maximum(max_dim, 1e-300)) / _LOG_HALF), self.g)
        l1 = np.minimum(l1, self.g).astype(np.int64)
        w2 = np.power(0.5, (l1 + 1).astype(np.float64))
        pred = (nmax <= np.floor(nmin / w2) * w2 + 2 * w2).all(axis=0)
        length = np.minimum(np.where((l1 < self.g) & pred, l1 + 1, l1), self.g)

        # the sequence code, one level at a time across rows; cell corners
        # and centers are dyadic, so corner + half-width is the exact center
        cs = np.zeros(len(length), dtype=np.int64)
        corner = np.zeros_like(nmin)
        weights = (1 << np.arange(self.d, dtype=np.int64))[:, None]
        for i in range(int(length.max()) if len(length) else 0):
            half = 0.5 ** (i + 1)
            upper = nmin >= corner + half
            cs += (i < length) * (1 + (upper * weights).sum(axis=0) * self._step[i])
            corner += upper * half
        return cs

    def _sequence_code(self, point, length: int) -> int:
        mins, maxs = [0.0] * self.d, [1.0] * self.d
        cs = 0
        for i in range(length):
            q = 0
            for k, v in enumerate(point):
                c = (mins[k] + maxs[k]) / 2.0
                if v < c:
                    maxs[k] = c
                else:
                    mins[k] = c
                    q |= 1 << k
            cs += 1 + q * self._step[i]
        return cs

    # -- covers -------------------------------------------------------------

    def ranges(self, queries: list[tuple[float, ...]],
               max_ranges: int | None = None) -> list[IndexRange]:
        windows = [self._normalize(q) for q in queries]
        return self._ranges(windows, max_ranges if max_ranges is not None else DEFAULT_MAX_RANGES)

    def _ranges(self, windows: list[tuple[float, ...]], range_stop: int) -> list[IndexRange]:
        """Breadth-first over the elements, one level per numpy pass. An
        element is its lower corner and its sequence code, carried from its
        parent; at level L its side is 2^-L and its extended footprint
        reaches corner + 2 * 2^-L (exact: every corner is dyadic)."""
        d, step = self.d, self._step
        w = np.array(windows, dtype=np.float64)[:, None, :]
        wmin, wmax = w[..., :d], w[..., d:]
        upper = (np.arange(1 << d)[:, None] >> np.arange(d)) & 1
        child_q = np.arange(1 << d, dtype=np.int64)
        # per level: every element's code and kind, 0 = outside the query,
        # 1 = contained, 2 = overlapped (a range of itself only), 3 = kept
        # whole unchecked
        codes_at, kinds_at = [], []

        def children(corner, codes, level):
            side = 0.5 ** (level + 1)
            return ((corner[:, None] + upper * side).reshape(-1, d),
                    (codes[:, None] + 1 + child_q * step[level]).reshape(-1))

        corner, codes = children(np.zeros((1, d)), np.zeros(1, np.int64), 0)
        level, count = 1, 0
        while level < self.g and len(codes) and count < range_stop:
            reach = corner + 2 * 0.5 ** level
            inside = ((wmin <= corner) & (wmax >= reach)).all(-1).any(0)
            touch = ~inside & ((wmax >= corner) & (wmin <= reach)).all(-1).any(0)
            kind = inside + 2 * touch
            hit = kind > 0
            # elements are checked in order until the cover holds range_stop
            # ranges; the rest of the level is kept whole
            total = count + int(hit.sum())
            if total >= range_stop:
                done = int((count + np.cumsum(hit) - hit < range_stop).sum())
                kind[done:] = 3
                touch[done:] = False
            count = total
            codes_at.append(codes)
            kinds_at.append(kind)
            corner, codes = children(corner[touch], codes[touch], level)
            level += 1
        codes_at.append(codes)
        kinds_at.append(np.full(len(codes), 3))

        kind = np.concatenate(kinds_at)
        keep = kind > 0
        lo = np.concatenate(codes_at)[keep]
        # an element at level L spans its subtree, step[L - 1] codes
        span = np.repeat(step[:level], [len(c) for c in codes_at])[keep]
        hi = lo + np.where(kind[keep] == 2, 0, span)
        contained = kind[keep] == 1
        order = np.lexsort((hi, lo))
        lo, hi, contained = lo[order], hi[order], contained[order]
        # merge overlapping and adjacent ranges
        starts = np.flatnonzero(np.concatenate(([True], lo[1:] > np.maximum.accumulate(hi)[:-1] + 1)))
        return [IndexRange(a, b, c) for a, b, c in zip(
            lo[starts].tolist(), np.maximum.reduceat(hi, starts).tolist(),
            np.logical_and.reduceat(contained, starts).tolist())]


class XZ2SFC(XZSFC):
    """XZ over (lon, lat) extents: ``index(xmin, ymin, xmax, ymax)``."""

    def __init__(self, g: int, x_bounds: tuple[float, float] = (-180.0, 180.0),
                 y_bounds: tuple[float, float] = (-90.0, 90.0)):
        super().__init__(g, (x_bounds, y_bounds))


class XZ3SFC(XZSFC):
    """XZ over (lon, lat, time-offset) extents:
    ``index(xmin, ymin, zmin, xmax, ymax, zmax)``."""

    def __init__(self, g: int, x_bounds: tuple[float, float] = (-180.0, 180.0),
                 y_bounds: tuple[float, float] = (-90.0, 90.0),
                 z_bounds: tuple[float, float] | None = None,
                 period: str = "week"):
        if z_bounds is None:
            z_bounds = (0.0, float(BinnedTime.max_offset(period)))
        super().__init__(g, (x_bounds, y_bounds, z_bounds))
        self.zlo, self.zhi = z_bounds
