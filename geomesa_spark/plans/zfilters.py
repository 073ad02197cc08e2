"""Row-level Z2/Z3 filters: the reference's coarse per-key recheck.

Semantic port of ``geomesa-index-api/.../index/filters/Z2Filter.scala`` and
``Z3Filter.scala`` (inBounds + byte/string codecs).  The engine's query path
by design replaces the per-row z-recheck with EXACT native predicates
(plans/query.py — Catalyst ``lon BETWEEN`` beats decoding z per row), but the
reference's endpoint semantics are pinned here so the two recheck styles can
be proven consistent:

* ``in_bounds`` tests the NORMALIZED lattice coordinates against normalized
  box corners with closed endpoints per dimension
  (``Z3Filter.scala:31-43`` — ``x >= xyi(0) && x <= xyi(2)``), which makes
  the lattice test a strict SUPERSET of the exact predicate: a z-key passes
  whenever its cell touches the query box, so no true match is dropped.
* time bounds are checked per epoch bin; epochs OUTSIDE ``[min_epoch,
  max_epoch]`` pass unconditionally, and an in-range epoch with no recorded
  bounds passes too (``Z3Filter.scala:45-62`` — "we know we're only going to
  scan appropriate epochs"), because whole-period epochs are dropped at
  construction (``Z3Filter.scala:86-98``).
* byte layout matches ``serializeToBytes`` exactly (big-endian, length
  prefixes, ``-1`` for null epoch slots); string layout matches
  ``serializeToStrings`` (``:`` in-range, ``;`` between terms, ``,`` between
  epochs).  The Java quirk that an EMPTY epoch array round-trips through
  strings as ``[null]`` (``"".split(",")`` yields ``[""]``) is preserved
  bug-for-bug.

Keys are the reference's row-key tails: Z3 = 2-byte big-endian epoch short +
8-byte big-endian z (``Z3Filter.inBounds`` reads the long at ``offset + 2``);
Z2 = 8-byte big-endian z.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

from geomesa_spark.cells.z3 import BinnedTime
from geomesa_spark.cells.zn import Z2SFC, Z3SFC, deinterleave

_RANGE_SEP = ":"
_TERM_SEP = ";"
_EPOCH_SEP = ","

XY_KEY = "zxy"
T_KEY = "zt"
EPOCH_KEY = "epoch"
VERSION_KEY = "v"

# Short.MaxValue / Short.MinValue sentinels for "no temporal bounds"
# (Z3Filter.scala:87-88)
_SHORT_MAX = 32767
_SHORT_MIN = -32768


@dataclass
class Z2RowFilter:
    """Normalized spatial bounds; ``xy[i] = [xmin, ymin, xmax, ymax]``."""

    xy: list[list[int]]

    @classmethod
    def from_values(cls, spatial_bounds: list[tuple[float, float, float, float]],
                    sfc: Z2SFC | None = None) -> "Z2RowFilter":
        """Z2Filter.apply(Z2IndexValues) — normalize each query box corner."""
        sfc = sfc or Z2SFC()
        return cls([[sfc.lon.normalize(xmin), sfc.lat.normalize(ymin),
                     sfc.lon.normalize(xmax), sfc.lat.normalize(ymax)]
                    for (xmin, ymin, xmax, ymax) in spatial_bounds])

    def in_bounds(self, buf: bytes, offset: int = 0) -> bool:
        z = struct.unpack_from(">q", buf, offset)[0]
        x, y = deinterleave(z, 2)
        return any(b[0] <= x <= b[2] and b[1] <= y <= b[3] for b in self.xy)

    def to_bytes(self) -> bytes:
        out = struct.pack(">i", len(self.xy))
        for b in self.xy:
            out += struct.pack(">4i", *b)
        return out

    @classmethod
    def from_bytes(cls, data: bytes) -> "Z2RowFilter":
        (n,), off = struct.unpack_from(">i", data), 4
        xy = [list(struct.unpack_from(">4i", data, off + i * 16)) for i in range(n)]
        return cls(xy)

    def to_strings(self, version: str = "dev") -> dict[str, str]:
        xy = _TERM_SEP.join(_RANGE_SEP.join(str(v) for v in b) for b in self.xy)
        return {XY_KEY: xy, VERSION_KEY: version}

    @classmethod
    def from_strings(cls, ser: dict[str, str]) -> "Z2RowFilter":
        return cls([[int(v) for v in term.split(_RANGE_SEP)]
                    for term in ser[XY_KEY].split(_TERM_SEP)])


@dataclass
class Z3RowFilter:
    """Normalized xy bounds + per-epoch normalized time bounds.

    ``t[epoch - min_epoch]`` is a list of closed ``[lo, hi]`` offset ranges,
    or ``None`` when that epoch has no residual time filter (whole period).
    """

    xy: list[list[int]]
    t: list[list[list[int]] | None]
    min_epoch: int
    max_epoch: int

    @classmethod
    def from_values(cls, spatial_bounds: list[tuple[float, float, float, float]],
                    temporal_bounds: dict[int, list[tuple[int, int]]],
                    sfc: Z3SFC | None = None) -> "Z3RowFilter":
        """Z3Filter.apply(Z3IndexValues): whole-period epochs are DROPPED
        (the scan already restricts to appropriate epochs), remaining epochs
        land in a dense array indexed from min_epoch with null gaps."""
        sfc = sfc or Z3SFC("week")
        xy = [[sfc.lon.normalize(xmin), sfc.lat.normalize(ymin),
               sfc.lon.normalize(xmax), sfc.lat.normalize(ymax)]
              for (xmin, ymin, xmax, ymax) in spatial_bounds]

        whole = [(int(sfc.time.min), int(sfc.time.max))]
        kept = {epoch: times for epoch, times in sorted(temporal_bounds.items())
                if list(times) != whole}
        if not kept:
            return cls(xy, [], _SHORT_MAX, _SHORT_MIN)
        min_epoch, max_epoch = min(kept), max(kept)
        t: list[list[list[int]] | None] = [None] * (max_epoch - min_epoch + 1)
        for epoch, times in kept.items():
            t[epoch - min_epoch] = [[sfc.time.normalize(lo), sfc.time.normalize(hi)]
                                    for (lo, hi) in times]
        return cls(xy, t, min_epoch, max_epoch)

    # -- evaluation (Z3Filter.scala:26-62) -----------------------------------

    def in_bounds(self, buf: bytes, offset: int = 0) -> bool:
        epoch = struct.unpack_from(">h", buf, offset)[0]
        z = struct.unpack_from(">q", buf, offset + 2)[0]
        return self._point_in_bounds(z) and self._time_in_bounds(epoch, z)

    def _point_in_bounds(self, z: int) -> bool:
        x, y, _ = deinterleave(z, 3)
        return any(b[0] <= x <= b[2] and b[1] <= y <= b[3] for b in self.xy)

    def _time_in_bounds(self, epoch: int, z: int) -> bool:
        if epoch > self.max_epoch or epoch < self.min_epoch:
            return True
        bounds = self.t[epoch - self.min_epoch]
        if bounds is None:
            return True
        time = deinterleave(z, 3)[2]
        return any(lo <= time <= hi for lo, hi in bounds)

    # -- byte codec (Z3Filter.scala:112-153) ----------------------------------

    def to_bytes(self) -> bytes:
        out = struct.pack(">i", len(self.xy))
        for b in self.xy:
            out += struct.pack(">4i", *b)
        out += struct.pack(">i", len(self.t))
        for bounds in self.t:
            if bounds is None:
                out += struct.pack(">i", -1)
            else:
                out += struct.pack(">i", len(bounds))
                for lo, hi in bounds:
                    out += struct.pack(">2i", lo, hi)
        out += struct.pack(">hh", self.min_epoch, self.max_epoch)
        return out

    @classmethod
    def from_bytes(cls, data: bytes) -> "Z3RowFilter":
        off = 0
        (nxy,) = struct.unpack_from(">i", data, off)
        off += 4
        xy = []
        for _ in range(nxy):
            xy.append(list(struct.unpack_from(">4i", data, off)))
            off += 16
        (nt,) = struct.unpack_from(">i", data, off)
        off += 4
        t: list[list[list[int]] | None] = []
        for _ in range(nt):
            (n,) = struct.unpack_from(">i", data, off)
            off += 4
            if n == -1:
                t.append(None)
            else:
                bounds = []
                for _ in range(n):
                    bounds.append(list(struct.unpack_from(">2i", data, off)))
                    off += 8
                t.append(bounds)
        min_epoch, max_epoch = struct.unpack_from(">hh", data, off)
        return cls(xy, t, min_epoch, max_epoch)

    # -- string codec (Z3Filter.scala:155-182) ---------------------------------

    def to_strings(self, version: str = "dev") -> dict[str, str]:
        xy = _TERM_SEP.join(_RANGE_SEP.join(str(v) for v in b) for b in self.xy)
        t = _EPOCH_SEP.join(
            "" if bounds is None else
            _TERM_SEP.join(_RANGE_SEP.join(str(v) for v in r) for r in bounds)
            for bounds in self.t)
        epoch = f"{self.min_epoch}{_RANGE_SEP}{self.max_epoch}"
        return {XY_KEY: xy, T_KEY: t, EPOCH_KEY: epoch, VERSION_KEY: version}

    @classmethod
    def from_strings(cls, ser: dict[str, str]) -> "Z3RowFilter":
        xy = [[int(v) for v in term.split(_RANGE_SEP)]
              for term in ser[XY_KEY].split(_TERM_SEP)]
        # NOTE: "".split(",") yields [""] in Java AND Python, so an empty
        # epoch array becomes [null] after a string round-trip — preserved
        # bug-for-bug with the reference.
        t: list[list[list[int]] | None] = [
            None if bounds == "" else
            [[int(v) for v in r.split(_RANGE_SEP)] for r in bounds.split(_TERM_SEP)]
            for bounds in ser[T_KEY].split(_EPOCH_SEP)]
        min_epoch, max_epoch = (int(v) for v in ser[EPOCH_KEY].split(_RANGE_SEP))
        return cls(xy, t, min_epoch, max_epoch)


def z3_temporal_bounds(lo_ms: int, hi_ms: int,
                       period: str = "week") -> dict[int, list[tuple[int, int]]]:
    """Split an inclusive epoch-millis interval into per-bin offset ranges in
    the bin's native time unit — the shape ``Z3IndexKeySpace.getIndexValues``
    feeds ``Z3Filter.apply`` (fully-covered middle bins get the whole period,
    which the filter constructor then drops)."""
    sfc = Z3SFC(period)
    lo = BinnedTime.to_binned_time(lo_ms, period)
    hi = BinnedTime.to_binned_time(hi_ms, period)
    max_off = int(sfc.time.max)
    if lo.bin == hi.bin:
        return {lo.bin: [(lo.offset, hi.offset)]}
    out: dict[int, list[tuple[int, int]]] = {lo.bin: [(lo.offset, max_off)]}
    for b in range(lo.bin + 1, hi.bin):
        out[b] = [(0, max_off)]
    out[hi.bin] = [(0, hi.offset)]
    return out
