"""Z2/Z3 row-filter parity — ports of the reference's Z2FilterTest.scala and
Z3FilterTest.scala (byte + string round trips over the same ECQL-derived
index values) plus inBounds endpoint-semantics pins the reference implies
but never asserts directly (Z3Filter.scala:26-62).

The engine's query path rechecks rows with EXACT native predicates instead
of a per-row z decode, so the load-bearing property here is that the
reference's lattice test is a SUPERSET of the exact predicate (never drops a
true match) with closed endpoints per dimension.
"""

from __future__ import annotations

import random
import struct
from datetime import datetime, timezone

import pytest

from geomesa_spark.cells.z3 import BinnedTime
from geomesa_spark.cells.zn import Z2, Z2SFC, Z3, Z3SFC
from geomesa_spark.plans.zfilters import (
    Z2RowFilter, Z3RowFilter, z3_temporal_bounds,
)

WORLD = (-180.0, -90.0, 180.0, 90.0)


def _ms(iso: str) -> int:
    return int(datetime.fromisoformat(iso.replace("Z", "+00:00"))
               .replace(tzinfo=timezone.utc).timestamp() * 1000)


def _z3_key(epoch: int, z: int) -> bytes:
    return struct.pack(">hq", epoch, z)


# The three Z3FilterTest.scala:28-32 filters, decomposed the way
# Z3IndexKeySpace.getIndexValues does (bbox -> spatialBounds, DURING ->
# per-week temporal bounds; a dtg-only filter keeps whole-world xy).
Z3_FIXTURES = [
    ([(38.0, 48.0, 52.0, 62.0)],
     z3_temporal_bounds(_ms("2014-01-01T00:00:00Z"), _ms("2014-01-08T12:00:00Z"))),
    ([(38.0, 48.0, 52.0, 62.0)],
     z3_temporal_bounds(_ms("2013-12-15T00:00:00Z"), _ms("2014-01-15T00:00:00Z"))),
    ([WORLD],
     z3_temporal_bounds(_ms("2014-01-01T00:00:00Z"), _ms("2014-01-08T12:00:00Z"))),
]

# Z2FilterTest.scala:28-30
Z2_FIXTURES = [[(38.0, 48.0, 52.0, 62.0)]]


@pytest.mark.parametrize("spatial", Z2_FIXTURES)
def test_z2_round_trip_bytes_and_strings(spatial):
    f = Z2RowFilter.from_values(spatial)
    assert Z2RowFilter.from_bytes(f.to_bytes()).xy == f.xy
    assert Z2RowFilter.from_strings(f.to_strings()).xy == f.xy


@pytest.mark.parametrize("spatial,temporal", Z3_FIXTURES)
def test_z3_round_trip_bytes_and_strings(spatial, temporal):
    f = Z3RowFilter.from_values(spatial, temporal)
    for g in (Z3RowFilter.from_bytes(f.to_bytes()),
              Z3RowFilter.from_strings(f.to_strings())):
        assert (g.xy, g.t, g.min_epoch, g.max_epoch) == \
               (f.xy, f.t, f.min_epoch, f.max_epoch)


def test_z3_fixture_shapes():
    """Construction semantics pinned: the one-week DURING spans two week
    bins (2014-01-01 is mid-bin); the month-long DURING covers whole middle
    weeks, which Z3Filter.apply DROPS (null slots in a dense epoch array)."""
    f0 = Z3RowFilter.from_values(*Z3_FIXTURES[0])
    assert f0.max_epoch - f0.min_epoch + 1 == len(f0.t) == 2
    assert all(b is not None for b in f0.t)

    f1 = Z3RowFilter.from_values(*Z3_FIXTURES[1])
    # 2013-12-15 .. 2014-01-15 = partial first/last weeks + whole middles
    assert f1.t[0] is not None and f1.t[-1] is not None
    assert any(b is None for b in f1.t[1:-1])
    # null slots survive BOTH codecs
    assert Z3RowFilter.from_bytes(f1.to_bytes()).t == f1.t
    assert Z3RowFilter.from_strings(f1.to_strings()).t == f1.t


def test_z3_empty_temporal_sentinels():
    """No residual time filter -> Short.MaxValue/MinValue sentinels and an
    empty epoch array (Z3Filter.scala:87-105); every epoch passes."""
    sfc = Z3SFC("week")
    whole = {2295: [(0, int(sfc.time.max))]}
    f = Z3RowFilter.from_values([WORLD], whole)
    assert (f.min_epoch, f.max_epoch, f.t) == (32767, -32768, [])
    z = sfc.index(10.0, 10.0, 1000)
    assert f.in_bounds(_z3_key(2295, z))
    assert f.in_bounds(_z3_key(0, z))
    # byte codec round-trips the empty array; the STRING codec reproduces
    # the Java "".split(",") quirk: empty array -> [null]
    assert Z3RowFilter.from_bytes(f.to_bytes()).t == []
    assert Z3RowFilter.from_strings(f.to_strings()).t == [None]


def test_z2_in_bounds_endpoint_inclusivity():
    """Closed endpoints on the normalized lattice (Z2Filter.scala:27-34):
    the boundary CELLS pass, their neighbors outside do not."""
    sfc = Z2SFC()
    box = (38.0, 48.0, 52.0, 62.0)
    f = Z2RowFilter.from_values([box])
    x0, y0, x1, y1 = f.xy[0]
    for (nx, ny), want in [((x0, y0), True), ((x1, y1), True),
                           ((x0, y1), True), ((x1, y0), True),
                           ((x0 - 1, y0), False), ((x1 + 1, y1), False),
                           ((x0, y0 - 1), False), ((x1, y1 + 1), False)]:
        z = Z2.encode(nx, ny)
        assert f.in_bounds(struct.pack(">q", z)) is want, (nx, ny)


def test_z3_time_in_bounds_semantics():
    """Epochs outside [min,max] pass unconditionally; an in-range epoch with
    a null slot passes; offsets check closed endpoints (Z3Filter.scala:45-62)."""
    sfc = Z3SFC("week")
    f = Z3RowFilter.from_values(*Z3_FIXTURES[1])
    nx = sfc.lon.normalize(45.0)
    ny = sfc.lat.normalize(55.0)

    def key(epoch, t_norm):
        return _z3_key(epoch, Z3.encode(nx, ny, t_norm))

    # whole-epoch passthroughs
    assert f.in_bounds(key(f.min_epoch - 1, 0))
    assert f.in_bounds(key(f.max_epoch + 1, 0))
    null_epoch = f.min_epoch + next(i for i, b in enumerate(f.t) if b is None)
    assert f.in_bounds(key(null_epoch, 0))
    # closed endpoints on the last partial week: [0, hi] inclusive
    (lo, hi), = f.t[-1]
    assert f.in_bounds(key(f.max_epoch, hi))
    assert not f.in_bounds(key(f.max_epoch, hi + 1))
    assert f.in_bounds(key(f.max_epoch, lo))
    # spatial reject still applies regardless of time
    far = Z3.encode(sfc.lon.normalize(-100.0), sfc.lat.normalize(0.0), hi)
    assert not f.in_bounds(_z3_key(f.max_epoch, far))


def test_z3_in_bounds_superset_of_exact_predicate():
    """The load-bearing recheck property: for random points, the lattice
    test NEVER rejects a point that exactly matches the query (the engine's
    native recheck may then discard lattice-true false positives — that is
    the refinement direction the design relies on)."""
    rng = random.Random(42)
    box = (38.0, 48.0, 52.0, 62.0)
    lo_ms, hi_ms = _ms("2014-01-01T00:00:00Z"), _ms("2014-01-08T12:00:00Z")
    f = Z3RowFilter.from_values([box], z3_temporal_bounds(lo_ms, hi_ms))
    sfc = Z3SFC("week")
    n_exact = n_lattice = 0
    for _ in range(3000):
        lon = rng.uniform(30, 60)
        lat = rng.uniform(40, 70)
        ms = rng.randrange(_ms("2013-12-25T00:00:00Z"), _ms("2014-01-15T00:00:00Z"))
        bt = BinnedTime.to_binned_time(ms, "week")
        z = sfc.index(lon, lat, bt.offset)
        lattice = f.in_bounds(_z3_key(bt.bin, z))
        exact = (box[0] <= lon <= box[2] and box[1] <= lat <= box[3]
                 and lo_ms <= ms <= hi_ms)
        n_exact += exact
        n_lattice += lattice
        if exact:
            assert lattice, (lon, lat, ms)
    assert n_exact > 100            # the probe actually exercised matches
    assert n_lattice >= n_exact     # superset, with boundary-cell slack
