"""Expected answers computed with numpy only, never with engine code.

Each function takes the seeded arrays of ``inputs.py`` and returns what a
correct engine must produce; the ``check_*`` functions compare an engine
result against it and return a list of mismatch descriptions (empty when
the result is right).
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_M = 6371008.8
FINEST_ZOOM = 8
TILE_PX = 256
ZOOMS = (0, 2, 4, 6, 8)
FP_MOD = 2147483647  # pixel fingerprint modulus (2^31 - 1)


def in_convex_ring(x: np.ndarray, y: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Boundary-inclusive inside test against a closed CCW convex ring: a
    point is inside when it lies on or left of every edge."""
    inside = np.ones(len(x), dtype=bool)
    for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
        inside &= (bx - ax) * (y - ay) - (by - ay) * (x - ax) >= 0.0
    return inside


def _bbox_candidates(order, lon_sorted, lat, bounds):
    xmin, ymin, xmax, ymax = bounds
    cand = order[np.searchsorted(lon_sorted, xmin, side="left"):
                 np.searchsorted(lon_sorted, xmax, side="right")]
    return cand[(lat[cand] >= ymin) & (lat[cand] <= ymax)]


def pip_pairs(lon: np.ndarray, lat: np.ndarray, rings: list) -> tuple:
    """(point index, polygon index) of every point inside every polygon."""
    order = np.argsort(lon, kind="stable")
    lon_sorted = lon[order]
    pts, polys = [], []
    for k, ring in enumerate(rings):
        bounds = (ring[:, 0].min(), ring[:, 1].min(), ring[:, 0].max(), ring[:, 1].max())
        cand = _bbox_candidates(order, lon_sorted, lat, bounds)
        hit = cand[in_convex_ring(lon[cand], lat[cand], ring)]
        pts.append(hit)
        polys.append(np.full(len(hit), k, dtype=np.int64))
    return np.concatenate(pts), np.concatenate(polys)


def _pixel(v: np.ndarray, lo: float, span: float, n_px: int) -> np.ndarray:
    return np.minimum(np.floor((v + lo) / span * n_px), n_px - 1).astype(np.int64)


def pyramid(lon: np.ndarray, lat: np.ndarray) -> dict:
    """Per zoom: (distinct pixels, total count, pixel fingerprint) of the
    plate-carree pyramid of the given points (one count per point)."""
    n_px = (1 << FINEST_ZOOM) * TILE_PX
    gx = _pixel(lon, 180.0, 360.0, n_px)
    gy = _pixel(lat, 90.0, 180.0, n_px)
    out = {}
    for z in ZOOMS:
        shift = FINEST_ZOOM - z
        key = (gx >> shift) * n_px + (gy >> shift)
        uniq, cnt = np.unique(key, return_counts=True)
        out[z] = (len(uniq), int(cnt.sum()),
                  fingerprint(uniq // n_px, uniq % n_px, cnt))
    return out


def fingerprint(gx: np.ndarray, gy: np.ndarray, cnt: np.ndarray) -> int:
    """Order-insensitive checksum of a pixel set with counts; the Spark side
    evaluates the same integer expression per row and sums it."""
    return int(((gx * 1000003 + gy * 7919 + cnt * 31) % FP_MOD).sum())


def check_pyramid(got: dict, expected: dict) -> list:
    """``got``: zoom -> (pixels, total count, fingerprint) from the engine."""
    errs = []
    for z, exp in expected.items():
        if tuple(got.get(z, ())) != exp:
            errs.append(f"zoom {z}: got {got.get(z)}, expected {exp}")
    return errs


def polygon_ids(a: dict, ring: np.ndarray) -> np.ndarray:
    return np.sort(a["id"][in_convex_ring(a["lon"], a["lat"], ring)])


def bbox_ids(a: dict, bbox: tuple, interval: tuple) -> np.ndarray:
    """BBOX plus an INCLUSIVE interval (SpatialQuery semantics)."""
    xmin, ymin, xmax, ymax = bbox
    m = ((a["lon"] >= xmin) & (a["lon"] <= xmax) & (a["lat"] >= ymin)
         & (a["lat"] <= ymax) & (a["ts"] >= interval[0]) & (a["ts"] <= interval[1]))
    return np.sort(a["id"][m])


def ecql_ids(a: dict, ring: np.ndarray, interval: tuple, min_w: int) -> np.ndarray:
    """INTERSECTS polygon AND w >= min_w AND ts DURING (exclusive) interval."""
    m = (in_convex_ring(a["lon"], a["lat"], ring) & (a["w"] >= min_w)
         & (a["ts"] > interval[0]) & (a["ts"] < interval[1]))
    return np.sort(a["id"][m])


def haversine_m(lon1, lat1, lon2, lat2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dphi, dlmb = p2 - p1, np.radians(lon2) - np.radians(lon1)
    h = np.sin(dphi / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlmb / 2) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.minimum(h, 1.0)))


def knn(a: dict, point: tuple, k: int) -> tuple:
    """(ids, distances) of the k nearest rows, nearest first."""
    d = haversine_m(a["lon"], a["lat"], point[0], point[1])
    top = np.argsort(d, kind="stable")[:k]
    return a["id"][top], d[top]


def check_ids(got, expected: np.ndarray) -> list:
    got = np.sort(np.asarray(got, dtype=np.int64))
    if len(got) != len(expected):
        return [f"{len(got)} rows, expected {len(expected)}"]
    if not np.array_equal(got, expected):
        return [f"{int((got != expected).sum())} of {len(got)} ids differ"]
    return []


def check_knn(got: list, a: dict, point: tuple, k: int) -> list:
    """``got``: (id, rank) rows. Every rank 1..k must hold a row whose true
    distance equals the k-th nearest distance of that rank (ties at equal
    distance may come in any order)."""
    _ids, exp_d = knn(a, point, k)
    ranks = sorted(r for _i, r in got)
    if ranks != list(range(1, k + 1)):
        return [f"ranks {ranks}, expected 1..{k}"]
    ids = np.array([i for i, _r in sorted(got, key=lambda t: t[1])], dtype=np.int64)
    if len(set(ids.tolist())) != k:
        return ["duplicate neighbour ids"]
    pos = ids - a["id"][0]
    if (pos < 0).any() or (pos >= len(a["id"])).any():
        return ["neighbour id outside the table"]
    got_d = haversine_m(a["lon"][pos], a["lat"][pos], point[0], point[1])
    if not np.allclose(got_d, exp_d, rtol=1e-9, atol=1e-6):
        return [f"neighbour distances {got_d.tolist()} != {exp_d.tolist()}"]
    return []


def table_checksum(a: dict) -> tuple:
    """(rows, order-insensitive checksum) of the image rows. lon and lat are
    exact multiples of 360 / 2^20 and 180 / 2^20, so their grid indices
    recover exactly on both sides."""
    kx = ((a["lon"] + 180.0) / 360.0 * 1048576.0).astype(np.int64)
    ky = ((a["lat"] + 90.0) / 180.0 * 1048576.0).astype(np.int64)
    return len(a["id"]), int(((a["id"] * 1000003 + kx * 31 + ky) % FP_MOD).sum())
