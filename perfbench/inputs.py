"""Seeded benchmark inputs: image-table rows, the PIP polygon set and the
query stream.

Everything here is numpy and derives from the workload seed alone, so the
same seed always gives the same inputs. The engine receives only what this
module generates; the oracles (``oracles.py``) recompute the expected
answers from the same arrays without calling engine code.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np

DEFAULT_SEED = 1
HELD_OUT_SEED = 7919

# Image-table row generator of sources/images.py (synthetic_images_geo),
# restated in numpy: id -> phash -> lon/lat, ts spread over 2018..2023.
PHASH_MUL = 2654435761
PHASH_MOD = 1 << 40
TS_BASE = 1514764800
TS_MUL = 997
TS_SPAN = 189216000

N_POLYGONS = 64
POLY_VERTICES = 32
POLY_RADIUS = (6.0, 24.0)
QUERY_TYPES = ("polygon", "bbox", "ecql", "knn")
KNN_K = 10


def id_offset(seed: int) -> int:
    """First image id of the table: a seeded offset, so different seeds
    index different rows (and different lon/lat, which derive from id)."""
    return int(np.random.default_rng([seed, 0]).integers(0, 1 << 30))


def image_arrays(offset: int, n: int) -> dict:
    """The image rows [offset, offset + n) as numpy arrays, computed with
    the same operation order as the Spark expressions (bit-identical)."""
    ids = np.arange(offset, offset + n, dtype=np.int64)
    phash = (ids * PHASH_MUL) % PHASH_MOD
    lon = (phash % 1048576).astype(np.float64) / 1048576.0 * 360.0 - 180.0
    lat = ((phash // 1048576) % 1048576).astype(np.float64) / 1048576.0 * 180.0 - 90.0
    ts = TS_BASE + (ids * TS_MUL) % TS_SPAN
    w = (16 + (ids % 4) * 16).astype(np.int32)
    return {"id": ids, "lon": lon, "lat": lat, "ts": ts, "w": w}


def circle(cx: float, cy: float, r: float, n: int) -> np.ndarray:
    """Closed CCW ring of an n-gon inscribed in a circle, shape (n + 1, 2)."""
    t = 2.0 * np.pi * np.arange(n) / n
    ring = np.column_stack([cx + r * np.cos(t), cy + r * np.sin(t)])
    return np.vstack([ring, ring[:1]])


def ring_wkt(ring: np.ndarray) -> str:
    """POLYGON WKT with repr() coordinates, so parsing round-trips exactly."""
    return "POLYGON((" + ", ".join(f"{x!r} {y!r}" for x, y in ring.tolist()) + "))"


def pip_polygons(seed: int) -> list[np.ndarray]:
    """64 32-vertex circles inside the world: radii evenly spaced over 6-24
    degrees in a seeded order, centres seeded. Fixed radii keep the covered
    area, and so the join's work, the same for every seed."""
    rng = np.random.default_rng([seed, 1])
    radii = rng.permutation(np.linspace(*POLY_RADIUS, N_POLYGONS))
    out = []
    for r in radii:
        cx = rng.uniform(-180.0 + r, 180.0 - r)
        cy = rng.uniform(-90.0 + r, 90.0 - r)
        out.append(circle(cx, cy, r, POLY_VERTICES))
    return out


def _utc(seconds: int, fmt: str) -> str:
    return dt.datetime.fromtimestamp(seconds, dt.timezone.utc).strftime(fmt)


@dataclass(frozen=True)
class Query:
    """One query of the stream. ``ring`` is a closed CCW convex ring
    (polygon, ecql), ``bbox`` is (xmin, ymin, xmax, ymax), ``interval`` is
    (lo, hi) in epoch seconds, ``point`` is the kNN query point."""
    kind: str
    ring: np.ndarray | None = None
    bbox: tuple | None = None
    interval: tuple | None = None
    min_w: int | None = None
    point: tuple | None = None

    @property
    def interval_iso(self) -> tuple:
        """(lo, hi) as ECQL ISO instants."""
        return tuple(_utc(t, "%Y-%m-%dT%H:%M:%SZ") for t in self.interval)

    @property
    def interval_sql(self) -> tuple:
        """(lo, hi) as SQL timestamp strings (UTC session time zone)."""
        return tuple(_utc(t, "%Y-%m-%d %H:%M:%S") for t in self.interval)


def query_stream(seed: int, n: int, salt: int = 2) -> list[Query]:
    """``n`` queries cycling polygon, bbox, ecql, knn; parameters seeded."""
    rng = np.random.default_rng([seed, salt])

    def center(margin: float) -> tuple:
        return rng.uniform(-180.0 + margin, 180.0 - margin), rng.uniform(-70.0, 70.0)

    def interval() -> tuple:
        lo = TS_BASE + 86400 * int(rng.integers(0, 4 * 365))
        return lo, lo + 86400 * int(rng.integers(180, 720))

    out = []
    for i in range(n):
        kind = QUERY_TYPES[i % len(QUERY_TYPES)]
        if kind in ("polygon", "ecql"):
            r = rng.uniform(3.0, 8.0)
            cx, cy = center(r)
            ring = circle(cx, cy, r, 12)
            if kind == "polygon":
                out.append(Query(kind, ring=ring))
            else:
                out.append(Query(kind, ring=ring, interval=interval(), min_w=32))
        elif kind == "bbox":
            w, h = rng.uniform(4.0, 12.0), rng.uniform(4.0, 12.0)
            cx, cy = center(w)
            out.append(Query(kind, bbox=(cx - w / 2, cy - h / 2, cx + w / 2, cy + h / 2),
                             interval=interval()))
        else:
            out.append(Query(kind, point=center(1.0)))
    return out
