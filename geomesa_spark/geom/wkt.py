"""Minimal WKT reader/writer for the geometry model.

Used driver-side (query literals, tests) and by ST_GeomFromWKT/ST_AsText.
Accepts the standard 7 types, EMPTY, and nested parens; case-insensitive.
"""

from __future__ import annotations

import re

import numpy as np

from geomesa_spark.geom import model

_NUM = r"[-+]?\d*\.?\d+(?:[eE][-+]?\d+)?"


def wkt_loads(text: str) -> model.Geometry:
    text = text.strip()
    m = re.match(r"^\s*(\w+)\s*(.*)$", text, re.S)
    if not m:
        raise ValueError(f"invalid WKT: {text!r}")
    typ = m.group(1).upper()
    body = m.group(2).strip()
    if body.upper().startswith("EMPTY"):
        return _empty(typ)
    if typ == "POINT":
        coords = _parse_coords(body)
        return model.Point(coords[0][0], coords[0][1])
    if typ == "LINESTRING":
        return model.LineString(np.array(_parse_coords(body)))
    if typ == "POLYGON":
        rings = [np.array(r) for r in _parse_ring_list(body)]
        return model.Polygon(rings[0], rings[1:])
    if typ == "MULTIPOINT":
        # both MULTIPOINT((1 2),(3 4)) and MULTIPOINT(1 2, 3 4)
        inner = _strip_parens(body)
        if "(" in inner:
            pts = [_parse_coords(p)[0] for p in _split_top(inner)]
        else:
            pts = _parse_coords(body)
        return model.MultiPoint([model.Point(x, y) for x, y in pts])
    if typ == "MULTILINESTRING":
        return model.MultiLineString(
            [model.LineString(np.array(_parse_coords(p))) for p in _split_top(_strip_parens(body))])
    if typ == "MULTIPOLYGON":
        polys = []
        for p in _split_top(_strip_parens(body)):
            rings = [np.array(r) for r in _parse_ring_list(p)]
            polys.append(model.Polygon(rings[0], rings[1:]))
        return model.MultiPolygon(polys)
    if typ == "GEOMETRYCOLLECTION":
        return model.GeometryCollection([wkt_loads(p) for p in _split_top(_strip_parens(body))])
    raise ValueError(f"unsupported WKT type {typ}")


def _empty(typ: str) -> model.Geometry:
    if typ == "POINT":
        return model.Point(float("nan"), float("nan"))
    if typ == "LINESTRING":
        return model.LineString(np.empty((0, 2)))
    if typ == "POLYGON":
        return model.Polygon(np.empty((0, 2)))
    if typ == "MULTIPOINT":
        return model.MultiPoint([])
    if typ == "MULTILINESTRING":
        return model.MultiLineString([])
    if typ == "MULTIPOLYGON":
        return model.MultiPolygon([])
    return model.GeometryCollection([])


# the scanners below visit only these characters, not every digit
_PARENS = re.compile(r"[()]")
_PARENS_COMMAS = re.compile(r"[(),]")


def _strip_parens(s: str) -> str:
    s = s.strip()
    if not s.startswith("("):
        raise ValueError(f"expected '(': {s[:40]!r}")
    depth = 0
    for m in _PARENS.finditer(s):
        if m.group() == "(":
            depth += 1
        else:
            depth -= 1
            if depth == 0:
                return s[1:m.start()]
    raise ValueError("unbalanced parens")


def _split_top(s: str) -> list[str]:
    parts, depth, start = [], 0, 0
    for m in _PARENS_COMMAS.finditer(s):
        ch = m.group()
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            parts.append(s[start:m.start()])
            start = m.end()
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


def _parse_coords(s: str) -> list[tuple[float, float]]:
    nums = re.findall(_NUM, s)
    if len(nums) % 2:
        # tolerate Z/M by taking pairs per point split on commas
        pts = []
        for part in re.split(r",", _strip_parens(s) if s.strip().startswith("(") else s):
            vals = re.findall(_NUM, part)
            if len(vals) >= 2:
                pts.append((float(vals[0]), float(vals[1])))
        return pts
    return [(float(nums[i]), float(nums[i + 1])) for i in range(0, len(nums), 2)]


def _parse_ring_list(s: str) -> list[list[tuple[float, float]]]:
    return [_parse_coords(r) for r in _split_top(_strip_parens(s))]


def _fmt(v: float) -> str:
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


def _coords_str(coords) -> str:
    return ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in coords)


def wkt_dumps(geom: model.Geometry) -> str:
    t = geom.geom_type
    if geom.is_empty:
        return f"{t.upper()} EMPTY"
    if t == "Point":
        return f"POINT ({_fmt(geom.x)} {_fmt(geom.y)})"
    if t == "LineString":
        return f"LINESTRING ({_coords_str(geom.coords)})"
    if t == "Polygon":
        rings = ", ".join(f"({_coords_str(r)})" for r in [geom.shell] + geom.holes)
        return f"POLYGON ({rings})"
    if t == "MultiPoint":
        return "MULTIPOINT (" + ", ".join(f"({_fmt(p.x)} {_fmt(p.y)})" for p in geom.points) + ")"
    if t == "MultiLineString":
        return "MULTILINESTRING (" + ", ".join(f"({_coords_str(l.coords)})" for l in geom.lines) + ")"
    if t == "MultiPolygon":
        parts = []
        for p in geom.polygons:
            rings = ", ".join(f"({_coords_str(r)})" for r in [p.shell] + p.holes)
            parts.append(f"({rings})")
        return "MULTIPOLYGON (" + ", ".join(parts) + ")"
    return "GEOMETRYCOLLECTION (" + ", ".join(wkt_dumps(g) for g in geom.geoms) + ")"
