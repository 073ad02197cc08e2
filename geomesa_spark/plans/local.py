"""The naive ECQL evaluator: the test oracle of the Catalyst compiler.

The reference runs filters two ways: pushed down through index scans, and
naively on the client (planning/LocalQueryRunner.scala:70-103); its FilterTest
asserts both agree (filter/FilterTest.scala:92-103). This module is the naive
side: it evaluates the tree ``plans.ecql.parse`` returns over a pandas frame
with numpy and the geometry kernels of ``geom/algos.py``, driven by the same
``EcqlContext``, so a parity test compares two evaluators of one parse.

It keeps the compiler's SQL semantics: a null attribute satisfies no
comparison, BETWEEN, LIKE, IN or DURING, and NOT is two-valued (true where
its operand is false or null). A NaN in a pandas float column is that
column's missing value (Arrow carries it to Spark as null), so NaN reads as
null here, not as Spark's largest double. LIKE follows Spark's: ``%`` and
``_`` are wildcards, ``\\`` escapes the next character. Filter functions
are not evaluated.
"""

from __future__ import annotations

import operator
import re
from datetime import datetime

import numpy as np
import pandas as pd

from geomesa_spark.geom import algos, model, wkt
from geomesa_spark.geom.wkb import wkb_loads
from geomesa_spark.plans.ecql import EcqlContext, is_instant, parse, to_degrees

_CMP = {"=": operator.eq, "<>": operator.ne, "<": operator.lt,
        "<=": operator.le, ">": operator.gt, ">=": operator.ge}
_GEOMETRY_TESTS = {
    "INTERSECTS": algos.intersects,
    "DISJOINT": lambda g, q: not algos.intersects(g, q),
    "CONTAINS": algos.contains,
    "WITHIN": lambda g, q: algos.contains(q, g),
    "OVERLAPS": algos.overlaps,
    "CROSSES": algos.crosses,
    "TOUCHES": algos.touches,
    "EQUALS": algos.geom_equals,
}


def _defined(n: int, test, *args) -> np.ndarray:
    """``test(*args)`` on the rows where no Series argument is null, false
    on the others."""
    ok = np.ones(n, dtype=bool)
    for a in args:
        if isinstance(a, pd.Series):
            ok &= a.notna().to_numpy()
    out = np.zeros(n, dtype=bool)
    out[ok] = np.asarray(test(*(a[ok] if isinstance(a, pd.Series) else a for a in args)),
                         dtype=bool)
    return out


def _operand(v: tuple, pdf: pd.DataFrame, instant: bool):
    if v[0] == "lit":
        return v[1]
    if v[0] == "prop":
        return pd.to_datetime(pdf[v[1]]) if instant else pdf[v[1]]
    raise ValueError(f"ECQL function {v[1]}() is not supported by the local evaluator")


def _like(pattern: str) -> re.Pattern:
    rx, chars = [], iter(pattern)
    for ch in chars:
        rx.append(re.escape(next(chars, ch)) if ch == "\\" else
                  ".*" if ch == "%" else "." if ch == "_" else re.escape(ch))
    return re.compile("".join(rx), re.S)


def _points(op: str, g: model.Geometry, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """The compiler's lon/lat answers (``refine.point_predicate``): a point
    WITHIN/TOUCHES a line or a point reads as INTERSECTS, and CONTAINS/
    EQUALS only a coincident point."""
    polygonal = isinstance(g, (model.Polygon, model.MultiPolygon))
    if op in ("INTERSECTS", "DISJOINT") or (op in ("WITHIN", "TOUCHES") and not polygonal):
        hit = algos.points_intersect(x, y, g)
        return ~hit if op == "DISJOINT" else hit
    if op in ("WITHIN", "TOUCHES"):
        locs = [algos.points_in_polygon(x, y, p) for p in g._components()]
        boundary = np.any([loc == algos.BOUNDARY for loc in locs], axis=0)
        if op == "TOUCHES":
            return boundary
        return np.any([loc == algos.IN for loc in locs], axis=0) & ~boundary
    if op in ("CONTAINS", "EQUALS") and isinstance(g, model.Point):
        return (x == g.x) & (y == g.y)
    return np.zeros(len(x), dtype=bool)


def _spatial(node: tuple, pdf: pd.DataFrame, ctx: EcqlContext) -> np.ndarray:
    if node[0] == "dwithin":
        _, prop, text, meters = node
        q = wkt.wkt_loads(text)
        deg = to_degrees(meters, q)
    else:
        _, op, prop, text = node
        q = wkt.wkt_loads(text)
    if ctx.prefer_lonlat:
        x, y = (pdf[c].astype(np.float64).to_numpy() for c in (ctx.lon_col, ctx.lat_col))
        if node[0] == "dwithin":
            return algos.points_dwithin(x, y, q, deg)
        return _points(op, q, x, y)
    test = ((lambda g, q: algos.distance(g, q) <= deg) if node[0] == "dwithin"
            else _GEOMETRY_TESTS[op])
    return np.array([b is not None and bool(test(wkb_loads(bytes(b)), q))
                     for b in pdf[prop]], dtype=bool)


def evaluate(node: tuple, pdf: pd.DataFrame, ctx: EcqlContext | None = None) -> np.ndarray:
    """Boolean mask of the rows of ``pdf`` where the ECQL tree is true."""
    ctx = ctx or EcqlContext()
    kind, n = node[0], len(pdf)
    if kind in ("and", "or"):
        a, b = evaluate(node[1], pdf, ctx), evaluate(node[2], pdf, ctx)
        return a & b if kind == "and" else a | b
    if kind == "not":
        return ~evaluate(node[1], pdf, ctx)
    if kind == "const":
        return np.full(n, node[1])
    if kind in ("spatial", "dwithin"):
        return _spatial(node, pdf, ctx)
    if kind == "cmp":
        _, op, lhs, rhs = node
        instant = is_instant(lhs) or is_instant(rhs)
        return _defined(n, _CMP[op], _operand(lhs, pdf, instant), _operand(rhs, pdf, instant))
    col = pdf[node[1] or ctx.fid_col]
    if kind == "isnull":
        return col.isna().to_numpy()
    if kind == "like":
        _, _, pattern, ci = node
        rx = _like(pattern.upper() if ci else pattern)
        return _defined(n, lambda s: [rx.fullmatch(str(v).upper() if ci else str(v)) is not None
                                      for v in s], col)
    values = node[2] if kind == "in" else node[2:]
    if any(isinstance(v, datetime) for v in values):
        col = pd.to_datetime(col)
    if kind == "in":
        return _defined(n, lambda s: s.isin(values), col)
    lo, hi = values
    if kind == "between":
        return _defined(n, lambda s: (s >= lo) & (s <= hi), col)
    return _defined(n, lambda s: (s > lo) & (s < hi), col)  # during: exclusive


def local_filter(text: str, pdf: pd.DataFrame, ctx: EcqlContext | None = None) -> pd.DataFrame:
    """Rows of ``pdf`` matching the ECQL filter (brute force)."""
    return pdf[evaluate(parse(text), pdf, ctx)]
