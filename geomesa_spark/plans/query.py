"""SpatialQuery: the engine's query API (ECQL-equivalent surface).

Compiles bbox / geometry / interval / attribute predicates into one SQL
conjunction, rendered by the ECQL compiler's own leaves, the same way the
reference's QueryPlanner splits filters into index primary + residual
(planning/FilterSplitter.scala:61-147):

* bbox and interval -> native range predicates (pushed to parquet/Iceberg
  scans by Catalyst: PushedFilters + partition pruning),
* optional z2/cell column -> coarse SFC range predicate (file skipping),
* geometry -> ``refine.point_predicate``, ECQL's lon/lat INTERSECTS: its
  bbox primary AND the exact refine as ONE native expression — the
  'residual filter' — skipped entirely when the query geometry is its own
  bbox (the reference's exact-ranges shortcut,
  Z3IndexKeySpace.useFullFilter:240-254).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from functools import reduce
from typing import Optional, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geomesa_spark.geom import model, wkt
from geomesa_spark.plans import cover, guards, refine


def _as_geometry(g) -> model.Geometry:
    if isinstance(g, model.Geometry):
        return g
    if isinstance(g, str):
        return wkt.wkt_loads(g)
    raise TypeError(f"geometry must be WKT or Geometry, got {type(g)}")


@dataclass
class SpatialQuery:
    """Declarative spatio-temporal query over a point table.

    Attributes mirror the reference's Query(typeName, filter, properties):
    ``geometry`` is INTERSECTS, ``bbox`` is BBOX, ``interval`` is an
    INCLUSIVE ``lo <= ts <= hi`` where a None end is unbounded (the ECQL
    compiler's DURING stays exclusive per the spec — use it when strict
    bounds matter), ``where`` is any residual attribute predicate (SQL),
    ``select`` is the projection (transform), ``limit`` is maxFeatures.
    """

    bbox: Optional[tuple] = None
    geometry: Optional[Union[str, model.Geometry]] = None
    interval: Optional[tuple] = None           # (lo, hi); a None end is unbounded
    where: Optional[str] = None
    select: Optional[list] = None
    limit: Optional[int] = None
    lon_col: str = "lon"
    lat_col: str = "lat"
    ts_col: str = "ts"
    z2_col: Optional[str] = None               # name of a z2 column, if present
    s2_col: Optional[str] = None               # name of an s2 column, if present
    allow_full_scan: bool = False
    guard: Optional[object] = None             # plans.guards.GraduatedQueryGuard

    def _shape(self) -> tuple[Optional[model.Geometry], Optional[tuple]]:
        """(geometry, bbox): the parsed INTERSECTS geometry, and the bbox
        the query bounds itself by — ``bbox`` when given, else the
        geometry's bounds; None for what the query does not set."""
        geom = _as_geometry(self.geometry) if self.geometry is not None else None
        if self.bbox is not None:
            return geom, tuple(self.bbox)
        return geom, (geom.bounds if geom is not None else None)

    def predicate(self, df: DataFrame) -> Optional[Column]:
        geom, bbox = self._shape()
        guards.check_guards(bbox=bbox, interval=self.interval,
                            allow_full_scan=self.allow_full_scan or self.where is not None)

        sql = []
        if self.bbox is not None:
            sql.append(refine.bbox_sql(bbox, self.lon_col, self.lat_col))
        if geom is not None:
            sql.append(refine.point_predicate(geom, "INTERSECTS", self.lon_col, self.lat_col))
        if self.interval is not None:
            sql += [f"`{self.ts_col}` {op} {refine.sql_literal(v)}"
                    for op, v in zip((">=", "<="), self.interval) if v is not None]
        if self.where is not None:
            sql.append(self.where)
        preds = [F.expr(" AND ".join(f"({c})" for c in sql))] if sql else []
        # S3Index analog (index/s3/S3IndexKeySpace.scala): z2 / S2 cell-id
        # ranges prune a sorted layout; the exact lon/lat test above stays
        # as the row-level recheck.  An empty geometry's bounds are NaN:
        # its refine already renders false, so it takes no range
        if bbox is not None and not any(map(math.isnan, bbox)):
            for col, ranges in ((self.z2_col, cover.z2_range_predicate),
                                (self.s2_col, cover.s2_range_predicate)):
                if col is not None and col in df.columns:
                    preds.append(ranges(col, [bbox]))
        return reduce(Column.__and__, preds) if preds else None

    def apply(self, df: DataFrame) -> DataFrame:
        out = df
        if self.guard is not None:
            # the interceptor runs before planning (GraduatedQueryGuard
            # .guard + .rewrite): duration budget by bbox area, then the
            # tier's sampling applied to the scan
            bboxes, intervals = self._guard_inputs()
            self.guard.check(bboxes, intervals)
            samp = self.guard.sampling(bboxes)
            if samp is not None:
                from geomesa_spark.plans.guards import apply_sampling
                pct, by = samp
                id_col = next((c for c in ("event_id", "fid", "id")
                               if c in df.columns), df.columns[0])
                out = apply_sampling(out, pct, by=by, id_col=id_col)
        pred = self.predicate(df)
        if pred is not None:
            out = out.where(pred)
        if self.select:
            out = out.selectExpr(*self.select)
        if self.limit:
            out = out.limit(self.limit)
        return out

    def _guard_inputs(self):
        """(bboxes, intervals) for the graduated guard: whole world when
        spatially unbounded; interval endpoints parsed to datetimes."""
        import datetime as dt
        bbox = self._shape()[1]
        if bbox is None:
            bbox = (-180.0, -90.0, 180.0, 90.0)
        intervals = []
        if self.interval is not None:
            lo, hi = self.interval
            def ts(v):
                if v is None or isinstance(v, dt.datetime):
                    return v
                return dt.datetime.fromisoformat(str(v).replace("Z", "+00:00"))
            intervals.append((ts(lo), ts(hi)))
        return [bbox], intervals

    def plan(self, indices: list[str], stats=None, cardinality=None,
             temporal_priority: bool = False):
        """Cost-based index choice for this query (StrategyDecider analog).

        Returns the cheapest plans/decider.Strategy over the table's
        available indices; `where` attribute predicates participate when
        written as simple `col = value` / `col IN (...)` conjuncts."""
        from geomesa_spark.plans import decider

        bbox = self._shape()[1]
        attrs = []
        if self.where is not None:
            import re
            for m in re.finditer(r"(\w+)\s*=\s*('[^']*'|[\w.]+)", self.where):
                attrs.append(decider.AttrPredicate(m.group(1), "eq",
                                                   (m.group(2).strip("'"),)))
            for m in re.finditer(r"(\w+)\s+IN\s*\(([^)]*)\)", self.where,
                                 re.IGNORECASE):
                vals = tuple(v.strip().strip("'")
                             for v in m.group(2).split(","))
                attrs.append(decider.AttrPredicate(m.group(1), "in", vals))
        spec = decider.QuerySpec(bbox=bbox, interval=self.interval,
                                 attrs=tuple(attrs))
        return decider.select_strategy(spec, indices, stats, cardinality,
                                       temporal_priority)
