"""SpatialQuery: the engine's query API (ECQL-equivalent surface).

Compiles bbox / geometry / interval / attribute predicates into Catalyst
expressions the same way the reference's QueryPlanner splits filters into
index primary + residual (planning/FilterSplitter.scala:61-147):

* bbox and interval -> native range predicates (pushed to parquet/Iceberg
  scans by Catalyst: PushedFilters + partition pruning),
* optional z2/cell column -> coarse SFC range predicate (file skipping),
* polygon refine -> ONE native Catalyst expression over (lon, lat)
  (plans/refine.py) — the 'residual filter' — skipped entirely when the
  query geometry is its own bbox (the reference's exact-ranges shortcut,
  Z3IndexKeySpace.useFullFilter:240-254).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Union

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from geomesa_spark.geom import algos, model, wkt
from geomesa_spark.plans import cover, guards, refine


def _as_geometry(g) -> model.Geometry:
    if isinstance(g, model.Geometry):
        return g
    if isinstance(g, str):
        return wkt.wkt_loads(g)
    raise TypeError(f"geometry must be WKT or Geometry, got {type(g)}")


def points_dwithin_udf(geom: model.Geometry, distance_deg: float):
    def within(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(algos.points_dwithin(
            lon.to_numpy(np.float64), lat.to_numpy(np.float64), geom, distance_deg))

    return F.pandas_udf(within, BooleanType())


@dataclass
class SpatialQuery:
    """Declarative spatio-temporal query over a point table.

    Attributes mirror the reference's Query(typeName, filter, properties):
    ``geometry`` is INTERSECTS, ``bbox`` is BBOX, ``interval`` is an
    INCLUSIVE ``ts BETWEEN lo AND hi`` (the ECQL compiler's DURING stays
    exclusive per the spec — use it when strict bounds matter),
    ``where`` is any residual attribute predicate (SQL), ``select`` is the
    projection (transform), ``limit`` is maxFeatures.
    """

    bbox: Optional[tuple] = None
    geometry: Optional[Union[str, model.Geometry]] = None
    dwithin: Optional[tuple] = None            # (geometry, distance_degrees)
    interval: Optional[tuple] = None           # (lo, hi) timestamps/strings
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
        lon, lat = F.col(self.lon_col), F.col(self.lat_col)
        preds: list[Column] = []
        boxes: list[tuple] = []

        geom, bbox = self._shape()

        guards.check_guards(bbox=bbox, interval=self.interval,
                            allow_full_scan=self.allow_full_scan or self.where is not None)

        if bbox is not None:
            xmin, ymin, xmax, ymax = bbox
            preds.append(lon.between(xmin, xmax) & lat.between(ymin, ymax))
            boxes.append(bbox)
            if self.z2_col is not None and self.z2_col in df.columns:
                preds.append(cover.z2_range_predicate(self.z2_col, boxes))
            # S3Index analog (index/s3/S3IndexKeySpace.scala): S2 cell-id
            # ranges prune an s2-sorted layout; the exact lon/lat between
            # above stays as the row-level recheck
            if self.s2_col is not None and self.s2_col in df.columns:
                preds.append(cover.s2_range_predicate(self.s2_col, boxes))
            # residual exact refine, skipped for rectangles (exact ranges)
            sql = (refine.geometry_sql(geom, "INTERSECTS", self.lon_col, self.lat_col)
                   if geom is not None else None)
            if sql is not None:
                preds.append(F.expr(sql))

        if self.dwithin is not None:
            g, d = self.dwithin
            g = _as_geometry(g)
            gx0, gy0, gx1, gy1 = g.bounds
            preds.append(lon.between(gx0 - d, gx1 + d) & lat.between(gy0 - d, gy1 + d))
            preds.append(points_dwithin_udf(g, d)(lon, lat))

        if self.interval is not None:
            lo, hi = self.interval
            preds.append(F.col(self.ts_col).between(F.lit(lo), F.lit(hi)))

        if self.where is not None:
            preds.append(F.expr(self.where))

        if not preds:
            return None
        out = preds[0]
        for p in preds[1:]:
            out = out & p
        return out

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
