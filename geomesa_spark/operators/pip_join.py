"""Point-in-polygon / spatial joins.

The engine's core operator, replacing the reference's grid-partitioned
sweepline join (GeoMesaJoinRelation.scala:41-91, RelationUtils.grid:30-70):

* both sides get a grid ``cell`` key (points: exactly ONE cell each — no
  boundary duplication on the point side, which eliminates the reference's
  dedupe TODO at RelationUtils.scala:38; polygons: their cell cover),
* small polygon sets take the **broadcast** path (cover computed driver-side,
  broadcast hash join on cell — the north rule's small-side strategy),
* large polygon sets take the **salted sort-merge** path: polygon cover rows
  are replicated to every salt value, points hash-salted by id, join key =
  (cell, salt) — GeoMesa's shard-prefix skew handling (ShardStrategy.scala:
  75-83) expressed as explicit salt columns,
* the exact predicate is one native expression over each geometry's edge
  list (plans/refine.py) — no Python worker on the per-point path; cover
  cells fully inside a polygon skip it (exact cover shortcut).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geomesa_spark.cells.grid import rowmajor, rowmajor_sql, xy_sql
from geomesa_spark.functions.cell_functions import salt_col
from geomesa_spark.geom import model, wkt
from geomesa_spark.geom.wkb import wkb_loads
from geomesa_spark.plans import refine
from geomesa_spark.plans.cover import geometry_cell_cover, pick_cover_resolution
from geomesa_spark.sources.arrow_io import local_table

DEFAULT_SALTS = 4  # geomesa.z.splits default (Conversions.scala:307-318)


def _polygons_to_local(polygons) -> list[tuple]:
    """Normalize a small polygon collection to [(id, Geometry, wkb)]."""
    from geomesa_spark.geom.wkb import wkb_dumps
    out = []
    for pid, g in polygons:
        geom = wkt.wkt_loads(g) if isinstance(g, str) else g
        out.append((pid, geom, wkb_dumps(geom)))
    return out


def pip_join_broadcast(points: DataFrame, polygons, *, res: int | None = None,
                       lon_col: str = "lon", lat_col: str = "lat",
                       poly_id_col: str = "poly_id",
                       predicate: str = "intersects",
                       keep_geom: bool = False) -> DataFrame:
    """Broadcast PIP join: ``polygons`` is a small driver-side collection
    [(id, wkt-or-Geometry)]. Returns points rows + ``poly_id``.

    Plan shape: points -> native cell assignment -> broadcast hash join on
    cell -> broadcast join of the edge lists on the polygon index -> native
    refine (skipped for cover cells fully inside the polygon). One
    shuffle-free pass over the fact table, and every driver-side table is a
    LocalRelation: no Python worker anywhere in the plan.

    ``predicate`` is ``intersects`` (boundary-inclusive) or ``contains``
    (the polygon's interior holds the point; lines and points hold none).
    """
    if predicate not in ("intersects", "contains"):
        raise ValueError(predicate)
    spark = points.sparkSession
    polys = _polygons_to_local(polygons)

    from geomesa_spark.plans.cover import (classify_cell_cover_xy,
                                           cover_spans, pick_span_resolution)

    id_type = "string" if polys and isinstance(polys[0][0], str) else "long"
    all_polygonal = all(isinstance(g, (model.Polygon, model.MultiPolygon))
                        for _pid, g, _b in polys)

    if all_polygonal:
        # SPAN cover: the broadcast side is O(perimeter) scanline spans
        # (iy, x0, x1, pidx, interior), not O(area) cells — a circle D cells
        # across broadcasts O(D) rows instead of O(D^2).  That keeps ALL
        # per-query serial work (driver numpy build, Arrow createDataFrame,
        # broadcast exchange collect + hash-relation build) small enough to
        # stay out of the Amdahl term at cluster sizes, and lets the cover
        # resolution go ~8x finer for free, shrinking the boundary fraction
        # that must pay the exact refine to a few percent.  The join is a
        # broadcast HASH join on the grid row __iy with the x-range check as
        # a native join filter (whole-stage codegen; a handful of long
        # compares per probed span).
        if res is None:
            res = pick_span_resolution([g.bounds for _, g, _ in polys])
        parts = {c: [] for c in ("__siy", "__x0", "__x1", "__pidx", "__interior")}
        for k, (_pid, g, _b) in enumerate(polys):
            iy, x0, x1, interior = cover_spans(g, res)
            for c, v in zip(parts, (iy, x0, x1, np.full(len(iy), k), interior)):
                parts[c].append(v)
        spans_df = local_table(
            spark, {c: np.concatenate(v or [np.empty(0)]) for c, v in parts.items()},
            "__siy long, __x0 long, __x1 long, __pidx int, __interior boolean")
        ix, iy = xy_sql(lon_col, lat_col, 1 << res)
        pts = points.withColumn("__ix", F.expr(ix)).withColumn("__iy", F.expr(iy))
        joined = (pts.join(F.broadcast(spans_df),
                           (pts["__iy"] == spans_df["__siy"])
                           & (pts["__ix"] >= spans_df["__x0"])
                           & (pts["__ix"] <= spans_df["__x1"]),
                           "inner")
                  .drop("__ix", "__iy", "__siy", "__x0", "__x1"))
    else:
        if res is None:
            res = pick_cover_resolution([g.bounds for _, g, _ in polys])
        n = 1 << res
        # mixed geometry types (lines/points in the set): small covers,
        # legacy tuple build
        rows = []
        for k, (_pid, g, _b) in enumerate(polys):
            if isinstance(g, (model.Polygon, model.MultiPolygon)):
                contained_xy, boundary_xy = classify_cell_cover_xy(g, res)
                rows.extend((int(xy[1]) * n + int(xy[0]), k, True)
                            for xy in contained_xy)
                rows.extend((int(xy[1]) * n + int(xy[0]), k, False)
                            for xy in boundary_xy)
            else:
                rows.extend((rowmajor(cid), k, False)
                            for cid in geometry_cell_cover(g, res))
        cover_df = local_table(spark, rows, "__cell long, __pidx int, __interior boolean")
        pts = points.withColumn("__cell", F.expr(rowmajor_sql(lon_col, lat_col, n)))
        joined = (pts.join(F.broadcast(cover_df), "__cell", "inner")
                  .drop("__cell"))
    # Predicate compilation (the analog of GeoMesa compiling filters into
    # server-side iterators): the exact refine is one native expression
    # over each geometry's edge list (plans/refine.py), attached by a small
    # broadcast join on the polygon index. All JVM — zero Python traffic;
    # interior rows short-circuit on `__interior` before the refine.
    prepared = [refine.edge_columns(g) for _pid, g, _b in polys]
    edges_df = local_table(spark, {
        "__pidx": np.arange(len(polys)),
        poly_id_col: [pid for pid, _g, _b in polys],
        "__convex": [p[0] for p in prepared],
        "__edges": [p[1] for p in prepared],
        "__segs": [p[2] for p in prepared],
    }, f"__pidx int, {poly_id_col} {id_type}, __convex boolean, "
       f"__edges {refine.EDGE_TYPE}, __segs {refine.EDGE_TYPE}")
    cond = refine.refine_sql(
        lon_col, lat_col, "INTERSECTS" if predicate == "intersects" else "WITHIN",
        edges="__edges" if any(p[1] for p in prepared) else None,
        segs="__segs" if any(p[2] for p in prepared) else None)
    out = (joined.join(F.broadcast(edges_df), "__pidx")
           .where(F.col("__interior") | F.expr(cond))
           .drop("__pidx", "__interior", "__convex", "__edges", "__segs"))
    return _attach_geom(spark, out, polys, poly_id_col, id_type, keep_geom)


def _attach_geom(spark, out: DataFrame, polys, poly_id_col: str,
                 id_type: str, keep_geom: bool) -> DataFrame:
    """Re-attach the matched polygon's WKB (`__geom`) when keep_geom=True —
    a tiny broadcast join on the polygon id."""
    if not keep_geom:
        return out
    geom_df = local_table(
        spark, {poly_id_col: [pid for pid, _g, _b in polys],
                "__geom": [b for _pid, _g, b in polys]},
        f"{poly_id_col} {id_type}, __geom binary")
    return out.join(F.broadcast(geom_df), poly_id_col)


def pip_join_smj(points: DataFrame, polygons: DataFrame, *, res: int,
                 lon_col: str = "lon", lat_col: str = "lat",
                 poly_wkb_col: str = "geom", poly_id_col: str = "poly_id",
                 predicate: str = "intersects",
                 n_salts: int = DEFAULT_SALTS) -> DataFrame:
    """Salted sort-merge PIP join for LARGE polygon sets (DataFrame side).

    ``polygons`` must carry (poly_id_col, poly_wkb_col). Polygon covers are
    computed executor-side (Arrow-batched), split into interior cells (skip
    the refine — exact-cover shortcut) and boundary cells, replicated to all
    salt values; points are salted by hash. Join key (cell, salt) spreads
    hot cells over ``n_salts`` reducers — explicit skew handling per the
    north rule, on top of AQE skew splitting. The exact refine is the same
    native expression as the broadcast path (plans/refine.py), reading
    ``__edges``/``__segs`` array columns prepared once per polygon — no
    Python and no WKB parsing in the per-candidate hot path.
    """
    from pyspark.sql.types import (ArrayType, BooleanType, LongType,
                                   StructField, StructType)

    from geomesa_spark.plans.cover import classify_cell_cover

    n = 1 << res

    cover_type = ArrayType(StructType([
        StructField("cell", LongType()), StructField("interior", BooleanType())]))

    def cover_udf(wkb_s: pd.Series) -> pd.Series:
        out = []
        for b in wkb_s:
            if b is None:
                out.append([])
                continue
            g = wkb_loads(bytes(b))
            if isinstance(g, (model.Polygon, model.MultiPolygon)):
                contained, boundary = classify_cell_cover(g, res)
            else:
                contained, boundary = [], geometry_cell_cover(g, res)
            out.append([(rowmajor(c), True) for c in contained]
                       + [(rowmajor(c), False) for c in boundary])
        return pd.Series(out)

    prep_type = f"convex boolean, edges {refine.EDGE_TYPE}, segs {refine.EDGE_TYPE}"

    def prep_udf(wkb_s: pd.Series) -> pd.DataFrame:
        prepared = [refine.edge_columns(wkb_loads(bytes(b))) for b in wkb_s]
        return pd.DataFrame(prepared, columns=["convex", "edges", "segs"])

    covers = (polygons
              .withColumn("__cov", F.pandas_udf(cover_udf, cover_type)(F.col(poly_wkb_col)))
              .withColumn("__prep", F.pandas_udf(prep_udf, prep_type)(F.col(poly_wkb_col)))
              .withColumn("__convex", F.col("__prep.convex"))
              .withColumn("__edges", F.col("__prep.edges"))
              .withColumn("__segs", F.col("__prep.segs"))
              .drop("__prep", poly_wkb_col))
    poly_cells = (covers
                  .withColumn("__c", F.explode("__cov"))
                  .withColumn("__cell", F.col("__c.cell"))
                  .withColumn("__interior", F.col("__c.interior"))
                  .withColumn("__salt", F.explode(F.array([F.lit(i) for i in range(n_salts)])))
                  .drop("__cov", "__c"))

    pts = (points
           .withColumn("__cell", F.expr(rowmajor_sql(lon_col, lat_col, n)))
           .withColumn("__salt", salt_col(F.col(lon_col) + F.col(lat_col), n_salts)))

    joined = pts.join(poly_cells.hint("shuffle_merge"), ["__cell", "__salt"], "inner")
    if predicate != "intersects":
        raise ValueError("pip_join_smj supports the intersects predicate")
    cond = refine.refine_sql(lon_col, lat_col, segs="__segs")
    refined = joined.where(F.col("__interior") | F.expr(cond))
    return refined.drop("__cell", "__salt", "__interior", "__convex", "__edges",
                        "__segs")
