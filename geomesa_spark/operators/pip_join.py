"""Point-in-polygon / spatial joins.

The engine's core operator, replacing the reference's grid-partitioned
sweepline join (GeoMesaJoinRelation.scala:41-91, RelationUtils.grid:30-70):

* both sides get a grid ``cell`` key (points: exactly ONE cell each — no
  boundary duplication on the point side, which eliminates the reference's
  dedupe TODO at RelationUtils.scala:38; any geometry: its scanline span
  cover, plans/cover.batch_cover_spans),
* small polygon sets take the **broadcast** path (cover computed driver-side,
  broadcast hash join on the grid row — the north rule's small-side
  strategy),
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
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geomesa_spark.cells.grid import rowmajor_sql, xy_sql
from geomesa_spark.functions.cell_functions import salt_col
from geomesa_spark.geom import wkt
from geomesa_spark.geom.wkb import wkb_loads
from geomesa_spark.plans import refine
from geomesa_spark.plans.cover import batch_cover_spans, pick_span_resolution
from geomesa_spark.session import frame_sql
from geomesa_spark.sources.arrow_io import local_table

DEFAULT_SALTS = 4  # geomesa.z.splits default (Conversions.scala:307-318)

# a geometry's cover as one array column of scanline spans
SPAN_TYPE = "array<struct<siy:bigint,x0:bigint,x1:bigint,interior:boolean>>"
_SPAN_COLS = "inline(__spans) AS (__siy, __x0, __x1, __interior)"


def _refine_op(predicate: str) -> str:
    """The refine op of a join predicate: ``intersects`` (boundary-inclusive)
    or ``contains`` (the geometry's interior holds the point; lines and
    points hold none)."""
    ops = {"intersects": "INTERSECTS", "contains": "WITHIN"}
    if predicate not in ops:
        raise ValueError(predicate)
    return ops[predicate]


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
    [(id, wkt-or-Geometry)]. Returns points rows + ``poly_id`` (+ the
    polygon's WKB as ``__geom`` when ``keep_geom``).

    Plan shape: points -> native cell assignment -> broadcast hash join on
    the grid row, the span's x-range as join filter -> broadcast join of
    the edge lists on the polygon index -> native refine (skipped for cover
    cells fully inside the polygon). One shuffle-free pass over the fact
    table, and no Python worker anywhere in the plan.

    Both broadcast sides read ONE driver table with one row per polygon:
    its index, id, edge lists and cover (an array column, ``inline``d into
    the join's build side). Catalyst walks a LocalRelation's rows in every
    expression transform of every plan that holds it, so a table of
    O(polygons) rows keeps planning cheap where O(cover) rows did not.

    ``predicate`` is ``intersects`` (boundary-inclusive) or ``contains``
    (the polygon's interior holds the point; lines and points hold none).
    """
    op = _refine_op(predicate)
    spark = points.sparkSession
    polys = _polygons_to_local(polygons)
    geoms = [g for _pid, g, _b in polys]
    prepared = [refine.edge_columns(g) for g in geoms]

    # SPAN cover of every geometry: the broadcast side is O(perimeter)
    # scanline spans (iy, x0, x1, interior), not O(area) cells — a circle D
    # cells across broadcasts O(D) rows instead of O(D^2).  That keeps ALL
    # per-query serial work (driver numpy build, Arrow table, broadcast
    # exchange collect + hash-relation build) small enough to stay out of
    # the Amdahl term at cluster sizes, and lets the cover resolution go
    # ~8x finer for free, shrinking the boundary fraction that must pay the
    # exact refine to a few percent.  The join is a broadcast HASH join on
    # the grid row __iy with the x-range check as a native join filter
    # (whole-stage codegen; a handful of long compares per probed span).
    if res is None:
        res = pick_span_resolution([g.bounds for g in geoms])
    pidx, iy, x0, x1, interior = batch_cover_spans(geoms, res)
    table = _polygon_table(spark, polys, prepared, poly_id_col, keep_geom, _struct_lists(
        pidx, len(polys), siy=iy, x0=x0, x1=x1, interior=interior))
    ix_sql, iy_sql = xy_sql(f"`{lon_col}`", f"`{lat_col}`", 1 << res)
    # Predicate compilation (the analog of GeoMesa compiling filters into
    # server-side iterators): the exact refine is one native expression
    # over each geometry's edge list (plans/refine.py), attached by a small
    # broadcast join on the polygon index. All JVM — zero Python traffic;
    # interior rows short-circuit on `__interior` before the refine.
    cond = refine.refine_sql(
        lon_col, lat_col, op,
        edges="__edges" if any(p[1] for p in prepared) else None,
        segs="__segs" if any(p[2] for p in prepared) else None)
    cols = ", ".join(f"p.`{c}`" for c in points.columns)
    geom = ", t.__geom" if keep_geom else ""
    return frame_sql(f"""
SELECT /*+ BROADCAST(s, t) */ {cols}, t.`{poly_id_col}`{geom}
FROM (SELECT *, {ix_sql} AS __ix, {iy_sql} AS __iy FROM {{points}}) p
JOIN (SELECT __pidx, {_SPAN_COLS} FROM {{table}}) s
  ON p.__iy = s.__siy AND p.__ix >= s.__x0 AND p.__ix <= s.__x1
JOIN {{table}} t ON s.__pidx = t.__pidx
WHERE s.__interior OR {cond}""", points=points, table=table)


def _struct_lists(owner: np.ndarray, n: int, **fields) -> pa.ListArray:
    """One list per geometry of the struct rows ``fields``: row ``i`` goes
    to the list of geometry ``owner[i]`` (``owner`` is sorted)."""
    offsets = np.r_[0, np.cumsum(np.bincount(owner, minlength=n))].astype(np.int32)
    values = pa.StructArray.from_arrays([pa.array(v) for v in fields.values()],
                                        names=list(fields))
    return pa.ListArray.from_arrays(pa.array(offsets), values)


def _polygon_table(spark, polys, prepared, poly_id_col: str, keep_geom: bool,
                   spans: pa.ListArray) -> DataFrame:
    """The join's driver table, one row per geometry: ``__pidx``, the id,
    the refine's ``__convex``/``__edges``/``__segs`` (``prepared``), then
    ``__geom`` (when ``keep_geom``) and the cover ``__spans``."""
    id_type = "string" if polys and isinstance(polys[0][0], str) else "long"
    edge_type = pa.list_(pa.struct([(f, pa.float64()) for f in ("ax", "ay", "bx", "by")]))
    cols = {"__pidx": pa.array(np.arange(len(polys), dtype=np.int32)),
            poly_id_col: pa.array([pid for pid, _g, _b in polys]),
            "__convex": pa.array([p[0] for p in prepared], pa.bool_()),
            "__edges": pa.array([p[1] for p in prepared], edge_type),
            "__segs": pa.array([p[2] for p in prepared], edge_type)}
    ddl = (f"__pidx int, {poly_id_col} {id_type}, __convex boolean, "
           f"__edges {refine.EDGE_TYPE}, __segs {refine.EDGE_TYPE}")
    if keep_geom:
        cols["__geom"] = pa.array([b for _pid, _g, b in polys], pa.binary())
        ddl += ", __geom binary"
    cols["__spans"] = spans
    return local_table(spark, pa.table(cols), f"{ddl}, __spans {SPAN_TYPE}")


def pip_join_smj(points: DataFrame, polygons: DataFrame, *, res: int,
                 lon_col: str = "lon", lat_col: str = "lat",
                 poly_wkb_col: str = "geom", poly_id_col: str = "poly_id",
                 predicate: str = "intersects",
                 n_salts: int = DEFAULT_SALTS) -> DataFrame:
    """Salted sort-merge PIP join for LARGE polygon sets (DataFrame side).

    ``polygons`` must carry (poly_id_col, poly_wkb_col); rows with a null
    WKB match nothing. One pandas UDF per Arrow batch of polygons parses
    each WKB once and returns the refine's edge lists and the batch's span
    cover (:func:`batch_cover_spans`, the broadcast path's cover). Spark
    expands the spans into row-major cell keys (``inline`` +
    ``explode(sequence(x0, x1))``), interior cells skipping the refine
    (exact-cover shortcut), and replicates them to all salt values; points
    are salted by hash. Join key (cell, salt) spreads hot cells over
    ``n_salts`` reducers — explicit skew handling per the north rule, on
    top of AQE skew splitting. The exact refine is the same native
    expression as the broadcast path (plans/refine.py) — no Python and no
    WKB parsing in the per-candidate hot path. ``predicate`` is as in
    :func:`pip_join_broadcast`.
    """
    op = _refine_op(predicate)
    n = 1 << res
    prep_type = (f"__convex boolean, __edges {refine.EDGE_TYPE}, "
                 f"__segs {refine.EDGE_TYPE}, __spans {SPAN_TYPE}")

    def prep_udf(wkb_s):
        geoms = [wkb_loads(bytes(b)) for b in wkb_s]
        pidx, iy, x0, x1, interior = batch_cover_spans(geoms, res)
        spans = list(zip(iy.tolist(), x0.tolist(), x1.tolist(), interior.tolist()))
        ends = np.cumsum(np.bincount(pidx, minlength=len(geoms))).tolist()
        out = pd.DataFrame([refine.edge_columns(g) for g in geoms],
                           columns=["__convex", "__edges", "__segs"])
        out["__spans"] = [spans[a:b] for a, b in zip([0] + ends[:-1], ends)]
        return out

    # nondeterministic: the generators' inferred non-empty filter would
    # otherwise be pushed below the UDF's projection and run it twice
    prep = F.pandas_udf(prep_udf, prep_type).asNondeterministic()
    cells = (polygons.where(F.col(poly_wkb_col).isNotNull())
             .withColumn("__prep", prep(F.col(poly_wkb_col)))
             .select("*", "__prep.*").drop("__prep", poly_wkb_col)
             .selectExpr("*", _SPAN_COLS).drop("__spans")
             .selectExpr("*", "explode(sequence(__x0, __x1)) AS __ix")
             .selectExpr("*", f"explode(sequence(0, {n_salts - 1})) AS __salt")
             .withColumn("__cell", F.expr(f"__siy * {n} + __ix"))
             .drop("__siy", "__x0", "__x1", "__ix"))
    pts = (points
           .withColumn("__cell", F.expr(rowmajor_sql(lon_col, lat_col, n)))
           .withColumn("__salt", salt_col(F.col(lon_col) + F.col(lat_col), n_salts)))
    cond = refine.refine_sql(lon_col, lat_col, op, segs="__segs")
    return (pts.join(cells.hint("shuffle_merge"), ["__cell", "__salt"])
            .where(F.col("__interior") | F.expr(cond))
            .drop("__cell", "__salt", "__interior", "__convex", "__edges", "__segs"))
