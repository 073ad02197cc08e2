"""kNN via expanding query windows + exact great-circle refine.

Spark reimplementation of the reference's expanding-window kNN search
(KNearestNeighborSearchProcess.scala:92-212: initial window estimate, ring
expansion with hole exclusion :225-303, exact geodesic refine into a fixed-k
buffer :315-396):

1. every data point carries its cell (ix, iy) on the 2^res x 2^res lon/lat
   grid (native expression; res from a density estimate);
2. per query point, the scanned cells form one window — a cyclic column arc
   times a row range (`_window`).  It starts as the disk of grid radius 1
   around the query cell and the radius doubles until the point's top-k
   holds k rows (the reference's iterative window expansion);
3. top-up (hole exclusion): a point whose provisional d_k disk leaves its
   window gets one exact re-rank over the window that also covers that
   disk (only those points rescan);
4. exact haversine refine + per-query top-k (row_number over dist — the
   reference's replace-farthest k-buffer).

Each round is one scan whose query-side inputs are SQL literals, and one
``selectExpr`` ranks its rows.  A round with one query point filters to its
window and ranks by the haversine to the literal point, partitioned by the
literal qid: with a literal partition key Catalyst plans the top-k as
TakeOrderedAndProject (one job, no exchange).  A round with
several attaches them with ``inline(filter(<literal array of query structs>,
q -> the row's cell lies in q's window))`` and ranks them in a window
partitioned by qid.  Every scan carries a driver-built bbox predicate on the
RAW lon/lat columns covering all its windows (`_bbox_sql`), so the filter
reaches the parquet reader (PushedFilters -> row-group / file skipping on a
sorted layout) and nothing is cached.
"""

from __future__ import annotations

import math

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geomesa_spark.cells import grid
from geomesa_spark.operators.processes import haversine_col, haversine_sql
from geomesa_spark.plans.refine import sql_double, sql_literal
from geomesa_spark.sources.arrow_io import local_table

M_PER_DEG_LAT = 111_195.0  # spherical: pi/180 * R
_QUERY_SCHEMA = "qid string, qlon double, qlat double"


def _window(ixs, iys, n: int) -> tuple[int, int, int, int]:
    """``(x0, nx, y0, y1)``: the smallest cyclic arc of ``nx`` grid columns
    from ``x0`` that covers the column indices ``ixs``, times the rows
    ``min(iys)..max(iys)``.  Every column set gives one canonical window, so
    equal windows compare equal."""
    srt = sorted(set(ixs))
    # largest cyclic gap between used columns; its complement is the arc
    gaps = [(srt[(i + 1) % len(srt)] - srt[i]) % n or n for i in range(len(srt))]
    gi = max(range(len(srt)), key=gaps.__getitem__)
    return srt[(gi + 1) % len(srt)], n + 1 - gaps[gi], min(iys), max(iys)


def _cols(w, n: int) -> set:
    """The grid column indices of window ``w``."""
    x0, nx = w[:2]
    return {(x0 + i) % n for i in range(nx)}


def _disk_window(qix: int, qiy: int, r: int, n: int):
    """Window of the cells at grid (Chebyshev) distance <= r from the query
    cell: x wraps at the antimeridian, y clamps at the poles."""
    cols = range(n) if 2 * r + 1 >= n else [(qix + d) % n for d in range(-r, r + 1)]
    return _window(cols, (max(0, qiy - r), min(n - 1, qiy + r)), n)


def _radius_window(qlon: float, qlat: float, res: int, radius_m: float):
    """Window of all cells intersecting the metric disk around (qlon, qlat).

    A disk that reaches a pole takes every longitude (reference envelope
    wrap: KNearestNeighborSearchProcess.scala:527-547)."""
    n = 1 << res
    cell_h_deg = 180.0 / n
    rad_deg_lat = radius_m / M_PER_DEG_LAT
    iy0 = max(0, int((max(qlat - rad_deg_lat, -90.0) + 90.0) / cell_h_deg))
    iy1 = min(n - 1, int((min(qlat + rad_deg_lat, 89.999999) + 90.0) / cell_h_deg))
    _, qix, _ = grid.cell_xy(grid.cell_id(qlon, qlat, res))
    # Max longitude half-extent of a spherical disk: asin(sin r / cos phi_q)
    # — the tangent-meridian bound (standard circle-bounding-box formula on
    # the sphere).  Row-independent: every row's intersection arc is
    # centered on qlon and no wider than this, so it is a strict superset
    # bound per row while staying tight near the poles.
    if abs(qlat) + rad_deg_lat >= 90.0:
        rad_deg_lon = 180.0  # disk reaches a pole: all longitudes
    else:
        rad_deg_lon = math.degrees(math.asin(min(1.0, (
            math.sin(math.radians(rad_deg_lat))
            / math.cos(math.radians(qlat))))))
    span = int(rad_deg_lon / (360.0 / n)) + 1
    cols = range(n) if 2 * span + 1 >= n else [(qix + d) % n for d in range(-span, span + 1)]
    return _window(cols, (iy0, iy1), n)


def _bbox_sql(ixs, iys, n: int, lon_col: str, lat_col: str) -> str:
    """SQL of a coarse lon/lat bbox predicate covering the grid columns
    ``ixs`` and the rows ``iys``.

    Built driver-side so it pushes down to the parquet scan (lon/lat are
    stored columns; the cell is derived and would not prune files).  The
    lat range is the rows' extent; the lon range is `_window`'s arc
    (antimeridian wrap becomes an OR of two ranges; more than half the
    columns degenerates to no lon filter).  Always a superset of the cells —
    the window filter stays exact.
    """
    x0, nx, y0, y1 = _window(ixs, iys, n)
    sql = (f"`{lat_col}` BETWEEN {sql_double(-90.0 + y0 * 180.0 / n)}"
           f" AND {sql_double(-90.0 + (y1 + 1) * 180.0 / n)}")
    if len(set(ixs)) <= n // 2:
        lo, hi = -180.0 + x0 * 360.0 / n, -180.0 + ((x0 + nx - 1) % n + 1) * 360.0 / n
        op = "AND" if x0 + nx <= n else "OR"  # OR: the arc wraps the antimeridian
        sql += f" AND (`{lon_col}` >= {sql_double(lo)} {op} `{lon_col}` <= {sql_double(hi)})"
    return sql


def _pick_res(total_rows: int, k: int) -> int:
    """Resolution where one cell holds ~4k points on average (uniform est.) —
    the density-based initial window of the reference (:293-299)."""
    if total_rows <= 0:
        return 4
    cells_needed = max(total_rows / (4.0 * max(k, 1)), 1.0)
    res = int(math.log(cells_needed, 4) / 1.0)
    return max(2, min(res, 12))


def knn_join(points: DataFrame, query_points: list[tuple], k: int, *,
             lon_col: str = "lon", lat_col: str = "lat",
             res: int | None = None, max_iterations: int = 6,
             n_rows: int | None = None) -> DataFrame:
    """Exact k nearest data points per query point.

    ``query_points``: [(qid, lon, lat)]; qids come back as strings. Returns
    one row per (qid, neighbor) with ``dist_m`` and ``knn_rank``.

    ``n_rows``: total row count used for the density-based initial window;
    pass it when known (parquet footer / layout manifest) to avoid a
    counting job.
    """
    spark = points.sparkSession
    if max_iterations < 1:
        # the expansion loop builds its result schema inside the first
        # iteration — zero iterations has no meaningful answer
        raise ValueError("knn_join requires max_iterations >= 1")
    if not query_points:
        return knn_brute_force(points, [], k).select(
            "qid", *points.columns, "dist_m", "knn_rank")
    if res is None:
        res = _pick_res(n_rows if n_rows is not None else points.count(), k)
    return _knn_inner(spark, points, query_points, k, lon_col, lat_col, res,
                      max_iterations)


def _knn_inner(spark, points, query_points, k, lon_col, lat_col, res,
               max_iterations):
    n = 1 << res
    q_pos = {str(qid): (float(x), float(y)) for qid, x, y in query_points}
    q_xy = {qid: grid.cell_xy(grid.cell_id(x, y, res))[1:] for qid, (x, y) in q_pos.items()}
    ix, iy = grid.xy_sql(lon_col, lat_col, n)

    def inside(cx, cy, x0, nx, y0, y1):
        return f"pmod({cx} - {x0}, {n}) < {nx} AND {cy} BETWEEN {y0} AND {y1}"

    def topk(wins: dict) -> DataFrame:
        """One pruned scan -> the top-k rows of every query point in
        ``wins`` ({qid: window}) among the rows inside its window."""
        bbox = _bbox_sql(set().union(*(_cols(w, n) for w in wins.values())),
                         [y for w in wins.values() for y in w[2:]], n, lon_col, lat_col)
        if len(wins) == 1:
            (qid, w), = wins.items()
            scan = points.where(f"{bbox} AND {inside(ix, iy, *w)}")
            q, (qlon, qlat) = sql_literal(qid), q_pos[qid]
        else:
            qs = ", ".join(
                f"named_struct('qid', {sql_literal(qid)}, 'qlon', {sql_literal(q_pos[qid][0])},"
                f" 'qlat', {sql_literal(q_pos[qid][1])}, '__x0', {x0}, '__nx', {nx},"
                f" '__y0', {y0}, '__y1', {y1})" for qid, (x0, nx, y0, y1) in wins.items())
            in_q = inside("__ix", "__iy", "q.__x0", "q.__nx", "q.__y0", "q.__y1")
            scan = (points.where(bbox)
                    .selectExpr("*", f"{ix} AS __ix", f"{iy} AS __iy")
                    .selectExpr("*", f"inline(filter(array({qs}), q -> {in_q}))"))
            q, qlon, qlat = "`qid`", "qlon", "qlat"
        dist = haversine_sql(lon_col, lat_col, qlon, qlat)
        return (scan.selectExpr(f"{q} AS qid", *(f"`{c}`" for c in points.columns),
                                f"{dist} AS dist_m",
                                f"row_number() OVER (PARTITION BY {q} ORDER BY {dist})"
                                " AS knn_rank")
                .where(f"knn_rank <= {k}"))

    # --- expansion: ONE job per round returns the provisional top-k rows
    # THEMSELVES (<= k rows per pending point, collected as Arrow so the
    # exact ones go back into the plan unchanged): "k candidates", the
    # provisional k-th distance and the candidate answers are the same
    # fact, so the reference's separate window-estimate / k-buffer passes
    # collapse into the expansion loop and — when the d_k disk is already
    # inside the window, the common case — no second job runs at all.
    radius = dict.fromkeys(q_pos, 1)
    win: dict = {}
    best: dict = {}          # qid -> provisional top-k Arrow rows (latest scan)
    pending = list(q_pos)
    for _ in range(max_iterations):
        for qid in pending:
            win[qid] = _disk_window(*q_xy[qid], radius[qid], n)
            radius[qid] *= 2
        df = topk({qid: win[qid] for qid in pending})
        tbl = df.toArrow()
        got: dict = {}
        for i, qid in enumerate(tbl.column("qid").to_pylist()):
            got.setdefault(qid, []).append(i)
        for qid, idx in got.items():
            best[qid] = tbl.take(idx)
        pending = [q for q in pending
                   if len(got.get(q, ())) < k and win[q][1:] != (n, 0, n - 1)]
        if not pending:
            break

    # --- top-up: hole exclusion — a point whose provisional d_k disk is NOT
    # inside its window gets one exact top-k re-rank over the window that
    # covers both (only those points rescan; the rest are already exact).
    topup: dict = {}
    for qid, rs in best.items():
        d = max(rs.column("dist_m").to_pylist())
        need = _radius_window(*q_pos[qid], res, d * 1.0000001)
        grown = _window(_cols(win[qid], n) | _cols(need, n),
                        (*win[qid][2:], *need[2:]), n)
        if grown != win[qid]:
            topup[qid] = grown

    exact = [rs for qid, rs in best.items() if qid not in topup]
    parts = [local_table(spark, pa.concat_tables(exact), df.schema)] if exact else []
    if topup:
        parts.append(topk(topup))
    if not parts:
        return df.limit(0)
    return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])


def knn_brute_force(points: DataFrame, query_points: list[tuple], k: int, *,
                    lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Broadcast nested-loop kNN — the oracle/baseline path."""
    qdf = local_table(points.sparkSession, list(query_points), _QUERY_SCHEMA)
    dist = haversine_col(lon_col, lat_col, "qlon", "qlat")
    w = Window.partitionBy("qid").orderBy("dist_m")
    return (points.crossJoin(F.broadcast(qdf))
            .withColumn("dist_m", dist)
            .withColumn("knn_rank", F.row_number().over(w))
            .where(F.col("knn_rank") <= k)
            .drop("qlon", "qlat"))
