"""kNN via cell-ring expansion + exact great-circle refine.

Spark reimplementation of the reference's expanding-window kNN search
(KNearestNeighborSearchProcess.scala:92-212: initial window estimate, ring
expansion with hole exclusion :225-303, exact geodesic refine into a fixed-k
buffer :315-396):

1. every data point carries a grid cell (native expression, one per point);
2. per query point, candidate cells = disk(query cell, r); r starts from a
   density-based estimate and doubles until every query point has >= k
   candidates (driver-side counts on a tiny aggregate — the reference's
   iterative window expansion);
3. guarantee pass: after the provisional k-th distance d_k is known, the
   disk is expanded to fully contain the d_k radius (in cells), and only the
   NEW cells are scanned (hole exclusion);
4. exact haversine refine + per-query top-k window
   (row_number over dist — the reference's replace-farthest k-buffer).

Query points are broadcast (they are small); every scan of the fact table
carries a driver-built coarse bbox predicate on the RAW lon/lat columns
derived from the candidate cell set (`_cells_bbox_pred`), so the filter
reaches the parquet reader (PushedFilters -> row-group / file skipping on a
sorted layout) and nothing is cached — each phase re-scans only the pruned
slice, mirroring the reference's iterator-level range scans.  The exact
cell membership is then enforced by the broadcast join on `__cell`.
"""

from __future__ import annotations

import math

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geomesa_spark.cells import grid
from geomesa_spark.sources.arrow_io import local_table

M_PER_DEG_LAT = 111_195.0  # spherical: pi/180 * R
_QUERY_SCHEMA = "qid string, qlon double, qlat double"


def cells_covering_radius(qlon: float, qlat: float, res: int, radius_m: float) -> list[int]:
    """All cells intersecting the metric disk around (qlon, qlat).

    Handles pole overflow (include full polar rows) and antimeridian wrap
    (reference envelope wrap: KNearestNeighborSearchProcess.scala:527-547).
    """
    n = 1 << res
    cell_h_deg = 180.0 / n
    rad_deg_lat = radius_m / M_PER_DEG_LAT
    lat_lo, lat_hi = qlat - rad_deg_lat, qlat + rad_deg_lat
    iy0 = max(0, int((max(lat_lo, -90.0) + 90.0) / cell_h_deg))
    iy1 = min(n - 1, int((min(lat_hi, 89.999999) + 90.0) / cell_h_deg))
    out = set()
    _, qix, _ = grid.cell_xy(grid.cell_id(qlon, qlat, res))
    # Max longitude half-extent of a spherical disk: asin(sin r / cos phi_q)
    # — the tangent-meridian bound (standard circle-bounding-box formula on
    # the sphere).  Row-independent: every row's intersection arc is
    # centered on qlon and no wider than this, so it is a strict superset
    # bound per row while staying tight near the poles (the previous
    # widest-row-edge heuristic degenerated to all-longitudes for any disk
    # touching a polar row).
    if abs(qlat) + rad_deg_lat >= 90.0:
        rad_deg_lon = 180.0  # disk reaches a pole: all longitudes
    else:
        rad_deg_lon = math.degrees(math.asin(min(1.0, (
            math.sin(math.radians(rad_deg_lat))
            / math.cos(math.radians(qlat))))))
    span_cells = int(rad_deg_lon / (360.0 / n)) + 1
    for iy in range(iy0, iy1 + 1):
        if span_cells * 2 + 1 >= n:
            for ix in range(n):
                out.add(grid.from_xy(res, ix, iy))
        else:
            for dx in range(-span_cells, span_cells + 1):
                out.add(grid.from_xy(res, (qix + dx) % n, iy))
    if lat_lo < -90.0 or lat_hi > 90.0:
        # disk crosses a pole: the whole polar row set within reach
        rows = range(0, iy0 + 1) if lat_lo < -90.0 else range(iy1, n)
        for iy in rows:
            for ix in range(n):
                out.add(grid.from_xy(res, ix, iy))
    return sorted(out)


def _cells_bbox_pred(cells, res: int, lon_col: str, lat_col: str):
    """Coarse lon/lat bbox predicate covering a candidate cell set.

    Built driver-side so it pushes down to the parquet scan (lon/lat are
    stored columns; `__cell` is derived and would not prune files).  The
    lat range is the cell rows' extent; the lon range is the smallest
    cyclic arc covering the cell columns (antimeridian wrap becomes an OR
    of two ranges; >half-circle coverage degenerates to no lon filter).
    Always a superset of the cells — the broadcast cell join stays exact.
    """
    n = 1 << res
    ixs, iys = set(), set()
    for c in cells:
        _, ix, iy = grid.cell_xy(c)
        ixs.add(ix)
        iys.add(iy)
    if not iys:
        return F.lit(False)
    lat_lo = -90.0 + min(iys) * 180.0 / n
    lat_hi = -90.0 + (max(iys) + 1) * 180.0 / n
    pred = F.col(lat_col).between(lat_lo, lat_hi)
    if len(ixs) <= n // 2:
        srt = sorted(ixs)
        # largest cyclic gap between used columns; its complement is the arc
        gaps = [(srt[(i + 1) % len(srt)] - srt[i]) % n or n
                for i in range(len(srt))]
        gi = max(range(len(srt)), key=gaps.__getitem__)
        start, end = srt[(gi + 1) % len(srt)], srt[gi]
        lon_lo = -180.0 + start * 360.0 / n
        lon_hi = -180.0 + (end + 1) * 360.0 / n
        if start <= end:
            pred = pred & F.col(lon_col).between(lon_lo, lon_hi)
        else:  # wraps the antimeridian
            pred = pred & ((F.col(lon_col) >= lon_lo) | (F.col(lon_col) <= lon_hi))
    return pred


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
             res: int | None = None, id_cols: list[str] | None = None,
             max_iterations: int = 6, n_rows: int | None = None) -> DataFrame:
    """Exact k nearest data points per query point.

    ``query_points``: [(qid, lon, lat)]. Returns one row per (qid, neighbor)
    with ``dist_m`` and ``knn_rank``.

    ``n_rows``: total row count used for the density-based initial window;
    pass it when known (parquet footer / layout manifest) to avoid a
    counting job.
    """
    spark = points.sparkSession
    if max_iterations < 1:
        # the fused expansion loop materializes its result template inside
        # the first iteration — zero iterations has no meaningful answer
        raise ValueError("knn_join requires max_iterations >= 1")
    if res is None:
        res = _pick_res(n_rows if n_rows is not None else points.count(), k)
    return _knn_inner(spark, points, query_points, k, lon_col, lat_col, res,
                      max_iterations)


def _knn_inner(spark, points, query_points, k, lon_col, lat_col, res,
               max_iterations):
    n = 1 << res

    def pruned_scan(cells):
        """Fact-table scan restricted to `cells`: pushed bbox prefilter on
        the stored lon/lat columns + the derived row-major cell key for the
        exact broadcast join.  No cache — each phase reads only its slice."""
        return (points
                .where(_cells_bbox_pred(cells, res, lon_col, lat_col))
                .withColumn("__cell", F.expr(grid.rowmajor_sql(lon_col, lat_col, n))))
    q_cells = {qid: grid.cell_id(qlon, qlat, res) for qid, qlon, qlat in query_points}
    q_pos = {qid: (qlon, qlat) for qid, qlon, qlat in query_points}
    qdf = local_table(spark, [(qid, x, y) for qid, (x, y) in q_pos.items()], _QUERY_SCHEMA)
    dist = _haversine_col(F.col(lon_col), F.col(lat_col), F.col("qlon"), F.col("qlat"))
    w = Window.partitionBy("qid").orderBy("dist_m")
    wq = Window.partitionBy("qid")

    def candidate_topk(cell_rows):
        """Pruned scan restricted to per-qid cell sets → per-qid top-k rows
        (plus ``__cnt``, the pre-rank candidate count per qid)."""
        cdf = local_table(spark, [(qid, grid.rowmajor(c)) for qid, c in cell_rows],
                          "qid string, __cell long")
        return (pruned_scan({c for _, c in cell_rows})
                .join(F.broadcast(cdf), "__cell")
                .join(F.broadcast(qdf), "qid")
                .withColumn("dist_m", dist)
                .withColumn("__cnt", F.count("*").over(wq))
                .withColumn("knn_rank", F.row_number().over(w))
                .where(F.col("knn_rank") <= k)
                .drop("__cell"))

    # --- phase 1 (fused): expand disks until every query point has >= k
    # candidates.  ONE driver job per iteration returns the provisional
    # top-k rows THEMSELVES (<= k rows per pending qid, collected as Arrow
    # so the exact ones go back into the plan unchanged): "count >= k", the
    # provisional k-th distance, and the candidate answers are the same
    # fact, so the reference's separate window-estimate / k-buffer passes
    # collapse into the expansion loop and — when the d_k disk is already
    # inside the scanned cells, the common case — no second distributed
    # job runs at all.
    radius = {qid: 1 for qid in q_cells}
    scanned: dict = {qid: set() for qid in q_cells}
    pending = set(q_cells)
    best: dict = {}          # qid -> provisional top-k Arrow rows (latest scan)
    counts = {qid: 0 for qid in q_cells}
    template = None
    for _ in range(max_iterations):
        grew = False
        for qid in pending:
            new_cells = set(grid.disk(q_cells[qid], radius[qid])) - scanned[qid]
            if new_cells:
                grew = True
            scanned[qid].update(new_cells)
            radius[qid] *= 2
        prov = candidate_topk([(qid, c) for qid in pending for c in scanned[qid]])
        if template is None:
            template = prov.drop("__cnt", "qlon", "qlat")
        tbl = prov.toArrow()
        got: dict = {}
        for i, qid in enumerate(tbl.column("qid").to_pylist()):
            got.setdefault(qid, []).append(i)
        for qid in list(pending):
            if qid in got:
                best[qid] = tbl.take(got[qid])
                counts[qid] = best[qid].column("__cnt")[0].as_py()
            if counts[qid] >= k or len(scanned[qid]) >= n * n:
                pending.discard(qid)
        if not pending or not grew:
            break

    # --- phase 2: hole exclusion — a qid whose provisional d_k disk is NOT
    # fully contained in its scanned cells gets one exact top-k re-rank over
    # the grown set (only those qids rescan; the rest are already exact).
    topup: dict = {}
    for qid, rs in best.items():
        d = max(rs.column("dist_m").to_pylist())
        qlon, qlat = q_pos[qid]
        needed = set(cells_covering_radius(qlon, qlat, res, d * 1.0000001))
        extra = needed - scanned[qid]
        if extra:
            topup[qid] = scanned[qid] | extra

    out_cols = template.columns
    parts = []
    exact = [rs.select(out_cols) for qid, rs in best.items() if qid not in topup]
    if exact:
        parts.append(local_table(spark, pa.concat_tables(exact), template.schema))
    if topup:
        final = candidate_topk([(qid, c) for qid, cells in topup.items()
                                for c in cells]) \
            .drop("__cnt", "qlon", "qlat")
        parts.append(final.select(*out_cols))
    if not parts:
        return template.limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _haversine_col(lon1, lat1, lon2, lat2):
    """Native haversine (meters) — pure Catalyst, matches algos.haversine_m."""
    r1lon, r1lat = F.radians(lon1), F.radians(lat1)
    r2lon, r2lat = F.radians(lon2), F.radians(lat2)
    a = (F.pow(F.sin((r2lat - r1lat) / 2), 2)
         + F.cos(r1lat) * F.cos(r2lat) * F.pow(F.sin((r2lon - r1lon) / 2), 2))
    from geomesa_spark.geom.algos import EARTH_RADIUS_M
    # clamp without F.least: least() ignores nulls and would turn a null
    # distance (null input coords) into asin(1)
    clamped = F.when(a > 1.0, F.lit(1.0)).otherwise(a)
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(clamped))


def knn_brute_force(points: DataFrame, query_points: list[tuple], k: int, *,
                    lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Broadcast nested-loop kNN — the oracle/baseline path."""
    qdf = local_table(points.sparkSession, list(query_points), _QUERY_SCHEMA)
    dist = _haversine_col(F.col(lon_col), F.col(lat_col), F.col("qlon"), F.col("qlat"))
    w = Window.partitionBy("qid").orderBy("dist_m")
    return (points.crossJoin(F.broadcast(qdf))
            .withColumn("dist_m", dist)
            .withColumn("knn_rank", F.row_number().over(w))
            .where(F.col("knn_rank") <= k)
            .drop("qlon", "qlat"))
