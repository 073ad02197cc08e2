"""Density grids and deterministic tile pyramids.

Spark reimplementation of the reference's density scan / heatmap surface
(iterators/DensityScan.scala:29-48,95-136; grid snap semantics
GridSnap.scala:23, RenderingGrid.scala:25): features are floor-snapped onto a
width x height grid over an envelope and their weights summed per pixel.

A tile pyramid is the same computation per (zoom, tile): global pixel index
gx = floor((lon+180)/360 * 2^zoom * tile_px), tile = gx div tile_px, pixel =
gx mod tile_px. Everything is native Catalyst (one shuffle per aggregation,
map-side partial aggregation for free); every zoom level comes out of ONE
explode + aggregation over the finest level.

Each operator is one SQL text over its input (``session.frame_sql``), so
building it costs a handful of py4j round trips; the floor snap is
``grid.snap_sql`` and ``weight`` is a SQL expression (a column name is one).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from geomesa_spark.cells.grid import snap_sql, xy_sql
from geomesa_spark.plans.refine import bbox_sql, sql_double, sql_literal
from geomesa_spark.session import frame_sql


def _weight(weight: str | None) -> str:
    """A row's weight as SQL: 1.0 by default, else the SQL expression
    ``weight`` (a column name is one), its braces doubled for
    :func:`frame_sql`."""
    if weight is None:
        return "1.0D"
    return "(" + weight.replace("{", "{{").replace("}", "}}") + ")"


def _inside_sql(envelope: tuple, *points: tuple) -> str:
    """SQL of every (x, y) column pair of ``points`` inside ``envelope``,
    edges included."""
    return " AND ".join(f"({bbox_sql(envelope, x, y)})" for x, y in points)


def _ends_sql(envelope: tuple, width: int, height: int, render, **ends) -> str:
    """``render(column, lo, hi, n) AS name`` for each ``name=(column, axis)``:
    axis 0 spans the envelope's x range in ``width`` pixels, 1 its y range
    in ``height``."""
    xmin, ymin, xmax, ymax = envelope
    axes = ((xmin, xmax, width), (ymin, ymax, height))
    return ", ".join(f"{render(f'`{c}`', *axes[axis])} AS {name}"
                     for name, (c, axis) in ends.items())


def _pixel_sums_sql(pixels: str, height: int) -> str:
    """SQL of the (px, py, weight) sums over ``pixels``, a relation of
    ``__pix`` (an array of pixel ids ``px * height + py``) and ``__w``."""
    return f"""
SELECT cast(pix / {height} as int) AS px, cast(pmod(pix, {height}) as int) AS py, weight
FROM (SELECT pix, sum(__w) AS weight
      FROM (SELECT explode(__pix) AS pix, __w FROM {pixels})
      GROUP BY pix)"""


def density(df: DataFrame, envelope: tuple, width: int, height: int, *,
            lon_col: str = "lon", lat_col: str = "lat",
            weight: str | None = None) -> DataFrame:
    """Sparse (px, py) -> weight grid over an envelope.

    Rows outside the envelope are dropped (DensityScan renders only features
    hitting the grid); the envelope's max edge maps to the last pixel
    (GridSnap floor + clamp semantics).
    """
    xmin, ymin, xmax, ymax = envelope
    px = snap_sql(f"`{lon_col}`", xmin, xmax, width)
    py = snap_sql(f"`{lat_col}`", ymin, ymax, height)
    return frame_sql(f"""
SELECT px, py, sum(__w) AS weight
FROM (SELECT cast({px} as int) AS px, cast({py} as int) AS py, {_weight(weight)} AS __w
      FROM {{src}} WHERE {bbox_sql(envelope, lon_col, lat_col)})
GROUP BY px, py""", src=df)


def tile_pyramid(df: DataFrame, zooms: list[int], *, tile_px: int = 256,
                 lon_col: str = "lon", lat_col: str = "lat",
                 weight: str | None = None) -> DataFrame:
    """(zoom, tx, ty, px, py, weight, cnt) for all zoom levels.

    Deterministic tile assignment: plate carrée, ty increases northward,
    floor snap with the +90/+180 edges clamped into the last tile — matching
    the engine's GridSnap-parity pixel math (tests port F7 semantics).

    ROLLUP execution, two aggregations in one lineage: only the FINEST
    zoom aggregates the raw rows (one shuffle of the input, packed
    single-long pixel key); every zoom, the finest included, is then
    rolled up from that already-reduced level, since a coarser pixel id is
    exactly the finer id div 2^dz (floor(floor(x)/m) = floor(x/m), and the
    clamped top edge maps consistently).  Each finest pixel explodes to
    its key at every zoom (dz = 0 for the finest) and ONE groupBy sums
    them: shuffled rows drop from len(zooms) x input (the naive
    explode-by-zoom over raw rows) to input + len(zooms) x finest-level
    pixels, with map-side combine reducing the second term toward
    sum(level sizes) — at 10^12 input rows the difference is the whole
    job.  Every stage has one consumer, so nothing is read twice and
    nothing is cached.  Weight sums re-associate (floating point) but are
    exact as rollups of the finest level.
    """
    zs = sorted(set(zooms), reverse=True)
    finest = zs[0]
    n = (1 << finest) * tile_px
    gx, gy = xy_sql(f"`{lon_col}`", f"`{lat_col}`", n)
    # each finest pixel to its (zoom, key) at every zoom, coarsened by
    # 2^shift per axis; `div` = exact integer division (double `/` rounds
    # past 2^53)
    keys = ", ".join(
        f"named_struct('zoom', {z}, '__k', (__k div {n}) div {1 << (finest - z)}"
        f" * {(1 << z) * tile_px} + (__k % {n}) div {1 << (finest - z)})" for z in zs)
    # decode a (zoom, packed-key) pair; npx is a per-row expression of zoom
    npx = f"(shiftleft(cast(1 as bigint), zoom) * {tile_px})"
    world = (-180.0, -90.0, 180.0, 90.0)
    return frame_sql(f"""
SELECT zoom,
       cast((__k div {npx}) div {tile_px} as int) AS tx,
       cast((__k % {npx}) div {tile_px} as int) AS ty,
       cast((__k div {npx}) % {tile_px} as int) AS px,
       cast((__k % {npx}) % {tile_px} as int) AS py,
       weight, cnt
FROM (SELECT zoom, __k, sum(weight) AS weight, sum(cnt) AS cnt
      FROM (SELECT zk.zoom AS zoom, zk.__k AS __k, weight, cnt
            FROM (SELECT explode(array({keys})) AS zk, weight, cnt
                  FROM (SELECT __k, sum(__w) AS weight, count(*) AS cnt
                        FROM (SELECT {gx} * {n} + {gy} AS __k, {_weight(weight)} AS __w
                              FROM {{src}} WHERE {bbox_sql(world, lon_col, lat_col)})
                        GROUP BY __k)))
      GROUP BY zoom, __k)""", src=df)


def density_boxes(df: DataFrame, envelope: tuple, width: int, height: int, *,
                  xmin_col: str = "xmin", ymin_col: str = "ymin",
                  xmax_col: str = "xmax", ymax_col: str = "ymax",
                  weight: str | None = None) -> DataFrame:
    """Density grid for EXTENT rows: every pixel a bbox footprint touches
    gets the row's weight (DensityScan's polygon renderer restricted to
    rectangles — RenderingGrid.render(Polygon) pixel fill, RenderingGrid
    .scala:285; general polygon fill composes this with the PIP refine).

    Pure Catalyst: per row, pixel ranges via floor snap, then
    explode(sequence(..)) x explode(sequence(..)) — no UDF; rows outside
    the envelope clip to it, fully-disjoint rows drop.
    """
    exmin, eymin, exmax, eymax = envelope
    ends = _ends_sql(envelope, width, height,
                     lambda c, lo, hi, n: f"cast({snap_sql(c, lo, hi, n)} as int)",
                     __px0=(xmin_col, 0), __px1=(xmax_col, 0),
                     __py0=(ymin_col, 1), __py1=(ymax_col, 1))
    overlap = (f"`{xmax_col}` >= {sql_double(exmin)} AND `{xmin_col}` <= {sql_double(exmax)}"
               f" AND `{ymax_col}` >= {sql_double(eymin)} AND `{ymin_col}` <= {sql_double(eymax)}")
    return frame_sql(f"""
SELECT px, py, sum(__w) AS weight
FROM (SELECT px, explode(sequence(__py0, __py1)) AS py, __w
      FROM (SELECT explode(sequence(__px0, __px1)) AS px, __py0, __py1, __w
            FROM (SELECT {ends}, {_weight(weight)} AS __w FROM {{src}} WHERE {overlap})))
GROUP BY px, py""", src=df)


def density_lines(df: DataFrame, envelope: tuple, width: int, height: int, *,
                  x1_col: str = "x1", y1_col: str = "y1",
                  x2_col: str = "x2", y2_col: str = "y2",
                  weight: str | None = None) -> DataFrame:
    """Density grid for LINE-SEGMENT rows: every pixel a segment passes
    through gets the row's weight once (DensityScan's line renderer,
    RenderingGrid.render(LineString) — Bresenham-style walk).

    Pure Catalyst DDA: n = chebyshev pixel span; pixel_i = floor(linear
    interpolation at i/n in continuous pixel space), deduped per segment
    (a near-diagonal step may revisit a pixel) via array_distinct on the
    packed pixel id.  The step count is bounded by width+height, so the
    explode is bounded per row regardless of data — scale-safe.  Segments
    are required to lie inside the envelope (clipping composes upstream
    with st_intersection against the envelope box).
    """
    # continuous pixel coordinates, clamped inside the grid
    ends = _ends_sql(envelope, width, height, lambda c, lo, hi, n: (
        f"least(greatest(({c} - {sql_double(lo)}) / {sql_double(hi - lo)} * {n}, 0.0D),"
        f" {sql_double(n - 1e-9)})"),
        __ax=(x1_col, 0), __ay=(y1_col, 1), __bx=(x2_col, 0), __by=(y2_col, 1))
    inside = _inside_sql(envelope, (x1_col, y1_col), (x2_col, y2_col))
    return frame_sql(_pixel_sums_sql(f"""(
  SELECT array_distinct(transform(sequence(0, __n), i ->
           cast(floor(__ax + (__bx - __ax) * i / greatest(__n, 1)) AS bigint) * {height}
           + cast(floor(__ay + (__by - __ay) * i / greatest(__n, 1)) AS bigint))) AS __pix, __w
  FROM (SELECT __ax, __ay, __bx, __by, __w,
               cast(greatest(abs(floor(__bx) - floor(__ax)),
                             abs(floor(__by) - floor(__ay)), 0) as int) AS __n
        FROM (SELECT {ends}, {_weight(weight)} AS __w FROM {{src}} WHERE {inside})))""",
        height), src=df)


def bresenham_pixels(x0, y0, x1, y1):
    """The reference's EXACT cell walk between two snapped grid cells
    (GridSnap.scala:95-130 ``bresenhamLine``), vectorized across segments.

    Semantics preserved bug-for-bug:
    - yields ``max(|dx|, |dy|)`` cells starting AT the start cell; the
      arithmetic END cell is never yielded (``Iterator.iterate(seed).
      take(delta)``) unless both deltas are 0 (then just the start cell);
    - the minor axis advances when a FLOAT64-accumulated error crosses
      0.5 (``error += deltaError; if (error >= 0.5) error -= 1``) — NOT
      the integer round-half-up closed form: ``deltaError`` is an inexact
      double for most slopes, and its sequential accumulation can move an
      increment by one step relative to exact rational math.  This
      function replays the same IEEE ops in the same order (numpy loops
      over steps, one fused add per lane), so cells match the JVM's walk
      bit-for-bit.

    Args are integer arrays (snapped cell indices); returns
    ``(seg_idx, i, j)`` int64 arrays, walk-ordered within each segment.
    """
    import numpy as np

    x0 = np.asarray(x0, dtype=np.int64)
    y0 = np.asarray(y0, dtype=np.int64)
    x1 = np.asarray(x1, dtype=np.int64)
    y1 = np.asarray(y1, dtype=np.int64)
    n = x0.shape[0]
    dx = np.abs(x1 - x0)
    dy = np.abs(y1 - y0)
    steps = np.maximum(np.maximum(dx, dy), 1)  # cells yielded per segment
    step_x = np.where(x0 < x1, 1, -1).astype(np.int64)
    step_y = np.where(y0 < y1, 1, -1).astype(np.int64)
    major_x = dx > dy                          # ties walk the y branch
    with np.errstate(divide="ignore", invalid="ignore"):
        d_err = np.where(major_x,
                         dy / np.maximum(dx, 1),
                         dx / np.maximum(dy, 1))

    seg_out, i_out, j_out = [], [], []
    idx = np.arange(n, dtype=np.int64)
    x, y = x0.copy(), y0.copy()
    err = np.zeros(n, dtype=np.float64)
    max_steps = int(steps.max()) if n else 0
    for t in range(max_steps):
        live = t < steps
        if not live.any():
            break
        seg_out.append(idx[live])
        i_out.append(x[live])
        j_out.append(y[live])
        # advance to the cell yielded at step t+1 (same order as the
        # reference: bump error first, then step major / maybe minor)
        err = err + d_err
        inc = err >= 0.5
        err = np.where(inc, err - 1.0, err)
        x = np.where(major_x, x + step_x, np.where(inc, x + step_x, x))
        y = np.where(major_x, np.where(inc, y + step_y, y), y + step_y)
    if not seg_out:  # only reachable on an empty batch
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    return (np.concatenate(seg_out), np.concatenate(i_out),
            np.concatenate(j_out))


def density_lines_bresenham(df: DataFrame, envelope: tuple, width: int,
                            height: int, *,
                            x1_col: str = "x1", y1_col: str = "y1",
                            x2_col: str = "x2", y2_col: str = "y2",
                            weight: str | None = None) -> DataFrame:
    """Line-segment density with the reference's EXACT pixel walk
    (RenderingGrid.scala:72-140 render(LineString)): endpoints snap to
    integer cells first (GridSnap.i/j floor + clamp), then the float-error
    Bresenham of :func:`bresenham_pixels` yields each segment's cells —
    including the reference's endpoint-exclusion quirk (a standalone
    segment's final cell is NOT rendered; in a polyline the next segment's
    start writes it).

    :func:`density_lines` remains the default renderer (pure-Catalyst DDA,
    sub-cell-aware, endpoint-inclusive — oracle-checked); this variant is
    for row-for-row parity with the reference's RenderingGrid output.
    Arrow-batched pandas UDF, one walk per segment, cells bounded by
    width+height per row — no per-row Python in any other stage.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # GridSnap.i/j: floor((v - min) / d) with d = (max - min) / n, in that
    # division order; upper edge into the last cell
    cells = _ends_sql(envelope, width, height, lambda c, lo, hi, n: (
        f"least(floor(({c} - {sql_double(lo)}) / {sql_double((hi - lo) / n)}), {n - 1})"),
        __ix0=(x1_col, 0), __iy0=(y1_col, 1), __ix1=(x2_col, 0), __iy1=(y2_col, 1))

    # NO parameter annotations: `from __future__ import annotations`
    # stringifies hints and pandas is imported locally, which breaks
    # pandas_udf signature resolution (see plans/ecql.py prefer_lonlat)
    def walk(ix0, iy0, ix1, iy1):
        import numpy as np
        if len(ix0) == 0:   # np.split(empty, []) would yield ONE chunk
            return pd.Series([], dtype=object)
        seg, i, j = bresenham_pixels(ix0.to_numpy(), iy0.to_numpy(),
                                     ix1.to_numpy(), iy1.to_numpy())
        pix = i * height + j
        # regroup the step-major walk into per-segment lists (stable sort
        # keeps each segment's cells in walk order)
        order = np.argsort(seg, kind="stable")
        seg, pix = seg[order], pix[order]
        cuts = np.searchsorted(seg, np.arange(1, len(ix0)))
        return pd.Series([a.tolist() for a in np.split(pix, cuts)])

    walk = pandas_udf(walk, "array<long>")

    inside = _inside_sql(envelope, (x1_col, y1_col), (x2_col, y2_col))
    snapped = frame_sql(f"SELECT {cells}, {_weight(weight)} AS __w FROM {{src}} WHERE {inside}",
                        src=df)
    walked = snapped.select(walk("__ix0", "__iy0", "__ix1", "__iy1").alias("__pix"), "__w")
    return frame_sql(_pixel_sums_sql("{src}", height), src=walked)


def density_polygons(spark, polygons: list[tuple], envelope: tuple,
                     width: int, height: int,
                     weights: dict | None = None) -> DataFrame:
    """Density grid for POLYGON footprints: every pixel whose center lies
    inside a polygon gets that polygon's weight (DensityScan's polygon
    renderer, RenderingGrid.render(Polygon)).

    Composition, not a new kernel: materialize the bounded pixel grid
    (width x height rows) with pixel-center lon/lat and PIP-join it
    against the polygon set with the engine's native ray-cast join —
    "general polygon fill composes bbox fill with the PIP refine".
    ``polygons`` is the small driver-side [(id, wkt-or-geom)] collection;
    ``weights`` maps polygon id -> weight (default 1.0 each).
    """
    from geomesa_spark.operators.pip_join import pip_join_broadcast
    exmin, eymin, exmax, eymax = envelope
    grid = spark.sql(f"""
SELECT px, py,
       {sql_double(exmin)} + (px + 0.5D) * {sql_double((exmax - exmin) / width)} AS lon,
       {sql_double(eymin)} + (py + 0.5D) * {sql_double((eymax - eymin) / height)} AS lat
FROM (SELECT CAST(id div {height} AS int) AS px, CAST(id % {height} AS int) AS py
      FROM range({width * height}))""")
    hit = pip_join_broadcast(grid, polygons)
    w = None
    if weights:
        w = "map(" + ", ".join(sql_literal(x) for kv in weights.items() for x in kv) + ")[poly_id]"
    return frame_sql(f"SELECT px, py, sum({_weight(w)}) AS weight FROM {{hit}} GROUP BY px, py",
                     hit=hit)


def write_tile_pyramid(df: DataFrame, path: str, zooms: list[int], **kwargs) -> None:
    """Materialize the pyramid partitioned by zoom (partition pruning on read)."""
    tiles = tile_pyramid(df, zooms, **kwargs)
    (tiles
     .repartition("zoom", "tx")
     .sortWithinPartitions("zoom", "tx", "ty", "px", "py")
     .write.mode("overwrite").partitionBy("zoom").parquet(path))


PIX_CHECK_MOD = 1_000_000_007  # pix_check modulus (shared with the oracle)


def render_tile_images(tiles: DataFrame, *, tile_px: int = 256,
                       value_col: str = "weight",
                       fmt: str = "png") -> DataFrame:
    """Render pyramid pixels into one image blob PER TILE:
    (zoom, tx, ty, n_px, vmax, bytes).

    The raster<->vector story's last mile: tile_pyramid produces sparse
    (pixel, weight) rows; this packs each tile's pixels into a dense
    tile_px^2 grayscale raster (linear weight -> 0..255, per-tile max
    normalization — the reference's DensityScan output is likewise
    normalized by the renderer) and encodes it with the engine codec
    (sources/images.encode_pixels; PIL/libjpeg honestly absent, the GSI1
    blob carries real lossless/lossy semantics and decodes with
    decode_image).

    Arrow-batched grouped map: one python call per TILE, dense numpy
    fill + one zlib pass — the per-tile work is O(tile_px^2), bounded
    and uniform, so the stage scales with the tile count (tiles are the
    natural output partitioning of any slippy-map serving layer).
    Row orientation: image row 0 = NORTH edge (py = tile_px-1).
    """
    import numpy as np
    import pandas as pd

    from geomesa_spark.sources.images import decode_image, encode_pixels

    out_schema = ("zoom int, tx int, ty int, n_px int, vmax double, "
                  "pix_check long, bytes binary")

    # NO annotations: `from __future__ import annotations` stringifies
    # them, and applyInPandas then warns that it cannot infer the eval type
    def render(key, pdf):
        zoom, tx, ty = (int(k) for k in key)
        arr = np.zeros((tile_px, tile_px), dtype=np.float64)
        arr[tile_px - 1 - pdf["py"].to_numpy(),
            pdf["px"].to_numpy()] = pdf[value_col].to_numpy()
        vmax = float(arr.max())
        v8 = np.floor(arr / vmax * 255.0).astype(np.uint8) if vmax > 0 \
            else arr.astype(np.uint8)
        rgb = np.repeat(v8[:, :, None], 3, axis=2)
        blob = encode_pixels(rgb, fmt)
        # pix_check: polynomial checksum of the DECODED blob raster —
        # proves the binary tile's contents against a pure-SQL oracle
        # recomputing the same sum from the sparse pixel rows (exact for
        # the lossless codec; jpeg quantization intentionally differs).
        dec = decode_image(blob)[:, :, 0].astype(np.int64)
        rr, cc = np.nonzero(dec)
        pys = (tile_px - 1 - rr).astype(np.int64)
        mix = (cc * 1315423911 + pys * 2654435761) % PIX_CHECK_MOD
        pix_check = int((dec[rr, cc] * mix).sum() % PIX_CHECK_MOD)
        return pd.DataFrame([{
            "zoom": zoom, "tx": tx, "ty": ty,
            "n_px": int((pdf[value_col].to_numpy() != 0).sum()),
            "vmax": vmax, "pix_check": pix_check,
            "bytes": blob,
        }])

    return tiles.groupBy("zoom", "tx", "ty").applyInPandas(render,
                                                           out_schema)
