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
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _weight(weight: Column | str | None) -> Column:
    """A row's weight: 1.0 by default, else the named column or the Column."""
    if weight is None:
        return F.lit(1.0)
    return F.col(weight) if isinstance(weight, str) else weight


def density(df: DataFrame, envelope: tuple, width: int, height: int, *,
            lon_col: str = "lon", lat_col: str = "lat",
            weight: Column | str | None = None) -> DataFrame:
    """Sparse (px, py) -> weight grid over an envelope.

    Rows outside the envelope are dropped (DensityScan renders only features
    hitting the grid); the envelope's max edge maps to the last pixel
    (GridSnap floor + clamp semantics).
    """
    xmin, ymin, xmax, ymax = envelope
    lon, lat = F.col(lon_col), F.col(lat_col)
    px = F.least(F.floor((lon - F.lit(xmin)) / F.lit(xmax - xmin) * F.lit(width)),
                 F.lit(width - 1)).cast("int")
    py = F.least(F.floor((lat - F.lit(ymin)) / F.lit(ymax - ymin) * F.lit(height)),
                 F.lit(height - 1)).cast("int")
    return (df
            .where(lon.between(xmin, xmax) & lat.between(ymin, ymax))
            .withColumn("px", px).withColumn("py", py)
            .groupBy("px", "py")
            .agg(F.sum(_weight(weight)).alias("weight")))


def tile_pyramid(df: DataFrame, zooms: list[int], *, tile_px: int = 256,
                 lon_col: str = "lon", lat_col: str = "lat",
                 weight: Column | str | None = None) -> DataFrame:
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
    lon, lat = F.col(lon_col), F.col(lat_col)
    zs = sorted(set(zooms), reverse=True)
    finest = zs[0]
    n_px_f = (1 << finest) * tile_px
    gx = F.least(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n_px_f)),
                 F.lit(n_px_f - 1)).cast("long")
    gy = F.least(F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(n_px_f)),
                 F.lit(n_px_f - 1)).cast("long")

    # one shuffle of the raw rows: 8-byte packed key + (weight, cnt)
    lvl = (df
           .where(lon.between(-180.0, 180.0) & lat.between(-90.0, 90.0))
           .select((gx * F.lit(n_px_f) + gy).alias("__k"), _weight(weight).alias("__w"))
           .groupBy("__k")
           .agg(F.sum("__w").alias("weight"), F.count("*").alias("cnt")))

    # each finest pixel to its (zoom, key) at every zoom, coarsened by
    # 2^shift per axis; `div` = exact integer division (double `/` rounds
    # past 2^53)
    keys = [F.struct(F.lit(z).alias("zoom"), F.expr(
        f"(__k div {n_px_f}) div {1 << (finest - z)} * {(1 << z) * tile_px}"
        f" + (__k % {n_px_f}) div {1 << (finest - z)}").alias("__k"))
        for z in zs]
    # decode a (zoom, packed-key) pair; npx is a per-row expression of zoom
    npx = f"(shiftleft(cast(1 as bigint), zoom) * {tile_px})"
    return (lvl
            .select(F.explode(F.array(*keys)).alias("zk"), "weight", "cnt")
            .select("zk.zoom", "zk.__k", "weight", "cnt")
            .groupBy("zoom", "__k")
            .agg(F.sum("weight").alias("weight"), F.sum("cnt").alias("cnt"))
            .select(
                "zoom",
                F.expr(f"cast((__k div {npx}) div {tile_px} as int)").alias("tx"),
                F.expr(f"cast((__k % {npx}) div {tile_px} as int)").alias("ty"),
                F.expr(f"cast((__k div {npx}) % {tile_px} as int)").alias("px"),
                F.expr(f"cast((__k % {npx}) % {tile_px} as int)").alias("py"),
                "weight", "cnt"))


def density_boxes(df: DataFrame, envelope: tuple, width: int, height: int, *,
                  xmin_col: str = "xmin", ymin_col: str = "ymin",
                  xmax_col: str = "xmax", ymax_col: str = "ymax",
                  weight: Column | str | None = None) -> DataFrame:
    """Density grid for EXTENT rows: every pixel a bbox footprint touches
    gets the row's weight (DensityScan's polygon renderer restricted to
    rectangles — RenderingGrid.render(Polygon) pixel fill, RenderingGrid
    .scala:285; general polygon fill composes this with the PIP refine).

    Pure Catalyst: per row, pixel ranges via floor snap, then
    explode(sequence(..)) x explode(sequence(..)) — no UDF; rows outside
    the envelope clip to it, fully-disjoint rows drop.
    """
    exmin, eymin, exmax, eymax = envelope

    def snap(col, lo, hi, n_px):
        frac = (col - F.lit(lo)) / F.lit(hi - lo) * F.lit(n_px)
        return F.least(F.greatest(F.floor(frac), F.lit(0)), F.lit(n_px - 1)).cast("int")

    overlap = ((F.col(xmax_col) >= exmin) & (F.col(xmin_col) <= exmax)
               & (F.col(ymax_col) >= eymin) & (F.col(ymin_col) <= eymax))
    return (df.where(overlap)
            .withColumn("__px0", snap(F.col(xmin_col), exmin, exmax, width))
            .withColumn("__px1", snap(F.col(xmax_col), exmin, exmax, width))
            .withColumn("__py0", snap(F.col(ymin_col), eymin, eymax, height))
            .withColumn("__py1", snap(F.col(ymax_col), eymin, eymax, height))
            .withColumn("__w", _weight(weight))
            .select(F.explode(F.expr("sequence(__px0, __px1)")).alias("px"),
                    F.col("__py0"), F.col("__py1"), F.col("__w"))
            .select("px", F.explode(F.expr("sequence(__py0, __py1)")).alias("py"),
                    F.col("__w"))
            .groupBy("px", "py")
            .agg(F.sum("__w").alias("weight")))


def density_lines(df: DataFrame, envelope: tuple, width: int, height: int, *,
                  x1_col: str = "x1", y1_col: str = "y1",
                  x2_col: str = "x2", y2_col: str = "y2",
                  weight: Column | str | None = None) -> DataFrame:
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
    exmin, eymin, exmax, eymax = envelope

    def fpix(col, lo, hi, n_px):
        # continuous pixel coordinate, clamped inside the grid
        frac = (col - F.lit(lo)) / F.lit(hi - lo) * F.lit(n_px)
        return F.least(F.greatest(frac, F.lit(0.0)), F.lit(n_px - 1e-9))

    inside = (F.col(x1_col).between(exmin, exmax) & F.col(x2_col).between(exmin, exmax)
              & F.col(y1_col).between(eymin, eymax) & F.col(y2_col).between(eymin, eymax))
    out = (df.where(inside)
           .withColumn("__ax", fpix(F.col(x1_col), exmin, exmax, width))
           .withColumn("__ay", fpix(F.col(y1_col), eymin, eymax, height))
           .withColumn("__bx", fpix(F.col(x2_col), exmin, exmax, width))
           .withColumn("__by", fpix(F.col(y2_col), eymin, eymax, height))
           .withColumn("__n", F.greatest(
               F.abs(F.floor("__bx") - F.floor("__ax")),
               F.abs(F.floor("__by") - F.floor("__ay")),
               F.lit(0)).cast("int"))
           .withColumn("__w", _weight(weight))
           .withColumn("__pix", F.expr(f"""
               array_distinct(transform(sequence(0, __n), i ->
                 cast(floor(__ax + (__bx - __ax) * i / greatest(__n, 1)) AS bigint) * {height}
                 + cast(floor(__ay + (__by - __ay) * i / greatest(__n, 1)) AS bigint)))"""))
           .select(F.explode("__pix").alias("pix"), "__w")
           .groupBy("pix")
           .agg(F.sum("__w").alias("weight"))
           .select((F.col("pix") / height).cast("int").alias("px"),
                   F.pmod(F.col("pix"), F.lit(height)).cast("int").alias("py"),
                   "weight"))
    return out


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
                            weight: Column | str | None = None) -> DataFrame:
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

    exmin, eymin, exmax, eymax = envelope

    def cell(col, lo, hi, n_px):
        # GridSnap.i/j: floor((v - min) / d) with d = (max - min) / n, in
        # that division order; upper edge into the last cell
        frac = F.floor((col - F.lit(lo)) / F.lit((hi - lo) / n_px))
        return F.least(frac, F.lit(n_px - 1)).cast("long")

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

    inside = (F.col(x1_col).between(exmin, exmax) & F.col(x2_col).between(exmin, exmax)
              & F.col(y1_col).between(eymin, eymax) & F.col(y2_col).between(eymin, eymax))
    return (df.where(inside)
            .withColumn("__w", _weight(weight))
            .withColumn("__pix", walk(
                cell(F.col(x1_col), exmin, exmax, width),
                cell(F.col(y1_col), eymin, eymax, height),
                cell(F.col(x2_col), exmin, exmax, width),
                cell(F.col(y2_col), eymin, eymax, height)))
            .select(F.explode("__pix").alias("pix"), "__w")
            .groupBy("pix")
            .agg(F.sum("__w").alias("weight"))
            .select((F.col("pix") / height).cast("int").alias("px"),
                    F.pmod(F.col("pix"), F.lit(height)).cast("int").alias("py"),
                    "weight"))


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
    grid = (spark.range(width * height)
            .selectExpr(f"CAST(id div {height} AS int) AS px",
                        f"CAST(id % {height} AS int) AS py")
            .withColumn("lon", F.lit(exmin) + (F.col("px") + 0.5)
                        * F.lit((exmax - exmin) / width))
            .withColumn("lat", F.lit(eymin) + (F.col("py") + 0.5)
                        * F.lit((eymax - eymin) / height)))
    hit = pip_join_broadcast(grid, polygons)
    if weights:
        wmap = F.create_map(*[F.lit(x) for kv in weights.items() for x in kv])
        hit = hit.withColumn("__w", wmap[F.col("poly_id")])
    else:
        hit = hit.withColumn("__w", F.lit(1.0))
    return (hit.groupBy("px", "py")
            .agg(F.sum("__w").alias("weight")))


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
