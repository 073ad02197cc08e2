"""Non-point footprint indexing and querying via XZ2/XZ3.

The engine analog of the reference's XZ index key spaces (index/z3/
XZ3IndexKeySpace.scala:32-50, index/z2/XZ2IndexKeySpace.scala): a row with a
bbox footprint (and optionally a timestamp) gets an XZ sequence code per
time bin; a (bbox, interval) query compiles to per-bin XZ range predicates
(coarse prefilter, prunable by file stats) plus the exact bbox-overlap /
interval recheck (the residual filter).  The prefilter can only produce
false POSITIVES (XZ cover property, golden-tested in test_cells.TestXZ3),
so prefilter + exact refine returns exactly the brute-force result.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from geomesa_spark.cells.xz import XZ2SFC, XZ3SFC, XZSFC
from geomesa_spark.cells.z3 import DAY_MS, WEEK_MS
from geomesa_spark.plans.cover import _ranges_expr

DEFAULT_G = 12


def _xz_code(sfc: XZSFC, *extent: Column) -> Column:
    """The sequence code of an extent (its mins, then its maxes) as one
    Arrow-batched numpy kernel, ``XZSFC.index_np``."""
    def idx(*series):
        return pd.Series(sfc.index_np(*(v.to_numpy(np.float64) for v in series)))

    return F.pandas_udf(idx, LongType())(*extent)


def _overlaps(bbox: tuple, xmin_col: str, ymin_col: str, xmax_col: str,
              ymax_col: str) -> Column:
    """The exact bbox-overlap recheck behind both XZ prefilters."""
    qxmin, qymin, qxmax, qymax = bbox
    return ((F.col(xmax_col) >= qxmin) & (F.col(xmin_col) <= qxmax)
            & (F.col(ymax_col) >= qymin) & (F.col(ymin_col) <= qymax))


def with_xz3(df: DataFrame, xmin_col: str, ymin_col: str, xmax_col: str,
             ymax_col: str, ts_col: str, g: int = DEFAULT_G,
             period: str = "week") -> DataFrame:
    """Adds ``xz3_bin`` (time bin) and ``xz3`` (sequence code) columns.

    The bin is a native expression; the sequence code is one Arrow-batched
    numpy kernel (XZ3SFC.index_np) — at write time this pair is the sort /
    partition key for footprint tables, mirroring
    `[shard][2B time-bin][8B xz(bbox)]` row keys.
    """
    period_ms, off_div = _fixed_period(period)
    # floor/pmod (not cast-truncate / %) so pre-epoch timestamps (negative
    # millis) still land in the right bin with a non-negative offset; the
    # reference's BinnedTime rejects pre-epoch dates outright
    # (z3/BinnedTime.scala), we support them instead.
    millis = (F.unix_timestamp(ts_col) * 1000)
    offset = (F.pmod(millis, F.lit(period_ms)) / off_div).cast("double")
    x0, y0, x1, y1 = (F.col(c) for c in (xmin_col, ymin_col, xmax_col, ymax_col))
    return (df
            .withColumn("xz3_bin", F.floor(millis / period_ms))
            .withColumn("xz3", _xz_code(XZ3SFC(g, period=period),
                                        x0, y0, offset, x1, y1, offset)))


def _fixed_period(period: str) -> tuple[int, int]:
    """(bin width ms, offset divisor) for the fixed-width periods.

    The reference's per-period offset precision (z3/BinnedTime.scala:
    day offsets in MILLIS, week offsets in SECONDS) must match the z-axis
    bounds XZ3SFC derives from BinnedTime.max_offset — a week-second
    offset against a day-milli axis would silently break losslessness,
    so calendar periods (month/year: variable bin width) are rejected
    rather than approximated."""
    if period == "week":
        return WEEK_MS, 1000
    if period == "day":
        return DAY_MS, 1
    raise ValueError(
        f"with_xz3 supports fixed-width periods 'day' and 'week', "
        f"not {period!r} (month/year bins are calendar-variable)")


def with_xz2(df: DataFrame, xmin_col: str, ymin_col: str, xmax_col: str,
             ymax_col: str, g: int = DEFAULT_G) -> DataFrame:
    """Adds the ``xz2`` sequence-code column for non-point footprints
    WITHOUT a time dimension (index/z2/XZ2IndexKeySpace.scala) — one
    Arrow-batched numpy kernel, the write-time sort key for purely
    spatial footprint tables."""
    return df.withColumn("xz2", _xz_code(XZ2SFC(g), *(F.col(c) for c in (
        xmin_col, ymin_col, xmax_col, ymax_col))))


def xz2_query_predicate(bbox: tuple, g: int = DEFAULT_G,
                        max_ranges: int = 24) -> Column:
    """Coarse XZ2 range predicate for a bbox query
    (XZ2IndexKeySpace.getRanges analog)."""
    return _ranges_expr("xz2", XZ2SFC(g).ranges([bbox], max_ranges=max_ranges))


def xz2_bbox(df: DataFrame, bbox: tuple, xmin_col: str = "xmin",
             ymin_col: str = "ymin", xmax_col: str = "xmax",
             ymax_col: str = "ymax", g: int = DEFAULT_G) -> DataFrame:
    """Footprints intersecting ``bbox``: XZ2 prefilter + exact overlap
    recheck (cover property golden-tested in test_cells.TestXZ2)."""
    indexed = with_xz2(df, xmin_col, ymin_col, xmax_col, ymax_col, g=g)
    exact = _overlaps(bbox, xmin_col, ymin_col, xmax_col, ymax_col)
    return indexed.where(xz2_query_predicate(bbox, g=g)).where(exact).drop("xz2")


def xz3_query_predicate(bbox: tuple, interval_ms: tuple[int, int],
                        g: int = DEFAULT_G, period: str = "week",
                        max_ranges: int = 24) -> Column:
    """Coarse per-bin XZ3 range predicate for a (bbox, interval) query.

    OR over time bins of ``xz3_bin = b AND xz3 BETWEEN lo AND hi`` — the
    query-planning side of XZ3IndexKeySpace.getRanges.
    """
    sfc = XZ3SFC(g, period=period)
    period_ms, off_div = _fixed_period(period)
    xmin, ymin, xmax, ymax = bbox
    lo_ms, hi_ms = interval_ms
    preds = []
    b0, b1 = lo_ms // period_ms, hi_ms // period_ms
    for b in range(int(b0), int(b1) + 1):
        zlo = max(lo_ms - b * period_ms, 0) / off_div
        zhi = min(hi_ms - b * period_ms, period_ms) / off_div
        ranges = sfc.ranges([(xmin, ymin, zlo, xmax, ymax, zhi)],
                            max_ranges=max_ranges)
        preds.append((F.col("xz3_bin") == b) & _ranges_expr("xz3", ranges))
    return reduce(lambda a, c: a | c, preds)


def xz3_bbox_during(df: DataFrame, bbox: tuple, interval: tuple[str, str],
                    xmin_col: str = "xmin", ymin_col: str = "ymin",
                    xmax_col: str = "xmax", ymax_col: str = "ymax",
                    ts_col: str = "ts", g: int = DEFAULT_G,
                    period: str = "week") -> DataFrame:
    """Footprints intersecting ``bbox`` during ``interval``.

    XZ3 prefilter (range predicate on the index columns -> file skipping on
    a sorted layout) + exact bbox-overlap and interval recheck.
    """
    import datetime as dt

    indexed = with_xz3(df, xmin_col, ymin_col, xmax_col, ymax_col, ts_col,
                       g=g, period=period)
    to_ms = (lambda s: int(dt.datetime.fromisoformat(s)
                           .replace(tzinfo=dt.timezone.utc).timestamp() * 1000))
    pre = xz3_query_predicate(bbox, (to_ms(interval[0]), to_ms(interval[1])),
                              g=g, period=period)
    exact = (_overlaps(bbox, xmin_col, ymin_col, xmax_col, ymax_col)
             & F.col(ts_col).between(F.lit(interval[0]), F.lit(interval[1])))
    return indexed.where(pre).where(exact).drop("xz3_bin", "xz3")
