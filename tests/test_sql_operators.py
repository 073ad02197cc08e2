"""The tiling, contour and PIP-join operators as SQL text over their input.

Each operator builds its plan in one ``session.frame_sql`` call (the
bresenham renderer adds its pandas UDF as one Column), so building it
costs a bounded handful of py4j round trips instead of hundreds of Column
calls. These tests pin those counts, and check that the temp views the
SQL reads its input through neither outlive the call nor uncache a cached
input.
"""

from __future__ import annotations

import pytest

from geomesa_spark.entry_queries import PIP_POLYGONS
from geomesa_spark.operators import tiling
from geomesa_spark.operators.contours import contour_segments
from geomesa_spark.operators.pip_join import pip_join_broadcast
from geomesa_spark.sources.images import synthetic_images_geo

ENV = (40.0, 20.0, 50.0, 30.0)
SQUARES = [(1, "POLYGON ((44 22, 48 22, 48 28, 44 28, 44 22))"),
           (2, "POLYGON ((41 21, 45 21, 43 26, 41 21))")]


@pytest.fixture(scope="module")
def frames(spark):
    """Image points, and boxes/segments with a weight inside ``ENV``."""
    pts = synthetic_images_geo(spark, 20000)
    rows = spark.range(500).selectExpr(
        "40e0 + (id % 25) * 0.37e0 AS x1", "20e0 + (id div 25) * 0.45e0 AS y1",
        "41e0 + (id % 17) * 0.5e0 AS x2", "29e0 - (id % 13) * 0.6e0 AS y2",
        "(id % 7) * 0.5e0 AS w")
    boxes = rows.selectExpr("x1 AS xmin", "y1 AS ymin", "x1 + 0.8e0 AS xmax",
                            "y1 + 0.6e0 AS ymax", "w")
    return pts, rows, boxes


CALLS = {
    # the benchmark's pipeline pass: the PIP join feeding a 5-zoom pyramid
    "pipeline": (60, lambda spark, f: tiling.tile_pyramid(
        pip_join_broadcast(f[0], PIP_POLYGONS), [0, 2, 4, 6, 8])),
    "tile_pyramid": (15, lambda spark, f: tiling.tile_pyramid(f[0], [0, 2, 4, 6, 8])),
    "density": (60, lambda spark, f: tiling.density(f[2], ENV, 256, 256, lon_col="xmin",
                                                     lat_col="ymin", weight="w")),
    "density_boxes": (60, lambda spark, f: tiling.density_boxes(f[2], ENV, 128, 128,
                                                                 weight="w")),
    "density_lines": (60, lambda spark, f: tiling.density_lines(f[1], ENV, 128, 128,
                                                                 weight="w")),
    "contour_segments": (60, lambda spark, f: contour_segments(f[0], ENV, 64, 64, 2.0)),
    # measured: the pandas UDF's Column, and the PIP join over the grid
    "density_lines_bresenham": (81, lambda spark, f: tiling.density_lines_bresenham(
        f[1], ENV, 128, 128, weight="w")),
    "density_polygons": (51, lambda spark, f: tiling.density_polygons(
        spark, SQUARES, ENV, 64, 64, weights={1: 2.5, 2: 0.5})),
}


@pytest.mark.parametrize("name", sorted(CALLS))
def test_operator_round_trips(spark, count_round_trips, frames, name):
    """Py4j round trips to build the operator's DataFrame, after three warm
    calls. Before the SQL text the pipeline pass took 857 and
    ``tile_pyramid`` 742."""
    bound, call = CALLS[name]
    for _ in range(3):
        call(spark, frames)
    n = count_round_trips(lambda: call(spark, frames))
    assert n <= bound, (name, n)


@pytest.mark.parametrize("name", sorted(CALLS))
def test_operator_keeps_catalog_and_cache(spark, frames, name):
    """Building and running an operator over a cached input leaves the
    catalog's table list as it was (``contour_segments`` used to leave its
    temp view behind) and the input cached (PySpark's
    ``spark.sql(text, src=df)`` drops its views through
    ``Catalog.dropTempView``, which uncaches the frame's plan)."""
    _bound, call = CALLS[name]
    cached = tuple(f.cache() for f in frames)
    try:
        for f in cached:
            f.count()
        before = sorted(t.name for t in spark.catalog.listTables())
        call(spark, cached).count()
        assert sorted(t.name for t in spark.catalog.listTables()) == before
        if name != "density_polygons":   # it reads no input frame
            plan = call(spark, cached)._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan, plan
    finally:
        for f in cached:
            f.unpersist()



def test_sql_literal_reads_numpy_scalars_as_python_values():
    """``density_polygons`` renders its weight map with ``refine.sql_literal``
    where it had ``F.lit``: numpy ids and weights (say, read from a pandas
    column) must keep their types, not turn into string literals."""
    import numpy as np

    from geomesa_spark.plans.refine import sql_literal

    for v in (3, 2.5, True):
        assert sql_literal(np.array([v])[0]) == sql_literal(v), v
