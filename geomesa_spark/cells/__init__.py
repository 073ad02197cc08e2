"""Space-filling-curve cell library.

Exact reimplementations (bit-for-bit) of the reference's curve math so that
index keys, range covers, and golden tests match row-for-row:

* ``zn``   — generic Morton split/combine, Tropf/Herzog zdivide, and the
             BFS ``zranges`` cover (reference: zorder/sfcurve/ZN.scala).
* ``z2``   — 2-D curve, 31 bits/dim (reference: zorder/sfcurve/Z2.scala,
             curve/Z2SFC.scala).
* ``z3``   — 3-D space-time curve, 21 bits/dim, with binned time
             (reference: zorder/sfcurve/Z3.scala, curve/Z3SFC.scala,
             curve/BinnedTime.scala).
* ``xz``   — XZ-ordering for extents in any dimension: ``XZ2SFC`` for
             bboxes, ``XZ3SFC`` for bbox + time-offset extents (reference:
             curve/XZ2SFC.scala, curve/XZ3SFC.scala, Boehm/Klump/Kriegel
             XZ-Ordering paper).
* ``grid`` — hierarchical quad cells (H3/S2-style role): the shuffle keys for
             spatial joins, kNN ring expansion, and tile pyramids.

All encoders come in two forms: scalar Python (planner/driver side, arbitrary
precision) and numpy-vectorized over arrays (executor side, wrapped in pandas
UDFs — but note the hot paths use *native Catalyst* bit expressions from
``geomesa_spark.functions.cell_functions`` and never leave the JVM).
"""

from geomesa_spark.cells.zn import zdivide, zranges, IndexRange  # noqa: F401
from geomesa_spark.cells.z2 import Z2, Z2SFC  # noqa: F401
from geomesa_spark.cells.z3 import Z3, Z3SFC, BinnedTime  # noqa: F401
from geomesa_spark.cells.xz import XZ2SFC, XZ3SFC  # noqa: F401
from geomesa_spark.cells.grid import GridCells  # noqa: F401
