"""Space-filling-curve cell library.

Exact reimplementations (bit-for-bit) of the reference's curve math so that
index keys, range covers, and golden tests match row-for-row:

* ``zn``   — the Z-order curve for any dimension: one Morton spread table
             (``split``/``combine``, ``interleave``/``deinterleave``) and
             one ``ZSFC``; ``Z2SFC`` (lon/lat, 31 bits/dim) and ``Z3SFC``
             (lon/lat/time offset, 21 bits/dim) are constructors over it.
             Tropf/Herzog zdivide and the BFS ``zranges`` cover (reference:
             zorder/sfcurve/ZN.scala, Z2.scala, Z3.scala, curve/Z2SFC.scala,
             curve/Z3SFC.scala).
* ``z3``   — binned time, the time dimension of Z3 and XZ3 (reference:
             curve/BinnedTime.scala).
* ``xz``   — XZ-ordering for extents in any dimension: ``XZ2SFC`` for
             bboxes, ``XZ3SFC`` for bbox + time-offset extents (reference:
             curve/XZ2SFC.scala, curve/XZ3SFC.scala, Boehm/Klump/Kriegel
             XZ-Ordering paper).
* ``grid`` — hierarchical quad cells (H3/S2-style role): the shuffle keys for
             spatial joins, kNN ring expansion, and tile pyramids.

Encoders serve scalar Python (planner/driver side, arbitrary precision) and
numpy arrays (executor side, wrapped in pandas UDFs); the Z encoders are one
set of functions for both.  The hot paths use *native Catalyst* bit
expressions from ``geomesa_spark.functions.cell_functions``, built from the
same spread table, and never leave the JVM.
"""

from geomesa_spark.cells.zn import (IndexRange, Z2, Z2SFC, Z3, Z3SFC,  # noqa: F401
                                    ZSFC, zdivide, zranges)
from geomesa_spark.cells.z3 import BinnedTime  # noqa: F401
from geomesa_spark.cells.xz import XZ2SFC, XZ3SFC  # noqa: F401
from geomesa_spark.cells.grid import GridCells  # noqa: F401
