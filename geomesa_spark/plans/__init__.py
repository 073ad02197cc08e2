"""Query planning: filters -> cell-range predicates -> Catalyst expressions."""

from geomesa_spark.plans.cover import z2_range_predicate  # noqa: F401
from geomesa_spark.plans.query import SpatialQuery  # noqa: F401
from geomesa_spark.plans.guards import (GraduatedQueryGuard,  # noqa: F401
                                        QueryGuardError, SizeAndLimits,
                                        apply_sampling, check_guards)
