"""Pre-flight query guards (driver-side, cheap).

Spark analogs of the reference's guards
(planning/guard/FullTableScanQueryGuard.scala:39-48, TemporalQueryGuard.scala,
GraduatedQueryGuard.scala): block obviously-unbounded scans before launching
a cluster job.
"""

from __future__ import annotations

from datetime import timedelta


class QueryGuardError(Exception):
    pass


WORLD = (-180.0, -90.0, 180.0, 90.0)


def check_guards(bbox=None, interval=None, *, allow_full_scan: bool = False,
                 max_interval: timedelta | None = None) -> None:
    """Raise QueryGuardError for unbounded queries unless explicitly allowed.

    * no bbox (or whole-world) and no interval -> full-table scan guard
    * interval wider than ``max_interval`` -> temporal guard
    """
    spatial_bounded = bbox is not None and tuple(bbox) != WORLD
    temporal_bounded = interval is not None
    if not spatial_bounded and not temporal_bounded and not allow_full_scan:
        raise QueryGuardError(
            "full-table scan blocked: no spatial or temporal bounds "
            "(pass allow_full_scan=True to override)")
    if temporal_bounded and max_interval is not None:
        lo, hi = interval
        if hi - lo > max_interval:
            raise QueryGuardError(
                f"temporal guard: interval {hi - lo} exceeds {max_interval}")


class SizeAndLimits:
    """One tier of the graduated guard (GraduatedQueryGuard.scala:96-115
    SizeAndLimits): queries whose total bbox area (square degrees) is at
    or below ``size_limit`` may span at most ``duration_limit`` of total
    filter time, and are optionally down-sampled."""

    UNBOUNDED = 2 ** 31 - 1  # Int.MaxValue — the required last tier

    def __init__(self, size_limit=None, duration_limit=None,
                 sampling_percent=None, sampling_attribute=None):
        if sampling_percent is not None and not 0 < sampling_percent <= 1:
            raise ValueError(
                "Graduated query guard percentages must be in range (0,1]")
        self.size_limit = self.UNBOUNDED if size_limit is None else int(size_limit)
        self.duration_limit = duration_limit
        self.sampling_percent = sampling_percent
        self.sampling_attribute = sampling_attribute


def build_limits(tiers: list[SizeAndLimits],
                 columns: list[str] | None = None) -> list[SizeAndLimits]:
    """Validate + sort guard tiers (GraduatedQueryGuard.scala:123-177
    evaluateLimits): sizes strictly increasing, durations strictly
    DECREASING once present (bigger areas get shorter windows),
    percentages non-increasing once present, sample attributes must be
    real columns, and the last tier must be unbounded."""
    cand = sorted(tiers, key=lambda t: t.size_limit)
    if not cand:
        raise ValueError("Graduated query guard configuration is empty.")
    has_duration = has_percentage = False
    for first, second in zip(cand, cand[1:]):
        if first.size_limit == second.size_limit:
            raise ValueError(f"Graduated query guard configuration has "
                             f"repeated size: {first.size_limit}")
        if first.duration_limit is not None or has_duration:
            has_duration = True
            if second.duration_limit is None:
                raise ValueError(f"Graduated query guard configuration has "
                                 f"missing duration in size = {second.size_limit}")
            if first.duration_limit <= second.duration_limit:
                raise ValueError(
                    f"Graduated query guard configuration has durations out "
                    f"of order: {first.duration_limit} is less than "
                    f"{second.duration_limit}")
        if first.sampling_percent is not None or has_percentage:
            has_percentage = True
            if second.sampling_percent is None:
                raise ValueError(f"Graduated query guard configuration has "
                                 f"missing percentage in size = {second.size_limit}")
            if first.sampling_percent < second.sampling_percent:
                raise ValueError("Graduated query guard configuration has "
                                 "percentages out of order or missing")
        for t in (first, second):
            if t.sampling_attribute is not None and columns is not None \
                    and t.sampling_attribute not in columns:
                raise ValueError(
                    f"Graduated query guard configuration has invalid "
                    f"attribute name for filter: {t.sampling_attribute}")
    if cand[-1].size_limit != SizeAndLimits.UNBOUNDED:
        raise ValueError("Graduated query guard configuration must include "
                         "unbounded restriction.")
    return cand


class GraduatedQueryGuard:
    """Extent-tiered spatio-temporal limits
    (planning/guard/GraduatedQueryGuard.scala:25-93): the total bbox area
    picks a tier; the query's total filter duration (sum over intervals,
    each bounded both sides — guard/package.scala:22-29 ``validate``)
    must stay within the tier's limit, and the tier's sampling settings
    apply to the scan."""

    def __init__(self, tiers: list[SizeAndLimits],
                 columns: list[str] | None = None):
        self.limits = build_limits(tiers, columns)

    def _tier(self, bboxes) -> SizeAndLimits:
        extent = sum((x1 - x0) * (y1 - y0) for x0, y0, x1, y1 in bboxes)
        for t in self.limits:
            if t.size_limit >= extent:
                return t
        return self.limits[-1]

    def check(self, bboxes, intervals) -> None:
        """Raise QueryGuardError when the query exceeds its tier's
        duration budget.  ``bboxes``: [(xmin, ymin, xmax, ymax), ...]
        (whole world when unfiltered); ``intervals``: [(lo, hi), ...]
        datetimes, None/empty or a None endpoint meaning unbounded."""
        limit = self._tier(bboxes)
        if limit.duration_limit is None:
            return
        if not intervals:
            raise QueryGuardError(
                "Query does not have a temporal filter. Maximum allowed "
                f"filter duration for whole world queries is "
                f"{self.limits[-1].duration_limit}")
        total = timedelta(0)
        for lo, hi in intervals:
            if lo is None or hi is None:  # bounded-both-sides required
                raise QueryGuardError(
                    f"Query exceeds maximum allowed filter duration of "
                    f"{limit.duration_limit} at {limit.size_limit} degrees")
            total += hi - lo
        if total > limit.duration_limit:
            raise QueryGuardError(
                f"Query exceeds maximum allowed filter duration of "
                f"{limit.duration_limit} at {limit.size_limit} degrees")

    def sampling(self, bboxes):
        """(percent, attribute) the tier applies to the scan, or None —
        the rewrite() half of the reference guard (QueryHints.SAMPLING /
        SAMPLE_BY)."""
        t = self._tier(bboxes)
        if t.sampling_percent is None:
            return None
        return (t.sampling_percent, t.sampling_attribute)


def apply_sampling(df, percent: float, by: str | None = None,
                   id_col: str = "event_id"):
    """One-in-n scan sampling (the SamplingIterator semantics behind
    QueryHints.SAMPLING): deterministic hash-based keep of ~``percent``
    of ROWS.  ``by`` threads the sampling per attribute value
    (SAMPLE_BY): hashing (key, row-id) keeps ~1/n of EACH key's rows —
    every key group keeps its share, rather than whole keys being
    dropped.  n truncates 1/percent divided in float32, as the
    reference's (1 / percent.toFloat).toInt does: 0.28 keeps 1 row in 3,
    0.1 keeps 1 in 10."""
    import numpy as np
    from pyspark.sql import functions as F
    n = max(1, int(np.float32(1.0) / np.float32(percent)))
    row = F.col(id_col).cast("string")
    key = F.concat_ws("|", F.col(by).cast("string"), row) \
        if by is not None else row
    return df.where(F.pmod(F.hash(key), F.lit(n)) == 0)
