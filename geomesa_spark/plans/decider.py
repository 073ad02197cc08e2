"""Cost-based index strategy selection.

Engine analog of the reference's query planner
(planning/StrategyDecider.scala:73-174 CostBasedStrategyDecider,
stats/StatsBasedEstimator.scala:47-100, strategies/*FilterStrategy.scala):
given a query spec (bbox / interval / attribute predicates / ids) and the
indices available for a table, enumerate the candidate (index, primary
filter, residual filter) splits, estimate each primary's selectivity from
table stats, multiply by the reference's per-index cost multipliers, and
pick the cheapest plan.

Cost multipliers (kept verbatim from the reference):
* id lookup                      0.001   (IdFilterStrategy.scala:27)
* z3 / xz3 (bbox + bounded interval) 1.1; temporal-only or one-sided 3.0
  (SpatioTemporalFilterStrategy.scala:43)
* z2 / xz2 / s2 (spatial)        1.2     (SpatialFilterStrategy.scala:30)
* attribute equality             1.0; range 2.5; not-null 1000, each
  /10 for HIGH cardinality, *10 for LOW
  (AttributeFilterStrategy.scala:44-56)
* full scan                      +inf    (no primary)

Count estimation mirrors StatsBasedEstimator: AND -> min of the children,
OR -> sum, equality -> count/distinct, range -> bounded-overlap fraction,
no stats -> the reference's default guess of 100.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_COUNT_GUESS = 100  # StrategyDecider.scala:157 getCount fallback

HIGH, UNKNOWN, LOW = "high", "unknown", "low"  # attribute cardinality hints


# ---------------------------------------------------------------------------
# query spec + strategy result
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class AttrPredicate:
    name: str
    kind: str            # 'eq' | 'in' | 'range' | 'not_null'
    values: tuple = ()   # eq/in values, or (lo, hi) for range


@dataclass(frozen=True)
class QuerySpec:
    """Normalized query: conjunctive bbox/interval/attribute/id parts."""
    bbox: tuple | None = None               # (xmin, ymin, xmax, ymax)
    interval: tuple | None = None           # (lo, hi); None end = one-sided
    attrs: tuple = ()                       # tuple[AttrPredicate]
    ids: tuple = ()                         # feature ids


@dataclass(frozen=True)
class Strategy:
    index: str            # 'id' | 'z3' | 'xz3' | 'z2' | 's2' | 'attr:<name>' | 'full'
    primary: str          # human-readable primary (index-scan) predicate
    secondary: str        # residual predicate applied after the scan
    temporal: bool
    multiplier: float
    est_count: float = math.inf
    cost: float = math.inf


@dataclass
class TableStats:
    """The slice of GeoMesaStats the estimator needs: total count,
    per-attribute (distinct, min, max), and the geo/time bounds."""
    count: int
    attr_stats: dict = field(default_factory=dict)  # name -> (distinct, min, max)
    time_bounds: tuple | None = None                # (min_ts, max_ts) epoch s
    lon_col: str = "lon"
    lat_col: str = "lat"
    ts_col: str = "ts"

    @classmethod
    def collect(cls, df: DataFrame, attrs: list[str],
                ts_col: str = "ts") -> "TableStats":
        """One aggregation pass over the table (the analog of the
        reference's stored stats tables, computed on demand)."""
        aggs = [F.count(F.lit(1)).alias("__n")]
        for a in attrs:
            aggs += [F.approx_count_distinct(a).alias(f"__d_{a}"),
                     F.min(a).alias(f"__lo_{a}"), F.max(a).alias(f"__hi_{a}")]
        has_ts = ts_col in df.columns
        if has_ts:
            aggs += [F.min(F.unix_timestamp(ts_col)).alias("__tlo"),
                     F.max(F.unix_timestamp(ts_col)).alias("__thi")]
        row = df.agg(*aggs).collect()[0]
        stats = {a: (row[f"__d_{a}"], row[f"__lo_{a}"], row[f"__hi_{a}"])
                 for a in attrs}
        tb = (row["__tlo"], row["__thi"]) if has_ts else None
        return cls(count=row["__n"], attr_stats=stats, time_bounds=tb,
                   ts_col=ts_col)


# ---------------------------------------------------------------------------
# estimator (StatsBasedEstimator)
# ---------------------------------------------------------------------------

def _est_bbox(stats: TableStats | None, bbox: tuple) -> float:
    if stats is None:
        return DEFAULT_COUNT_GUESS
    xmin, ymin, xmax, ymax = bbox
    frac = max(0.0, min(xmax - xmin, 360.0)) * max(0.0, min(ymax - ymin, 180.0)) \
        / (360.0 * 180.0)
    return stats.count * min(frac, 1.0)


def _est_interval(stats: TableStats | None, interval: tuple) -> float:
    if stats is None or stats.time_bounds is None:
        return DEFAULT_COUNT_GUESS
    lo, hi = interval
    tlo, thi = stats.time_bounds
    if thi <= tlo:
        return stats.count
    lo = tlo if lo is None else lo
    hi = thi if hi is None else hi
    frac = max(0.0, min(hi, thi) - max(lo, tlo)) / (thi - tlo)
    return stats.count * min(frac, 1.0)


def _est_attr(stats: TableStats | None, pred: AttrPredicate) -> float:
    if stats is None or pred.name not in stats.attr_stats:
        return DEFAULT_COUNT_GUESS
    distinct, lo, hi = stats.attr_stats[pred.name]
    n = stats.count
    if pred.kind == "eq":
        return n / max(distinct, 1)
    if pred.kind == "in":
        return len(pred.values) * n / max(distinct, 1)
    if pred.kind == "not_null":
        return n
    if pred.kind == "range":
        try:
            span = float(hi) - float(lo)
            if span <= 0:
                return n
            qlo = float(lo) if pred.values[0] is None else float(pred.values[0])
            qhi = float(hi) if pred.values[1] is None else float(pred.values[1])
            frac = max(0.0, min(qhi, float(hi)) - max(qlo, float(lo))) / span
            return n * min(frac, 1.0)
        except (TypeError, ValueError):
            return n / 2  # non-numeric range: no histogram, assume half
    return n


def estimate_count(stats: TableStats | None, spec: QuerySpec) -> float:
    """AND semantics: minimum over the conjunct estimates
    (StatsBasedEstimator.estimateAndCount)."""
    if spec.ids:
        return len(spec.ids)
    parts = []
    if spec.bbox is not None:
        parts.append(_est_bbox(stats, spec.bbox))
    if spec.interval is not None:
        parts.append(_est_interval(stats, spec.interval))
    for p in spec.attrs:
        parts.append(_est_attr(stats, p))
    if not parts:
        return stats.count if stats is not None else DEFAULT_COUNT_GUESS
    return min(parts)


# ---------------------------------------------------------------------------
# strategy enumeration + selection (FilterSplitter + CostBasedStrategyDecider)
# ---------------------------------------------------------------------------

def _bounded_both_sides(interval: tuple | None) -> bool:
    return interval is not None and interval[0] is not None and interval[1] is not None


def enumerate_strategies(spec: QuerySpec, indices: list[str],
                         cardinality: dict[str, str] | None = None) -> list[Strategy]:
    """One candidate per available index, with the reference's
    primary/secondary split and cost multiplier."""
    cardinality = cardinality or {}
    out = []
    residual_all = _describe(spec)
    for index in indices:
        if index == "id":
            if spec.ids:
                out.append(Strategy("id", f"id IN {list(spec.ids)!r}",
                                    _describe(spec, skip="ids"), True, 0.001))
            else:
                out.append(Strategy("id", "", residual_all, False, math.inf))
        elif index in ("z3", "xz3"):
            if spec.interval is None:
                # no interval -> full scan on a temporal index
                out.append(Strategy(index, "", residual_all, False, math.inf))
            else:
                mult = 1.1 if (spec.bbox is not None
                               and _bounded_both_sides(spec.interval)) else 3.0
                out.append(Strategy(
                    index, _describe(spec, only=("bbox", "interval")),
                    _describe(spec, skip="st"), True, mult))
        elif index in ("z2", "xz2", "s2"):
            if spec.bbox is None:
                out.append(Strategy(index, "", residual_all, False, math.inf))
            else:
                out.append(Strategy(index, _describe(spec, only=("bbox",)),
                                    _describe(spec, skip="bbox"), False, 1.2))
        elif index.startswith("attr:"):
            name = index.split(":", 1)[1]
            pred = next((p for p in spec.attrs if p.name == name), None)
            if pred is None:
                out.append(Strategy(index, "", residual_all, False, math.inf))
            else:
                if pred.kind in ("eq", "in"):
                    base = 1.0
                elif pred.kind == "not_null":
                    base = 1000.0
                else:
                    base = 2.5
                card = cardinality.get(name, UNKNOWN)
                mult = base / 10 if card == HIGH else (base * 10 if card == LOW
                                                       else base)
                out.append(Strategy(index, f"{name} {pred.kind} {pred.values!r}",
                                    _describe(spec, skip=f"attr:{name}"),
                                    False, mult))
        else:  # 'full' or unknown: always possible, never preferred
            out.append(Strategy("full", "", residual_all, False, math.inf))
    return out


def _describe(spec: QuerySpec, only: tuple = (), skip: str = "") -> str:
    parts = []
    if spec.bbox is not None and "bbox" not in skip and \
            (not only or "bbox" in only):
        if skip != "st":
            parts.append(f"bbox{spec.bbox}")
    if spec.interval is not None and skip != "st" and \
            (not only or "interval" in only):
        parts.append(f"interval{spec.interval}")
    if not only:
        for p in spec.attrs:
            if skip != f"attr:{p.name}":
                parts.append(f"{p.name} {p.kind}")
        if spec.ids and skip != "ids":
            parts.append("ids")
    return " AND ".join(parts)


def select_strategy(spec: QuerySpec, indices: list[str],
                    stats: TableStats | None = None,
                    cardinality: dict[str, str] | None = None,
                    temporal_priority: bool = False) -> Strategy:
    """Pick the cheapest strategy: est_count(primary) * multiplier
    (StrategyDecider.scala:151-174), with the temporal-priority override."""
    options = enumerate_strategies(spec, indices, cardinality)
    costed = []
    for s in options:
        if math.isinf(s.multiplier):
            count = stats.count if stats is not None else DEFAULT_COUNT_GUESS
            costed.append(Strategy(s.index, s.primary, s.secondary, s.temporal,
                                   s.multiplier, count, math.inf))
            continue
        # estimate only the primary's selectivity (the scanned rows)
        if s.index == "id":
            sub = QuerySpec(ids=spec.ids)
        elif s.index in ("z3", "xz3"):
            sub = QuerySpec(bbox=spec.bbox, interval=spec.interval)
        elif s.index in ("z2", "xz2", "s2"):
            sub = QuerySpec(bbox=spec.bbox)
        elif s.index.startswith("attr:"):
            name = s.index.split(":", 1)[1]
            sub = QuerySpec(attrs=tuple(p for p in spec.attrs if p.name == name))
        else:
            sub = spec
        count = estimate_count(stats, sub)
        costed.append(Strategy(s.index, s.primary, s.secondary, s.temporal,
                               s.multiplier, count, count * s.multiplier))
    costed.sort(key=lambda s: s.cost)
    if temporal_priority:
        for s in costed:
            if s.temporal and not math.isinf(s.cost):
                return s
    if math.isinf(costed[0].cost):
        # no index applies to this filter: the answer is the always-
        # available full-table scan, never an unusable index that happened
        # to sort first (reference: the fallback FilterPlan is a full scan,
        # QueryStrategyDeciderTest "get full table strategy")
        count = stats.count if stats is not None else DEFAULT_COUNT_GUESS
        return Strategy("full", "", _describe(spec), False, math.inf,
                        count, math.inf)
    return costed[0]


# ---------------------------------------------------------------------------
# strategy execution (the QueryRunner half: chosen index -> pruned scan)
# ---------------------------------------------------------------------------

def scan_with_strategy(df: DataFrame, query, strategy: Strategy) -> DataFrame:
    """Execute a SpatialQuery over an indexed layout using the CHOSEN
    strategy's primary predicate as the scan prefilter, then the query's
    full exact predicate (the residual) — the QueryRunner/IndexAdapter
    half of the planner (planning/QueryRunner.scala).

    The prefilter targets STORED index columns (z2/s2/time_bin written by
    sources/layout.write_indexed) so it prunes partitions/files; the
    time_bin prefilter counts bins in the period the layout recorded in
    the time column's metadata, and is skipped when none is recorded.  The
    exact predicate guarantees the result is identical to running the
    query without the index (cover property), asserted in tests.
    Unknown/`full` strategies run the plain query.
    """
    from geomesa_spark.plans import cover as _cover
    from geomesa_spark.sources.layout import TIME_BIN_PERIOD

    pre = None
    if strategy.index in ("z2", "z3") and query.bbox is not None \
            and "z2" in df.columns:
        pre = _cover.z2_range_predicate("z2", [tuple(query.bbox)])
        if strategy.index == "z3" and query.interval is not None \
                and "time_bin" in df.columns:
            period = df.schema[query.ts_col].metadata.get(TIME_BIN_PERIOD) \
                if query.ts_col in df.columns else None
            if period is not None:
                pre = pre & _interval_bins(query.interval, period)
    elif strategy.index == "s2" and query.bbox is not None \
            and "s2" in df.columns:
        pre = _cover.s2_range_predicate("s2", [tuple(query.bbox)])
    elif strategy.index.startswith("attr:"):
        # the attribute predicate is already part of query.where; the
        # attr-index benefit is its sorted secondary table (attr_index.py)
        pre = None
    scanned = df if pre is None else df.where(pre)
    return query.apply(scanned)


def _interval_bins(interval, period: str) -> Column:
    """``time_bin`` within the bins of the interval's given ends, each bin
    computed by the layout's own ``time_bin_col`` on the literal end
    (numbers are epoch seconds; strings are cast as the query's predicate
    casts them)."""
    from geomesa_spark.functions.cell_functions import time_bin_col

    def bin_of(v):
        ts = F.timestamp_seconds(F.lit(v)) if isinstance(v, (int, float)) else F.lit(v)
        return time_bin_col(ts, period)

    lo, hi = interval
    pred = F.lit(True)
    if lo is not None:
        pred = pred & (F.col("time_bin") >= bin_of(lo))
    if hi is not None:
        pred = pred & (F.col("time_bin") <= bin_of(hi))
    return pred
