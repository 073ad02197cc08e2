"""The benchmark's workloads, run against one engine session at local[4].

``pipeline``: the batch PIP-join + tile-pyramid job over the image table.
``query``: the image table is ingested into a z2 layout in set-up, then one
client runs a closed loop of polygon, bbox, ECQL and kNN queries against
it. Untraced runs time 4 CPUs; the traced run also re-pins the whole
session to 2 CPUs on alternate rounds, for the scaling metrics, and adds
the layer-isolating actions (join-only passes, the s2 layout write,
cell-only actions).

Every operation's answer is checked against ``oracles`` outside its timed
span; an exception or a wrong answer counts as a failed operation.
"""

from __future__ import annotations

import os
import time

import inputs
import measure
import oracles
from measure import median

PIPELINE_ROWS = 200_000
QUERY_ROWS = 100_000
SPLITS = 8                  # fixed input split count: same input at 4 and 2 CPUs
# per-pass CPU falls by about a third over the first passes of a session
# as the JIT compiles the generated code; timing starts after these
WARMUP_PASSES = 3
PERIOD = "year"             # layout time bin: 6 bins over the 2018-2023 rows
TILE_PX = 256
ZOOMS = list(oracles.ZOOMS)
INDICES = ["z2", "z3"]      # index set offered to the cost decider
# least rounds of a traced run (each one 4-CPU and one 2-CPU step): the
# query tail needs 20 samples at 4 CPUs, four queries a step
TRACED_PIPELINE_ROUNDS = 2
TRACED_QUERY_ROUNDS = 5


class Run:
    """One workload run: the session, the tracer and the operation tally."""

    def __init__(self, spark, seed: int, seconds: float, traced: bool, workdir: str,
                 layer_metrics: list):
        self.spark = spark
        self.sc = spark.sparkContext
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.workdir = workdir
        self.tracer = measure.Tracer(traced)
        self.attempted = 0
        self.failures: list[str] = []
        self.e2e: dict = {}
        # a layer the workload does not use keeps 0
        self.layer = dict.fromkeys(layer_metrics, 0.0)
        self.counters: dict = {}
        self.report: dict = {}
        # set-up steps after session start: name -> wall s, CPU s
        self.setup_wall: dict = {}
        self.setup_cpu: dict = {}
        self.jvm_pid = int(self.sc._jvm.ProcessHandle.current().pid())
        allowed = sorted(os.sched_getaffinity(0))
        if len(allowed) < 4:
            raise RuntimeError(f"needs 4 CPUs, {len(allowed)} allowed")
        self.cpu_sets = {4: set(allowed[:4]), 2: set(allowed[:2])}
        self.metrics = measure.SparkMetrics(spark) if traced else None
        self.cpu = measure.CpuClock(self.jvm_pid)

    def set_cpus(self, n: int) -> None:
        """Pin this process, the Spark JVM and its Python workers to n CPUs."""
        measure.pin([os.getpid()] + measure.process_tree(self.jvm_pid),
                    self.cpu_sets[n])

    def group(self, name: str) -> None:
        """Name the job group of the next actions (traced runs only)."""
        if self.traced:
            self.sc.setJobGroup(name, name)

    def add_setup(self, name: str, costs) -> None:
        """Count the (wall s, cpu s) costs of set-up operations into set-up
        step ``name``; a failed operation (None) adds nothing."""
        done = [c for c in costs if c is not None]
        self.setup_wall[name] = sum(c[0] for c in done)
        self.setup_cpu[name] = sum(c[1] for c in done)

    def check(self, what: str, errs: list) -> bool:
        self.attempted += 1
        if errs:
            self.failures.append(f"{what}: {'; '.join(errs)}")
        return not errs

    def attempt(self, what: str, fn):
        """fn() -> (result, errors); an exception is a failed operation."""
        try:
            result, errs = fn()
        except Exception as e:  # noqa: BLE001 - any engine error fails the op
            self.check(what, [f"{type(e).__name__}: {str(e)[:300]}"])
            return None
        return result if self.check(what, errs) else None


def image_table(spark, offset: int, n: int, splits: int):
    """``sources.images.synthetic_images_geo`` over ids [offset, offset + n):
    the engine function always starts at id 0, so its column expressions
    are applied here to an offset range."""
    from pyspark.sql import functions as F

    from geomesa_spark.sources import images
    return (spark.range(offset, offset + n, 1, splits)
            .withColumn("phash", F.expr(images.PHASH_EXPR))
            .selectExpr(
                "format_string('img%012d', id) AS image_id",
                "cast(16 + (id % 4) * 16 as int) AS w",
                "cast(16 + ((id div 4) % 4) * 16 as int) AS h",
                "CASE WHEN id % 3 = 0 THEN 'jpeg' ELSE 'png' END AS fmt",
                "concat('caption for image ', id, ' variant ', id % 7) AS caption",
                "phash",
                f"{images.LON_FROM_PHASH} AS lon",
                f"{images.LAT_FROM_PHASH} AS lat",
                f"{images.TS_EXPR} AS ts"))


def _measure(run: Run, step, traced_rounds: int) -> tuple:
    """Run step(i, cpus) -> (wall s, cpu s)|None for the run's seconds (at
    least one round; no round that the last round's duration says would
    overrun). Untraced runs time 4 CPUs only; a traced run alternates 4 and
    2 CPUs in ABBA order for the scaling metrics, and runs at least
    ``traced_rounds`` rounds whatever the seconds, so that its per-layer
    medians and tail have samples enough. Returns (cpus -> wall times,
    4-CPU cpu times)."""
    levels = (4, 2) if run.traced else (4,)
    times = {c: [] for c in levels}
    cpu = []
    start = time.perf_counter()
    min_rounds = traced_rounds if run.traced else 1
    i, round_s = 0, 0.0
    while i < min_rounds or time.perf_counter() - start + round_s <= run.seconds:
        t = time.perf_counter()
        for c in (levels if i % 2 == 0 else levels[::-1]):
            cost = step(i, c)
            if cost is not None:
                times[c].append(cost[0])
                if c == 4:
                    cpu.append(cost[1])
        i += 1
        round_s = time.perf_counter() - t
    run.set_cpus(4)
    return times, cpu


def _scaling(t4: list, t2: list) -> float:
    """Throughput at 4 CPUs / (2 x throughput at 2 CPUs), same work."""
    return median(t2) / (2.0 * median(t4))


# ---------------------------------------------------------------------------
# pipeline
# ---------------------------------------------------------------------------

def pipeline(run: Run) -> None:
    from pyspark.sql import functions as F

    from geomesa_spark.operators.pip_join import pip_join_broadcast
    from geomesa_spark.operators.tiling import tile_pyramid

    tr = run.tracer
    rings = inputs.pip_polygons(run.seed)
    polys = [(k, inputs.ring_wkt(r)) for k, r in enumerate(rings)]
    offset = inputs.id_offset(run.seed)
    df = image_table(run.spark, offset, PIPELINE_ROWS, SPLITS)

    a = inputs.image_arrays(offset, PIPELINE_ROWS)
    pts, _ = oracles.pip_pairs(a["lon"], a["lat"], rings)
    expected = oracles.pyramid(a["lon"][pts], a["lat"][pts])

    def build(op: str, join_only: bool = False):
        with tr.span("pip_join_broadcast", "operators.pip_join", op):
            out = pip_join_broadcast(df, polys)
        if not join_only:
            with tr.span("tile_pyramid", "operators.tiling", op):
                out = tile_pyramid(out, ZOOMS, tile_px=TILE_PX)
        return out

    fp = F.expr("pmod((cast(tx as bigint) * 256 + px) * 1000003"
                " + (cast(ty as bigint) * 256 + py) * 7919 + cnt * 31, 2147483647)")

    def timed(op: str, cpus: int, join_only: bool = False):
        """One pass. The full pass ends in a per-zoom summary (pixels, total
        count, pixel fingerprint) so every timed pass is checked in full;
        the join-only pass ends in count()."""
        def go():
            run.set_cpus(cpus)
            run.group(op)
            c0, t = run.cpu(), time.perf_counter()
            with tr.span("pass", "bench", op):
                out = build(op, join_only)
                with tr.span("action", "spark.action", op):
                    if join_only:
                        got = out.count()
                    else:
                        got = out.groupBy("zoom").agg(
                            F.count("*"), F.sum("cnt"), F.sum(fp)).collect()
            cost = (time.perf_counter() - t, run.cpu() - c0)
            if join_only:
                return cost, [] if got == len(pts) else [f"{got} rows, expected {len(pts)}"]
            summary = {r[0]: (r[1], r[2], r[3]) for r in got}
            run.counters["tiling.finest_pixels"] = summary.get(oracles.FINEST_ZOOM, (0,))[0]
            return cost, oracles.check_pyramid(summary, expected)
        return run.attempt(op, go)

    run.add_setup("warmup", [timed(f"warmup{i}", 4) for i in range(WARMUP_PASSES)])
    run.layer["session.warmup_s"] = run.setup_wall["warmup"]

    # a traced run follows each full pass with a join-only pass at the same
    # CPU count, inside the same measured window, to split join from tiling
    join = {4: [], 2: []}

    def step(i: int, c: int):
        cost = timed(f"pass{i}-{c}", c)
        if run.traced:
            dj = timed(f"join{i}-{c}", c, join_only=True)
            if dj is not None:
                join[c].append(dj[0])
        return cost

    times, cpu = _measure(run, step, TRACED_PIPELINE_ROUNDS)
    run.e2e["op_cpu_ms"] = median(cpu) * 1000.0
    run.layer["pipeline.op_ms"] = median(times[4]) * 1000.0
    run.layer["pipeline.rows_per_s"] = PIPELINE_ROWS / median(times[4])
    run.report["pass_s"] = times
    run.report["pass_cpu_s"] = cpu
    run.counters["pip_join.rows_out"] = len(pts)
    if run.traced:
        run.report["join_only_s"] = join
        _pipeline_layers(run, polys, times, join, len(pts))


def _pipeline_layers(run: Run, polys: list, full: dict, join: dict, joined: int) -> None:
    from geomesa_spark.geom import wkt
    from geomesa_spark.plans.cover import cover_spans, pick_span_resolution

    tr, L, m = run.tracer, run.layer, run.metrics
    geoms = [wkt.wkt_loads(w) for _k, w in polys]
    for _ in range(3):
        with tr.span("cover_spans", "plans.cover", "cover"):
            res = pick_span_resolution([g.bounds for g in geoms])
            spans = sum(len(cover_spans(g, res)[0]) for g in geoms)
    L["cover.build_ms"] = median(tr.durations("cover_spans")) * 1000.0
    L["cover.spans"] = run.counters["cover.spans"] = spans
    L["pipeline.scaling_eff"] = _scaling(full[4], full[2])
    L["pip_join.plan_ms"] = median(tr.durations("pip_join_broadcast")) * 1000.0
    L["pip_join.exec_s"] = median(join[4])
    L["pip_join.scaling_eff"] = _scaling(join[4], join[2])
    L["pip_join.rows_out"] = joined
    L["tiling.exec_s"] = median(full[4]) - median(join[4])
    L["tiling.scaling_eff"] = ((median(full[2]) - median(join[2]))
                               / (2.0 * (median(full[4]) - median(join[4]))))
    L["tiling.finest_pixels"] = run.counters.get("tiling.finest_pixels", 0)

    nodes = m.nodes("join0-4")
    refine_in = max((mm.get("number of output rows", 0.0) for name, mm in nodes
                     if name.startswith("BroadcastHashJoin")), default=0.0)
    L["pip_join.refine_rows"] = refine_in
    L["pip_join.refine_hit_ratio"] = joined / refine_in if refine_in else 0.0
    L["pip_join.python_ms"] = sum(mm.get("time to run Python workers", 0.0)
                                  for _n, mm in nodes)

    traced_full = [s["op"] for s in tr.spans
                   if s["name"] == "pass" and s["op"].startswith("pass") and s["op"].endswith("-4")]
    stages = m.stages(traced_full[-1])
    L["tiling.shuffle_bytes"] = sum(s["shuffleWriteBytes"] for s in stages)
    L["tiling.spill_bytes"] = sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                                  for s in stages)
    agg = max(stages, key=lambda s: s["shuffleWriteBytes"])
    _lo, med, hi = m.task_quantiles(agg)
    L["tiling.task_skew"] = hi / med if med else 0.0


# ---------------------------------------------------------------------------
# query (ingest in set-up)
# ---------------------------------------------------------------------------

def query(run: Run) -> None:
    from pyspark.sql import functions as F

    from geomesa_spark.operators.knn import knn_join
    from geomesa_spark.plans.ecql import EcqlContext, ecql_to_column
    from geomesa_spark.plans.query import SpatialQuery
    from geomesa_spark.sources import layout

    tr, spark = run.tracer, run.spark
    offset = inputs.id_offset(run.seed)
    a = inputs.image_arrays(offset, QUERY_ROWS)
    df = image_table(spark, offset, QUERY_ROWS, SPLITS)
    paths = {c: os.path.join(run.workdir, f"layout_{c}") for c in ("z2", "s2")}
    expected_sum = oracles.table_checksum(a)
    checksum = F.expr(
        "pmod(cast(substring(image_id, 4) as bigint) * 1000003"
        " + cast((lon + 180e0) / 360e0 * 1048576e0 as bigint) * 31"
        " + cast((lat + 90e0) / 180e0 * 1048576e0 as bigint), 2147483647)")

    def ingest(cell: str) -> tuple:
        """write_indexed into a fresh layout, then check it reads back.
        Returns the write's (wall s, cpu s)."""
        run.group(f"write-{cell}")
        with tr.span(f"write_indexed_{cell}", "sources.layout", f"write-{cell}"):
            c0, t0 = run.cpu(), time.perf_counter()
            layout.write_indexed(df, paths[cell], period=PERIOD, cell=cell)
            cost = (time.perf_counter() - t0, run.cpu() - c0)

        def read_back():
            r = layout.read_indexed(spark, paths[cell]).agg(
                F.count("*"), F.sum(checksum)).first()
            got = (r[0], r[1])
            return got, [] if got == expected_sum else [f"got {got}, expected {expected_sum}"]
        run.attempt(f"ingest-{cell}", read_back)
        return cost

    run.add_setup("write_z2", [ingest("z2")])

    ctx = EcqlContext(lon_col="lon", lat_col="lat", prefer_lonlat=True)

    def execute(q: inputs.Query, op: str):
        with tr.span("read_indexed", "sources.layout", op):
            lay = layout.read_indexed(spark, paths["z2"])
        if q.kind == "knn":
            with tr.span("knn_join", "operators.knn", op):
                out = knn_join(lay, [("q", q.point[0], q.point[1])], inputs.KNN_K,
                               n_rows=QUERY_ROWS)
            with tr.span("collect", "spark.action", op):
                return [(int(r[0][3:]), r[1])
                        for r in out.select("image_id", "knn_rank").collect()]
        if q.kind == "ecql":
            lo, hi = q.interval_iso
            text = (f"INTERSECTS(geom, {inputs.ring_wkt(q.ring)}) AND w >= {q.min_w}"
                    f" AND ts DURING {lo}/{hi}")
            with tr.span("ecql_to_column", "plans.ecql", op):
                out = lay.where(ecql_to_column(text, ctx))
        else:
            if q.kind == "polygon":
                sq = SpatialQuery(geometry=inputs.ring_wkt(q.ring), z2_col="z2")
            else:
                sq = SpatialQuery(bbox=q.bbox, interval=q.interval_sql, z2_col="z2")
            with tr.span("plan", "plans.decider", op):
                sq.plan(INDICES)
            with tr.span("apply", "plans.query", op):
                out = sq.apply(lay)
        with tr.span("collect", "spark.action", op):
            return [int(r[0][3:]) for r in out.select("image_id").collect()]

    def expect(q: inputs.Query, got):
        if q.kind == "knn":
            return oracles.check_knn(got, a, q.point, inputs.KNN_K)
        if q.kind == "polygon":
            return oracles.check_ids(got, oracles.polygon_ids(a, q.ring))
        if q.kind == "bbox":
            return oracles.check_ids(got, oracles.bbox_ids(a, q.bbox, q.interval))
        return oracles.check_ids(got, oracles.ecql_ids(a, q.ring, q.interval, q.min_w))

    result_rows: dict = {}

    def timed(q: inputs.Query, op: str):
        def go():
            run.group(op)
            c0, t = run.cpu(), time.perf_counter()
            with tr.span(q.kind, "bench", op):
                got = execute(q, op)
            cost = (time.perf_counter() - t, run.cpu() - c0)
            result_rows[op] = len(got)
            return cost, expect(q, got)
        return run.attempt(op, go)

    warm = inputs.query_stream(run.seed, len(inputs.QUERY_TYPES), salt=3)
    run.add_setup("warmup", [timed(q, f"warm{j}-{q.kind}") for j, q in enumerate(warm)])
    run.layer["session.warmup_s"] = run.setup_wall["warmup"]

    stream = inputs.query_stream(run.seed, 4000)
    per_type = {(k, c): [] for k in inputs.QUERY_TYPES for c in (4, 2)}

    def round_(i: int, cpus: int):
        run.set_cpus(cpus)
        wall, cpu, ok = 0.0, 0.0, True
        for j in range(len(inputs.QUERY_TYPES)):
            q = stream[(2 * i + (cpus == 2)) * len(inputs.QUERY_TYPES) + j]
            cost = timed(q, f"r{i}-{cpus}-{q.kind}")
            if cost is None:
                ok = False
            else:
                wall, cpu = wall + cost[0], cpu + cost[1]
                per_type[(q.kind, cpus)].append(cost[0])
        return (wall, cpu) if ok else None

    times, cpu = _measure(run, round_, TRACED_QUERY_ROUNDS)
    n_types = len(inputs.QUERY_TYPES)
    run.e2e["op_cpu_ms"] = median(cpu) / n_types * 1000.0
    run.layer["query.op_ms"] = median(times[4]) / n_types * 1000.0
    run.report["round_cpu_s"] = cpu
    if run.traced:
        run.layer["query.scaling_eff"] = _scaling(times[4], times[2])
    run.report["round_s"] = times

    L = run.layer
    L["layout.write_s"] = run.setup_wall["write_z2"]
    L["ingest.z2_rows_per_s"] = QUERY_ROWS / run.setup_wall["write_z2"]
    files = [os.path.join(d, f) for d, _s, fs in os.walk(paths["z2"])
             for f in fs if f.endswith(".parquet")]
    L["layout.files_written"] = len(files)
    L["layout.bytes_written"] = sum(os.path.getsize(f) for f in files)
    L["ingest.bytes_per_row"] = L["layout.bytes_written"] / QUERY_ROWS
    lat4 = []
    for k in inputs.QUERY_TYPES:
        v = per_type[(k, 4)]
        L[f"query.{k}_p50_ms"] = median(v) * 1000.0 if v else 0.0
        lat4.extend(v)
    run.counters["layout.files_written"] = len(files)
    run.counters["query.result_rows"] = {
        op: n for op, n in result_rows.items() if op.startswith(("warm", "r0-", "r1-"))}
    if run.traced:
        tl = measure.tail(lat4)
        if tl is None:
            raise RuntimeError(f"query.tail_ms needs 20 samples at 4 CPUs, got {len(lat4)}")
        L["query.tail_ms"] = tl[1] * 1000.0
        run.report["query_tail"] = {"percentile": tl[0], "samples": len(lat4)}
        L["ingest.s2_rows_per_s"] = QUERY_ROWS / ingest("s2")[0]
        _query_layers(run, df, result_rows)


def _query_layers(run: Run, df, result_rows: dict) -> None:
    from pyspark.sql import functions as F

    from geomesa_spark.functions.cell_functions import s2_col, z2_col

    tr, L, m = run.tracer, run.layer, run.metrics
    stages = m.stages("write-z2")
    L["layout.sort_shuffle_bytes"] = sum(s["shuffleWriteBytes"] for s in stages)

    for name, fn in (("z2", z2_col), ("s2", s2_col)):
        for i in range(2):
            op = f"cells-{name}-{i}"
            run.group(op)
            with tr.span(f"cells_{name}", "functions.cell_functions", op):
                (df.select(fn(F.col("lon"), F.col("lat")).alias("c"))
                 .write.format("noop").mode("overwrite").save())
        L[f"cells.{name}_s"] = median(tr.durations(f"cells_{name}"))
    L["cells.s2_python_ms"] = m.node_sum("cells-s2-1", "ArrowEvalPython",
                                         "time to run Python workers")

    n_files = L["layout.files_written"]
    ops = {}
    for s in tr.spans:
        if s["layer"] == "bench" and s["op"].startswith("r"):
            ops.setdefault(s["name"], []).append(s["op"])

    def per_op(kind: str, fn) -> float:
        vals = [fn(op) for op in ops.get(kind, [])]
        return median(vals) if vals else 0.0

    def scan(op: str, metric: str) -> float:
        return m.node_sum(op, "Scan", metric)

    def results(op: str) -> float:
        return max(result_rows.get(op, 1), 1)

    L["layout.read_ms"] = median(tr.durations("read_indexed")) * 1000.0
    spatial = ("polygon", "bbox", "ecql")
    L["layout.files_scanned_frac"] = median(
        [scan(op, "number of files read") / n_files for k in spatial for op in ops.get(k, [])])
    L["layout.rows_scanned_per_result"] = median(
        [scan(op, "number of output rows") / results(op) for k in spatial
         for op in ops.get(k, [])])
    L["query.plan_ms"] = median(tr.durations("apply")) * 1000.0
    L["decider.plan_ms"] = median(tr.durations("plan")) * 1000.0
    L["ecql.compile_ms"] = median(tr.durations("ecql_to_column")) * 1000.0
    py = "ArrowEvalPython"
    L["query.refine_rows_per_result"] = per_op(
        "polygon", lambda op: m.node_sum(op, py, "number of output rows") / results(op))
    L["query.python_start_ms"] = per_op(
        "polygon", lambda op: m.node_sum(op, py, "time to start Python workers"))
    L["query.python_run_ms"] = per_op(
        "polygon", lambda op: m.node_sum(op, py, "time to run Python workers"))
    L["query.jobs"] = median([len(m.job_ids(op)) for k in ("polygon", "bbox")
                              for op in ops.get(k, [])])
    L["ecql.python_ms"] = per_op(
        "ecql", lambda op: m.node_sum(op, py, "time to run Python workers"))
    knn_jobs = [len(m.job_ids(op)) for op in ops.get("knn", [])]
    L["knn.jobs"] = median(knn_jobs)
    run.counters["knn.jobs"] = knn_jobs[:2]
    L["knn.scan_rows"] = per_op("knn", lambda op: scan(op, "number of output rows"))
    L["knn.candidates_per_result"] = per_op(
        "knn", lambda op: max((mm.get("number of output rows", 0.0)
                               for name, mm in m.nodes(op)
                               if name.startswith("BroadcastHashJoin")), default=0.0)
        / inputs.KNN_K)
