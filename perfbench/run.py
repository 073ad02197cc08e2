#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one engine session.

Usage, from the repository root:

    python3 perfbench/run.py --workload {pipeline,query} --seed N \\
        --seconds S --trace {0,1}

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``; with ``--trace 0`` the metrics are the end-to-end metrics,
with ``--trace 1`` the per-layer metrics, both as named in
``BENCHMARK.json`` (``perfbench/metrics.json`` maps each to its layer).
The line before it is the run report: host-noise annotation, raw
operation times, failures and, in a traced run, self time per layer and
the deterministic-counter comparison. Spans of a traced run are written
to ``.perfbench/spans-<workload>-<seed>.json``.

Everything the run writes stays under ``.perfbench/`` in the current
directory; the per-run work directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import measure  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = {"pipeline": workloads.pipeline, "query": workloads.query}
JVM_MEM = "1g"
SNAPSHOT = os.path.join(HERE, "snapshot.json")
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
# deterministic counters that are answers (a mismatch is a wrong result);
# the others are work counts an optimisation may legitimately change
ANSWER_COUNTERS = ("pip_join.rows_out", "tiling.finest_pixels", "query.result_rows")


def _environment(root: str, work: str) -> None:
    """Keep every file the session writes inside ``work`` and give the
    Python workers the engine on their path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    # -XX:-UsePerfData: no hsperfdata files in the system temp directory,
    # for the spark-submit launcher JVM and the Spark JVM alike
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "pyspark-shell"])
    sys.path.insert(0, root)


def _stop(spark, jvm_pid: int) -> None:
    """Stop the session, end the Spark JVM and wait for its process tree."""
    from pyspark import SparkContext
    tree = measure.process_tree(jvm_pid)
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in tree if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


def _compare_snapshot(seed: int, workload: str, counters: dict) -> tuple:
    """(answer mismatches, work-count mismatches) against the snapshot."""
    with open(SNAPSHOT) as f:
        snap = json.load(f).get(str(seed), {}).get(workload)
    if snap is None:
        return None, None
    answers, work = [], []
    for name, want in snap.items():
        got = counters.get(name)
        if isinstance(want, dict) and isinstance(got, dict):
            diff = [k for k in want if k in got and got[k] != want[k]]
            if diff:
                (answers if name in ANSWER_COUNTERS else work).append(
                    f"{name}[{','.join(diff)}]")
        elif got is not None and got != want:
            (answers if name in ANSWER_COUNTERS else work).append(
                f"{name}: {got} != {want}")
    return answers, work


def run(workload: str, seed: int, seconds: float, traced: bool, work: str) -> tuple:
    with open(BENCHMARK) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    calib_before = measure.calibration_ms()
    t0, c0 = time.perf_counter(), time.thread_time()
    from geomesa_spark.session import get_spark
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # first job: class loading and codegen start-up
    start_s = time.perf_counter() - t0
    layer_names = [m["name"] for m in spec["per_layer"]]
    r = workloads.Run(spark, seed, seconds, traced, work, layer_names)
    # the JVM tree started inside this span, so its whole CPU total counts
    start_cpu = r.cpu() - c0
    try:
        with measure.RssSampler(r.jvm_pid) as rss:
            jiffies = measure.cpu_jiffies()
            WORKLOADS[workload](r)
            steal = measure.steal_pct(jiffies, measure.cpu_jiffies())
        heap_peak = measure.heap_peak_used(spark)
    finally:
        _stop(spark, r.jvm_pid)
    calib_after = measure.calibration_ms()

    r.layer["session.start_s"] = start_s
    r.layer["host.steal_pct"] = steal
    r.layer["host.calib_ms"] = max(calib_before, calib_after)
    report = {"workload": workload, "seed": seed, "traced": traced,
              "setup_wall_s": {"session": start_s, **r.setup_wall},
              "setup_cpu_s": {"session": start_cpu, **r.setup_cpu},
              "memory_mb": {"peak_rss": rss.peak / 2 ** 20,
                            "heap_peak_used": heap_peak / 2 ** 20},
              "host": {"steal_pct": steal, "calib_ms": [calib_before, calib_after]},
              "failures": r.failures, **r.report}
    r.e2e["setup_s"] = start_cpu + sum(r.setup_cpu.values())
    r.e2e["peak_rss_mb"] = rss.peak / 2 ** 20
    # the heap is pre-touched at its full size, so resident memory holds it
    # whole whatever the engine puts in it: its use is reported apart
    r.layer["jvm.heap_peak_mb"] = heap_peak / 2 ** 20
    if traced:
        # the end-to-end metrics as measured under tracing: their difference
        # from the untraced runs' medians is the tracing overhead
        for name in ("setup_s", "op_cpu_ms", "peak_rss_mb"):
            r.layer[f"trace.{name}"] = r.e2e[name]
        answers, work_counts = _compare_snapshot(seed, workload, r.counters)
        report["snapshot"] = ({"answer_mismatches": answers, "work_mismatches": work_counts}
                              if answers is not None else "no snapshot for this seed")
        r.layer["trace.snapshot_mismatches"] = len(answers or []) + len(work_counts or [])
        wrong_answers = bool(answers)
        report["counters"] = r.counters
        report["self_s"] = measure.self_times(r.tracer.spans)
        r.tracer.dump(os.path.join(os.getcwd(), ".perfbench",
                                   f"spans-{workload}-{seed}.json"))
        unknown = set(r.layer) - set(layer_names)
        if unknown:
            raise ValueError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        names, values = layer_names, r.layer
    else:
        wrong_answers = False
        names = [m["name"] for m in spec["end_to_end"]]
        values = r.e2e
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in names}
    return report, {"correct": not r.failures and not wrong_answers, "attempted": r.attempted,
                    "failed": len(r.failures), "metrics": metrics}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=inputs.DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "geomesa_spark", "session.py")):
        print("perfbench: run from the repository root; geomesa_spark/ is missing",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        _environment(root, work)
        report, result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"perfbench_report": report}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
