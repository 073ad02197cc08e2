#!/usr/bin/env python
"""Benchmark harness: headline spatial-join + tiling pipeline + per-query times.

Prints ONE JSON line:
  {"metric": ..., "value": <headline seconds>, "unit": "sec",
   "queries": {name: sec}, "sf": ..., "rows_per_sec": ..., ...}

Env:
  SPARK_GRAFT_SF_DIR   input dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local core count (default 32)
  BENCH_IMAGES_ROWS    synthetic image-table rows for the flagship pipeline
                       (default 2_000_000)
"""

from __future__ import annotations

import json
import os
import sys
import time

from perfbench.measure import cpu_jiffies, steal_pct

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
IMAGES_ROWS = int(os.environ.get("BENCH_IMAGES_ROWS", "2000000"))


class _StealMeter:
    """Hypervisor steal fraction over a timed span (scaling-bench protocol):
    a query timed inside a steal window measures the neighbor VM, not the
    engine, so such timings earn one extra repetition."""

    def __enter__(self):
        self.t0 = cpu_jiffies()
        return self

    def __exit__(self, *exc):
        self.pct = round(steal_pct(self.t0, cpu_jiffies()), 2)
        return False


def main() -> None:
    from pyspark.sql import functions as F

    from geomesa_spark.session import get_spark
    spark = get_spark("geomesa-spark-bench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod
    from geomesa_spark.entry_queries import PIP_POLYGONS
    from geomesa_spark.operators.pip_join import pip_join_broadcast
    from geomesa_spark.operators.tiling import tile_pyramid
    from geomesa_spark.sources.images import synthetic_images_geo
    from geomesa_spark.sources.testdata import geo_events

    # ---- headline: spatial-join + tiling over the synthetic image table ----
    # (BASELINE.json metric: rows/sec through PIP join + tile pyramid)
    # warmup pass: JIT/codegen/arrow-worker startup is not throughput
    # same plan SHAPE as the timed run (zoom count changes the rollup
    # stage chain, and codegen/JIT is per stage shape); C2 needs a couple
    # of passes to reach steady state
    warm = synthetic_images_geo(spark, 50_000)
    for _ in range(2):
        tile_pyramid(pip_join_broadcast(warm, PIP_POLYGONS, lon_col="lon",
                                        lat_col="lat"),
                     [0, 2, 4, 6], tile_px=256).count()
    # first from_json use pays several seconds of Jackson class loading +
    # codegen — that is session warmup, not query throughput
    spark.range(1).select(F.from_json(F.lit('{"k": 1}'), "k INT")).collect()
    # first pandas UDF spins the whole python-worker fleet (CPUS workers x
    # pandas import) — also session warmup, not query cost
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm(s):
        return s * 1.0
    spark.range(64).select(_warm(F.col("id").cast("double"))).collect()

    # start in a quiet host window when one arrives within the budget —
    # hypervisor steal storms (observed >3% for minutes at a time) inflate
    # every timing and min-of-reps cannot fully recover
    deadline = time.time() + 120
    while time.time() < deadline:
        with _StealMeter() as sm0:
            time.sleep(6)
        if sm0.pct < 3.0:
            break

    imgs = synthetic_images_geo(spark, IMAGES_ROWS)

    def run_headline() -> float:
        t0 = time.time()
        joined = pip_join_broadcast(imgs, PIP_POLYGONS,
                                    lon_col="lon", lat_col="lat")
        tiles = tile_pyramid(joined, [0, 2, 4, 6], tile_px=256)
        nonlocal_tiles.append(tiles.count())
        spark.catalog.clearCache()
        return time.time() - t0

    nonlocal_tiles: list[int] = []
    headline_reps = 2            # min-of-2, like the per-query timings
    with _StealMeter() as sm:
        headline_sec = min(run_headline() for _ in range(headline_reps))
    headline_steal = sm.pct
    if sm.pct > 3.0:             # timed inside a steal window: one more rep
        headline_sec = min(headline_sec, run_headline())
    n_tiles = nonlocal_tiles[-1]
    rows_per_sec = IMAGES_ROWS / headline_sec

    # ---- per-query times on the driver tables --------------------------------
    queries = entry_mod.queries()
    q_times: dict[str, float] = {}
    reps = int(os.environ.get("BENCH_QUERY_REPS", "2"))

    def time_query(fn, n_reps: int, prev: float | None = None) -> float:
        best = prev
        for _ in range(n_reps):
            # settle between queries: the Arrow-python-worker queries leave
            # GC debt that would otherwise bleed into the NEXT timing
            spark.sparkContext._jvm.System.gc()
            t1 = time.time()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            took = time.time() - t1
            best = took if best is None else min(best, took)
            # tile_pyramid persists its levels (exchange-reuse workaround);
            # drop them so one query's cache never feeds the next timing
            spark.catalog.clearCache()
        return best

    steal_retries: list[str] = []
    for name, fn in sorted(queries.items()):
        # min-of-reps: the host VM shows +-30% hour-to-hour variance and
        # per-query plan/codegen compilation belongs to the first rep only
        with _StealMeter() as sm:
            best = time_query(fn, reps)
        if sm.pct > 3.0:
            # timed inside a hypervisor-steal window (r4 observed adjacent
            # queries 4x slow in one run, 1x in every controlled re-run):
            # one extra rep, still min-of-all
            steal_retries.append(name)
            best = time_query(fn, 1, best)
        q_times[name] = round(best, 3)

    # end-of-session re-time pass: EVERY query gets one more rep after the
    # session's interference window has passed, so the published
    # min-of-reps follows the SAME protocol for fast and slow queries (the
    # r4 version re-timed only >2s queries — a one-sided rule that favored
    # slow queries; ADVICE r4).  A transient storm at minute M still cannot
    # poison the figure, a genuinely expensive query just reproduces its
    # time, and the first-pass values are published for audit.
    first_pass = dict(q_times)
    for name in sorted(queries):
        q_times[name] = round(time_query(queries[name], 1, q_times[name]), 3)
    retimed = sorted(n for n in q_times
                     if first_pass[n] - q_times[n] > max(0.1 * first_pass[n], 0.05))

    # stage attribution for the heaviest aggregate row: simhash_dedup hides
    # a signature write + three operators; publish their individual seconds
    # so a regression in any one stage is visible round-over-round
    from geomesa_spark.entry_queries_pipeline import simhash_dedup_stage_times
    simhash_stages = simhash_dedup_stage_times(spark, SF_DIR)

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    scaling = {}
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH", "scaling.json")) as f:
            s = json.load(f)
        scaling = {
            "scaling_efficiency_pipeline": s["scaling_efficiency_pipeline"],
            "scaling_efficiency_join": s["scaling_efficiency_join"],
            "scaling_rows": s["rows"],
        }
        for k in ("cpu_scaling_ceiling", "normalized_efficiency_pipeline",
                  "median_efficiency_pipeline",
                  "median_normalized_efficiency_pipeline"):
            if k in s:
                scaling[k] = s[k]
    except (OSError, KeyError, ValueError):
        pass
    print(json.dumps({
        "metric": "spatial_join_tiling_pipeline_sec",
        "value": round(headline_sec, 3),
        "unit": "sec",
        "queries": q_times,
        "sf": sf,
        "rows_per_sec": round(rows_per_sec, 1),
        "images_rows": IMAGES_ROWS,
        "pyramid_pixels": n_tiles,
        "cpus": CPUS,
        "steal_retries": steal_retries,
        "retime_pass": "all",
        "retime_improved": {n: first_pass[n] for n in retimed},
        "simhash_dedup_stages": simhash_stages,
        "headline_steal_pct": headline_steal,
        **scaling,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
