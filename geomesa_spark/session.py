"""SparkSession factory with scale-oriented defaults.

The engine is designed for 1000-executor clusters over ~100 TB; locally we run
``local[N]``. Every conf here is a real-cluster conf, not a test hack:

* AQE on (runtime re-plan, skew-join splitting) — replaces GeoMesa's static
  shard fan-out (reference: ShardStrategy.scala:75-83) with runtime handling,
  on top of our explicit salting.
* shuffle partitions sized for the local core count; on a real cluster this
  would be ~2-3x total cores.
* Arrow enabled for all pandas UDF exchange (vectorized geometry kernels).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def configure(builder: SparkSession.Builder, shuffle_partitions: int | None = None,
              driver_mem: str | None = None) -> SparkSession.Builder:
    """Apply engine confs to an existing builder (composable with user confs).

    Driver memory: pass ``driver_mem`` (or set ``SPARK_GRAFT_DRIVER_MEM``)
    rather than a separate ``spark.driver.memory`` conf — the heap size and
    the ``-Xms``/pre-touch java options are derived from the SAME value here,
    and overriding only the conf would leave ``-Xms`` larger than ``-Xmx``
    (the JVM refuses to start).
    """
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    mem = driver_mem or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    return (
        builder
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 8 MB coalesce target (default 64 MB): aggregations with near-unique
        # keys (tile pixels, dedup ids) are bound by reduce-side hash-map
        # locality, and ~8 MB post-shuffle partitions keep each map in cache;
        # AQE still coalesces small stages to single partitions
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
        # 4 MB buffered writes on the JVM<->python-worker sockets: the 64 KB
        # default causes a syscall storm (80%+ system time) on UDF-heavy
        # stages at high local parallelism
        .config("spark.sql.execution.pandas.udf.buffer.size", str(4 * 1024 * 1024))
        .config("spark.buffer.size", str(4 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", mem)
        # throughput collector for a batch-analytics engine: ParallelGC
        # beats G1 by 20-35% on the shuffle-agg pipeline (measured
        # 45-62s -> 29-53s at local[32]/48g on the 64M-row scaling job; G1
        # pays region scanning + humongous-object handling on shuffle
        # buffers).  -Xms=driver memory + AlwaysPreTouch: Spark pre-sizes
        # EXECUTOR heaps (-Xms=-Xmx) but not the local-mode driver JVM,
        # whose first big shuffle then pays heap growth + page zeroing
        # mid-query (measured: first full-size 32c run up to 4x slower
        # than steady state); pre-touching moves that cost to JVM startup.
        # defaultJavaOptions, so user extraJavaOptions override.
        # 512m code cache (default 240m): whole-stage codegen emits a new
        # class set per plan shape, and a FULL code cache silently disables
        # the JIT ("CodeCache is full. Compiler has been disabled") — the
        # measured symptom is progressive 2-4x degradation across queries
        # in one long-lived session, worst on trig-heavy projections.
        .config("spark.driver.defaultJavaOptions",
                "-XX:+UseParallelGC -XX:+AlwaysPreTouch "
                "-XX:ReservedCodeCacheSize=512m -Xms" + mem)
        .config("spark.executor.defaultJavaOptions",
                "-XX:+UseParallelGC -XX:ReservedCodeCacheSize=512m")
    )


def get_spark(app_name: str = "geomesa-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Create (or fetch) the engine session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    cluster the job is submitted with ``spark-submit --py-files`` and master
    comes from the environment.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = configure(SparkSession.builder.appName(app_name).master(master), shuffle_partitions)
    spark = builder.getOrCreate()
    from geomesa_spark.functions import register_all
    register_all(spark)
    return spark


def frame_sql(text: str, **frames: DataFrame) -> DataFrame:
    """``spark.sql`` of ``text`` with each ``{name}`` read as the DataFrame
    ``frames[name]`` (``str.format``: a literal brace is doubled), through a
    uuid-named temp view that is dropped once the query is analysed.

    PySpark's own ``spark.sql(text, name=df)`` drops its views with
    ``Catalog.dropTempView``, which also uncaches every cached plan equal to
    the view's, so a cached input would lose its cache; the session
    catalog's drop used here only removes the name."""
    spark = next(iter(frames.values())).sparkSession
    names = {k: f"__frame_{uuid.uuid4().hex}" for k in frames}
    for k, df in frames.items():
        df.createOrReplaceTempView(names[k])
    try:
        return spark.sql(text.format(**names))
    finally:
        catalog = spark._jsparkSession.sessionState().catalog()
        for name in names.values():
            catalog.dropTempView(name)
