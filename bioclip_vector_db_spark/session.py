"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the same config block is what we would
ship to a 1000-executor cluster minus the master/memory lines (AQE, Arrow,
shuffle-partition sizing are cluster-relevant too).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: The directory holding the ``bioclip_vector_db_spark`` package.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "bioclip_vector_db_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for parallelism. Key choices:

    - AQE on: runtime coalescing, skew-join splitting, dynamic broadcast.
    - shuffle.partitions sized to cores locally; on a real cluster this
      would be ~2-3x total executor cores (AQE coalesces the excess).
    - Arrow on: every pandas_udf crosses the JVM/Python boundary in
      columnar batches instead of pickled rows.
    - Serial GC in the driver JVM, which in local mode is the only JVM:
      its heap follows the live set, so peak memory is a function of the
      work rather than of host load (see the comment at the setting).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    # SPARK_GRAFT_AQE=0 disables adaptive execution — a correctness-only
    # escape hatch used by tools/check_correctness.py sweeps to exercise
    # the static-planner path (results must be identical; only plans may
    # differ). Never set it for benchmarking.
    aqe = os.environ.get("SPARK_GRAFT_AQE", "1") != "0"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true" if aqe else "false")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # G1, the JVM's default, grows the heap when recent pauses pass a
        # share of wall time, so on a busy host one perfbench serve run
        # peaked anywhere from 1.2 to 1.7 GB RSS. The serial collector sizes
        # the heap from the live data after each collection, so the peak
        # follows the work; on 4 cores it did not slow requests or set-up.
        .config("spark.driver.extraJavaOptions", "-XX:+UseSerialGC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The events fixture stores TIMESTAMP(NANOS) which Spark's parquet
        # reader rejects; read as BIGINT nanos and convert explicitly
        # (functions in streaming/events.py derive micros from it).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    # SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2": correctness-sweep hatch for
    # exercising alternate execution paths (e.g.
    # spark.sql.codegen.wholeStage=false for interpreted evaluation).
    extra_pairs: list[tuple[str, str]] = []
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in filter(None, (p.strip() for p in extra.split(";"))):
        k, sep, v = kv.partition("=")
        if not sep or not k:
            # A typo like "spark.sql.codegen.wholeStage" (missing =false)
            # must fail fast, not silently set the conf to '' and let the
            # sweep believe it exercised a path it didn't.
            raise ValueError(f"SPARK_GRAFT_EXTRA_CONF entry {kv!r} is not k=v")
        extra_pairs.append((k, v))
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate REUSES a pre-existing session, silently ignoring the
    # hatch configs — a sweep would then report 'verified under X' while
    # testing nothing. Static confs can't be re-applied, so verify.
    for k, v in extra_pairs + ([] if aqe else [("spark.sql.adaptive.enabled", "false")]):
        got = spark.conf.get(k, None)
        if got != v:
            raise RuntimeError(
                f"requested conf {k}={v!r} but live session has {got!r} — "
                "a SparkSession predates this get_spark() call; run the "
                "sweep in a fresh process"
            )
    # Python workers import the engine to run its Arrow/pandas kernels, and
    # a driver that found the package through its own sys.path does not
    # pass that on: with PYTHONPATH unset and the working directory outside
    # the checkout, those stages fail with ModuleNotFoundError.
    # SparkContext.environment holds every spark.executorEnv.* setting and
    # ships with each Python function, so prepending the package root there
    # keeps any value already set and also covers a session getOrCreate
    # reused rather than built.
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_ROOT, *paths])
    spark.sparkContext.setLogLevel("WARN")
    return spark
