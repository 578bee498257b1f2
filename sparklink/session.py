"""SparkSession factory with scale-oriented defaults.

Local mode is a test proxy; the confs are chosen so the same plans run
unchanged on a multi-executor cluster (AQE handles runtime re-planning,
skew-join splitting, and partition coalescing at any scale).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sparklink",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for the linkage workload.

    - AQE on: runtime coalescing + skew-join splitting (the candidate
      self-join on ``block_key`` is the skew hotspot; see blocking.py).
    - Arrow on: every scorer UDF is a vectorized pandas UDF.
    - shuffle partitions sized to cores locally; a real cluster would set
      this to ~2-3x total executor cores via spark-submit conf.
    - under ``spark-submit`` (gateway env present) submit-provided conf
      wins: defaults are only applied for keys the user did NOT pass, the
      submit ``--master`` is respected, and spark.driver.memory is left
      alone (the driver JVM already exists — a builder conf could not
      change it anyway; size it with ``spark-submit --driver-memory``).
    Explicit arguments (master / shuffle_partitions / extra_conf) always win.
    """
    # One BLAS thread per task: a Spark task is already the unit of
    # parallelism, and this container's OpenBLAS otherwise fans every
    # numpy matmul out across ALL visible cores (measured 31.9 CPU-s per
    # wall-s for a single 300x300 matmul loop on the idle 32-core host) —
    # 32 Arrow workers x 32 BLAS threads = 1024 runnable threads thrashing
    # the same cores. Must land in the environment BEFORE the JVM starts:
    # local-mode python workers are forked by the JVM, which inherits this
    # process's env at launch. executorEnv carries the same cap to real
    # multi-executor clusters. User-set values win.
    for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(_v, "1")
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    preset: dict[str, str] = {}
    if under_submit:
        from pyspark import SparkConf

        preset = dict(SparkConf(loadDefaults=True).getAll())
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    if master is None and not under_submit:
        master = "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_explicit = shuffle_partitions is not None
    if shuffle_partitions is None:
        heuristic_master = master or preset.get("spark.master", "")
        if heuristic_master.startswith("local["):
            inner = heuristic_master[len("local[") : -1]
            shuffle_partitions = 32 if inner == "*" else max(8, int(inner))
        else:
            shuffle_partitions = 200
    defaults = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Every SQL execution eagerly stringifies its physical plan for the
        # SparkListenerSQLExecutionStart event — even with the UI disabled.
        # On the fused iterative plans (CC rounds, scored-pairs subtree) the
        # formatted tree string reaches 100s of MB and the DRIVER burns
        # minutes in StringConcat/ArrayList.copyOf, serializing every
        # action (measured: 600+ CPU-seconds of a 34k-record run; a real
        # cluster's driver pays the same). Cap the string (append
        # short-circuits once full) and emit the cheap mode.
        "spark.sql.maxPlanStringLength": "100000",
        "spark.sql.ui.explainMode": "simple",
    }
    for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        defaults[f"spark.executorEnv.{_v}"] = os.environ[_v]
    if not under_submit:
        defaults["spark.driver.memory"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory()
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for k, v in defaults.items():
        if k in preset and not (k == "spark.sql.shuffle.partitions" and shuffle_explicit):
            continue
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_python_workers(spark)
    return spark


def _default_driver_memory() -> str:
    """Local-mode driver heap when SPARK_GRAFT_DRIVER_MEM is unset:
    min(48g, half of physical memory). In local mode the driver JVM holds
    every executor's data; the other half is left to the Python workers
    and the OS, so a small host is not driven into the OOM killer."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 >> 20
    return f"{min(48 << 10, half_mb)}m"


def _warm_python_workers(spark: SparkSession) -> None:
    """Spawn and warm the per-core Python UDF workers once per session.

    Every reused worker (spark.python.worker.reuse=true, the default) pays
    a one-time numpy/pandas/pyarrow import of ~2-4 CPU-seconds on its
    first Arrow batch. A long production job amortizes that to zero, but a
    session whose FIRST job is the scoring stage charges cores x imports
    to that stage (guide §4.5: heavyweight init once per task, not per
    batch). Warming at session build moves the cost where it belongs —
    session startup — and is idempotent (guarded per SparkContext).
    Disable with SPARKLINK_WARM_WORKERS=0.
    """
    if os.environ.get("SPARKLINK_WARM_WORKERS", "1") != "1":
        return
    sc = spark.sparkContext
    if getattr(sc, "_sparklink_workers_warm", False):
        return
    try:
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("double")
        def _warm(x: pd.Series) -> pd.Series:
            import numpy as _np  # noqa: F401
            import pyarrow as _pa  # noqa: F401

            return x * 1.0

        n = sc.defaultParallelism
        spark.sparkContext.setJobDescription("sparklink: warm python workers")
        spark.range(0, n * 2, 1, n * 2).select(_warm(F.col("id").cast("double"))).write.format(
            "noop"
        ).mode("overwrite").save()
        # Exercise the common operator framework once (shuffle exchange,
        # sort, hash/object aggregate, window, join, higher-order array
        # functions): the first janino whole-stage-codegen compilation
        # loads the compiler itself and C2-JITs the exchange/sort/agg hot
        # paths — several seconds that otherwise land inside whichever
        # user stage runs first. Tiny deterministic data; one job.
        from pyspark.sql import Window as _W

        d = spark.range(0, 4096, 1, n).select(
            F.col("id"), (F.col("id") % 97).alias("k"), F.array(F.col("id"), F.col("id") + 1).alias("arr")
        )
        agg = d.groupBy("k").agg(
            F.sum("id").alias("s"),
            F.collect_list(F.col("id")).alias("xs"),
        )
        w = _W.partitionBy("k").orderBy(F.desc("s"))
        warmed = (
            d.join(agg, "k")
            .withColumn("rn", F.row_number().over(w))
            .withColumn("srt", F.array_sort("arr", lambda a, b: F.when(a < b, -1).when(a > b, 1).otherwise(0)))
            .withColumn("agg2", F.aggregate("arr", F.lit(0).cast("bigint"), lambda acc, x: acc + x))
        )
        warmed.write.format("noop").mode("overwrite").save()
        # parquet reader/writer + localCheckpoint machinery: the remaining
        # first-use costs a fresh session's first real stage would pay
        import shutil
        import tempfile

        tmp = tempfile.mkdtemp(prefix="sparklink_warm_")
        try:
            d.write.mode("overwrite").parquet(tmp)
            spark.read.parquet(tmp).localCheckpoint(eager=True).count()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        spark.sparkContext.setJobDescription(None)
        sc._sparklink_workers_warm = True
    except Exception:  # pragma: no cover - warm-up is best-effort
        pass
