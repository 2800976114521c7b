"""SparkSession construction tuned for this engine.

Local testing runs on ``local[N]`` (single JVM); production target is a
multi-executor cluster reading ~100 TB. All scale-sensitive knobs
(AQE, shuffle partitions, Arrow) are set here so every entry point —
tests, bench, driver harness — gets the same, deliberate configuration.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEBUGGING_FLAG = "spark.python.sql.dataFrameDebugging.enabled"

#: Defaults applied to every session this package builds. Each is safe on a
#: real cluster; values that only make sense locally (master, driver memory)
#: are applied only when we build the session ourselves.
ENGINE_CONF: dict[str, str] = {
    # AQE: runtime coalescing, skew-join splitting, dynamic join strategy.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamps for oracle comparison and metadata stamps.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for every pandas interchange (Pandas UDF / applyInPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast-join threshold: dims like region/nation/part always broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Parquet scans: vectorized reader + aggressive pushdown are Spark
    # defaults, pinned here so a misconfigured environment can't lose them.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # One BLAS thread per task (cluster mode; local mode inherits the
    # process env set in get_spark): with N concurrent tasks each spawning
    # an N-thread OpenBLAS pool, the N² oversubscription collapses every
    # Arrow/numpy stage — measured 25× on 32 concurrent 6k×64 @ 64×4k
    # gemms on this container (44 s wall vs 1.8 s single-threaded).
    # Spark's task parallelism IS the parallelism; BLAS must not nest.
    "spark.executorEnv.OMP_NUM_THREADS": "1",
    "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
    "spark.executorEnv.MKL_NUM_THREADS": "1",
    # No call-site capture per Column call. While this flag is true (the
    # PySpark 4.1 default), every Column-API call walks the Python stack
    # and makes about 10 py4j round trips to record its caller; it also
    # tries ``import ipykernel``, and where IPython is installed without
    # ipykernel the first call imports IPython (+26 MB driver RSS: 111 →
    # 137 MB on a bare session) and each later call repeats the failed
    # import's path search. A warm perfbench ``curate`` chain made 176
    # such calls, about half of its 3 522 py4j round trips. What is lost:
    # analysis errors no longer name the caller's ``file:line`` — at the
    # default depth of 1 that line pointed into this package's operators
    # anyway. PySpark reads the flag once, at the first Column call of the
    # process, so it must be set before then.
    _DEBUGGING_FLAG: "false",
}

#: Env the PYTHON WORKERS must see before numpy first loads (local mode:
#: workers fork from this process's JVM, so executorEnv does not reach
#: them — the process env does). Set at MODULE IMPORT time, not in
#: get_spark: the driver harness builds its own SparkSession and only
#: routes through apply_engine_conf, where spark.executorEnv.* is a
#: static conf that silently no-ops on a running context — but the
#: harness imports this package before calling getOrCreate, and env set
#: before the JVM launches is inherited by the workers it spawns. That
#: makes import-before-session the one path that covers every entry
#: point, including externally-built sessions.
_BLAS_WORKER_ENV = {
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
}

for _k, _v in _BLAS_WORKER_ENV.items():
    os.environ.setdefault(_k, _v)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "ml_feature_store_pipeline_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``shuffle_partitions`` defaults to the local core count — correct for
    local mode; on a real cluster leave AQE's coalescing to right-size it
    from the 2×-cores initial value.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # UI off by default (test noise); SPARK_GRAFT_UI=true enables it so
        # tools/scalecheck.py can read per-stage shuffle bytes over /api/v1.
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an externally-provided session.

    The driver harness constructs its own SparkSession; ``entry()`` routes
    through here so oracle comparison still sees UTC timestamps and AQE.

    ``spark.python.sql.dataFrameDebugging.enabled`` is set here too. It is
    a static conf, which ``spark.conf.set`` refuses on a running session,
    so it is written to the session's SQL conf directly; its one reader,
    PySpark's driver-side call-site capture, caches it at the first Column
    the process builds. So it only takes effect if this is called before
    any Column is built.
    """
    for k, v in ENGINE_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf (e.g. already-started contexts) — keep going
    spark._jsparkSession.sessionState().conf().setConfString(
        _DEBUGGING_FLAG, ENGINE_CONF[_DEBUGGING_FLAG]
    )
    return spark
