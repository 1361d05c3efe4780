"""SparkSession factory and runtime tuning.

Reference parity: ``create_spark_session`` (reference etl.py:19-25) builds a
bare session whose only config is the hadoop-aws package. Our factory makes
the settings that matter at scale explicit and applies them *also* to
externally-created sessions (``prepare``), because the correctness driver
hands us its own session.

Scale posture (100 TB / 1000 executors):
- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy.
- shuffle partitions sized to the cluster, not the 200 default.
- UTC session timezone pinned so time functions are deterministic anywhere.
- Arrow enabled so any pandas-UDF boundary is vectorized, not pickled rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs applied to every session we touch. All of these
# are dynamic (not static) confs, so prepare() can apply them to a live
# session.
RUNTIME_CONFS: dict[str, str] = {
    # Determinism: time functions (hour/day/...) depend on session TZ.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime re-plan, partition coalescing, skew split.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # The driver corpus's events.ts is parquet TIMESTAMP(NANOS), which Spark
    # rejects by default; read it as epoch-nanos long and convert ourselves
    # (sources.readers.normalize_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for any pandas-UDF / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Push MIN/MAX/COUNT aggregates into the parquet footer scan.
    "spark.sql.parquet.aggregatePushdown": "true",
    # Tz-less parquet timestamps infer as timestamp_ntz (the Spark
    # default, pinned): sources.readers.corpus_schema matches a file's
    # footer against the declared schemas under exactly these rules.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
}

# Static confs: only a session's builder can set them, so get_spark
# applies them and prepare() never tries (a live session rejects them
# with AnalysisException on every call).
STATIC_CONFS: dict[str, str] = {
    # PySpark 4's per-call user-frame capture (error enrichment) walks the
    # Python stack on EVERY DataFrame API call — pure driver-side overhead
    # (~0.3-0.5 s per lifecycle query of inspect.currentframe chains,
    # measured via cProfile in OPTIMIZATION_r12.md §1). Error messages
    # lose the user line number, nothing else.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def prepare(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent, best-effort).

    Called at the top of every public query entry point so behaviour does not
    depend on who constructed the session (our factory, the verify driver,
    or a notebook). Also right-sizes shuffle partitions when the session
    still carries the 200 default — AQE coalesces batch shuffles anyway,
    but streaming state stores get one instance per partition.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - conf unknown to some builds
            pass
    # pyspark caches the dataFrameDebugging flag module-globally on first
    # use; a driver-owned session may have primed it True before handing
    # us the session. Sync the cache with the session's (static) conf —
    # but ONLY after reading the conf back as 'false': never force the
    # process-wide private cache off when a co-hosted session
    # legitimately runs with debugging on. Once synced off, there is
    # nothing left to read.
    try:  # pragma: no cover - private attr may move between releases
        from pyspark.errors import utils as _errors_utils

        if _errors_utils._enable_debugging_cache is not False and (
            spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
            == "false"
        ):
            _errors_utils._enable_debugging_cache = False
    except Exception:
        pass
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
    except Exception:  # pragma: no cover
        pass
    return spark


def default_parallelism() -> int:
    """Shuffle-partition default: honor the driver's CPU budget."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env and env.isdigit():
        return max(int(env), 1)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "projectdatalake-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    In local mode one JVM hosts everything, so ``spark.driver.memory`` is the
    only memory knob; on a real cluster the same code runs unchanged with
    executor memory set by the deployment.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # static conf: managed (bucketed) tables land outside the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark-graft-warehouse"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for key, value in {**RUNTIME_CONFS, **STATIC_CONFS}.items():
        builder = builder.config(key, value)
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return prepare(spark)
