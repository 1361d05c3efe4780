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
- Arrow enabled for pandas-UDF and toPandas boundaries.
- Codegen cache sized to the engine's plan working set, so each generated
  class compiles once per session. It is a static conf: a session built
  elsewhere and handed to ``prepare`` keeps Spark's default of 100.

Driver-built frames (deletion-vector pairs, checkpoint rows, path lists,
small query results) go through ``local_frame`` and nowhere else:
``spark.createDataFrame(<python list>)`` parallelizes pickled rows, so
every execution of such a frame starts Python workers, and its
``LogicalRDD`` carries no size statistics. ``local_frame`` ships the rows
as one Arrow table that the JVM turns into a ``LocalRelation``.
"""

from __future__ import annotations

import decimal
import os
from typing import Any, Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DecimalType,
    MapType,
    StructType,
    _create_converter,
    _make_type_verifier,
    _parse_datatype_string,
)

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
    # Whole-stage codegen compiles each distinct generated class with
    # Janino and caches it by source text. Measured working sets with
    # Spark's CodegenMetrics compile counter: query_mix's 12 queries make
    # 113 classes; lake_ingest holds 127 after its set-up and 255 after
    # day 1, then adds about 31 a day. Spark's default cap of 100, which
    # Guava's LRU also splits across its segments, is below both: every
    # query_mix pass recompiled 60-77 of its 113 classes, and a lake_ingest
    # day about 250. 1000 is about 4x the largest working set; a cached
    # class averages 2.4 KB of bytecode.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def prepare(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent, best-effort).

    Called at the top of every public query entry point so behaviour does not
    depend on who constructed the session (our factory, the verify driver,
    or a notebook). Also right-sizes shuffle partitions when the session
    still carries the 200 default — AQE coalesces batch shuffles anyway,
    but streaming state stores get one instance per partition.
    ``STATIC_CONFS`` are not applied: a session built elsewhere keeps its
    own values, such as Spark's codegen cache of 100 classes.
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


def local_frame(
    spark: SparkSession, rows: Iterable[Any], schema: StructType | str
) -> DataFrame:
    """A DataFrame of driver-side ``rows`` under ``schema`` (DDL or
    ``StructType``; never inferred), planned as a ``LocalRelation``.

    The rows are checked and converted exactly as
    ``spark.createDataFrame(list, schema)`` does it (its type verifier,
    then ``StructType.toInternal``): tuples, dicts and ``Row`` objects;
    naive ``datetime`` values in the process's local time zone; a wrong
    type raises. Decimals are rounded half-up to the column's scale, as
    the JVM does for that path. The internal values then travel as one
    ``pyarrow.Table``, so no Python worker runs when the frame executes.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    if not isinstance(struct, StructType):
        raise TypeError(f"local_frame needs a struct schema, got {schema!r}")
    verify = _make_type_verifier(struct)
    to_tuple = _create_converter(struct)
    internal = []
    for row in rows:
        verify(row)
        internal.append(struct.toInternal(to_tuple(row)))
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*internal)) if internal else [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [
            pa.array(_arrow_values(f.dataType, col), type=af.type)
            for f, af, col in zip(struct.fields, arrow_schema, columns)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


def _arrow_values(dt: DataType, values: Iterable[Any]) -> list:
    """``toInternal`` values pyarrow accepts as they are, but for decimals."""
    fix = _decimal_fixer(dt)
    return [fix(v) if v is not None else None for v in values] if fix else list(values)


def _decimal_fixer(dt: DataType) -> Callable[[Any], Any] | None:
    """Rounds every decimal inside ``dt`` to its scale (None: no decimals)."""
    if isinstance(dt, DecimalType):
        quantum = decimal.Decimal(1).scaleb(-dt.scale)
        return lambda v: v.quantize(quantum, rounding=decimal.ROUND_HALF_UP)
    if isinstance(dt, ArrayType):
        el = _decimal_fixer(dt.elementType)
        if el is None:
            return None
        return lambda v: [el(e) if e is not None else None for e in v]
    if isinstance(dt, MapType):
        key, val = _decimal_fixer(dt.keyType), _decimal_fixer(dt.valueType)
        if key is None and val is None:
            return None
        key, val = key or (lambda k: k), val or (lambda x: x)
        return lambda v: {
            key(k): val(x) if x is not None else None for k, x in v.items()
        }
    if isinstance(dt, StructType):
        fixes = [_decimal_fixer(f.dataType) for f in dt.fields]
        if not any(fixes):
            return None
        return lambda v: tuple(
            fix(x) if fix and x is not None else x for fix, x in zip(fixes, v)
        )
    return None
