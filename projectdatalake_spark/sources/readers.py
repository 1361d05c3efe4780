"""Readers: the engine's scan operators.

Reference parity (SURVEY.md §2.1):
- S1/S2 JSON glob scans (reference etl.py:43, etl.py:87) → ``read_json`` with
  an explicit schema (no inference pass) and glob/recursive lookup support.
- S3 Parquet scan (reference etl.py:141-146) → ``read_parquet`` /
  ``load_table``. The reference lets Spark infer each relation's schema
  (one footer-reading job per read); ``load_table`` reads a corpus table
  under its declared schema instead whenever ``corpus_schema`` proves,
  from the file's footer, that the declared schema is exactly what
  inference would give.
- S6 object-store connector (reference etl.py:23 s3a) → paths are URIs; the
  same code reads ``s3a://`` when the hadoop-aws jars are on the classpath.
  Locally we read ``/root/testdata``.

Scale notes: explicit schemas avoid a full inference pass over 100 TB of
JSON; column pruning and predicate pushdown are left to Catalyst (callers
express ``select``/``filter`` declaratively and the parquet scan receives
PushedFilters/ReadSchema automatically).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from projectdatalake_spark import schemas
from projectdatalake_spark.session import prepare
from projectdatalake_spark.sources import atomic, footer_stats

# Declared schemas a corpus table may be read under, in order. events.ts
# is parquet TIMESTAMP(NANOS) (read as bigint) or TIMESTAMP(MICROS).
_DECLARED: dict[str, tuple[T.StructType, ...]] = {
    **{name: (schema,) for name, schema in schemas.TESTDATA_SCHEMAS.items()},
    "events": (schemas.EVENTS_RAW, schemas.EVENTS_RAW_TS),
}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def corpus_schema(path: str, name: str) -> T.StructType | None:
    """The declared schema corpus table ``name`` at ``path`` is read
    under, or None to let Spark infer it.

    The footer rule: the file's parquet footer is read on the driver
    (pyarrow, well under a millisecond) and mapped to the schema Spark's
    own inference would give (``footer_stats.spark_read_schema``). A
    declared ``schemas.TESTDATA_SCHEMAS`` entry (for ``events``:
    ``EVENTS_RAW`` or ``EVENTS_RAW_TS``) is returned only when column
    names, order and types match it exactly. Without the check a
    declared schema reads wrong data silently: µs event times read as
    bigint come back as epoch micros, a declared column missing from
    the file reads as nulls, and an int64 file under an int column fails
    only at execution.

    Fallback: any mismatch, an unreadable footer, a directory, or a
    table with no declared schema gives None, and the table is read with
    inference as before. Non-local roots (``hdfs://``, ``s3a://``; see
    ``atomic.is_local_path``) also give None: their footers are not
    driver-local files, so they keep the Hadoop path.
    """
    candidates = _DECLARED.get(name, ())
    local = atomic.strip_file_scheme(path)
    if not candidates or not atomic.is_local_path(path) or not os.path.isfile(local):
        return None
    try:
        inferred = footer_stats.spark_read_schema(local)
    except (OSError, ValueError):  # not a readable parquet footer
        return None
    return next((s for s in candidates if s.simpleString() == inferred), None)


def read_parquet(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Parquet scan (S3); vectorized reader. Under ``schema`` when given
    (no inference job), else Spark infers the schema from the footer.
    Pass only a schema that ``corpus_schema`` returned, or one known to
    equal inference: Spark does not check a declared schema against the
    file."""
    prepare(spark)
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    multiline: bool = False,
) -> DataFrame:
    """JSON scan with explicit schema (S1/S2).

    ``multiline=True`` covers the reference's one-object-per-file song layout
    (reference etl.py:37); default JSON-lines covers its log layout
    (reference etl.py:78).
    """
    prepare(spark)
    reader = spark.read.schema(schema)
    if multiline:
        reader = reader.option("multiLine", "true")
    return reader.json(path)


def normalize_events(df: DataFrame) -> DataFrame:
    """Normalize the events table's nanosecond epoch to a usable timestamp.

    The driver corpus stores ``events.ts`` as parquet TIMESTAMP(NANOS); we
    read it as epoch-nanos long (session conf) and derive:

    - ``ts``     timestamp_ntz at microsecond precision (truncated, matching
                 DuckDB's ns→µs cast) — the engine's working event time.
    - ``ts_ns``  the original epoch nanos, preserved losslessly.

    Mirrors the reference's epoch-to-timestamp convention (epoch millis ÷
    1000 → timestamp, reference etl.py:92) at nanosecond granularity.
    """
    if dict(df.dtypes).get("ts") != "bigint":
        # Timestamp-typed corpus (µs precision): derive epoch-nanos so the
        # ts_ns-consuming operators see the same column either way. Session
        # TZ is pinned UTC (session.RUNTIME_CONFS), so the ntz→ltz cast is
        # the identity mapping and unix_micros is deterministic.
        return df.withColumn(
            "ts_ns",
            F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000),
        )
    return df.withColumn("ts_ns", F.col("ts")).withColumn(
        "ts",
        F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-corpus table, normalizing event time if applicable.

    Read under the declared schema when the footer rule of
    ``corpus_schema`` admits it (a local file whose footer infers to
    exactly that schema), else with inference; both give the same schema
    and rows."""
    path = table_path(sf_dir, name)
    df = read_parquet(spark, path, corpus_schema(path, name))
    if name == "events":
        df = normalize_events(df)
    return df
