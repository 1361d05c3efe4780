"""Explicit source schemas.

The reference infers every schema (``spark.read.json`` with no schema,
reference etl.py:43, etl.py:87). Inference is a full extra pass over JSON and
nondeterministic under sampling at scale, so this engine declares schemas for
every source (SURVEY.md §1.4), and the JSON and streaming readers read under
them.

Parquet corpus tables (``TESTDATA_SCHEMAS``; ``events`` has two variants)
are read under these schemas only when the file's footer proves them
exact: ``sources.readers.corpus_schema`` maps the footer to the schema
Spark's own inference would give and returns the declared entry only on an
exact match of column names, order and types. Spark does not check a
declared schema against a parquet file — a µs ``events.ts`` read as bigint
returns epoch micros, a missing column reads as nulls — so on any mismatch,
and on non-local roots (``hdfs://``, ``s3a://``), the table is read with
inference instead.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- driver corpus (/root/testdata/sf*/; see FIXTURES.md Part A) -----------

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampNTZType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampNTZType()),
    ]
)

# events.ts arrives either as parquet TIMESTAMP(NANOS) — read as epoch-nanos
# long via spark.sql.legacy.parquet.nanosAsLong — or (current corpus) as
# TIMESTAMP(MICROS). The readers normalize both to the same working columns
# (ts timestamp + ts_ns epoch-nanos); the footer rule picks which of the two
# a file is read under, batch and streaming alike (readStream cannot infer).
EVENTS_RAW = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

EVENTS_RAW_TS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS_RAW,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

# --- reference-shaped sources (FIXTURES.md Part B) -------------------------
# Field lists derived from usage in reference etl.py:46, 56-60 (songs) and
# etl.py:91-92, 96-101, 152-163 (logs).

SONG_DATA = T.StructType(
    [
        T.StructField("song_id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("artist_id", T.StringType()),
        T.StructField("year", T.LongType()),
        T.StructField("duration", T.DoubleType()),
        T.StructField("artist_name", T.StringType()),
        T.StructField("artist_location", T.StringType()),
        T.StructField("artist_latitude", T.DoubleType()),
        T.StructField("artist_longitude", T.DoubleType()),
    ]
)

LOG_DATA = T.StructType(
    [
        T.StructField("page", T.StringType()),
        T.StructField("ts", T.LongType()),  # epoch millis (reference etl.py:92)
        T.StructField("userId", T.StringType()),
        T.StructField("firstName", T.StringType()),
        T.StructField("lastName", T.StringType()),
        T.StructField("gender", T.StringType()),
        T.StructField("level", T.StringType()),
        T.StructField("song", T.StringType()),
        T.StructField("artist", T.StringType()),
        T.StructField("sessionId", T.LongType()),
        T.StructField("location", T.StringType()),
        T.StructField("userAgent", T.StringType()),
    ]
)
