"""Corpus reads under footer-checked declared schemas, and prepare().

``sources.readers.load_table`` reads a table under its declared schema
only when ``corpus_schema`` finds, from the parquet footer, that the
declared schema is exactly what ``spark.read.parquet`` would infer. The
ground truth here is that inferred read: every table of the smoke
corpus, and every adversarial file below, must give the same schema and
the same row multiset either way.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from projectdatalake_spark import schemas, session
from projectdatalake_spark.sources.readers import (
    corpus_schema,
    load_table,
    normalize_events,
    table_path,
)


def _inferred(spark, sf_dir, name):
    """The pre-footer-rule read: inference, then the events normalizer."""
    df = spark.read.parquet(table_path(sf_dir, name))
    return normalize_events(df) if name == "events" else df


def _assert_same(got, want):
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


@pytest.mark.parametrize("name", sorted(schemas.TESTDATA_SCHEMAS))
def test_declared_read_equals_inferred(spark, sf_dir, name):
    path = table_path(sf_dir, name)
    declared = corpus_schema(path, name)
    assert declared is not None, f"{name}: the smoke corpus should take the declared path"
    assert spark.read.schema(declared).parquet(path).schema == spark.read.parquet(path).schema
    _assert_same(load_table(spark, sf_dir, name), _inferred(spark, sf_dir, name))


def _variant(src_dir, dst_dir, name, edit, **write_kw):
    """One-table corpus: ``name`` read from ``src_dir``, passed through
    ``edit``, written as ``<dst_dir>/<name>.parquet``."""
    os.makedirs(dst_dir, exist_ok=True)
    table = edit(pq.read_table(table_path(src_dir, name)))
    pq.write_table(table, table_path(dst_dir, name), **write_kw)
    return dst_dir


def _set(table, col, array):
    return table.set_column(table.schema.get_field_index(col), col, array)


def _cast(col, typ):
    return lambda t: _set(t, col, t[col].cast(typ))


# name → (table, edit, pyarrow write options, the schema the rule must pick)
ADVERSARIAL = {
    "events_nanos": (
        "events", _cast("ts", pa.timestamp("ns")), {}, schemas.EVENTS_RAW,
    ),
    "events_micros": ("events", lambda t: t, {}, schemas.EVENTS_RAW_TS),
    "events_int96": (
        "events", lambda t: t, {"use_deprecated_int96_timestamps": True}, None,
    ),
    "events_utc_adjusted": (
        "events", _cast("ts", pa.timestamp("us", tz="UTC")), {}, None,
    ),
    "orders_utc_adjusted": (
        "orders", _cast("o_orderdate", pa.timestamp("us", tz="UTC")), {}, None,
    ),
    "nation_int64_key": ("nation", _cast("n_nationkey", pa.int64()), {}, None),
    "customer_missing_column": (
        "customer", lambda t: t.drop_columns(["c_mktsegment"]), {}, None,
    ),
    "part_extra_column": (
        "part",
        lambda t: t.append_column("p_comment", t["p_name"]),
        {},
        None,
    ),
    "region_reordered": (
        "region", lambda t: t.select(["r_name", "r_regionkey"]), {}, None,
    ),
    "embeddings_float64": (
        "embeddings", _cast("embedding", pa.list_(pa.float64())), {}, None,
    ),
}


@pytest.mark.parametrize("case", sorted(ADVERSARIAL))
def test_adversarial_file_takes_inferred_path_or_reads_identically(
    spark, sf_dir, tmp_path, case
):
    name, edit, write_kw, want = ADVERSARIAL[case]
    d = _variant(sf_dir, str(tmp_path), name, edit, **write_kw)
    path = table_path(d, name)
    picked = corpus_schema(path, name)
    assert picked is want
    if picked is not None:
        assert spark.read.schema(picked).parquet(path).schema == spark.read.parquet(path).schema
    _assert_same(load_table(spark, d, name), _inferred(spark, d, name))


def test_corpus_schema_falls_back(sf_dir, tmp_path):
    path = table_path(sf_dir, "orders")
    assert corpus_schema(path, "orders") is schemas.ORDERS
    assert corpus_schema("file:" + path, "orders") is schemas.ORDERS
    # non-local roots keep the Hadoop path: nothing is opened locally
    assert corpus_schema("hdfs://nn:8020/corpus/orders.parquet", "orders") is None
    assert corpus_schema("s3a://bucket/corpus/orders.parquet", "orders") is None
    assert corpus_schema(path, "no_such_table") is None
    assert corpus_schema(str(tmp_path / "orders.parquet"), "orders") is None
    os.makedirs(tmp_path / "dir.parquet")
    assert corpus_schema(str(tmp_path / "dir.parquet"), "orders") is None
    (tmp_path / "junk.parquet").write_bytes(b"not parquet")
    assert corpus_schema(str(tmp_path / "junk.parquet"), "orders") is None


def test_events_stream_uses_footer_rule(spark, sf_dir, tmp_path, monkeypatch):
    """The streaming reader takes its schema from the footer rule and
    probes ts with an inferred batch read only when the rule gives
    None."""
    from projectdatalake_spark.streaming import events as ev

    batch_reads = []
    orig = type(spark.read).parquet

    def counting(self, *paths, **kw):
        batch_reads.append(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(type(spark.read), "parquet", counting)
    micros = ev.read_events_stream(spark, sf_dir)
    d = _variant(sf_dir, str(tmp_path / "ns"), "events", _cast("ts", pa.timestamp("ns")))
    nanos = ev.read_events_stream(spark, d)
    assert batch_reads == []
    d = _variant(
        sf_dir, str(tmp_path / "int96"), "events", lambda t: t,
        use_deprecated_int96_timestamps=True,
    )
    int96 = ev.read_events_stream(spark, d)
    assert len(batch_reads) == 1
    for df in (micros, nanos, int96):
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert dict(df.dtypes)["ts_ns"] == "bigint"


# --- prepare() ---------------------------------------------------------------


def _count_py4j(spark, fn, reps):
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting(*args, **kwargs):
        calls[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        for _ in range(reps):
            fn()
    finally:
        client.send_command = send
    return calls[0] / reps


def test_prepare_sets_runtime_confs_only(spark, monkeypatch):
    keys = []
    orig_set = spark.conf.set

    def recording_set(key, value):
        keys.append(key)
        return orig_set(key, value)

    monkeypatch.setattr(spark.conf, "set", recording_set)
    session.prepare(spark)
    assert keys, "prepare set no conf"
    assert not set(keys) & set(session.STATIC_CONFS)
    assert set(keys) <= set(session.RUNTIME_CONFS) | {"spark.sql.shuffle.partitions"}
    for key, value in session.RUNTIME_CONFS.items():
        assert spark.conf.get(key) == value, key


def test_prepare_py4j_calls_bounded(spark):
    session.prepare(spark)
    assert _count_py4j(spark, lambda: session.prepare(spark), reps=5) <= 10


def test_prepare_syncs_debugging_cache(spark, monkeypatch):
    from pyspark.errors import utils as errors_utils

    # the builder set the static conf off; a cache primed True elsewhere
    # is synced to it
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    monkeypatch.setattr(errors_utils, "_enable_debugging_cache", True)
    session.prepare(spark)
    assert errors_utils._enable_debugging_cache is False
    # a session that runs with debugging on is left alone
    monkeypatch.setattr(errors_utils, "_enable_debugging_cache", True)
    orig_get = spark.conf.get

    def debugging_on(key, *args):
        if key == "spark.python.sql.dataFrameDebugging.enabled":
            return "true"
        return orig_get(key, *args)

    monkeypatch.setattr(spark.conf, "get", debugging_on)
    session.prepare(spark)
    assert errors_utils._enable_debugging_cache is True
