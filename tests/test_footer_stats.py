"""Footer-stats exactness gates (OPTIMIZATION r13 lever #1).

The per-commit stats re-read was replaced by parquet-footer-derived
stats (sources/footer_stats.py). These tests pin the exactness contract
on ADVERSARIAL data written through the real table writers: NaN / ±Inf /
-0.0 doubles, all-NaN and all-null columns, >64-byte and unicode strings
(truncation probe), timestamps (ntz AND INT96 ltz — the fallback path),
dates, decimals (INT32/FLBA physicals), shorts, booleans, empty tables,
and the distributed (>32 files) branch.

Ground truth is the Spark grouped aggregate of the staged-file step
(``footer_stats.staged_files`` with footers unreadable, so every stat
comes from the aggregate) — each test recomputes it over every column
and asserts the attached stats are IDENTICAL.
"""

from __future__ import annotations

import datetime
import decimal
import math

import pytest
from pyspark.sql import Row, functions as F, types as T

from projectdatalake_spark.sources import footer_stats as FS


ADVERSARIAL_ROWS = [
    Row(k=1, dbl=1.5, s="alpha", tsn=datetime.datetime(2020, 1, 2, 3, 4, 5, 123456),
        dt=datetime.date(2020, 1, 2), dec=decimal.Decimal("123.45"),
        bigdec=decimal.Decimal("12345678901234567890.123"), b=True, i16=3,
        allnan=float("nan"), allnull=None),
    Row(k=2, dbl=float("nan"), s="b" * 63, tsn=datetime.datetime(2021, 6, 7),
        dt=datetime.date(2021, 6, 7), dec=decimal.Decimal("-0.01"),
        bigdec=decimal.Decimal("-99999999999999999999.999"), b=False, i16=-32768,
        allnan=float("nan"), allnull=None),
    Row(k=3, dbl=float("inf"), s="c" * 65, tsn=None, dt=None, dec=None,
        bigdec=None, b=None, i16=None, allnan=float("nan"), allnull=None),
    Row(k=4, dbl=-0.0, s="é≠☃ unicode" + "x" * 200,
        tsn=datetime.datetime(1969, 12, 31, 23, 59, 59),
        dt=datetime.date(1969, 12, 31), dec=decimal.Decimal("99999.99"),
        bigdec=decimal.Decimal("0.001"), b=True, i16=32767,
        allnan=float("nan"), allnull=None),
    Row(k=5, dbl=0.0, s="z" * 3000, tsn=datetime.datetime(2030, 12, 31),
        dt=datetime.date(2000, 2, 29), dec=decimal.Decimal("0.00"),
        bigdec=decimal.Decimal("-0.001"), b=False, i16=0,
        allnan=float("nan"), allnull=None),
]

SCHEMA = T.StructType([
    T.StructField("k", T.IntegerType()),
    T.StructField("dbl", T.DoubleType()),
    T.StructField("s", T.StringType()),
    T.StructField("tsn", T.TimestampNTZType()),
    T.StructField("dt", T.DateType()),
    T.StructField("dec", T.DecimalType(7, 2)),
    T.StructField("bigdec", T.DecimalType(23, 3)),
    T.StructField("b", T.BooleanType()),
    T.StructField("i16", T.ShortType()),
    T.StructField("allnan", T.DoubleType()),
    T.StructField("allnull", T.DoubleType()),
])


def _normf(v):
    """NaN-aware, bitwise-strict comparison form: floats to repr (nan ==
    nan for equality purposes, -0.0 distinguished from 0.0)."""
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, dict):
        return {k: _normf(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_normf(x) for x in v]
    return v


def _all_from_spark(monkeypatch, fn, *args):
    """``fn(*args)`` with every footer unreadable: the staged-file step
    then derives every stat with its one Spark aggregate."""
    with monkeypatch.context() as m:
        m.setattr(FS, "footers_readable", lambda root: False)
        return fn(*args)


def _adversarial_df(spark, n_copies: int = 1):
    rows = [
        Row(**{**r.asDict(), "k": r.k + 10 * i})
        for i in range(n_copies)
        for r in ADVERSARIAL_ROWS
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_txlog_footer_stats_match_spark_agg(spark, tmp_path, monkeypatch):
    from projectdatalake_spark.sources.txlog import TxTable, _stats_value

    df = _adversarial_df(spark).withColumn("part", F.col("k") % 2)
    t = TxTable.create(
        spark, str(tmp_path / "t"), df, partition_by=("part",)
    )
    adds = t.history()[0]["adds"]
    assert adds, "txlog write produced no adds"
    # ground truth: the staged-file step's Spark aggregate over ALL columns
    cols = [f.name for f in df.schema.fields if f.name != "part"]
    dict_types = {"string", "integer", "long", "short", "byte", "boolean"}
    dict_cols = [
        f.name for f in df.schema.fields
        if f.name in cols and f.dataType.typeName() in dict_types
    ]
    from projectdatalake_spark.sources import atomic as _atomic

    files = _all_from_spark(
        monkeypatch, FS.staged_files, spark, t.root, cols, dict_cols
    )
    nrec = {_atomic.path_only(f["path"]): f["nrec"] for f in files}
    by_path = {
        _atomic.path_only(f["path"]): {
            c: {"min": _stats_value(f["min"][c]), "max": _stats_value(f["max"][c])}
            for c in cols
            if c in f["min"]
        }
        for f in files
    }
    dicts = {
        _atomic.path_only(f["path"]): {
            c: [_stats_value(v) for v in vals]
            for c, vals in f["dict"].items()
            if vals
        }
        for f in files
    }

    for a in adds:
        p = _atomic.strip_file_scheme(t._data_path(a))
        assert a.get("numRecords") == nrec[p]
        want_stats = {c: v for c, v in by_path[p].items()}
        got_stats = a.get("stats") or {}
        assert _normf(got_stats) == _normf(want_stats), (
            p, got_stats, want_stats,
        )
        want_dicts = {
            c: v for c, v in dicts[p].items()
        }
        got_dicts = a.get("dict") or {}
        assert got_dicts == want_dicts, (p, got_dicts, want_dicts)


def test_delta_footer_stats_match_spark_agg(spark, tmp_path, monkeypatch):
    import json

    from projectdatalake_spark.sources.delta_interop import (
        DeltaTable,
        _SIMPLE_TYPES,
        _stats_scalar,
    )

    # delta's simple-type set excludes decimals; add an ltz timestamp to
    # force the INT96 fallback branch
    df = (
        _adversarial_df(spark)
        .drop("dec", "bigdec")
        .withColumn("tlz", F.col("tsn").cast("timestamp"))
        .withColumn("part", F.col("k") % 2)
    )
    t = DeltaTable.create(
        spark, str(tmp_path / "d"), df, partition_by=("part",)
    )
    log0 = tmp_path / "d" / "_delta_log" / f"{0:020d}.json"
    adds = [
        a["add"]
        for a in map(json.loads, log0.read_text().splitlines())
        if "add" in a
    ]
    assert adds
    cols = [
        f.name for f in df.schema.fields
        if f.name != "part" and f.dataType.typeName() in _SIMPLE_TYPES
    ]
    from projectdatalake_spark.sources import atomic as _atomic

    files = _all_from_spark(monkeypatch, FS.staged_files, spark, t.root, cols)
    nrec = {_atomic.path_only(f["path"]): f["nrec"] for f in files}
    by_path = {
        _atomic.path_only(f["path"]): {
            c: (f["min"].get(c), f["max"].get(c), f["nulls"][c]) for c in cols
        }
        for f in files
    }
    for a in adds:
        p = _atomic.strip_file_scheme(t._abs_data_path(a["path"]))
        want = {
            "numRecords": None,  # filled below
            "minValues": {},
            "maxValues": {},
            "nullCount": {},
        }
        got = json.loads(a["stats"])
        want["numRecords"] = nrec[p]
        for c in cols:
            mn, mx, nulls = by_path[p][c]
            if mn is not None:
                want["minValues"][c] = _stats_scalar(mn)
            if mx is not None:
                want["maxValues"][c] = _stats_scalar(mx)
            want["nullCount"][c] = nulls
        assert _normf(got) == _normf(want), (p, got, want)
        # stats are serialized JSON: key ORDER must also match the old
        # read-back aggregate (schema order), not just the values
        assert list(got["minValues"]) == list(want["minValues"])
        assert list(got["nullCount"]) == list(want["nullCount"])
    n_total = sum(json.loads(a["stats"])["numRecords"] for a in adds)
    assert n_total == df.count()


def test_iceberg_footer_bounds_match_sql_minmax(spark, tmp_path):
    from projectdatalake_spark.sources.iceberg_interop import IcebergTable

    df = _adversarial_df(spark).drop("bigdec").coalesce(1)
    t = IcebergTable.create(spark, str(tmp_path / "i"), df)
    metrics = t.inspect("metrics")
    rows = {
        r["column"]: (r["lower"], r["upper"]) for r in metrics.collect()
    }
    # decoded manifest bounds must equal SQL min/max over the data
    # (metrics decodes int/long/float/double/string/bool/decimal types;
    # bool/date/timestamp parity is covered by the byte-equality test
    # below — Python str(True) vs SQL 'true' differ only in casing)
    for col in ("k", "s", "dec", "i16", "dbl"):
        lo, hi = rows[col]
        truth = df.agg(
            F.min(col).cast("string"), F.max(col).cast("string")
        ).collect()[0]
        # case-insensitive: Python repr vs SQL string casing ('nan' vs
        # 'NaN') — numeric identity is what matters here, byte identity
        # is pinned by the fallback-parity test below
        assert str(lo).lower() == truth[0].lower(), (col, lo, truth[0])
        assert str(hi).lower() == truth[1].lower(), (col, hi, truth[1])


def _iceberg_bounds(t):
    """Raw manifest lower/upper bound bytes and record count per file."""
    import json

    entries, _ = t._entries_for_snapshot(t.metadata(), None)
    out = []
    for e in entries:
        d = e["data_file"]
        out.append(
            (
                json.dumps(
                    {kv["key"]: kv["value"].hex() if isinstance(kv["value"], (bytes, bytearray)) else kv["value"]
                     for kv in (d.get("lower_bounds") or [])},
                    sort_keys=True,
                ),
                json.dumps(
                    {kv["key"]: kv["value"].hex() if isinstance(kv["value"], (bytes, bytearray)) else kv["value"]
                     for kv in (d.get("upper_bounds") or [])},
                    sort_keys=True,
                ),
                d["record_count"],
            )
        )
    return sorted(out)


def test_iceberg_footer_bounds_byte_equal_spark_fallback(
    spark, tmp_path, monkeypatch
):
    """END-TO-END byte parity for EVERY bound type (incl. date and
    timestamp_ntz, which the metrics view does not decode): create the
    same table twice — once on the footer path, once with every column
    forced through the original Spark aggregate — and compare the raw
    manifest lower/upper bound bytes."""
    from projectdatalake_spark.sources.iceberg_interop import IcebergTable

    df = _adversarial_df(spark).coalesce(1)

    fast = IcebergTable.create(spark, str(tmp_path / "fast"), df)
    orig = FS.footer_file_stats

    def all_untrusted(spark_arg, paths, want_cols, **kw):
        res = orig(spark_arg, paths, want_cols=want_cols, **kw)
        for st in res.values():
            st["untrusted"] = list(want_cols or [])
            st["min"], st["max"] = {}, {}
        return res

    monkeypatch.setattr(FS, "footer_file_stats", all_untrusted)
    slow = IcebergTable.create(spark, str(tmp_path / "slow"), df)
    assert _iceberg_bounds(fast) == _iceberg_bounds(slow)


def test_footer_stats_empty_table_attaches_nothing(spark, tmp_path):
    from projectdatalake_spark.sources.txlog import TxTable

    t = TxTable.create(
        spark, str(tmp_path / "e"), spark.createDataFrame([], SCHEMA)
    )
    adds = t.history()[0]["adds"]
    for a in adds:
        assert "stats" not in a and "numRecords" not in a


def test_footer_stats_distributed_branch_matches_driver(spark, tmp_path):
    # force the >32-file branch and assert byte-identical results
    df = _adversarial_df(spark, n_copies=16).repartition(64)
    out = str(tmp_path / "many")
    df.write.parquet(out)
    import os

    paths = sorted(
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
    )
    assert len(paths) > FS._DRIVER_MAX_FILES
    want_cols = ["k", "dbl", "s", "dec"]
    driver = {
        p: FS._one_file_stats(p, want_cols, ("s",), True) for p in paths
    }
    dist = FS.footer_file_stats(
        spark, paths, want_cols=want_cols, dict_cols=("s",), with_nulls=True
    )
    def norm(d):
        return {
            p: (
                st["nrec"],
                {c: repr(v) for c, v in st["min"].items()},
                {c: repr(v) for c, v in st["max"].items()},
                st["nulls"], st["dict"], sorted(st["untrusted"]),
            )
            for p, st in d.items()
        }
    assert norm(driver) == norm(dist)


# --- footer semantics of the shipped writer/reader pair ------------------

PROBE_ROWS = [
    Row(id=1, dbl=1.5, flt=2.5, s="alpha",
        ts=datetime.datetime(2020, 1, 2, 3, 4, 5, 123456),
        dt=datetime.date(2020, 1, 2), dec=decimal.Decimal("123.45"), b=True,
        i16=3, i64=-7),
    Row(id=2, dbl=float("nan"), flt=float("nan"), s="b" * 63,
        ts=datetime.datetime(2021, 6, 7), dt=datetime.date(2021, 6, 7),
        dec=decimal.Decimal("-0.01"), b=False, i16=-32768, i64=2**62),
    Row(id=3, dbl=float("inf"), flt=float("-inf"), s="c" * 64, ts=None,
        dt=None, dec=None, b=None, i16=None, i64=None),
    Row(id=4, dbl=-0.0, flt=0.0, s="d" * 65,
        ts=datetime.datetime(1969, 12, 31, 23, 59, 59),
        dt=datetime.date(1969, 12, 31), dec=decimal.Decimal("99999.99"),
        b=True, i16=32767, i64=-(2**62)),
    Row(id=5, dbl=None, flt=None, s="é≠☃ unicode" + "x" * 100,
        ts=datetime.datetime(2030, 12, 31), dt=datetime.date(2030, 12, 31),
        dec=decimal.Decimal("0.00"), b=False, i16=0, i64=0),
    Row(id=6, dbl=3.25, flt=-1.25, s="z" * 3000,
        ts=datetime.datetime(2020, 1, 2, 3, 4, 5),
        dt=datetime.date(2000, 2, 29), dec=decimal.Decimal("-99999.99"),
        b=True, i16=1, i64=1),
]

PROBE_SCHEMA = (
    "id int, dbl double, flt float, s string, ts timestamp, dt date, "
    "dec decimal(7,2), b boolean, i16 short, i64 long"
)


def test_footer_semantics_probe(spark, tmp_path):
    """The raw footers Spark's own parquet writer leaves, read by pyarrow,
    still mean what ``footer_stats`` assumes: string stats untruncated,
    Java float order (NaN poisons max), INT96 ltz timestamps without
    stats, all-null columns without bounds. Every column footer_stats
    trusts must equal the Spark aggregate; a writer or pyarrow upgrade
    that changes footer semantics fails here, not in a skipped file."""
    import os

    import pyarrow.parquet as pq

    df = spark.createDataFrame(PROBE_ROWS, PROBE_SCHEMA).withColumn(
        "tsn", F.col("ts").cast("timestamp_ntz")
    )
    dirs = {
        "mixed": (df, str(tmp_path / "mixed")),
        "allnan": (
            spark.createDataFrame([(1, float("nan")), (2, float("nan"))],
                                  "id int, dbl double"),
            str(tmp_path / "allnan"),
        ),
        "allnull": (
            spark.createDataFrame([(1, None), (2, None)], "id int, dbl double"),
            str(tmp_path / "allnull"),
        ),
    }
    raw = {}
    for name, (frame, out) in dirs.items():
        frame.coalesce(1).write.mode("overwrite").parquet(out)
        (fname,) = [f for f in os.listdir(out) if f.endswith(".parquet")]
        path = os.path.join(out, fname)
        sdf = spark.read.parquet(out)
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in sdf.columns:
            aggs += [
                F.min(c).alias(f"min__{c}"),
                F.max(c).alias(f"max__{c}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"nulls__{c}"),
            ]
        want = sdf.agg(*aggs).first().asDict()
        got = FS._one_file_stats(path, None, (), with_nulls=True)
        md = pq.ParquetFile(path).metadata
        assert md.created_by.startswith("parquet-mr"), md.created_by
        assert got["nrec"] == want["__n"] == md.num_rows
        for c in sdf.columns:
            if c in got["untrusted"]:
                continue
            assert _normf(got["min"].get(c)) == _normf(want[f"min__{c}"]), (name, c)
            assert _normf(got["max"].get(c)) == _normf(want[f"max__{c}"]), (name, c)
            assert got["nulls"][c] == want[f"nulls__{c}"], (name, c)
        raw[name] = (md, got)

    md, got = raw["mixed"]
    # INT96 ltz timestamps carry no footer stats: always the fallback
    assert got["untrusted"] == ["ts"]
    cols = {md.row_group(0).column(i).path_in_schema: md.row_group(0).column(i)
            for i in range(md.row_group(0).num_columns)}
    assert cols["ts"].physical_type == "INT96"
    assert cols["tsn"].physical_type == "INT64"
    # strings compare bytewise (é after z) and their stats are untruncated
    assert cols["s"].statistics.max == "é≠☃ unicode" + "x" * 100
    # NaN sorts above +Inf, -0.0 below +0.0 (Java order)
    assert math.isnan(cols["dbl"].statistics.max)
    assert math.isnan(got["max"]["flt"]) and got["min"]["flt"] == float("-inf")
    assert repr(got["min"]["dbl"]) == "-0.0"
    assert got["min"]["dec"] == decimal.Decimal("-99999.99")
    # all-NaN: NaN bounds; all-null: no bounds, full null count
    _md, nan_stats = raw["allnan"]
    assert math.isnan(nan_stats["min"]["dbl"]) and math.isnan(nan_stats["max"]["dbl"])
    md_null, null_stats = raw["allnull"]
    st = md_null.row_group(0).column(1).statistics
    assert not st.has_min_max and st.null_count == md_null.num_rows
    assert "dbl" not in null_stats["min"] and null_stats["nulls"]["dbl"] == 2


def test_delta_stats_columns_come_from_the_table_schema(spark, tmp_path):
    """The stats column list is the table schema's, not the first add
    file's: with the narrower file listed first, a column only the later
    file carries still gets min, max and null count there (and so can
    skip it)."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from projectdatalake_spark.sources.delta_interop import (
        DeltaTable,
        convert_parquet_to_delta,
    )

    root = tmp_path / "conv"
    root.mkdir()
    pq.write_table(pa.table({"id": [1, 2], "a": [1.0, 2.0]}), root / "part-0.parquet")
    pq.write_table(
        pa.table({"id": [3, 4, 5], "a": [3.0, None, 5.0], "b": [10, None, 30]}),
        root / "part-1.parquet",
    )
    schema = StructType([
        StructField("id", LongType()),
        StructField("a", DoubleType()),
        StructField("b", LongType()),
    ])
    t = convert_parquet_to_delta(spark, str(root), schema)
    stats = {
        a["path"]: json.loads(a["stats"])
        for a in DeltaTable(spark, str(root))._state()["adds"].values()
    }
    wide = stats["part-1.parquet"]
    assert wide["minValues"]["b"] == 10 and wide["maxValues"]["b"] == 30
    assert wide["nullCount"] == {"id": 0, "a": 1, "b": 1}
    assert stats["part-0.parquet"]["nullCount"] == {"id": 0, "a": 0, "b": 2}
    assert sorted(r.id for r in t.snapshot().filter("b > 20").collect()) == [5]


def test_delta_convert_absent_column_counts_all_nulls(spark, tmp_path):
    """A file that lacks a table column reads it as all null, so its
    Delta nullCount is its record count, never 0 (a 0 would let an
    ``IS NULL`` predicate skip the file)."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from projectdatalake_spark.sources.delta_interop import (
        DeltaTable,
        convert_parquet_to_delta,
    )

    root = tmp_path / "conv"
    root.mkdir()
    pq.write_table(
        pa.table({"id": [1, 2, 3], "a": [1.0, 2.0, None], "b": [10, None, 30]}),
        root / "part-0.parquet",
    )
    pq.write_table(
        pa.table({"id": [4, 5], "a": [4.0, 5.0]}), root / "part-1.parquet"
    )
    schema = StructType([
        StructField("id", LongType()),
        StructField("a", DoubleType()),
        StructField("b", LongType()),
    ])
    t = convert_parquet_to_delta(spark, str(root), schema)
    stats = {
        a["path"]: json.loads(a["stats"])
        for a in DeltaTable(spark, str(root))._state()["adds"].values()
    }
    assert stats["part-0.parquet"]["nullCount"] == {"id": 0, "a": 1, "b": 1}
    narrow = stats["part-1.parquet"]
    assert narrow["numRecords"] == 2
    assert narrow["nullCount"] == {"id": 0, "a": 0, "b": 2}
    assert "b" not in narrow["minValues"]
    assert sorted(
        r.id for r in t.snapshot().filter("b IS NULL").collect()
    ) == [2, 4, 5]


def test_float_merge_key_total_order():
    # the cross-row-group merge comparator must replicate Java ordering
    vals = [float("nan"), float("inf"), float("-inf"), -0.0, 0.0, 1.5, -1e300]
    s = sorted(vals, key=FS._float_key)
    assert math.isnan(s[-1])
    assert s[0] == float("-inf")
    assert repr(min([-0.0, 0.0], key=FS._float_key)) == "-0.0"
    assert repr(max([-0.0, 0.0], key=FS._float_key)) == "0.0"


def test_decimal_raw_decode():
    assert FS._decode_decimal(-9999999, 2) == decimal.Decimal("-99999.99")
    assert FS._decode_decimal(
        (-12345).to_bytes(3, "big", signed=True), 3
    ) == decimal.Decimal("-12.345")
    assert FS._decode_decimal(None, 2) is None


# --- non-local roots: the footer path is gated off ---------------------------


def test_footers_readable_gate():
    assert FS.footers_readable("/warehouse/t")
    assert FS.footers_readable("file:/warehouse/t")
    assert FS.footers_readable("file:///warehouse/t")
    assert not FS.footers_readable("hdfs://nn:8020/warehouse/t")
    assert not FS.footers_readable("s3a://bucket/warehouse/t")
    # the driver loop and the parallelize branch alike refuse before
    # opening anything
    for n in (1, FS._DRIVER_MAX_FILES + 1):
        paths = [f"hdfs://nn:8020/t/part-{i}.parquet" for i in range(n)]
        with pytest.raises(ValueError, match="local files only"):
            FS.footer_file_stats(None, paths, want_cols=None)


def _remote_root(monkeypatch):
    """Make every root look non-local, and fail any footer read."""

    def no_footers(*args, **kwargs):
        raise AssertionError("footer read on a non-local root")

    monkeypatch.setattr(FS, "footers_readable", lambda root: False)
    monkeypatch.setattr(FS, "footer_file_stats", no_footers)


def test_txlog_non_local_root_takes_spark_stats(spark, tmp_path, monkeypatch):
    import copy

    from projectdatalake_spark.sources.txlog import TxTable

    df = _adversarial_df(spark).withColumn("part", F.col("k") % 2)
    t = TxTable.create(
        spark, str(tmp_path / "t"), df, partition_by=("part",), bloom_by=("s",)
    )
    want = t.history()[0]["adds"]
    assert all("numRecords" in a and "dict" in a and "bloom" in a for a in want)
    got = copy.deepcopy(want)
    for a in got:
        for key in ("numRecords", "stats", "dict", "bloom"):
            a.pop(key, None)
    _remote_root(monkeypatch)
    encoded = {
        f["rel"]: f["encoded"]
        for f in t._staged_files(t.root, ("part",), df.schema)
    }
    for a in got:
        a.update(encoded[a["path"]])
    assert _normf(got) == _normf(want)


def test_delta_non_local_root_takes_spark_stats(spark, tmp_path, monkeypatch):
    import copy
    import json

    from projectdatalake_spark.sources.delta_interop import DeltaTable, _quote_path

    df = (
        _adversarial_df(spark)
        .drop("dec", "bigdec")
        .withColumn("tlz", F.col("tsn").cast("timestamp"))
        .withColumn("part", F.col("k") % 2)
    )
    t = DeltaTable.create(spark, str(tmp_path / "d"), df, partition_by=("part",))
    log0 = tmp_path / "d" / "_delta_log" / f"{0:020d}.json"
    want = [
        a["add"] for a in map(json.loads, log0.read_text().splitlines()) if "add" in a
    ]
    got = copy.deepcopy(want)
    for a in got:
        a.pop("stats")
    _remote_root(monkeypatch)
    encoded = {
        _quote_path(f["rel"]): f["encoded"]
        for f in t._staged_files(t.root, ("part",), df.schema)
    }
    for a in got:
        a["stats"] = encoded[a["path"]]["stats"]
    assert [a["stats"] for a in got] == [a["stats"] for a in want]


def test_iceberg_non_local_root_takes_spark_stats(spark, tmp_path, monkeypatch):
    from projectdatalake_spark.sources.iceberg_interop import IcebergTable

    df = _adversarial_df(spark).repartition(3)
    fast = IcebergTable.create(spark, str(tmp_path / "fast"), df)
    _remote_root(monkeypatch)
    slow = IcebergTable.create(spark, str(tmp_path / "slow"), df)
    assert _iceberg_bounds(fast) == _iceberg_bounds(slow)
    assert sum(n for _lo, _hi, n in _iceberg_bounds(slow)) == df.count()


# --- the staged-file step: one rule for the three formats ----------------

EQUIV_SCHEMA = (
    "i int, s string, cat string, d double, dec decimal(9,2), ts timestamp, "
    "tsn timestamp_ntz, b long, k string"
)


def _equiv_df(spark):
    """ints, strings, a low-cardinality (dictionary) column, doubles with
    NaN and -0.0, decimals, INT96 timestamps, timestamp_ntz, nulls in
    every column, a bloom column ``b`` and a partition column ``k`` whose
    values need hive escaping (``50%``, ``a=b``) or the null marker."""
    ks = ["50%", "a=b", None]
    dbls = [1.5, float("nan"), -0.0, None, 0.0, -2.25]
    rows = []
    for n in range(18):
        rows.append((
            None if n == 4 else n,
            None if n % 5 == 0 else f"s{n:02d}",
            ["x", "y", None][n % 3],
            dbls[n % len(dbls)],
            None if n == 7 else decimal.Decimal(n * 101) / 100 - 5,
            None if n == 9 else datetime.datetime(2021, 1, 1 + n, 3, 4, 5),
            None if n == 10 else datetime.datetime(1999, 12, 1 + n, 0, 0, n),
            n * 7919 if n != 12 else None,
            ks[n % 3],
        ))
    return spark.createDataFrame(rows, EQUIV_SCHEMA).repartition(2)


@pytest.fixture(params=["local", "hadoop"])
def lake_branch(request, monkeypatch):
    """Both ``is_local_path`` branches: footer stats on a local root, and
    a root forced non-local (Hadoop listing, every stat from Spark)."""
    from projectdatalake_spark.sources import atomic

    if request.param == "hadoop":
        monkeypatch.setattr(atomic, "is_local_path", lambda p: False)
    return request.param


@pytest.mark.parametrize("partition_by", [("k",), ()], ids=["hive", "flat"])
def test_delta_entries_equal_full_spark_aggregate(
    spark, tmp_path, monkeypatch, lake_branch, partition_by
):
    from projectdatalake_spark.sources.delta_interop import DeltaTable, _quote_path

    df = _equiv_df(spark)
    t = DeltaTable.create(
        spark, str(tmp_path / "d"), df, partition_by=partition_by, bloom_by=("b",)
    )
    adds = {p: a for p, a in t._state()["adds"].items()}
    truth = {
        _quote_path(f["rel"]): f
        for f in _all_from_spark(
            monkeypatch, t._staged_files, t.root, partition_by, df.schema
        )
    }
    assert set(adds) == set(truth)
    assert any(a.get("tags") for a in adds.values())
    for p, a in adds.items():
        assert a["stats"] == truth[p]["encoded"]["stats"], p
        assert a.get("tags") == truth[p]["encoded"].get("tags"), p
        assert a["partitionValues"] == truth[p]["partitionValues"], p
    if partition_by:
        ks = {a["partitionValues"]["k"] for a in adds.values()}
        assert ks == {"50%", "a=b", None}
    assert t.snapshot().count() == 18


@pytest.mark.parametrize("partition_by", [("k",), ()], ids=["hive", "flat"])
def test_txlog_entries_equal_full_spark_aggregate(
    spark, tmp_path, monkeypatch, lake_branch, partition_by
):
    from projectdatalake_spark.sources.txlog import TxTable

    df = _equiv_df(spark)
    t = TxTable.create(
        spark, str(tmp_path / "t"), df, partition_by=partition_by, bloom_by=("b",)
    )
    adds = {a["path"]: a for a in t._active_files()}
    truth = {
        f["rel"]: f
        for f in _all_from_spark(
            monkeypatch, t._staged_files, t.root, partition_by, df.schema
        )
    }
    assert set(adds) == set(truth)
    keys = ("numRecords", "stats", "dict", "bloom")
    for p, a in adds.items():
        got = {k: a.get(k) for k in keys}
        want = {k: truth[p]["encoded"].get(k) for k in keys}
        assert _normf(got) == _normf(want), p
        assert a["partition"] == truth[p]["partition"], p
    assert all(a.get("bloom", {}).get("b") for a in adds.values())
    assert any((a.get("dict") or {}).get("cat") for a in adds.values())
    if partition_by:
        assert {a["partition"]["k"] for a in adds.values()} == {
            "50%", "a=b", "__HIVE_DEFAULT_PARTITION__"
        }
    assert t.snapshot().count() == 18


@pytest.mark.parametrize("partition_by", [("k",), ()], ids=["hive", "flat"])
def test_iceberg_entries_equal_full_spark_aggregate(
    spark, tmp_path, monkeypatch, lake_branch, partition_by
):
    from projectdatalake_spark.sources import atomic
    from projectdatalake_spark.sources.iceberg_interop import (
        IcebergTable,
        _encode_bound,
    )

    df = _equiv_df(spark)
    t = IcebergTable.create(spark, str(tmp_path / "i"), df, partition_by=partition_by)
    meta = t.metadata()
    fields = next(
        s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
    )["fields"]
    typed = {f["name"]: (f["id"], f["type"]) for f in fields}
    bcols = [c for c in df.columns if c not in partition_by]
    entries, _ = t._entries_for_snapshot(meta, None)
    # the one stage directory the write left under data/
    (stage,) = {
        e["data_file"]["file_path"][len(f"{t.root}/data/"):].split("/")[0]
        for e in entries
    }
    truth = {
        atomic.path_only(f["path"]): f
        for f in _all_from_spark(
            monkeypatch, FS.staged_files, spark, f"{t.root}/data/{stage}", bcols
        )
    }

    def bounds(kvs):
        return {kv["key"]: bytes(kv["value"]) for kv in kvs or []}

    assert {e["data_file"]["file_path"] for e in entries} == set(truth)
    for e in entries:
        d = e["data_file"]
        f = truth[d["file_path"]]
        assert d["record_count"] == f["nrec"] > 0
        for side, got in (("min", d["lower_bounds"]), ("max", d["upper_bounds"])):
            want = {}
            for c in bcols:
                if c in f[side]:
                    enc = _encode_bound(f[side][c], typed[c][1])
                    if enc is not None:
                        want[typed[c][0]] = enc
            assert bounds(got) == want, (d["file_path"], side)
    assert t.snapshot().count() == 18


def _zero_row_frame(spark):
    # range partition 0 holds only id 0, which the filter drops: Spark
    # still writes partition 0's file, with no rows
    return spark.range(0, 4, 1, 4).where("id > 0").withColumn("s", F.lit("v"))


def _record_counts(fmt, t):
    import json

    if fmt == "delta":
        adds = t._state()["adds"].values()
        return [json.loads(a["stats"])["numRecords"] for a in adds]
    if fmt == "txlog":
        return [a.get("numRecords", 0) for a in t._active_files()]
    entries, _ = t._entries_for_snapshot(t.metadata(), None)
    return [e["data_file"]["record_count"] for e in entries]


def _table_cls(fmt):
    from projectdatalake_spark.sources.delta_interop import DeltaTable
    from projectdatalake_spark.sources.iceberg_interop import IcebergTable
    from projectdatalake_spark.sources.txlog import TxTable

    return {"delta": DeltaTable, "txlog": TxTable, "iceberg": IcebergTable}[fmt]


@pytest.mark.parametrize("fmt", ["delta", "txlog", "iceberg"])
def test_zero_row_files_are_never_committed(spark, tmp_path, fmt):
    """A write whose frame has an empty partition commits only files
    with rows (the 0-row file is deleted), so row tracking, which
    backfills ids from record counts, enables."""
    import pyarrow.parquet as pq

    root = tmp_path / fmt
    t = _table_cls(fmt).create(spark, str(root), _zero_row_frame(spark))
    counts = _record_counts(fmt, t)
    assert counts and all(n > 0 for n in counts) and sum(counts) == 3, counts
    if fmt == "iceberg":
        t.enable_row_lineage()
    else:
        t.enable_row_tracking()
    assert t.snapshot().count() == 3
    data = [
        p for p in root.rglob("*.parquet")
        if not any(part.startswith(("_", ".")) for part in p.relative_to(root).parts)
        and "metadata" not in p.relative_to(root).parts
    ]
    assert data and all(pq.ParquetFile(p).metadata.num_rows > 0 for p in data)


@pytest.mark.parametrize("fmt", ["delta", "txlog", "iceberg"])
def test_empty_append_commits_and_keeps_schema(spark, tmp_path, fmt):
    df = _zero_row_frame(spark)
    t = _table_cls(fmt).create(spark, str(tmp_path / fmt), df)
    schema = t.snapshot().schema
    if fmt == "iceberg":
        before = len(t.metadata()["snapshots"])
    else:
        before = t.latest_version()
    t.append(spark.createDataFrame([], df.schema))
    if fmt == "iceberg":
        assert len(t.metadata()["snapshots"]) == before + 1
    else:
        assert t.latest_version() == before + 1
    assert t.snapshot().schema == schema
    assert t.snapshot().count() == 3
    empty = _table_cls(fmt).create(
        spark, str(tmp_path / f"{fmt}_empty"), spark.createDataFrame([], df.schema)
    )
    assert _record_counts(fmt, empty) == []
    assert empty.snapshot().schema == schema
    assert empty.snapshot().count() == 0
