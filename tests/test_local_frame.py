"""Driver-built frames: ``session.local_frame`` and the rule around it.

``local_frame`` replaced ``spark.createDataFrame(<python list>)`` for
every frame the package builds from driver-side rows. The list path is
the ground truth for values: both must give the same schema and the same
row multiset, a wrong type must still raise, and the frame must plan as
a ``LocalRelation`` (no pickled-row ``LogicalRDD``, so no Python worker).
"""

from __future__ import annotations

import ast
import datetime as dt
import os
import pathlib
import time
from collections import Counter
from decimal import Decimal

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

import projectdatalake_spark
from projectdatalake_spark.session import local_frame

SCALARS = (
    "s string, i int, l long, d double, b boolean, bin binary, "
    "dec decimal(10,2), dt date, ts timestamp, ntz timestamp_ntz"
)
NESTED = (
    "a array<int>, m map<string, double>, "
    "st struct<x: int, y: struct<z: string, w: array<long>>>"
)


def _canon(v):
    """Hashable, order-free form of a collected value."""
    if isinstance(v, Row):
        return ("row", tuple(_canon(x) for x in v))
    if isinstance(v, dict):
        return ("map", tuple(sorted((_canon(k), _canon(x)) for k, x in v.items())))
    if isinstance(v, (list, tuple)):
        return ("seq", tuple(_canon(x) for x in v))
    if isinstance(v, (bytes, bytearray)):
        return ("bin", bytes(v))
    if isinstance(v, float) and v != v:
        return "nan"
    return v


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _assert_same(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got._jdf.schema().json() == want._jdf.schema().json()
    assert Counter(map(_canon, got.collect())) == Counter(
        map(_canon, want.collect())
    )
    assert "LocalRelation" in _plan(got) and "LogicalRDD" not in _plan(got)
    return got


SCALAR_ROWS = [
    ("a", 1, 2**40, 1.5, True, b"\x00\xff", Decimal("3.14"),
     dt.date(2024, 2, 29), dt.datetime(2024, 3, 10, 2, 30, 0, 123456),
     dt.datetime(1969, 12, 31, 23, 59, 59, 999999)),
    ("", -(2**31), -(2**63), float("-inf"), False, bytearray(b"xy"),
     Decimal("-99999999.99"), dt.date(1900, 1, 1),
     dt.datetime(2024, 11, 3, 1, 30), dt.datetime(2262, 4, 11)),
    (None,) * 10,
]

NESTED_ROWS = [
    ([1, None, 3], {"k": 1.0, "n": None}, (1, ("z", [1, None]))),
    ([], {}, (None, (None, []))),
    (None, None, (2, None)),
    ([None], {"only": float("nan")}, (3, ("q", None))),
    (None, None, None),
]


def test_scalar_types_match_list_path(spark):
    _assert_same(spark, SCALAR_ROWS, SCALARS)


def test_nested_types_match_list_path(spark):
    _assert_same(spark, NESTED_ROWS, NESTED)


def test_empty_rows_keep_the_schema(spark):
    for schema in (SCALARS, NESTED):
        df = _assert_same(spark, [], schema)
        assert df.count() == 0
    struct = StructType([StructField("k", LongType(), False)])
    assert local_frame(spark, [], struct).schema == struct


def test_rows_as_tuples_dicts_and_row_objects(spark):
    schema = "id long, name string, st struct<x: int, y: string>"
    tuples = [(1, "a", (1, "p")), (2, None, None)]
    dicts = [
        {"id": 1, "name": "a", "st": {"x": 1, "y": "p", "extra": 9}, "extra": 0},
        {"id": 2, "st": None},
    ]
    rows = [Row(id=1, name="a", st=Row(x=1, y="p")), Row(id=2, name=None, st=None)]
    want = _assert_same(spark, tuples, schema).collect()
    for form in (dicts, rows):
        got = _assert_same(spark, form, schema).collect()
        assert Counter(map(_canon, got)) == Counter(map(_canon, want))


def test_decimals_round_like_list_path(spark):
    rows = [(Decimal("1.235"),), (Decimal("-1.235"),), (Decimal("7"),), (None,)]
    df = _assert_same(spark, rows, "v decimal(10,2)")
    assert sorted(r.v for r in df.collect() if r.v is not None) == [
        Decimal("-1.24"), Decimal("1.24"), Decimal("7.00"),
    ]


def test_struct_schema_object_and_nested_decimals(spark):
    schema = StructType([
        StructField("ts", TimestampType()),
        StructField("tag", StringType()),
    ])
    _assert_same(spark, [(dt.datetime(2020, 5, 17, 12), "x"), (None, None)], schema)
    _assert_same(
        spark,
        [([Decimal("0.125")], {"a": Decimal("2.5")}), (None, None)],
        "ds array<decimal(6,2)>, dm map<string, decimal(6,1)>",
    )


@pytest.fixture()
def los_angeles():
    """The process's local time zone set to a non-UTC zone with DST."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/Los_Angeles"
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()


def test_naive_timestamps_read_in_local_time_zone(spark, los_angeles):
    got = _assert_same(spark, SCALAR_ROWS, SCALARS)
    # 2024-03-10 02:30 does not exist in Los Angeles; mktime resolves it
    # the same way for both paths. A plain winter instant is 8 h behind UTC.
    one = local_frame(
        spark,
        [(dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 1))],
        "ts timestamp, ntz timestamp_ntz",
    ).select(F.unix_micros("ts").alias("ts"), F.col("ntz").cast("string"))
    assert one.first() == (1704096000 * 1_000_000, "2024-01-01 00:00:00")
    assert got.count() == len(SCALAR_ROWS)


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([("x",)], "v int"),
        ([(1,)], "v double"),
        ([(2**31,)], "v int"),
        ([(None,)], StructType([StructField("v", LongType(), False)])),
        ([("a", 1)], "v string"),
        ([({"k": "v"},)], "m map<string, int>"),
    ],
)
def test_wrong_type_still_raises(spark, rows, schema):
    with pytest.raises(Exception) as listed:
        spark.createDataFrame(rows, schema).collect()
    with pytest.raises(type(listed.value)):
        local_frame(spark, rows, schema)


class _CreateDataFrameRefs(ast.NodeVisitor):
    """Names of the functions that reference ``<x>.createDataFrame``."""

    def __init__(self):
        self.scope = ["<module>"]
        self.found: list[str] = []

    def visit_FunctionDef(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Attribute(self, node):
        if node.attr == "createDataFrame":
            self.found.append(self.scope[-1])
        self.generic_visit(node)


def test_only_local_frame_calls_create_dataframe():
    """No module in the package builds a frame from a Python list with
    ``createDataFrame``: every call goes through ``session.local_frame``."""
    pkg = pathlib.Path(projectdatalake_spark.__file__).parent
    found = []
    for path in sorted(pkg.rglob("*.py")):
        refs = _CreateDataFrameRefs()
        refs.visit(ast.parse(path.read_text(), filename=str(path)))
        found += [(path.relative_to(pkg).as_posix(), fn) for fn in refs.found]
    assert found == [("session.py", "local_frame")]


# -- plans of the table formats' driver-built frames ---------------------


def _lake_df(spark, n):
    return (
        spark.range(n)
        .withColumn("seg", (F.col("id") % 3).cast("int"))
        .withColumn("val", F.col("id") * 2.5)
        .repartition(2)
    )


def _assert_local(df):
    plan = _plan(df)
    assert "LocalRelation" in plan, plan
    assert "LogicalRDD" not in plan, plan


def test_delta_dv_snapshot_and_checkpoint_plan_local_relations(
    spark, tmp_path, monkeypatch
):
    from projectdatalake_spark.sources import delta_interop
    from projectdatalake_spark.sources.delta_interop import DeltaTable

    t = DeltaTable.create(spark, str(tmp_path / "d"), _lake_df(spark, 300))
    t.delete_where_dv("id % 10 = 7")
    snap = t.snapshot()
    _assert_local(snap)
    assert snap.count() == 270

    built = []

    def recording(spark_, rows, schema):
        df = local_frame(spark_, rows, schema)
        built.append(df)
        return df

    monkeypatch.setattr(delta_interop, "local_frame", recording)
    t.checkpoint()
    assert built, "checkpoint() built no driver-side frame"
    for df in built:
        _assert_local(df)
    monkeypatch.undo()
    assert DeltaTable(spark, str(tmp_path / "d")).snapshot().count() == 270


def test_iceberg_mor_read_plans_local_relations(spark, tmp_path):
    from projectdatalake_spark.sources.iceberg_interop import IcebergTable

    t = IcebergTable.create(spark, str(tmp_path / "i"), _lake_df(spark, 300))
    t.delete_where_dv("id % 10 = 7")
    snap = t.snapshot()
    _assert_local(snap)
    assert snap.count() == 270
