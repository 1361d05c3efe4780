"""Round-13 optimization equivalence gates.

1. batched multi-column KMV sketches (puffin.column_theta_sketches) ==
   the single-column builder, per column — including hash-set identity
   in exact mode and the serialized bytes;
2. the ts_theil_sen_trend two-pass bucketed rank selection == the old
   single-partition global median window, on the real orders table;
3. (see tests/test_footer_stats.py for the footer-stats lever's gates.)
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F


def test_multi_column_sketches_match_single(spark, sf_dir):
    from projectdatalake_spark.sources.puffin import (
        column_theta_sketch,
        column_theta_sketches,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    cols = ["o_orderkey", "o_custkey", "o_orderstatus"]
    batched = column_theta_sketches(o, cols, k=256)
    for c in cols:
        single = column_theta_sketch(o, c, k=256)
        got, want = batched[c], single
        assert got.k == want.k
        assert got.hashes == want.hashes, c
        assert got.to_bytes() == want.to_bytes(), c
        assert got.estimate() == want.estimate(), c


def test_multi_column_sketches_duplicate_column(spark, sf_dir):
    from projectdatalake_spark.sources.puffin import (
        column_theta_sketch,
        column_theta_sketches,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    got = column_theta_sketches(o, ["o_custkey", "o_orderkey", "o_custkey"], k=64)
    assert list(got) == ["o_custkey", "o_orderkey"]
    for c in got:
        assert got[c].hashes == column_theta_sketch(o, c, k=64).hashes, c


def test_theil_sen_zero_and_one_pair(spark, monkeypatch):
    """Degenerate input: one distinct day has no slope pairs and no
    median (no row, as the oracle's rank filter); two days give one."""
    import datetime

    from projectdatalake_spark import queries as Q

    def orders_on(*days):
        rows = [(datetime.datetime(1995, 1, d),) for d in days]
        return spark.createDataFrame(rows, "o_orderdate timestamp_ntz")

    fn = Q.QUERIES["ts_theil_sen_trend"]
    monkeypatch.setattr(Q, "_t", lambda s, sf, name: orders_on(3, 3, 3))
    out = fn(spark, "unused")
    assert out.collect() == []
    assert out.dtypes == [("n_pairs", "bigint"), ("sen_slope", "double")]
    # day 3 has 2 orders, day 5 has 1: slope (1 - 2) / 2 days
    monkeypatch.setattr(Q, "_t", lambda s, sf, name: orders_on(3, 3, 5))
    assert [tuple(r) for r in fn(spark, "unused").collect()] == [(1, -0.5)]


def test_theil_sen_bucketed_selection_matches_global_window(spark, sf_dir):
    # ground truth: the old single-partition global median window
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("c")
    )
    a = daily.select(F.col("d").alias("d1"), F.col("c").alias("c1"))
    b = daily.select(F.col("d").alias("d2"), F.col("c").alias("c2"))
    slopes = a.join(b, F.col("d1") < F.col("d2")).select(
        (
            (F.col("c2") - F.col("c1")) / F.datediff("d2", "d1").cast("double")
        ).alias("slope"),
        "d1",
        "d2",
    )
    w = Window.orderBy("slope", "d1", "d2")
    ranked = slopes.select(
        "slope",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    want = (
        ranked.filter(F.col("r") == F.floor((F.col("n") + 1) / 2))
        .select(
            F.col("n").cast("long").alias("n_pairs"),
            F.round("slope", 9).alias("sen_slope"),
        )
        .collect()
    )
    from projectdatalake_spark.queries import QUERIES

    got = QUERIES["ts_theil_sen_trend"](spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
