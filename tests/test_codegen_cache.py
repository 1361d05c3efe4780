"""Spark's codegen cache holds the engine's plan working set, so a
repeated query compiles no generated class again
(``session.STATIC_CONFS["spark.sql.codegen.cache.maxEntries"]``)."""

from __future__ import annotations

from lakebench.workloads import QueryMix
from projectdatalake_spark import queries as Q
from projectdatalake_spark.session import STATIC_CONFS

CACHE_CONF = "spark.sql.codegen.cache.maxEntries"


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM (one per cache miss)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_query_mix_compiles_nothing(spark, sf_dir):
    """The 12 ``query_mix`` queries generate more classes than Spark's
    default cache of 100 keeps, so under it every round recompiles most
    of them; under the session's cache the second round compiles none."""
    assert spark.conf.get(CACHE_CONF) == STATIC_CONFS[CACHE_CONF]

    def run_round() -> None:
        for name in QueryMix.queries:
            Q.QUERIES[name](spark, sf_dir).collect()

    run_round()
    before = _compiles(spark)
    run_round()
    assert _compiles(spark) - before == 0
