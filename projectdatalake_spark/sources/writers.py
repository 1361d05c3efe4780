"""Sinks: partitioned / flat Parquet overwrite writes (S4/S5, SURVEY.md §2.1).

Reference parity: every output is ``write.mode('overwrite')`` Parquet, three
of them hive-partitioned (reference etl.py:49-52, 64-66, 119-121, 135-138,
171-174). This module generalizes that with the knobs that matter at 100 TB:

- ``maxRecordsPerFile`` bounds file size so a skewed partition can't produce
  a multi-GB file (the reference's phase-1 write died mid-flight on exactly
  this kind of long write — reference README.md:47-50).
- dynamic partition overwrite replaces only the partitions present in the
  incoming data, making re-runs idempotent per-partition instead of
  truncating the whole table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    max_records_per_file: int | None = 5_000_000,
) -> None:
    """Flat overwrite sink (S5; reference etl.py:64-66, 119-121)."""
    writer = df.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def compact_parquet(
    spark,
    path: str,
    target_file_mb: int = 256,
) -> tuple[int, int]:
    """Small-file compaction: rewrite a parquet directory into
    ceil(bytes / target) files.

    The operational counterpart of `maxRecordsPerFile`: long-lived tables
    accumulate small files from incremental writes (every dynamic-overwrite
    batch adds per-partition files) until open/footer overhead dominates
    scans — at 100 TB, listing+opening 10⁶ tiny files costs more than
    reading them. Sizing and the swap go through the filesystem seam
    (sources/atomic.py), so the same code compacts file:// and s3a:// paths. Returns (files_before, files_after).

    Plain-parquet caveat (documented, inherent without a table format):
    the swap is directory-replace, not transactional — run it in the
    pipeline's maintenance window; Delta/Iceberg make it atomic.
    """
    from projectdatalake_spark.sources import atomic

    files_before = sum(1 for n in atomic.list_dir(spark, path) if n.endswith(".parquet"))
    total_bytes = sum(size for _p, size, _m in atomic.list_files(spark, path))
    n_files = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compacting"
    df.repartition(int(n_files)).write.mode("overwrite").parquet(tmp)
    atomic.delete(spark, path, recursive=True)
    atomic.rename(spark, tmp, path)
    files_after = sum(1 for n in atomic.list_dir(spark, path) if n.endswith(".parquet"))
    return files_before, files_after


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    n_buckets: int,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (hash-partitioned file layout + metastore
    bucket spec).

    THE co-location tool for repeated big joins at 100 TB: two tables
    bucketed on the join key with the same bucket count sort-merge-join
    with NO shuffle exchange on either side (asserted in
    tests/test_bucketing.py) — the shuffle is paid once at write time and
    amortized over every subsequent join/aggregation on the key.
    ``sort_by`` additionally pre-sorts within buckets, eliminating the
    join-time sort. Read back with ``spark.table(table)``.
    """
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "overwrite",
    dynamic: bool = True,
    max_records_per_file: int | None = 5_000_000,
) -> None:
    """Hive-partitioned overwrite sink (S4; reference etl.py:49-52, 135-138,
    171-174).

    ``dynamic=True`` → only partitions present in ``df`` are replaced
    (idempotent incremental reruns); ``False`` → whole-table truncate like
    the reference.
    """
    spark = df.sparkSession
    previous = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode",
            "dynamic" if dynamic else "static",
        )
        writer = df.write.mode(mode).partitionBy(*partition_by)
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", previous)


def write_parquet_audited(
    df: DataFrame,
    path: str,
    audit_cols: dict[str, "Column"] | None = None,
    mode: str = "overwrite",
    max_records_per_file: int | None = 5_000_000,
) -> dict:
    """Flat sink with a SINGLE-PASS write audit via ``Observation``.

    The write-audit-publish pattern needs row counts / null counts /
    value bounds for the batch just written; recomputing them is a second
    full scan of data you just paid to shuffle and encode. ``df.observe``
    attaches aggregate accumulators to the write job itself — metrics are
    collected per-task DURING the sink action and merged on the driver,
    costing one map-side aggregation, zero extra scans (and, unlike a
    cached recount, they describe exactly the rows the job wrote, even if
    the input is nondeterministic upstream).

    ``audit_cols`` maps metric name -> aggregate Column (default: row
    count). Returns the observed metrics dict. At 100 TB this is the
    difference between an audit that is free and one that doubles the
    pipeline's read volume.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.observation import Observation

    aggs = dict(audit_cols) if audit_cols else {}
    if "n_rows" not in aggs:
        aggs["n_rows"] = F.count(F.lit(1))
    obs = Observation("write_audit")
    observed = df.observe(obs, *[c.alias(n) for n, c in aggs.items()])
    writer = observed.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)
    return dict(obs.get)
