"""Deletion vectors: the one rule Delta and Iceberg share.

Both formats delete merge-on-read by masking (data file, row position)
pairs. A delete finds the matching rows in one Spark job, groups their
positions per file in the JVM (``groupBy(file)`` + sorted
``collect_set``) and collects one row per masked file
(``positions_by_file``); the format then encodes each file's sorted
positions in its own bytes — Delta a roaring bitmap, inline or in a
``.bin`` file, Iceberg a puffin ``deletion-vector-v1`` blob. A read
decodes the vectors on the driver and hands the (file, position) pairs
back to the plan as one broadcast ``LocalRelation`` (``pairs_frame``)
for a left anti-join on the scan's ``_metadata`` columns.

No Python worker runs on either side. The price is driver memory:
every deleted position of a commit (write) or of the vectors in force
(read) passes through the driver, about 8 bytes in the vector and a
Python int in transit per position. Tables that mask many millions of
rows per file should be compacted (Delta ``optimize``, Iceberg
``rewrite_data_files``), which folds the vectors into the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from projectdatalake_spark.session import local_frame


def positions_by_file(
    pairs: DataFrame, file_col: str = "file_path", pos_col: str = "pos"
) -> dict[str, list[int]]:
    """{file: ascending distinct positions} of a (file, position) frame,
    grouped in the JVM — one collected row per masked file."""
    rows = (
        pairs.groupBy(file_col)
        .agg(F.sort_array(F.collect_set(pos_col)).alias("__pos"))
        .collect()
    )
    return {r[0]: list(r[1]) for r in rows}


def pairs_frame(
    spark: SparkSession,
    by_file: dict[str, object],
    file_col: str = "file_path",
    pos_col: str = "pos",
) -> DataFrame:
    """The (file, position) pairs of ``{file: positions}`` as a local
    frame of ``file_col string, pos_col long``."""
    return local_frame(
        spark,
        [(f, int(p)) for f, ps in by_file.items() for p in ps],
        f"{file_col} string, {pos_col} long",
    )
