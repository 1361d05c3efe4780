"""Parquet-FOOTER-derived per-file statistics (min/max/nullCount/
numRecords, plus the txlog value dictionary) — the metadata-only
replacement for the per-commit full re-read the txlog/delta/iceberg
``_attach_stats``/``_stage_data`` passes used to run (OPTIMIZATION_r13
lever #1, spark_optimization_guide §6: read the bytes once — the stats
of a file just written are already sitting in its footer).

Exactness contract (probed on the raw footers of Spark-written files by
``tests/test_footer_stats.py::test_footer_semantics_probe`` — first on
parquet-mr 1.16 / pyarrow 16.1 — and pinned against the Spark aggregate
in the rest of that file):

- ints / longs / shorts / bytes / booleans / dates / strings: footer
  min/max are EXACT. parquet-mr does NOT truncate footer string stats
  (3000-char value probed byte-identical) and compares strings bytewise
  (= Python str order: UTF-8 byte order is code-point order).
- float/double: parquet-mr computes stats with Java ordering — NaN
  sorts above +Inf and poisons max exactly like Spark's F.max; -0.0
  sorts below +0.0. Probed: NaN / ±Inf / -0.0 / all-NaN columns all
  byte-match the Spark aggregate. The cross-row-group merge below
  replicates the same total order.
- timestamp_ntz (the corpus' working type): INT64 micros, EXACT.
- timestamp (ltz): Spark's default ``outputTimestampType`` is INT96,
  which carries NO footer stats → those columns fall back to the Spark
  aggregate automatically (the stats-missing rule), never guessed.
- decimal: pyarrow cannot logical-cast decimal stats; decoded here from
  the raw physical value (INT32/INT64 unscaled int, or big-endian
  two's-complement FIXED_LEN_BYTE_ARRAY / BYTE_ARRAY bytes).
- all-null columns: has_min_max=False + full null_count → no min/max,
  matching the Spark aggregate's NULL min/max.

Any file/column that violates an assumption (missing stats with live
rows, missing null counts, unknown physical type) lands in the
``untrusted`` set and the caller re-runs the old Spark aggregate FOR
THOSE COLUMNS ONLY — correctness never rides on the fast path.

Scale shape: per-file stats derivation is O(footer) local work — the
same work production table formats do inline in their write tasks. Up
to ``_DRIVER_MAX_FILES`` adds it runs as a driver loop (the commit path
already walks the same files one-by-one to rename them); past that it
ships the path list through ``spark.sparkContext.parallelize`` so each
executor parses its own files' footers — no full-table scan either way.
Both branches open files with local pyarrow, so only local roots take
them (``footers_readable``); ``hdfs://`` and ``s3a://`` commits derive
every stat with the Spark aggregate.

The same footers also tell which schema Spark would infer for a file
(``spark_read_schema``): the corpus reader's check before it reads a
table under its declared schema.
"""

from __future__ import annotations

import datetime
import decimal
import math
from typing import Iterable

_DRIVER_MAX_FILES = 32

# dictionary cap shared with txlog's equality-skipping metadata
_DICT_CAP = 64


def _strip_scheme(p: str) -> str:
    if p.startswith("file:"):
        p = p[5:]
        while p.startswith("//"):
            p = p[1:]
    return p


def _decode_decimal(raw, scale: int):
    """Unscaled physical value → Decimal (INT32/INT64 arrive as int,
    FLBA/BYTE_ARRAY as big-endian two's-complement bytes)."""
    if raw is None:
        return None
    if isinstance(raw, bytes):
        raw = int.from_bytes(raw, "big", signed=True)
    return decimal.Decimal(raw).scaleb(-scale)


def _float_key(x):
    """Total order matching Java/parquet-mr float comparison: NaN above
    everything, -0.0 below +0.0 (what Spark's F.min/F.max use too)."""
    return (math.isnan(x), x, math.copysign(1.0, x))


def _norm_ts(v):
    """pyarrow returns tz-aware datetimes for adjusted-to-UTC stats;
    Spark collect returns naive (session tz = UTC). Normalize."""
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


class _Untrusted(Exception):
    pass


# every typeName spark_type_name can return: the stats-eligible primitives
_STATS_TYPES = frozenset(
    {
        "byte", "short", "integer", "long", "float", "double", "boolean",
        "string", "date", "timestamp_ntz", "timestamp", "decimal",
    }
)


def spark_type_name(arrow_type) -> str | None:
    """Arrow type → Spark ``dataType.typeName()`` for the type classes
    the stats passes filter on (None = not a stats-eligible primitive).
    Used by callers to rebuild their old read-back-schema column filters
    from the file footer alone."""
    import pyarrow as pa

    t = arrow_type
    if pa.types.is_int8(t):
        return "byte"
    if pa.types.is_int16(t):
        return "short"
    if pa.types.is_int32(t):
        return "integer"
    if pa.types.is_int64(t):
        return "long"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        # tz-less micros is Spark timestamp_ntz; INT96/adjusted-to-UTC
        # read back as timestamp (ltz)
        return "timestamp_ntz" if t.tz is None else "timestamp"
    if pa.types.is_decimal(t):
        return "decimal"
    return None


def footers_readable(root: str) -> bool:
    """Whether the data-file footers under ``root`` can be opened with
    local pyarrow — by the driver, and past ``_DRIVER_MAX_FILES`` by each
    executor in the parallelize branch. Only local (or ``file:``) roots
    qualify, the same ``atomic.is_local_path`` rule the corpus reader
    uses; ``hdfs://``, ``s3a://`` and every other scheme take the Spark
    aggregate (the commit paths' ``_attach_stats_spark``)."""
    from .atomic import is_local_path

    return is_local_path(root)


def column_types(spark, path: str, local: bool) -> list[tuple[str, str | None]]:
    """(name, Spark ``typeName``) per top-level column of one data file,
    the type None where the stats passes skip the column (binary,
    nested, unsigned). From the footer when ``local``, else from the
    schema Spark reads through the Hadoop filesystem."""
    if local:
        return [(f.name, spark_type_name(f.type)) for f in arrow_schema_of(path)]
    names = [(f.name, f.dataType.typeName()) for f in spark.read.parquet(path).schema]
    return [(n, tn if tn in _STATS_TYPES else None) for n, tn in names]


def untrusted_stats(nrec: int, cols: Iterable[str], dicts: dict | None = None) -> dict:
    """A per-file entry shaped like ``_one_file_stats`` that trusts no
    column: for files on a root whose footers are not readable here, so
    every column's stats come from the caller's Spark aggregate."""
    return {
        "nrec": nrec,
        "min": {},
        "max": {},
        "nulls": {},
        "dict": dict(dicts or {}),
        "untrusted": list(cols),
    }


def arrow_schema_of(path: str):
    """Arrow schema of one parquet file (footer only)."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(_strip_scheme(path)).schema_arrow


# Spark ``typeName`` → ``simpleString`` where the two differ
_SIMPLE_STRING = {
    "byte": "tinyint",
    "short": "smallint",
    "integer": "int",
    "long": "bigint",
}


def _spark_read_type(arrow_type, leaf) -> str | None:
    """Spark ``simpleString`` of the type Spark infers for one column;
    ``leaf`` is the column's parquet descriptor (timestamps need its
    physical and logical type, which the arrow type does not carry:
    INT96 and TIMESTAMP(NANOS) both surface as arrow timestamp[ns]; a
    timestamp inside a list has no leaf here and is left unmapped)."""
    import json

    import pyarrow as pa

    t = arrow_type
    if pa.types.is_timestamp(t):
        if leaf is None:
            return None
        if leaf.physical_type == "INT96":
            return "timestamp"
        lt = json.loads(leaf.logical_type.to_json())
        if lt.get("Type") != "Timestamp":
            return None
        if lt["timeUnit"] == "nanoseconds":
            return "bigint"  # spark.sql.legacy.parquet.nanosAsLong
        return "timestamp" if lt["isAdjustedToUTC"] else "timestamp_ntz"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        inner = _spark_read_type(t.value_type, None)
        return None if inner is None else f"array<{inner}>"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    name = spark_type_name(t)
    return _SIMPLE_STRING.get(name, name)


def spark_read_schema(path: str) -> str | None:
    """``simpleString`` of the schema ``spark.read.parquet`` infers for
    one parquet file, from its footer alone, under the confs
    ``session.prepare`` pins (TIMESTAMP(NANOS) as bigint, tz-less
    timestamps as timestamp_ntz). Spark reads every file column as
    nullable, so nullability does not enter. None when a column's type
    is outside this mapping (structs, maps, unsigned ints, binary,
    arrow-restored dictionary columns): the caller then lets Spark
    infer."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(_strip_scheme(path))
    leaves = {c.path: c for c in (pf.schema.column(i) for i in range(len(pf.schema)))}
    cols = []
    for fld in pf.schema_arrow:
        typ = _spark_read_type(fld.type, leaves.get(fld.name))
        if typ is None:
            return None
        cols.append(f"{fld.name}:{typ}")
    return f"struct<{','.join(cols)}>"


def _one_file_stats(
    path: str,
    want_cols: list[str] | None,
    dict_cols: Iterable[str],
    with_nulls: bool,
) -> dict:
    """Stats for ONE parquet file. Returns
    {"nrec": int, "min": {c: v}, "max": {c: v}, "nulls": {c: n},
     "dict": {c: [values] or None}, "untrusted": [cols]}.
    min/max/nulls entries exist only for trusted columns with at least
    one non-null value (min/max) / always (nulls). ``dict`` holds the
    sorted ≤64-distinct non-null value list per requested dict column,
    or None when the column overflowed the cap.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    arrow_schema = pf.schema_arrow
    out: dict = {
        "nrec": md.num_rows,
        "min": {},
        "max": {},
        "nulls": {},
        "dict": {},
        "untrusted": [],
    }
    if md.num_rows == 0:
        return out

    # map physical column index by dotted path (top-level primitives only)
    col_idx = {}
    rg0 = md.row_group(0)
    for i in range(rg0.num_columns):
        col_idx[rg0.column(i).path_in_schema] = i

    # iterate in FILE-SCHEMA order (or the caller's order): downstream
    # stats dicts are serialized to JSON, and key order must match what
    # the old read-back aggregate produced (df.schema order = file order)
    names = list(arrow_schema.names) if want_cols is None else list(want_cols)
    for name in names:
        if name not in col_idx:
            continue  # nested/absent: caller never asks, but stay safe
        fld = arrow_schema.field(name) if name in arrow_schema.names else None
        if fld is None:
            out["untrusted"].append(name)
            continue
        t = fld.type
        is_dec = pa.types.is_decimal(t)
        trusted_type = (
            pa.types.is_integer(t)
            or pa.types.is_boolean(t)
            or pa.types.is_floating(t)
            or pa.types.is_string(t)
            or pa.types.is_large_string(t)
            or pa.types.is_date(t)
            or pa.types.is_timestamp(t)
            or is_dec
        )
        if not trusted_type:
            out["untrusted"].append(name)
            continue
        mins, maxs, nulls = [], [], 0
        try:
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                if rgm.num_rows == 0:
                    continue
                col = rgm.column(col_idx[name])
                st = col.statistics
                if st is None or not st.has_null_count:
                    raise _Untrusted()
                nulls += st.null_count
                if not st.has_min_max:
                    if st.null_count == rgm.num_rows:
                        continue  # all-null row group: no bounds, exact
                    raise _Untrusted()
                if is_dec:
                    mn = _decode_decimal(st.min_raw, t.scale)
                    mx = _decode_decimal(st.max_raw, t.scale)
                else:
                    mn, mx = _norm_ts(st.min), _norm_ts(st.max)
                if mn is None or mx is None:
                    raise _Untrusted()
                mins.append(mn)
                maxs.append(mx)
        except _Untrusted:
            out["untrusted"].append(name)
            continue
        if mins:
            if isinstance(mins[0], float):
                out["min"][name] = min(mins, key=_float_key)
                out["max"][name] = max(maxs, key=_float_key)
            else:
                out["min"][name] = min(mins)
                out["max"][name] = max(maxs)
        if with_nulls:
            out["nulls"][name] = nulls

    for name in dict_cols:
        if name not in col_idx:
            continue
        # exact distinct set, capped: one columnar read of just this
        # column (pyarrow native, no JVM) — the collect_set equivalent
        col_tbl = pf.read(columns=[name])
        u = pc.unique(col_tbl.column(0)).drop_null()
        if 0 < len(u) <= _DICT_CAP:
            vals = sorted(v.as_py() for v in u)
            out["dict"][name] = vals
        else:
            out["dict"][name] = None
    return out


def _stats_worker(paths, want_cols, dict_cols, with_nulls):
    """Executor-side loop for the distributed branch (one partition of
    file paths → one stats dict per path)."""
    return [
        (p, _one_file_stats(_strip_scheme(p), want_cols, dict_cols, with_nulls))
        for p in paths
    ]


def footer_file_stats(
    spark,
    paths: list[str],
    want_cols: list[str] | None,
    dict_cols: Iterable[str] = (),
    with_nulls: bool = False,
) -> dict[str, dict]:
    """Per-file footer stats for ``paths`` (absolute, scheme-less or
    file:-prefixed). Driver loop for small commits; a parallelize job
    over the path list for large ones (each task opens only its own
    files' footers — never the data, except the requested dict columns).
    Returns {stripped_path: stats-dict} (see _one_file_stats). Local
    paths only (``footers_readable``): callers gate on their root."""
    paths = [_strip_scheme(p) for p in paths]
    remote = [p for p in paths if not footers_readable(p)]
    if remote:
        raise ValueError(
            f"footer stats read local files only, got {remote[0]!r}: "
            "gate the caller on footers_readable(root)"
        )
    dict_cols = tuple(dict_cols)
    if len(paths) <= _DRIVER_MAX_FILES or spark is None:
        return {
            p: _one_file_stats(p, want_cols, dict_cols, with_nulls)
            for p in paths
        }
    sc = spark.sparkContext
    n_slices = min(len(paths), sc.defaultParallelism)
    rdd = sc.parallelize(paths, n_slices).mapPartitions(
        lambda it: _stats_worker(list(it), want_cols, dict_cols, with_nulls)
    )
    return dict(rdd.collect())
