"""The staged-file step of the three table formats, and the
parquet-FOOTER statistics it reads.

One caller path: txlog ``TxTable._stage``, Delta ``DeltaTable._stage``
(and ``convert_parquet_to_delta``, over the table root) and Iceberg
``IcebergTable._stage_data`` / ``_staged_files`` write a frame with
``writer.parquet(stage_dir)`` and then call ``staged_files``. It lists
the parquet files Spark left there, parses each file's hive partition
values (unescaped), drops and deletes every 0-row file, and returns per
file its record count, min, max and null count per stats column, the
value dictionary of the requested dictionary columns and the bloom bits
of the requested bloom columns. Each format only encodes the result
(Delta stats JSON and bloom tags, txlog ``stats``/``dict``/``bloom``/
``numRecords``, Iceberg ``record_count`` and bounds) and keeps its own
null-partition marker handling.

Where the stats come from: on a root whose footers are readable here
(``footers_readable``) every stat the footer reproduces exactly comes
from ``footer_file_stats`` (the stats of a file just written already sit
in its footer, so no second read of the data), and one grouped
``input_file_name`` Spark aggregate over the stage directory runs only
for the footer-untrusted columns and the bloom columns. On any other
root that aggregate derives every stat. The bloom bit layout
(``_BLOOM_M`` bits, one position per seed in ``_BLOOM_SEEDS``, from
``bloom_positions``) lives here too, so the writer's aggregate and the
readers' probes (txlog ``_bloom_probes``, Delta ``_bloom_prune_merge``)
hash alike by construction.

Exactness contract (probed on the raw footers of Spark-written files by
``tests/test_footer_stats.py::test_footer_semantics_probe`` — first on
parquet-mr 1.16 / pyarrow 16.1 — and pinned against the Spark aggregate
in the rest of that file):

- ints / longs / shorts / bytes / booleans / dates / strings: footer
  min/max are EXACT. parquet-mr does NOT truncate footer string stats
  (3000-char value probed byte-identical) and compares strings bytewise
  (= Python str order: UTF-8 byte order is code-point order).
- float/double: parquet-mr computes stats with Java ordering — NaN
  sorts above +Inf and poisons max exactly like Spark's F.max. Probed:
  NaN / ±Inf / all-NaN columns byte-match the Spark aggregate. The
  cross-row-group merge below replicates the same total order. A file
  holding both zeros is the exception: the writer and Spark's F.min/
  F.max each keep whichever zero they meet first, so ``staged_files``
  widens a zero bound to min -0.0 / max +0.0 on both paths (safe under
  IEEE and under Java's total order alike).
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
``untrusted`` set and ``staged_files`` runs the Spark aggregate FOR
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

# Bloom sizing: 8192 bits / 2 hash functions → FPR ≈ (1-e^(-2n/8192))²,
# ~2% at n=500 distinct values per file, ~15% at n=2000 — the equality-
# skipping regime the 64-entry dictionary can't reach. 1 KiB per (file,
# column) in the log; checkpointing folds it.
_BLOOM_M = 8192
_BLOOM_SEEDS = (0xB100, 0xB101)


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


# every typeName spark_type_name can return: the stats-eligible
# primitives (txlog's stats columns are the written frame's of these types)
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
    aggregate (``staged_files``)."""
    from .atomic import is_local_path

    return is_local_path(root)


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


# --- the staged-file step ----------------------------------------------------


def bloom_positions(value) -> list:
    """The bloom bit positions of ``value`` (a Column), one per seed.
    xxhash64 is type-sensitive (5 as INT ≠ 5 as BIGINT): a probe casts
    its value to the column's stored type first."""
    from pyspark.sql import functions as F

    return [
        F.pmod(F.xxhash64(value, F.lit(seed)), F.lit(_BLOOM_M))
        for seed in _BLOOM_SEEDS
    ]


def hive_partition_values(rel: str) -> dict[str, str]:
    """{column: value} of the ``k=v`` directory segments of a hive-layout
    relative path, unescaped (Spark writes %, =, #, / and other
    characters in directory names as %XX). The null marker
    ``__HIVE_DEFAULT_PARTITION__`` comes back verbatim: each format
    encodes a null partition value its own way."""
    from urllib.parse import unquote

    return {
        unquote(k): unquote(v)
        for k, v in (seg.split("=", 1) for seg in rel.split("/")[:-1] if "=" in seg)
    }


def _hidden(rel: str) -> bool:
    """Spark's file-index rule: reads skip every path with a segment
    starting with '.', or with '_' unless it names a partition
    (``_delta_log``, ``_staging`` are skipped; ``_k=1`` is read)."""
    return any(
        seg.startswith(".") or (seg.startswith("_") and "=" not in seg)
        for seg in rel.split("/")
    )


def _spark_file_stats(spark, stage_dir, cols, dict_cols, bloom_cols) -> dict:
    """The one grouped ``input_file_name`` aggregate over ``stage_dir``:
    {scheme-less raw path: stats dict shaped like ``_one_file_stats``'s,
    plus "bloom"} for every file with at least one row, restricted to ``cols``
    (min/max/nulls), ``dict_cols`` and ``bloom_cols`` (hex bit map).
    Reads the DIRECTORY, not an explicit path list: a path list is
    validated path by path on the driver (~60 ms each), the directory
    is one recursive listing."""
    from pyspark.sql import functions as F

    from . import atomic as _atomic

    df = spark.read.option("basePath", stage_dir).parquet(stage_dir)
    present = set(df.columns)
    cols = [c for c in cols if c in present]
    dict_cols = [c for c in dict_cols if c in present]
    bloom_cols = [c for c in bloom_cols if c in present]
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.min(c).alias(f"min__{c}"),
            F.max(c).alias(f"max__{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls__{c}"),
        ]
    for c in dict_cols:
        aggs.append(
            F.slice(F.sort_array(F.collect_set(c)), 1, _DICT_CAP + 1).alias(
                f"dict__{c}"
            )
        )
    for c in bloom_cols:
        aggs += [
            F.collect_set(pos).alias(f"bloom{i}__{c}")
            for i, pos in enumerate(bloom_positions(F.col(c)))
        ]
    rows = (
        df.withColumn("__file", F.input_file_name())
        .groupBy("__file")
        .agg(*aggs)
        .collect()
    )
    out = {}
    for r in rows:
        d = r.asDict()
        st = {
            "nrec": int(d["__n"]),
            "min": {}, "max": {}, "nulls": {}, "dict": {}, "bloom": {},
        }
        for c in cols:
            if d[f"min__{c}"] is not None:
                st["min"][c] = d[f"min__{c}"]
                st["max"][c] = d[f"max__{c}"]
            st["nulls"][c] = d[f"nulls__{c}"] or 0
        for c in dict_cols:
            vals = d[f"dict__{c}"]
            st["dict"][c] = vals if 0 < len(vals) <= _DICT_CAP else None
        for c in bloom_cols:
            bits = 0
            for i in range(len(_BLOOM_SEEDS)):
                for pos in d[f"bloom{i}__{c}"]:
                    bits |= 1 << pos
            if bits:
                st["bloom"][c] = f"{bits:x}"
        # input_file_name is a PERCENT-ENCODED URI (a partition value
        # with a space arrives as %20); key by the raw path the listing
        # yields — by FULL path, never basename: partitioned writes
        # reuse part-file basenames across partition directories
        out[_atomic.path_only(_atomic.uri_to_path(d["__file"]))] = st
    return out


def staged_files(
    spark,
    stage_dir: str,
    cols: Iterable[str],
    dict_cols: Iterable[str] = (),
    bloom_cols: Iterable[str] = (),
) -> list[dict]:
    """The parquet files a write just left under ``stage_dir`` (files in
    hidden paths skipped, as Spark's reads skip them), each with rows:
    {"path" (as listed), "rel" (under ``stage_dir``), "size", "mtime",
    "partition" (``hive_partition_values``), "nrec", "min", "max",
    "nulls" ({col: value} per stats column in ``cols``), "dict" ({col:
    sorted ≤64 distinct non-null values, or None past the cap} per
    ``dict_cols``), "bloom" ({col: hex bit map} per ``bloom_cols``)}.
    0-row files are deleted and left out: no format commits a file
    without rows. Callers pass columns of the frame they wrote."""
    from . import atomic as _atomic

    base = _atomic.path_only(stage_dir)
    files = []
    for p, size, mtime in _atomic.list_files(spark, stage_dir, ".parquet"):
        rel = _atomic.path_only(p)[len(base):].lstrip("/")
        if not _hidden(rel):
            files.append(
                {
                    "path": p,
                    "rel": rel,
                    "size": size,
                    "mtime": mtime,
                    "partition": hive_partition_values(rel),
                }
            )
    if not files:
        return []
    cols, dict_cols, bloom_cols = list(cols), list(dict_cols), list(bloom_cols)
    keys = [_atomic.path_only(f["path"]) for f in files]
    local = footers_readable(stage_dir)
    per_file: dict[str, dict] = {}
    agg_cols, agg_dicts = cols, dict_cols
    if local:
        per_file = footer_file_stats(
            spark, keys, want_cols=cols, dict_cols=dict_cols, with_nulls=True
        )
        untrusted = {c for st in per_file.values() for c in st["untrusted"]}
        agg_cols, agg_dicts = [c for c in cols if c in untrusted], []
    if not local or agg_cols or bloom_cols:
        by_key = _spark_file_stats(spark, stage_dir, agg_cols, agg_dicts, bloom_cols)
        stray = set(by_key) - set(keys)
        if stray:
            # rows in a file the listing did not name: refuse rather than
            # take a listed file for empty and delete it
            raise RuntimeError(
                f"stats aggregate read files not listed under {stage_dir}: "
                f"{sorted(stray)[:3]}"
            )
        for k in keys:
            st = per_file.setdefault(
                k, {"nrec": 0, "min": {}, "max": {}, "nulls": {}, "dict": {}}
            )
            agg = by_key.get(k)
            if agg is None:
                continue  # no group: the file has no rows
            st["nrec"] = agg["nrec"]
            for c in agg_cols:
                for part in ("min", "max", "nulls"):
                    st[part].pop(c, None)
                    if c in agg[part]:
                        st[part][c] = agg[part][c]
            st["dict"].update(agg["dict"])
            st["bloom"] = agg["bloom"]
    out = []
    for f, k in zip(files, keys):
        st = per_file[k]
        if st["nrec"] == 0:
            _atomic.delete(spark, f["path"])
            continue
        for side, zero in (("min", -0.0), ("max", 0.0)):
            for c, v in st[side].items():
                if isinstance(v, float) and v == 0.0:
                    st[side][c] = zero
        f.update(
            nrec=st["nrec"],
            min=st["min"],
            max=st["max"],
            nulls=st["nulls"],
            dict=st["dict"],
            bloom=st.get("bloom", {}),
        )
        out.append(f)
    return out
