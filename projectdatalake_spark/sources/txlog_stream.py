"""Stream a txlog table's change data feed (the 'Delta as a streaming
source' analog): a Python Data Source whose offsets are COMMIT VERSIONS.

Each micro-batch delivers the CDF rows of the commits that landed since
the last processed version — tagged ``_change_type`` ('insert'/'delete')
and ``_commit_version`` — so a downstream streaming job (incremental
aggregate maintenance, index sync, cache invalidation) consumes exactly
each commit's delta, exactly once: offsets are checkpointed by Structured
Streaming, and replaying ``(lo, hi]`` is deterministic because the commit
log is immutable. Semantics mirror ``TxTable.changes`` (txlog.py):
append → inserts; overwrite/replace/delete → deletes of the replaced
files' rows (+ inserts of any new); deletion-vector commits → only the
masked rows as deletes; ``optimize`` is data-neutral and skipped.

Scale shape: ``TxLogChangesStreamReader`` is a partition-planning
``DataSourceStreamReader``. The DRIVER touches only metadata — the JSON
commit log and parquet FOOTERS (row counts for the batch-size guard);
every data row is decoded in EXECUTOR tasks, one ``InputPartition`` per
changed file per commit. A backlog of N commits × M files fans out to
N×M parallel tasks instead of a single driver-side replay — the
difference between a CDC trickle and a terabyte backfill both working.
The Python Data Source worker process has NO SparkSession (verified —
``SparkSession.getActiveSession()`` is None there), so partitions are
self-contained: each carries its file path, schema mapping, and DV
pointer, and ``read()`` replays with plain pyarrow. The previous
driver-side ``SimpleDataSourceStreamReader`` is kept as
``txlog_changes_simple`` — the tiny-feed fallback where per-file task
overhead exceeds the rows moved. Local/NFS paths only — an object-store
deployment would swap the ``open``/``glob`` calls for fsspec. Vacuum
retention bounds consumer lag exactly as in Delta CDF: replaying a
delete needs the removed file to still exist.

``startingVersion=N`` is INCLUSIVE (commit N is delivered), matching
Delta Lake's streaming-source convention; omit it to replay from the
table's creation.
"""

from __future__ import annotations

import datetime
import decimal
import glob
import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

_LOG_DIR = "_txlog"
CDF_META = (("_change_type", "string"), ("_commit_version", "bigint"))


def _commits(root: str) -> list[dict]:
    out = []
    for f in sorted(glob.glob(os.path.join(root, _LOG_DIR, "*.json"))):
        if f.endswith(".checkpoint.json"):
            continue
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def _latest_version(root: str) -> int:
    """Version of the newest commit, reading ONE file (driver hot path —
    called every trigger interval)."""
    files = [
        f
        for f in sorted(glob.glob(os.path.join(root, _LOG_DIR, "*.json")))
        if not f.endswith(".checkpoint.json")
    ]
    if not files:
        return -1
    with open(files[-1]) as fh:
        return json.load(fh)["version"]


_WIDEN_FAMILIES = (("tinyint", "smallint", "int", "bigint"), ("float", "double"))


def _widen_rank(t: str):
    for fi, fam in enumerate(_WIDEN_FAMILIES):
        if t in fam:
            return (fi, fam.index(t))
    return None


def _widens_to(frm: str, to: str) -> bool:
    a, b = _widen_rank(frm), _widen_rank(to)
    return a is not None and b is not None and a[0] == b[0] and a[1] <= b[1]


def _schema_walk(commits: list[dict]) -> tuple[dict[str, str], dict[str, str]]:
    """(physical→type, physical→logical): fold each commit's physical
    schema in order (max-width inside a widening family, honoring
    widen_column commits), then apply rename_column rewires — same walk
    as TxTable.column_mapping/table_schema, sans Spark."""
    phys: dict[str, str] = {}
    logical_of: dict[str, str] = {}

    def put(col: str, typ: str) -> None:
        cur = phys.get(col)
        if cur is None or (cur != typ and not _widens_to(typ, cur)):
            phys[col] = typ

    for c in commits:
        for col, typ in (c.get("schema") or {}).items():
            put(col, typ)
            logical_of.setdefault(col, col)
        if c.get("op") == "widen_column":
            put(c["widen"]["col"], c["widen"]["to"])
        if c.get("op") == "rename_column":
            ren = c["rename"]
            for p, l in list(logical_of.items()):
                if l == ren["old"]:
                    logical_of[p] = ren["new"]
        if c.get("op") == "clone":
            mapping = c.get("column_mapping") or {}
            logical_of = {p: l for l, p in mapping.items()}
            for col in phys:
                logical_of.setdefault(col, col)
    return phys, logical_of


def _schema_fields(commits: list[dict]) -> list[tuple[str, str]]:
    phys, logical_of = _schema_walk(commits)
    return [(logical_of[p], t) for p, t in phys.items()]


def _norm_path(p: str) -> str:
    """Normalize a possibly-URI file path to a resolved absolute path so
    deletion-vector masks match by EQUALITY, not suffix — two clone roots
    with identical basenames can never cross-attribute masked rows.

    DV parquet rows record ``_metadata.file_path`` URIs, which are
    PERCENT-ENCODED (a space-valued hive partition arrives as %20) —
    decode before resolving, or the mask comparison silently fails and
    the reader drops the file's rows entirely."""
    if p.startswith("file:"):
        from urllib.parse import unquote

        p = p[5:]
        while p.startswith("//"):
            p = p[1:]
        p = unquote(p)
    return os.path.realpath(p)


def _cast_partition_value(v: str, typ: str):
    """Hive path segments carry partition values as strings; cast to the
    column's declared type so an int/date-partitioned table streams the
    same values batch ``changes()`` reads via Spark."""
    t = (typ or "string").lower()
    if t in ("tinyint", "smallint", "int", "integer", "bigint", "long"):
        return int(v)
    if t in ("float", "double"):
        return float(v)
    if t == "boolean":
        return v.lower() in ("true", "1")
    if t == "date":
        return datetime.date.fromisoformat(v)
    if t.startswith("timestamp"):
        return datetime.datetime.fromisoformat(v.replace(" ", "T"))
    if t.startswith("decimal"):
        return decimal.Decimal(v)
    return v


class ChangeFilePartition(InputPartition):
    """One changed file of one commit — the unit of executor parallelism.

    Self-contained (the executor worker has no SparkSession and no table
    handle): absolute data path, the physical→logical column mapping and
    output order frozen at planning time, per-column types for hive
    partition-value casting, and the DV parquet to mask against (delete
    commits only; ``None`` → the whole file)."""

    def __init__(
        self,
        abs_path: str,
        rel_path: str,
        kind: str,
        version: int,
        logical_cols: list[str],
        phys_to_logical: dict[str, str],
        phys_types: dict[str, str],
        dv_abs: str | None = None,
    ):
        self.abs_path = abs_path
        self.rel_path = rel_path
        self.kind = kind
        self.version = version
        self.logical_cols = logical_cols
        self.phys_to_logical = phys_to_logical
        self.phys_types = phys_types
        self.dv_abs = dv_abs


class TxLogChangesStreamReader(DataSourceStreamReader):
    """Partition-planning CDF reader: driver plans file-grained input
    partitions from commit metadata; executors decode the rows."""

    def __init__(self, options: dict):
        self.root = options["path"]
        # Delta-convention INCLUSIVE startingVersion: offset lo is
        # exclusive, so starting AT version N means lo = N-1. Absent →
        # from the beginning (version 0's create counts as inserts).
        if "startingVersion" in options:
            self.start_offset = int(options["startingVersion"]) - 1
        else:
            self.start_offset = -1
        self.max_rows = int(options.get("maxRowsPerBatch", "1000000"))

    def initialOffset(self):
        return {"version": self.start_offset}

    def latestOffset(self):
        latest = _latest_version(self.root)
        return {"version": max(latest, self.start_offset)}

    # -- driver-side planning (metadata only) -----------------------------

    def partitions(self, start: dict, end: dict):
        lo, hi = start["version"], end["version"]
        commits = _commits(self.root)
        phys, phys_to_logical = _schema_walk(commits)
        logical_cols = [phys_to_logical[p] for p in phys]
        base_of = {}
        for c in commits:
            for a in c.get("adds", []):
                base_of[a["path"]] = a.get("base", self.root)

        parts: list[ChangeFilePartition] = []
        budget = self.max_rows

        def spend(n: int) -> None:
            nonlocal budget
            budget -= n
            if budget < 0:
                raise ValueError(
                    f"CDF delta ({lo}, {hi}] exceeds maxRowsPerBatch="
                    f"{self.max_rows}; raise the option or consume "
                    "smaller version ranges"
                )

        def file_rows(abs_path: str) -> int:
            import pyarrow.parquet as pq

            return pq.ParquetFile(abs_path).metadata.num_rows

        def plan(rel: str, kind: str, version: int, dv_abs: str | None = None):
            abs_path = os.path.join(base_of.get(rel, self.root), rel)
            parts.append(
                ChangeFilePartition(
                    abs_path, rel, kind, version, logical_cols,
                    phys_to_logical, phys, dv_abs,
                )
            )

        for c in commits:
            v = c["version"]
            if v <= lo or v > hi or c.get("op") == "optimize":
                continue
            if "dv" in c:
                dv = c["dv"]
                dv_abs = os.path.join(self.root, dv["path"])
                spend(int(dv.get("rows", 0)))
                for rel in dv["files"]:
                    plan(rel, "delete", v, dv_abs)
            for a in c.get("adds", []):
                abs_path = os.path.join(a.get("base", self.root), a["path"])
                spend(file_rows(abs_path))
                plan(a["path"], "insert", v)
            for rel in c.get("removes", []):
                spend(file_rows(os.path.join(base_of.get(rel, self.root), rel)))
                plan(rel, "delete", v)
        return parts

    # -- executor-side row decode -----------------------------------------

    def read(self, partition: ChangeFilePartition):
        import pyarrow.parquet as pq

        mask: set[int] | None = None
        if partition.dv_abs is not None:
            want = _norm_path(partition.abs_path)
            mask = {
                m["row_index"]
                for m in pq.read_table(partition.dv_abs).to_pylist()
                if _norm_path(m["file_path"]) == want
            }
            if not mask:
                return iter([])

        recs = pq.read_table(partition.abs_path).to_pylist()
        # hive partition columns live in the path, not the file — typed
        from projectdatalake_spark.sources.footer_stats import hive_partition_values

        part_vals = {
            k: None
            if v == "__HIVE_DEFAULT_PARTITION__"
            else _cast_partition_value(v, partition.phys_types.get(k, "string"))
            for k, v in hive_partition_values(partition.rel_path).items()
        }

        p2l = partition.phys_to_logical
        cols = partition.logical_cols
        tail = (partition.kind, partition.version)
        rows = []
        for idx, r in enumerate(recs):
            if mask is not None and idx not in mask:
                continue
            for k, v in part_vals.items():
                r.setdefault(k, v)
            logical = {p2l.get(k, k): v for k, v in r.items()}
            rows.append(tuple(logical.get(c) for c in cols) + tail)
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass


class TxLogChangesSimpleReader(SimpleDataSourceStreamReader):
    """Driver-side fallback (``txlog_changes_simple``) for tiny feeds
    where per-file task overhead exceeds the rows moved. Same offsets,
    same semantics, same options — ``read`` materializes the delta in
    the driver process, bounded by ``maxRowsPerBatch``."""

    def __init__(self, options: dict):
        self.root = options["path"]
        if "startingVersion" in options:
            self.start_offset = int(options["startingVersion"]) - 1
        else:
            self.start_offset = -1
        self.max_rows = int(options.get("maxRowsPerBatch", "1000000"))
        self._planner = TxLogChangesStreamReader(options)

    def initialOffset(self):
        return {"version": self.start_offset}

    def _delta(self, start: dict, end: dict):
        rows: list[tuple] = []
        for part in self._planner.partitions(start, end):
            rows.extend(self._planner.read(part))
        return iter(rows)

    def read(self, start: dict):
        latest = _latest_version(self.root)
        if latest <= start["version"]:
            return iter([]), start
        end = {"version": latest}
        return self._delta(start, end), end

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._delta(start, end)


class TxLogChangesSource(DataSource):
    """spark.readStream.format("txlog_changes").option("path", root) —
    partition-planned executor-side reads."""

    @classmethod
    def name(cls) -> str:
        return "txlog_changes"

    def schema(self) -> str:
        fields = _schema_fields(_commits(self.options["path"])) + list(CDF_META)
        return ", ".join(f"`{c}` {typ}" for c, typ in fields)

    def streamReader(self, schema) -> TxLogChangesStreamReader:
        return TxLogChangesStreamReader(self.options)


class TxLogChangesSimpleSource(DataSource):
    """spark.readStream.format("txlog_changes_simple") — the driver-side
    tiny-feed variant."""

    @classmethod
    def name(cls) -> str:
        return "txlog_changes_simple"

    def schema(self) -> str:
        fields = _schema_fields(_commits(self.options["path"])) + list(CDF_META)
        return ", ".join(f"`{c}` {typ}" for c, typ in fields)

    def simpleStreamReader(self, schema) -> TxLogChangesSimpleReader:
        return TxLogChangesSimpleReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(TxLogChangesSource)
    spark.dataSource.register(TxLogChangesSimpleSource)
