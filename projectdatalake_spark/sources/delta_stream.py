"""Stream a REAL Delta table's changes: 'Delta as a streaming source'.

A Python Data Source whose offsets are Delta COMMIT VERSIONS: each
micro-batch delivers the change rows of the commits that landed since
the last processed version, tagged ``_change_type`` / ``_commit_version``
— the same diff-of-commits semantics as ``DeltaTable.changes``
(delta_interop.py), consumed through readStream with exactly-once
checkpointed offsets. ``startingVersion`` is INCLUSIVE (Delta's
streaming convention); omit it to replay from table creation.

Scale shape (same architecture as txlog_stream.py, proven there): the
DRIVER touches only metadata — `_delta_log` JSON, the parquet checkpoint
when the log is pruned, parquet FOOTERS for the batch-size guard; every
data row is decoded in EXECUTOR tasks, one ``InputPartition`` per
changed file per commit. Deletion-vector commits ship the DV DESCRIPTOR
(inline z85 or file pointer) inside the partition; the executor decodes
the roaring bitmap itself (sources/roaring.py — pure Python, importable
in the sessionless worker) and emits exactly the newly-masked rows.
dataChange=false commits (OPTIMIZE) are skipped — layout is not data.

Local/NFS paths only, like the txlog source — an object-store deployment
swaps the ``open``/``glob`` calls for fsspec.
"""

from __future__ import annotations

import datetime
import decimal
import glob
import json
import os
import urllib.parse

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

_LOG = "_delta_log"
CDF_META = (("_change_type", "string"), ("_commit_version", "bigint"))


# --- sessionless log replay (driver planning path) --------------------------


def _log_versions(root: str) -> tuple[list[int], list[int]]:
    commits, checkpoints = [], []
    for f in glob.glob(os.path.join(root, _LOG, "*")):
        name = os.path.basename(f)
        if name.endswith(".json") and name[:-5].isdigit():
            commits.append(int(name[:-5]))
        elif name.endswith(".checkpoint.parquet"):
            stem = name[: -len(".checkpoint.parquet")]
            if stem.isdigit():
                checkpoints.append(int(stem))
    return sorted(commits), sorted(checkpoints)


def _latest_version(root: str) -> int:
    commits, checkpoints = _log_versions(root)
    return max(commits + checkpoints) if commits or checkpoints else -1


def _commit_actions(root: str, v: int) -> list[dict]:
    with open(os.path.join(root, _LOG, f"{v:020d}.json")) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _checkpoint_actions(root: str, v: int) -> list[dict]:
    import pyarrow.parquet as pq

    rows = pq.read_table(
        os.path.join(root, _LOG, f"{v:020d}.checkpoint.parquet")
    ).to_pylist()
    actions = []
    for r in rows:
        for kind in ("protocol", "metaData", "add", "remove", "txn"):
            a = r.get(kind)
            if a is not None:
                actions.append({kind: {k: v2 for k, v2 in a.items() if v2 is not None}})
    return actions


def _fold(state: dict, actions: list[dict]) -> dict:
    for a in actions:
        if "metaData" in a:
            state["metaData"] = a["metaData"]
        elif "add" in a:
            state["adds"][a["add"]["path"]] = a["add"]
        elif "remove" in a:
            state["adds"].pop(a["remove"]["path"], None)
    return state


def _state_upto(root: str, v: int) -> dict:
    commits, checkpoints = _log_versions(root)
    state: dict = {"metaData": None, "adds": {}}
    usable = [c for c in checkpoints if c <= v]
    start = 0
    if usable:
        ckpt = max(usable)
        state = _fold(state, _checkpoint_actions(root, ckpt))
        start = ckpt + 1
    have = set(commits)
    for i in range(start, v + 1):
        if i in have:
            state = _fold(state, _commit_actions(root, i))
        elif i > start:
            raise FileNotFoundError(f"delta commit {i} missing under {root}")
    return state


def _table_meta(root: str) -> dict:
    return _state_upto(root, _latest_version(root))["metaData"]


def _abs_path(root: str, path: str) -> str:
    p = urllib.parse.unquote(path)
    if "://" in p or p.startswith("/"):
        return p
    return os.path.join(root, p)


def _cast_partition_value(v: str | None, typ: str):
    if v is None or v == "__HIVE_DEFAULT_PARTITION__":
        return None
    t = (typ or "string").lower()
    if t in ("byte", "short", "integer", "long"):
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


def _dv_rows(root: str, dv: dict | None) -> set[int]:
    """Decode a DV descriptor in a sessionless process (executor or
    driver), reading DV files with ``open``."""
    if not dv:
        return set()
    from projectdatalake_spark.sources.roaring import dv_rows

    def read(path: str) -> bytes:
        with open(path, "rb") as fh:
            return fh.read()

    return dv_rows(dv, root, read)


class DeltaChangePartition(InputPartition):
    """One changed file of one commit. Self-contained for the sessionless
    executor worker: absolute path, typed partition values, output column
    order, change kind, and DV descriptors (before/after) for masking."""

    def __init__(
        self,
        abs_path: str,
        kind: str,  # 'insert' | 'delete-file' | 'delete-dv'
        version: int,
        cols: list[str],
        part_vals: dict,
        table_root: str,
        dv_before: dict | None = None,
        dv_after: dict | None = None,
    ):
        self.abs_path = abs_path
        self.kind = kind
        self.version = version
        self.cols = cols
        self.part_vals = part_vals
        self.table_root = table_root
        self.dv_before = dv_before
        self.dv_after = dv_after


class DeltaChangesStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.root = options["path"].rstrip("/")
        if "startingVersion" in options:
            self.start_offset = int(options["startingVersion"]) - 1
        else:
            self.start_offset = -1
        self.max_rows = int(options.get("maxRowsPerBatch", "1000000"))

    def initialOffset(self):
        return {"version": self.start_offset}

    def latestOffset(self):
        return {"version": max(_latest_version(self.root), self.start_offset)}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["version"], end["version"]
        base_state = (
            _state_upto(self.root, lo) if lo >= 0 else {"metaData": None, "adds": {}}
        )
        meta = _table_meta(self.root)
        schema = json.loads(meta["schemaString"])
        pcols = list(meta.get("partitionColumns", []))
        ptypes = {
            f["name"]: (f["type"] if isinstance(f["type"], str) else "string")
            for f in schema["fields"]
        }
        cols = [f["name"] for f in schema["fields"]]
        parts: list[DeltaChangePartition] = []
        budget = self.max_rows

        def spend(n: int) -> None:
            nonlocal budget
            budget -= n
            if budget < 0:
                raise ValueError(
                    f"change delta ({lo}, {hi}] exceeds maxRowsPerBatch="
                    f"{self.max_rows}; raise the option or consume smaller "
                    "version ranges"
                )

        def file_rows(abs_path: str) -> int:
            import pyarrow.parquet as pq

            return pq.ParquetFile(abs_path).metadata.num_rows

        def typed_parts(add: dict) -> dict:
            pv = add.get("partitionValues", {}) or {}
            return {
                c: _cast_partition_value(pv.get(c), ptypes.get(c, "string"))
                for c in pcols
            }

        adds_before = dict(base_state["adds"])
        state = base_state
        for v in range(max(lo + 1, 0), hi + 1):
            actions = _commit_actions(self.root, v)
            state = _fold(state, actions)
            adds_after = dict(state["adds"])
            removed_dc = {
                a["remove"]["path"]
                for a in actions
                if "remove" in a and a["remove"].get("dataChange", True)
            }
            added_dc = {
                a["add"]["path"]
                for a in actions
                if "add" in a and a["add"].get("dataChange", True)
            }
            for p in added_dc:
                if p in adds_before:
                    continue
                add = adds_after[p]
                abs_p = _abs_path(self.root, p)
                spend(file_rows(abs_p))
                parts.append(
                    DeltaChangePartition(
                        abs_p, "insert", v, cols, typed_parts(add),
                        self.root, dv_after=add.get("deletionVector"),
                    )
                )
            for p in removed_dc:
                if p in adds_after or p not in adds_before:
                    continue
                add = adds_before[p]
                abs_p = _abs_path(self.root, p)
                spend(file_rows(abs_p))
                parts.append(
                    DeltaChangePartition(
                        abs_p, "delete-file", v, cols, typed_parts(add),
                        self.root, dv_before=add.get("deletionVector"),
                    )
                )
            for p in added_dc & set(adds_before):
                old = adds_before[p].get("deletionVector")
                new = adds_after[p].get("deletionVector")
                spend(int((new or {}).get("cardinality", 0)))
                parts.append(
                    DeltaChangePartition(
                        _abs_path(self.root, p), "delete-dv", v, cols,
                        typed_parts(adds_after[p]), self.root,
                        dv_before=old, dv_after=new,
                    )
                )
            adds_before = adds_after
        return parts

    def read(self, partition: DeltaChangePartition):
        import pyarrow.parquet as pq

        before = _dv_rows(partition.table_root, partition.dv_before)
        after = _dv_rows(partition.table_root, partition.dv_after)
        if partition.kind == "insert":
            keep = lambda i: i not in after  # noqa: E731
            change = "insert"
        elif partition.kind == "delete-file":
            keep = lambda i: i not in before  # noqa: E731
            change = "delete"
        else:  # delete-dv: exactly the newly-masked rows
            grown = after - before
            if not grown:
                return iter([])
            keep = grown.__contains__
            change = "delete"
        recs = pq.read_table(partition.abs_path).to_pylist()
        tail = (change, partition.version)
        rows = []
        for idx, r in enumerate(recs):
            if not keep(idx):
                continue
            merged = {**r, **partition.part_vals}
            rows.append(tuple(merged.get(c) for c in partition.cols) + tail)
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass


class DeltaChangesDataSource(DataSource):
    """``spark.readStream.format("delta_changes").option("path", root)``."""

    @classmethod
    def name(cls) -> str:
        return "delta_changes"

    def schema(self) -> str:
        from pyspark.sql.types import StructType

        meta = _table_meta(self.options["path"].rstrip("/"))
        st = StructType.fromJson(json.loads(meta["schemaString"]))
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in st.fields)
        extra = ", ".join(f"{n} {t}" for n, t in CDF_META)
        return f"{ddl}, {extra}"

    def streamReader(self, schema):
        return DeltaChangesStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(DeltaChangesDataSource)
