"""Delta Lake interop: read and write REAL Delta tables without delta jars.

The container ships no delta-spark / Iceberg runtime, so interop is
implemented from first principles against the PUBLIC Delta transaction-log
protocol (the ``PROTOCOL.md`` spec published in the delta-io/delta
repository): a ``_delta_log/`` directory of ordered, newline-delimited JSON
commit files (``00000000000000000000.json`` …), optional parquet
checkpoints advertised by ``_last_checkpoint``, and data as plain parquet
referenced by ``add`` actions carrying ``partitionValues`` and a ``stats``
JSON string.

What this module gives a user of the engine:

- ``DeltaTable.create / append / overwrite / snapshot / checkpoint`` — a
  writer whose output is a spec-conformant Delta table (protocol (1, 2))
  that any Delta reader (delta-spark, duckdb-delta, delta-rs) can load;
- a reader that replays a foreign ``_delta_log`` (checkpoint-aware,
  time-travel, typed partition values, stats-based file skipping) and
  REFUSES tables whose protocol demands reader features it does not
  implement (deletion vectors, column mapping, minReaderVersion > 1 beyond
  the explicitly supported feature set) instead of silently corrupting;
- ``convert_parquet_to_delta`` — in-place ``CONVERT TO DELTA``: an existing
  hive-partitioned parquet directory gains a transaction log WITHOUT any
  data rewrite (the 100 TB-relevant migration path: metadata-only);
- ``convert_txlog_to_delta`` — export the engine's native transactional
  format (sources/txlog.py) to Delta, zero-copy (absolute-path ``add``
  actions) when no deletion vectors / renames are active, materializing
  otherwise.

Scale posture: all heavy work (data write, stats collection) is one Spark
job; log replay touches only metadata JSON (small), and the checkpoint
keeps replay O(tail). Commits publish via exclusive create — atomic on
file:// and HDFS; S3 needs a coordinating LogStore, exactly as Delta
documents.

Reference parity: the reference pipeline (reference etl.py:1-190) has no
table format at all — this module plus txlog.py is engine-added surface
extending its partitioned-parquet sink (SURVEY.md §2.2 S4/S5) to
lakehouse semantics.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
import urllib.parse
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from projectdatalake_spark.session import local_frame
from projectdatalake_spark.sources import atomic as _atomic
from projectdatalake_spark.sources import deletion_vectors as _dv
from projectdatalake_spark.sources import footer_stats as _fs
from projectdatalake_spark.sources import table_stats as _stats
from projectdatalake_spark.sources.iceberg_interop import _start_sink

_LOG = "_delta_log"
_LAST_CHECKPOINT = "_last_checkpoint"

# Reader features we genuinely implement. A table demanding anything else
# is refused loudly (the protocol's forward-compat contract).
# deletionVectors: roaring-bitmap DVs (sources/roaring.py — serialization
# cross-validated against org.roaringbitmap, the library delta-spark uses).
# columnMapping: name/id-mode reads (physical-name resolution + rename).
_SUPPORTED_READER_FEATURES = {
    "timestampNtz", "deletionVectors", "columnMapping", "v2Checkpoint",
    # typeWidening: reads declare the WIDE schema and Spark 4's parquet
    # readers promote narrow pages natively (same machinery txlog.py's
    # widen_column proves) — nothing extra to do at scan time.
    "typeWidening",
}
_SIDECAR_DIR = "_sidecars"

_SIMPLE_TYPES = {
    "byte", "short", "integer", "long", "float", "double", "boolean",
    "string", "date", "timestamp", "timestamp_ntz",
}

# checkpoint action structs (spec: one action per parquet row, one struct
# column per action type, absent actions null) — shared by the classic
# single-file checkpoint and the V2 top-level + sidecar files
_CKPT_ADD_T = (
    "struct<path:string,partitionValues:map<string,string>,size:bigint,"
    "modificationTime:bigint,dataChange:boolean,stats:string,"
    "tags:map<string,string>,"
    "deletionVector:struct<storageType:string,pathOrInlineDv:string,"
    "offset:int,sizeInBytes:int,cardinality:bigint>,"
    # row tracking (spec add fields; null when the feature is off)
    "baseRowId:bigint,defaultRowCommitVersion:bigint>"
)
_CKPT_META_T = (
    "struct<id:string,name:string,description:string,"
    "format:struct<provider:string,options:map<string,string>>,"
    "schemaString:string,partitionColumns:array<string>,"
    "configuration:map<string,string>,createdTime:bigint>"
)
# feature arrays included: a checkpoint of a feature table (DVs, column
# mapping, v2Checkpoint itself) must not silently drop its protocol
_CKPT_PROTO_T = (
    "struct<minReaderVersion:int,minWriterVersion:int,"
    "readerFeatures:array<string>,writerFeatures:array<string>>"
)
_CKPT_TXN_T = "struct<appId:string,version:bigint,lastUpdated:bigint>"
_CKPT_DOMAIN_T = "struct<domain:string,configuration:string,removed:boolean>"
_CKPT_REMOVE_T = "struct<path:string,deletionTimestamp:bigint,dataChange:boolean>"
_CKPT_META_CM_T = "struct<version:bigint,tags:map<string,string>>"
_CKPT_SIDECAR_T = (
    "struct<path:string,sizeInBytes:bigint,modificationTime:bigint,"
    "tags:map<string,string>>"
)
# legacy protocol versions imply feature sets (spec appendix: upgrading to
# the table-features protocol must enumerate what the old version granted)
_LEGACY_WRITER_FEATURES = {
    2: {"appendOnly", "invariants"},
    3: {"checkConstraints"},
    4: {"changeDataFeed", "generatedColumns"},
    5: {"columnMapping"},
    6: {"identityColumns"},
}
_LEGACY_READER_FEATURES = {2: {"columnMapping"}}


class DeltaProtocolError(Exception):
    """The table's protocol demands features this reader does not have."""


class DeltaCommitConflict(Exception):
    """Another writer published the target version first."""


# Optional per-file bloom filters for high-cardinality equality skipping,
# carried in add.tags (spec: a free-form map<string,string> external readers
# ignore — protocol-safe). Same bit layout/hashing as txlog's blooms so the
# two formats share one probe machinery.
_BLOOM_CONF_KEY = "graft.bloomFilterColumns"
_BLOOM_TAG_PREFIX = "graft.bloom."
# Engine-owned metadata domain (spec "Domain Metadata"): a log compaction
# records the compacted range's last inCommitTimestamp here, because the
# spec drops commitInfo from compaction files — without it a cleanup that
# prunes the per-commit JSONs loses the ICT monotonic floor (see
# compact_log / _ict_prev).
_ICT_DOMAIN = "graft.ict"
# merge prune collects each bloom key column's distinct update values
# driver-side; beyond this the column's bloom test is skipped (the trickle-
# CDC case the bloom exists for has far fewer keys than this)
_MERGE_BLOOM_KEY_CEILING = 20_000


def _quote_path(rel: str) -> str:
    # spec: add.path is a URL-encoded relative path (or absolute URI)
    return urllib.parse.quote(rel, safe="/=")


def _unquote_path(p: str) -> str:
    return urllib.parse.unquote(p)


def _file_path_raw(col):
    """``_metadata.file_path`` as a RAW filesystem path (executor-side
    expression): strip the scheme, then percent-decode — the URI form is
    percent-encoded (space-valued hive partitions arrive as %20) while
    add actions resolve to raw paths; comparing the two forms silently
    unmatches every file under such a partition (DV masks not applied,
    merge touch detection missing files → duplicate keys). ``url_decode``
    is form-decoding ('+' → space), so literal '+' is protected to %2B
    first (URI path encoding never emits a bare '+' for a space)."""
    return F.url_decode(
        F.regexp_replace(
            F.regexp_replace(col, "^file:", ""), r"\+", "%2B"
        )
    )


@contextlib.contextmanager
def _scoped_confs(spark: SparkSession, confs: dict):
    """Set session confs for the duration of a block, restoring the
    prior EFFECTIVE values on exit. The parquet field-id confs are
    consulted by Spark at ACTION time, not at plan-construction time,
    so the block must enclose the action (write/collect) — and a conf
    set without restore would leak id-based parquet resolution
    semantics into every later read/write on the shared session
    (ADVICE r11, delta_interop fieldId leak)."""
    saved = []
    for k, v in confs.items():
        saved.append((k, spark.conf.get(k, None)))
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, prior in saved:
            if prior is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prior)


def _decimal_params_d(t: str) -> tuple[int, int] | None:
    """(precision, scale) when ``t`` spells a decimal, else None."""
    m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", t.strip())
    return (int(m.group(1)), int(m.group(2))) if m else None


def _stats_scalar(v):
    """JSON-encodable stats value (Delta stats are plain JSON)."""
    import datetime

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v.isoformat()
    return v


def _bloom_prune_merge(spark, cand, key_frame, bcols, schema):
    """Bloom-augmented merge candidate pruning: for each bloom-backed key
    column, collect the updates' distinct values (bounded by
    _MERGE_BLOOM_KEY_CEILING — skip the column's test beyond it, never
    guess) and drop candidate files whose per-file bloom proves NO update
    value can be present. Files without a bloom tag always survive.

    This bounds the touched-file probe for the trickle-CDC shape: a small
    update batch against a table whose file key ranges overlap (no
    clustering) otherwise stats-survives every file and the probe reads
    the key column of the whole table. Bit positions are computed with the
    SAME Spark xxhash64 expression the writer aggregated (hash parity by
    construction); the per-file test is numpy over the unpacked bit array
    — O(#candidates × #keys), both driver-bounded."""
    import numpy as np

    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    for c in bcols:
        pos_rows = (
            key_frame.select(c)
            .where(F.col(c).isNotNull())
            .distinct()
            .limit(_MERGE_BLOOM_KEY_CEILING + 1)
            .select(_fs.bloom_positions(F.col(c).cast(types[c])))
            .collect()
        )
        if not pos_rows or len(pos_rows) > _MERGE_BLOOM_KEY_CEILING:
            continue
        pos_matrix = np.array([list(r) for r in pos_rows])
        kept = []
        for p, a in cand:
            hexmap = (a.get("tags") or {}).get(f"{_BLOOM_TAG_PREFIX}{c}")
            if not hexmap:
                kept.append((p, a))
                continue
            bits = int(hexmap, 16)
            arr = np.frombuffer(
                bits.to_bytes(_fs._BLOOM_M // 8, "little"), dtype=np.uint8
            )
            bitsarr = np.unpackbits(arr, bitorder="little").astype(bool)
            if np.all(bitsarr[pos_matrix], axis=1).any():
                kept.append((p, a))
        cand = kept
        if not cand:
            break
    return cand


def _allocate_identity(
    df: DataFrame,
    col: str,
    base: int,
    step: int,
    partition_by,
    order_by,
) -> tuple[DataFrame, int | None]:
    """Materialize identity values ``base + step·(rank−1)`` into ``df``
    and return (df, high water mark) — for a NEGATIVE step the returned
    mark is the step-direction extreme (the minimum), which is exactly
    what the spec's highWaterMark tracks: the next allocation starts at
    mark + step regardless of sign. Ranks come from the deterministic
    two-shuffle group-offset numbering (operators/relational.
    deterministic_id) — no global-window funnel, stable across runs.
    The caller's allocation policy (partition_by + order_by, unique
    within a group) is REQUIRED: the spec lets identity values be any
    step arithmetic, but a non-deterministic allocation makes reruns
    unverifiable, so this writer demands an order."""
    from projectdatalake_spark.operators.relational import deterministic_id

    if not order_by or not partition_by:
        raise DeltaProtocolError(
            f"identity column {col!r} needs an allocation policy — pass "
            f"partition_by + order_by (unique within each group) so ids "
            f"are deterministic"
        )
    n = df.count()  # the high-water mark needs the row count anyway
    if n == 0:
        return df.withColumn(col, F.lit(None).cast("long")), None
    out = (
        deterministic_id(df, list(partition_by), list(order_by), out="__idrank")
        .withColumn(
            col,
            (F.lit(base) + F.lit(step) * (F.col("__idrank") - 1)).cast("long"),
        )
        .drop("__idrank")
    )
    return out, base + step * (n - 1)


def _partition_literal(value: str | None, dtype):
    """Typed column for a Delta partitionValues string (spec: values are
    strings; null encoded as JSON null / hive default partition)."""
    if value is None or value == "__HIVE_DEFAULT_PARTITION__":
        return F.lit(None).cast(dtype)
    return F.lit(value).cast(dtype)


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and map value nullable, as
    Spark's file sources read a schema (``DataType.asNullable``)."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


class DeltaTable:
    """A Delta table at ``root`` — reader for any protocol-(1,2) table,
    writer producing spec-conformant logs. Scheme-agnostic through the
    filesystem seam in ``sources/atomic.py`` (``os`` for local roots, the
    Hadoop FileSystem for hdfs://; s3a with a LogStore caveat)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        # commit files are immutable once published → memoize parses
        self._commit_memo: dict[int, list[dict]] = {}

    # --- log discovery ----------------------------------------------------

    def _log_inventory(
        self,
    ) -> tuple[list[int], list[int], list[tuple[int, int]]]:
        """ONE directory listing → (sorted json commit versions, sorted
        checkpoint versions, sorted [(start, end)] compaction ranges).
        latest_version/exists need all three kinds (round 10: compaction
        ends witness the tip after a cleanup), and a second listStatus
        per call would double the metadata round-trips on an object
        store."""
        commits: list[int] = []
        checkpoints: set[int] = set()
        compactions: list[tuple[int, int]] = []
        for name in _atomic.list_dir(self.spark, f"{self.root}/{_LOG}"):
            if name.endswith(".compact.json"):
                parts = name[: -len(".compact.json")].split(".")
                if len(parts) == 2 and all(p.isdigit() for p in parts):
                    compactions.append((int(parts[0]), int(parts[1])))
            elif name.endswith(".json") and name[:-5].isdigit():
                commits.append(int(name[:-5]))
            elif name.endswith(".checkpoint.parquet"):
                stem = name[: -len(".checkpoint.parquet")]
                if stem.isdigit():
                    checkpoints.add(int(stem))
            elif ".checkpoint." in name and name.endswith(".parquet"):
                # uuid-named V2 checkpoint: <version>.checkpoint.<uuid>.parquet
                stem = name.split(".checkpoint.", 1)[0]
                if stem.isdigit():
                    checkpoints.add(int(stem))
        return sorted(commits), sorted(checkpoints), sorted(compactions)

    def _log_files(self) -> tuple[list[int], list[int]]:
        """(sorted json commit versions, sorted checkpoint versions)."""
        commits, checkpoints, _ = self._log_inventory()
        return commits, checkpoints

    def _compaction_files(self) -> list[tuple[int, int]]:
        """Sorted [(start, end)] of log compaction files
        ``<start>.<end>.compact.json`` (spec "Log Compaction Files")."""
        return self._log_inventory()[2]

    def latest_version(self) -> int:
        # compaction ends count: after a cleanup prunes per-commit JSONs
        # the compaction may be the only witness of the true tip — a
        # writer that missed it would re-mint a version the compaction
        # covers, and replay (which PREFERS compactions) would silently
        # shadow the new commit (round-10 fix, pinned by
        # test_ict_floor_survives_log_compaction_pruning)
        commits, checkpoints, compactions = self._log_inventory()
        comp_ends = [ce for _, ce in compactions]
        if not commits and not checkpoints and not comp_ends:
            raise FileNotFoundError(f"not a Delta table: {self.root}")
        return max(commits + checkpoints + comp_ends)

    def exists(self) -> bool:
        commits, checkpoints, compactions = self._log_inventory()
        return bool(commits or checkpoints or compactions)

    # --- replay -----------------------------------------------------------

    def _commit_actions(self, version: int) -> list[dict]:
        if version not in self._commit_memo:
            # bounded retry: commits publish via exclusive create THEN
            # content write, so a concurrent reader can see the winner's
            # claim before its bytes (or a half-written .crc sibling on
            # Hadoop's checksummed local FS). Torn states are transient;
            # one torn FOREVER means a crashed writer → raise, don't skip.
            p = f"{self.root}/{_LOG}/{version:020d}.json"
            last: Exception | None = None
            for attempt in range(40):
                try:
                    text = _atomic.read_text(self.spark, p)
                    if text.strip():
                        self._commit_memo[version] = [
                            json.loads(line)
                            for line in text.splitlines()
                            if line.strip()
                        ]
                        break
                    last = ValueError(f"empty commit file {p}")
                except Exception as exc:
                    last = exc
                _atomic.backoff_sleep(attempt)
            else:
                raise IOError(f"torn or unreadable commit {p}") from last
        return self._commit_memo[version]

    def _checkpoint_actions(self, version: int) -> list[dict]:
        """Parquet checkpoint → action dicts (spec: one action per row,
        struct column per action type, absent actions null). Resolves
        both checkpoint shapes at ``version``: the classic single file
        ``<v>.checkpoint.parquet`` and the uuid-named V2 form
        ``<v>.checkpoint.<uuid>.parquet`` whose add/remove actions live
        in SIDECAR parquet files under ``_delta_log/_sidecars/`` (one
        ``sidecar`` action per file). When both exist the V2 one wins —
        it is the shape later writers maintain."""
        prefix = f"{version:020d}.checkpoint."
        cands: list[tuple[int, str]] = []
        for name in _atomic.list_dir(self.spark, f"{self.root}/{_LOG}"):
            if name == f"{prefix}parquet":
                cands.append((0, name))
            elif name.startswith(prefix) and name.endswith(".parquet"):
                cands.append((1, name))
        if not cands:
            raise FileNotFoundError(
                f"no checkpoint at version {version} under {self.root}"
            )
        name = max(cands)[1]
        rows = self.spark.read.parquet(f"{self.root}/{_LOG}/{name}").collect()
        actions: list[dict] = []
        sidecars: list[str] = []
        for r in rows:
            d = r.asDict(recursive=True)
            for kind in ("protocol", "metaData", "add", "remove", "txn",
                         "domainMetadata"):
                a = d.get(kind)
                if a is not None:
                    actions.append({kind: {k: v for k, v in a.items() if v is not None}})
            cm = d.get("checkpointMetadata")
            if cm is not None and cm.get("version") not in (None, version):
                raise DeltaProtocolError(
                    f"checkpoint {name} carries checkpointMetadata.version="
                    f"{cm.get('version')} — corrupt checkpoint"
                )
            sc = d.get("sidecar")
            if sc is not None and sc.get("path"):
                sidecars.append(sc["path"])
        for rel in sidecars:
            # spec: sidecar paths are relative to _delta_log/_sidecars/
            sp = f"{self.root}/{_LOG}/{_SIDECAR_DIR}/{rel}"
            for r in self.spark.read.parquet(sp).collect():
                d = r.asDict(recursive=True)
                for kind in ("add", "remove"):
                    a = d.get(kind)
                    if a is not None:
                        actions.append(
                            {kind: {k: v for k, v in a.items() if v is not None}}
                        )
        return actions

    @staticmethod
    def _empty_state() -> dict:
        return {
            "protocol": None, "metaData": None, "adds": {}, "txns": {},
            "domains": {},
        }

    @staticmethod
    def _fold(state: dict, actions: list[dict]) -> dict:
        for a in actions:
            if "protocol" in a:
                state["protocol"] = a["protocol"]
            elif "metaData" in a:
                state["metaData"] = a["metaData"]
            elif "add" in a:
                add = a["add"]
                state["adds"][add["path"]] = add
            elif "remove" in a:
                state["adds"].pop(a["remove"]["path"], None)
            elif "txn" in a:
                t = a["txn"]
                state["txns"][t["appId"]] = t["version"]
            elif "domainMetadata" in a:
                # spec "Domain Metadata": string config per named domain,
                # tombstoned by removed=true
                d = a["domainMetadata"]
                if d.get("removed"):
                    state["domains"].pop(d["domain"], None)
                else:
                    state["domains"][d["domain"]] = d.get("configuration")
        return state

    def _state(self, version: int | None = None) -> dict:
        commits, checkpoints, compactions = self._log_inventory()
        comp_ends = [ce for _, ce in compactions]
        if not commits and not checkpoints and not comp_ends:
            raise FileNotFoundError(f"not a Delta table: {self.root}")
        tip = (
            max(commits + checkpoints + comp_ends)
            if version is None
            else version
        )
        state = self._empty_state()
        # replay from the newest checkpoint ≤ tip (O(tail) replay; also the
        # only path when older JSON commits have been pruned)
        usable = [c for c in checkpoints if c <= tip]
        start = 0
        if usable:
            ckpt = max(usable)
            state = self._fold(state, self._checkpoint_actions(ckpt))
            start = ckpt + 1
        have = set(commits)
        # log compaction files (spec "Log Compaction Files"): at each
        # position, a compaction starting exactly here whose end fits the
        # walk replaces reading its whole range — fewer metadata reads on
        # intact logs, and the ONLY road when a cleaned-up log kept the
        # compaction but dropped the per-commit JSONs
        comp_by_start: dict[int, int] = {}
        for cs, ce in compactions:  # from the single _log_inventory read
            if cs <= ce <= tip:
                comp_by_start[cs] = max(comp_by_start.get(cs, cs - 1), ce)
        v = start
        while v <= tip:
            ce = comp_by_start.get(v)
            if ce is not None:
                state = self._fold(state, self._compaction_actions(v, ce))
                v = ce + 1
                continue
            if v not in have:
                raise FileNotFoundError(
                    f"Delta log version {v} missing (pruned past the last "
                    f"checkpoint, and no compaction starts there?) — "
                    f"cannot reconstruct version {tip}"
                )
            state = self._fold(state, self._commit_actions(v))
            v += 1
        state["version"] = tip
        return state

    def _compaction_actions(self, start: int, end: int) -> list[dict]:
        text = _atomic.read_text(
            self.spark,
            f"{self.root}/{_LOG}/{start:020d}.{end:020d}.compact.json"
        )
        return [json.loads(line) for line in text.splitlines() if line.strip()]

    def compact_log(self, start: int, end: int) -> str:
        """Write a LOG COMPACTION file (spec "Log Compaction Files"):
        ``<start>.<end>.compact.json`` carrying the RECONCILED actions of
        the commit range — latest protocol/metaData, per-path net
        add/remove (a within-range add-then-remove leaves only the
        tombstone, vacuum semantics preserved), latest txn per appId,
        latest domainMetadata per domain, commitInfo dropped (per spec:
        compactions carry no commit-level info). Readers prefer the
        compaction over re-reading the range, and a metadata cleanup may
        drop the per-commit JSONs inside a compacted range without
        breaking replay — the tail-read optimization checkpoints give
        whole prefixes, at range grain.

        100 TB: a high-frequency writer (streaming sink, trickle CDC)
        accumulates thousands of tiny commits between checkpoints;
        compaction keeps cold-start replay O(ranges), not O(commits)."""
        commits, _ = self._log_files()
        have = set(commits)
        if not 0 <= start < end:
            raise ValueError(f"invalid compaction range [{start}, {end}]")
        missing = [v for v in range(start, end + 1) if v not in have]
        if missing:
            raise FileNotFoundError(
                f"cannot compact [{start}, {end}]: versions {missing} "
                f"missing from the log"
            )
        proto = meta = None
        adds: dict[str, dict] = {}
        removes: dict[str, dict] = {}
        txns: dict[str, dict] = {}
        domains: dict[str, dict] = {}
        last_ict: tuple[int, int] | None = None  # (version, ict)
        for v in range(start, end + 1):
            for a in self._commit_actions(v):
                if "add" in a:
                    p = a["add"]["path"]
                    adds[p] = a["add"]
                    removes.pop(p, None)
                elif "remove" in a:
                    p = a["remove"]["path"]
                    adds.pop(p, None)
                    removes[p] = a["remove"]
                elif "protocol" in a:
                    proto = a["protocol"]
                elif "metaData" in a:
                    meta = a["metaData"]
                elif "txn" in a:
                    txns[a["txn"]["appId"]] = a["txn"]
                elif "domainMetadata" in a:
                    domains[a["domainMetadata"]["domain"]] = a["domainMetadata"]
                elif "commitInfo" in a and "inCommitTimestamp" in a["commitInfo"]:
                    last_ict = (v, int(a["commitInfo"]["inCommitTimestamp"]))
        if last_ict is not None:
            # carry the range's LAST in-commit timestamp in an engine-owned
            # domain: commitInfo is dropped per spec, so once a cleanup
            # deletes the per-commit JSONs the ICT monotonic floor would
            # otherwise be unrecoverable inside the range — the next
            # commit's _ict_prev would floor at wall clock and could
            # regress under clock skew (round-10 fix; delta-spark keeps
            # the analogous high-water marks in domains too).
            #
            # Only when the protocol in effect at `end` DECLARES the
            # domainMetadata writer feature (ADVICE r11): ICT enablement
            # alone adds just inCommitTimestamp, and synthesizing a
            # domain action a non-domain protocol never licensed would
            # make external replayers reject the compaction (or worse,
            # accept an undeclared feature). Without the feature the
            # floor is simply not carried — version_at_timestamp and
            # _ict_prev already fall back to the surviving per-commit
            # JSONs outside the range, and wall clock floors the rest.
            #
            # REPLAY DIVERGENCE (documented): a compaction-based replay
            # of [start, end] surfaces this synthesized domain where a
            # per-commit replay of the same range has none (commitInfo
            # carried the timestamp instead); later checkpoints persist
            # it. The domain is engine-owned bookkeeping (graft.ict) —
            # state-equivalent for every data/metadata action.
            eff_proto = proto
            if eff_proto is None:
                eff_proto = self._state(version=end).get("protocol") or {}
            wf = set(eff_proto.get("writerFeatures") or [])
            if "domainMetadata" in wf:
                domains[_ICT_DOMAIN] = {
                    "domain": _ICT_DOMAIN,
                    "configuration": json.dumps(
                        {"version": last_ict[0],
                         "lastInCommitTimestamp": last_ict[1]},
                        separators=(",", ":"),
                    ),
                    "removed": False,
                }
        actions: list[dict] = []
        if proto is not None:
            actions.append({"protocol": proto})
        if meta is not None:
            actions.append({"metaData": meta})
        actions.extend({"txn": t} for _, t in sorted(txns.items()))
        actions.extend({"domainMetadata": d} for _, d in sorted(domains.items()))
        actions.extend({"remove": r} for _, r in sorted(removes.items()))
        actions.extend({"add": a} for _, a in sorted(adds.items()))
        text = (
            "\n".join(json.dumps(a, separators=(",", ":")) for a in actions)
            + "\n"
        )
        rel = f"{_LOG}/{start:020d}.{end:020d}.compact.json"
        try:
            _atomic.write_text(self.spark, f"{self.root}/{rel}", text, exclusive=True)
        except _atomic.ExclusiveCreateConflict as exc:
            raise DeltaCommitConflict(str(exc)) from exc
        return f"{self.root}/{rel}"

    def history(self) -> list[dict]:
        """commitInfo per version (informational, like DESCRIBE HISTORY)."""
        commits, _ = self._log_files()
        out = []
        for v in commits:
            info = next(
                (a["commitInfo"] for a in self._commit_actions(v) if "commitInfo" in a),
                {},
            )
            out.append({"version": v, **info})
        return out

    def version_at(self, ts_millis: int) -> int:
        """Newest version committed at or before ``ts_millis`` — Delta's
        ``timestampAsOf`` resolution. When the ``inCommitTimestamp``
        writer feature is active a version's authoritative timestamp is
        the monotonic ``inCommitTimestamp`` INSIDE its commitInfo (spec
        "In-Commit Timestamps": filesystem mtimes are unreliable — copies
        and backfills rewrite them); pre-enablement versions keep the old
        resolution (commitInfo wall-clock timestamp, file mtime fallback
        for foreign writers that omitted commitInfo). The sequence stays
        monotonic across the boundary because the enablement commit's ICT
        is floored at prev commitInfo timestamp + 1. Raises if the
        timestamp predates the table, and — round-10 fix — if it lands
        INSIDE a pruned range (per-commit JSONs cleaned up over a
        compaction or checkpoint carry no commitInfo, so the true
        in-range resolution is unrecoverable; delta-spark likewise fails
        time travel past cleaned logs — a silent answer here would be
        the PRE-range version, off by up to the whole range)."""
        best = None
        for h in self.history():
            t = h.get("inCommitTimestamp", h.get("timestamp"))
            if t is None:
                t = _atomic.mtime_ms(
                    self.spark, f"{self.root}/{_LOG}/{h['version']:020d}.json"
                )
            if t <= ts_millis:
                best = h["version"]
        if best is None:
            # leading-gap guard (ADVICE r11): history() only sees
            # surviving JSONs. When versions BEFORE the first surviving
            # commit were pruned (compaction/checkpoint replay keeps the
            # data readable), a timestamp older than every surviving
            # commit may still POSTDATE the pruned table start — the
            # true resolution is unrecoverable either way, but calling
            # it "predates the table" would be a lie for any ts inside
            # the leading pruned range.
            # "first surviving" must consider EVERY witness of pruned
            # history, not just JSON commits: when all per-commit JSONs
            # were cleaned and only a checkpoint / compaction survives
            # (ADVICE r11), the pruned range is 0..checkpoint-version —
            # falling through to "predates the table" would be the same
            # lie the guard exists to avoid.
            commits_l, checkpoints, compactions = self._log_inventory()
            commits = set(commits_l)
            pruned_end = -1  # highest LEADING version whose commitInfo is gone
            if 0 not in commits:
                # version 0's JSON is gone: the table's true start
                # timestamp is unrecoverable. Every surviving witness
                # bounds the leading pruned range from below.
                if commits:
                    pruned_end = min(commits) - 1
                for cv in checkpoints:
                    if cv not in commits:
                        pruned_end = max(pruned_end, cv)
                for cs, ce in compactions:
                    # a compact file witnesses versions cs..ce existed;
                    # any of them whose per-commit JSON is gone lost its
                    # commitInfo (the compact file merges actions but
                    # carries no per-version timestamps)
                    missing = [
                        v for v in range(cs, ce + 1) if v not in commits
                    ]
                    if missing:
                        pruned_end = max(pruned_end, max(missing))
            if pruned_end >= 0:
                raise ValueError(
                    f"timestamp {ts_millis} falls before the first "
                    f"surviving per-commit file, and versions "
                    f"0..{pruned_end} were cleaned up — it may predate "
                    f"the table or land inside the cleaned-up log range; "
                    f"commit timestamps there are not reconstructible. "
                    f"Time travel by version, or use a timestamp at or "
                    f"after the first surviving commit"
                )
            raise ValueError(
                f"timestamp {ts_millis} predates the table's first commit"
            )
        # gap guard: history() only sees versions whose JSON survives. If
        # the NEXT version after the resolved one was pruned, ts_millis
        # sits before the next SURVIVING commit's timestamp (else that
        # commit would have resolved) — i.e. inside the pruned gap, where
        # the true answer may be any of the cleaned-away versions.
        surviving = set(self._log_files()[0])
        nxt = best + 1
        if nxt <= self.latest_version() and nxt not in surviving:
            raise ValueError(
                f"timestamp {ts_millis} falls inside a cleaned-up log "
                f"range after version {best}: the per-commit files that "
                f"would resolve it were pruned (compaction/checkpoint "
                f"replay keeps the DATA readable, but commit timestamps "
                f"are not reconstructible) — time travel by version, or "
                f"use a timestamp at or after the next surviving commit"
            )
        return best

    # --- protocol gate ----------------------------------------------------

    def _check_readable(self, state: dict) -> None:
        p = state["protocol"] or {"minReaderVersion": 1}
        mrv = p.get("minReaderVersion", 1)
        if mrv == 2:
            mode = (state["metaData"] or {}).get("configuration", {}).get(
                "delta.columnMapping.mode", "none"
            )
            if mode not in (None, "none", "name", "id"):
                raise DeltaProtocolError(
                    f"column mapping mode {mode!r} not supported by this reader"
                )
        elif mrv == 3:
            feats = set(p.get("readerFeatures") or [])
            unsupported = feats - _SUPPORTED_READER_FEATURES
            if unsupported:
                raise DeltaProtocolError(
                    f"reader features not supported: {sorted(unsupported)}"
                )
        elif mrv > 3:
            raise DeltaProtocolError(f"minReaderVersion {mrv} not supported")
        for add in state["adds"].values():
            dv = add.get("deletionVector")
            if dv and dv.get("storageType") not in ("i", "p", "u"):
                raise DeltaProtocolError(
                    f"unknown deletion-vector storage type "
                    f"{dv.get('storageType')!r} — refusing to read (rows "
                    f"would be resurrected)"
                )

    # --- schema -----------------------------------------------------------

    def table_schema(self, version: int | None = None) -> StructType:
        meta = self._state(version)["metaData"]
        return StructType.fromJson(json.loads(meta["schemaString"]))

    def partition_columns(self, version: int | None = None) -> list[str]:
        return list(self._state(version)["metaData"].get("partitionColumns", []))

    # --- file skipping ----------------------------------------------------

    @staticmethod
    def _column_mapping(meta: dict) -> dict[str, str]:
        """logical name → physical name from the schemaString field
        metadata (``delta.columnMapping.physicalName``). Identity (empty)
        when the table has no mapping. StructField.metadata survives the
        StructType JSON round-trip, so this reads the raw schemaString."""
        try:
            fields = json.loads(meta["schemaString"])["fields"]
        except (KeyError, ValueError, TypeError):
            return {}
        out = {}
        for f in fields:
            phys = (f.get("metadata") or {}).get("delta.columnMapping.physicalName")
            if phys:
                out[f["name"]] = phys
        return out

    @staticmethod
    def _parse_stats(add: dict) -> dict | None:
        s = add.get("stats")
        if not s:
            return None
        try:
            return json.loads(s) if isinstance(s, str) else s
        except (ValueError, TypeError):
            return None

    @staticmethod
    def _stats_may_match(add: dict, where: dict) -> bool:
        """min/max interval test per the Delta stats format; files lacking
        stats for a probed column are conservatively kept."""
        stats = DeltaTable._parse_stats(add)
        if not stats:
            return True
        mins = stats.get("minValues", {})
        maxs = stats.get("maxValues", {})
        for col, (lo, hi) in where.items():
            mn, mx = mins.get(col), maxs.get(col)
            if mn is None or mx is None:
                continue
            if lo is not None and mx < lo:
                return False
            if hi is not None and mn > hi:
                return False
        return True

    @staticmethod
    def _partition_may_match(add: dict, where_eq: dict) -> bool:
        pv = add.get("partitionValues", {})
        for col, allowed in where_eq.items():
            if col not in pv:
                continue
            vals = allowed if isinstance(allowed, (list, tuple, set)) else [allowed]
            if pv[col] not in {str(v) for v in vals}:
                return False
        return True

    # --- read -------------------------------------------------------------

    def snapshot(
        self,
        version: int | None = None,
        where: dict | None = None,
        where_eq: dict | None = None,
    ) -> DataFrame:
        """DataFrame of the table at ``version`` (default: latest).

        ``where={col: (lo, hi)}`` prunes files on add.stats min/max;
        ``where_eq={col: values}`` prunes on partitionValues. Both are
        FILE-level skips — callers still apply the row filter (same
        contract as txlog.snapshot).

        Partition columns are restored TYPED from partitionValues via the
        table schema (Delta stores them as strings and omits them from the
        data files). The surviving files are read as ONE parquet relation
        with their deletion vectors applied once (``_read_adds``), so a
        row filter on a partition column prunes files in the scan too.
        """
        state = self._state(version)
        self._check_readable(state)
        meta = state["metaData"]
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        phys_of = self._column_mapping(meta)  # logical → physical (or identity)
        adds = list(state["adds"].values())
        if where_eq:
            # partitionValues are keyed by PHYSICAL names under column mapping
            where_eq_phys = {phys_of.get(c, c): v for c, v in where_eq.items()}
            adds = [a for a in adds if self._partition_may_match(a, where_eq_phys)]
        if where:
            where_phys = {phys_of.get(c, c): v for c, v in where.items()}
            adds = [a for a in adds if self._stats_may_match(a, where_phys)]
        if not adds:
            # the same schema a read of the files gives
            return local_frame(self.spark, [], _nullable(schema))
        return self._read_adds(adds, meta)

    def _abs_data_path(self, path: str) -> str:
        p = _unquote_path(path)
        if "://" in p or p.startswith("/"):
            return p  # spec: absolute URI escape hatch (shallow clones)
        return f"{self.root}/{p}"

    # --- deletion vectors -------------------------------------------------

    def _dv_deleted_rows(self, dv: dict) -> set[int]:
        """Deleted row indices of a deletion-vector descriptor
        (``roaring.dv_rows``: inline, absolute-path and relative-uuid
        storage)."""
        from projectdatalake_spark.sources.roaring import dv_rows

        try:
            return dv_rows(dv, self.root, lambda p: _atomic.read_bytes(self.spark, p))
        except ValueError as exc:
            raise DeltaProtocolError(str(exc)) from exc

    def _read_physical(
        self,
        paths: list[str],
        data_schema: StructType,
        cm_mode: str,
        with_meta: bool = False,
    ) -> DataFrame:
        """Scan physical data files under column mapping WITHOUT touching
        session confs.

        name mode (and unmapped): files carry no field ids; resolution is
        strictly by physical name — a plain explicit-schema scan.

        id mode: the spec resolves columns by parquet field id. Instead
        of enabling ``spark.sql.parquet.fieldId.read.enabled`` on the
        shared session (the conf is consulted at ACTION time, so it
        cannot be scoped around a lazily-returned frame and would leak
        id-based resolution into every later session read — ADVICE r11),
        resolve the ids HERE: probe each file's parquet footer
        (driver-side pyarrow, O(#files) METADATA — the same budget as
        the add-stats loops), map field id → that file's column name,
        scan by the file's own names, and alias to the expected physical
        names in one projection. Files group by footer signature so the
        common case (uniform engine-written files) stays ONE scan; a
        field id absent from a file (written before the column was
        added) reads as a typed NULL, matching by-id resolution
        semantics. Handles foreign files whose column names differ
        arbitrarily from the table's physicalName mapping — including
        name swaps, since the alias projection is simultaneous.

        ``with_meta=True`` materializes ``__fp`` (raw decoded file path)
        and ``__ri`` (row index) from ``_metadata`` INSIDE the scan
        projection — callers needing row identity must ask here, because
        the hidden ``_metadata`` struct does not survive the id-mode
        projection."""
        def _with_meta_cols(df: DataFrame) -> DataFrame:
            return df.withColumn(
                "__fp", _file_path_raw(F.col("_metadata.file_path"))
            ).withColumn("__ri", F.col("_metadata.row_index"))

        if cm_mode != "id":
            df = self.spark.read.schema(data_schema).parquet(*paths)
            return _with_meta_cols(df) if with_meta else df
        import pyarrow.parquet as pq

        expected = []  # (field_id | None, physical_name, dtype)
        for f in data_schema.fields:
            fid = (f.metadata or {}).get("parquet.field.id")
            expected.append(
                (None if fid is None else int(fid), f.name, f.dataType)
            )

        def _local(p: str) -> str:
            if p.startswith("file://"):
                return urllib.parse.unquote(urllib.parse.urlparse(p).path)
            return p

        groups: dict[tuple, list[str]] = {}
        for p in paths:
            lp = _local(p)
            if "://" in lp:
                raise DeltaProtocolError(
                    f"id-mode read of {p!r}: field-id resolution probes "
                    f"parquet footers driver-side; non-file object-store "
                    f"schemes need a pyarrow filesystem (not available "
                    f"in this environment)"
                )
            by_id: dict[int, str] = {}
            names = set()
            for fld in pq.read_schema(lp):
                names.add(fld.name)
                v = (fld.metadata or {}).get(b"PARQUET:field_id")
                if v is not None:
                    by_id[int(v)] = fld.name
            # a field with no declared id resolves by physical name when
            # the file happens to carry it (the spec's pre-mapping files)
            sig = tuple(
                by_id.get(fid)
                if fid is not None
                else (phys if phys in names else None)
                for fid, phys, _t in expected
            )
            groups.setdefault(sig, []).append(p)
        frames = []
        for sig, ps in groups.items():
            read_fields = [
                StructField(fname, dtype, True)
                for (fid, phys, dtype), fname in zip(expected, sig)
                if fname is not None
            ]
            df = self.spark.read.schema(StructType(read_fields)).parquet(*ps)
            sel = [
                (
                    F.lit(None).cast(dtype).alias(phys)
                    if fname is None
                    else df[fname].alias(phys)
                )
                for (fid, phys, dtype), fname in zip(expected, sig)
            ]
            if with_meta:
                sel.append(
                    _file_path_raw(F.col("_metadata.file_path")).alias("__fp")
                )
                sel.append(F.col("_metadata.row_index").alias("__ri"))
            frames.append(df.select(*sel))
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def _apply_dvs(
        self,
        df: DataFrame,
        dv_adds: list[dict],
        has_meta: bool = False,
        keep_meta: bool = False,
    ) -> DataFrame:
        """Filter DV-masked rows: the vectors decode on the driver and the
        (file, row_index) pairs anti-join the parquet metadata columns as
        one broadcast local frame (deletion_vectors.py — O(deleted rows)
        driver memory; the merge-on-read read path). ``has_meta=True``
        when the frame already carries ``__fp``/``__ri`` (the id-mode
        ``_read_physical`` projection, where ``_metadata`` is gone);
        ``keep_meta=True`` leaves them on the result."""
        by_file = {
            self._abs_data_path(a["path"]): self._dv_deleted_rows(a["deletionVector"])
            for a in dv_adds
        }
        if not has_meta:
            df = df.withColumn(
                "__fp", _file_path_raw(F.col("_metadata.file_path"))
            ).withColumn("__ri", F.col("_metadata.row_index"))
        if any(by_file.values()):
            deleted = _dv.pairs_frame(self.spark, by_file, "__fp", "__ri")
            df = df.join(
                F.broadcast(deleted), on=["__fp", "__ri"], how="left_anti"
            )
        return df if keep_meta else df.drop("__fp", "__ri")

    def _read_adds(
        self, adds: list[dict], meta: dict, with_meta: bool = False
    ) -> DataFrame:
        """The live rows of ``adds`` (non-empty) as ONE parquet relation
        under the table's logical schema, deletion vectors applied once
        (``_apply_dvs``). ``with_meta=True`` also keeps ``__fp`` (the raw
        file path, as ``_abs_data_path`` spells it) and ``__ri`` (the row
        index).

        Partition columns come typed from the directories (``basePath``
        and the schema's types) when every path is hive-relative under
        an unmapped table, so partition predicates still prune files.
        Otherwise (absolute-path clones, column mapping) the data files
        are read by physical name (``_read_physical``, which keeps
        id-mode grouping by footer signature) and the partition values
        join in from one broadcast local frame keyed on the raw file
        path. No per-partition plan branches either way: a plan's shape,
        and so its generated code, does not depend on the values."""
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        pcols = list(meta.get("partitionColumns", []))
        phys_of = self._column_mapping(meta)  # logical → physical (or identity)
        cm_mode = (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        names = [f.name for f in schema.fields]
        paths = [self._abs_data_path(a["path"]) for a in adds]
        dv_adds = [a for a in adds if a.get("deletionVector")]

        def hive_rel(a: dict) -> bool:
            p = _unquote_path(a["path"])
            if "://" in p or p.startswith("/"):
                return False
            segs = p.split("/")
            return len(segs) == len(pcols) + 1 and all(
                seg.startswith(f"{c}=") for seg, c in zip(segs, pcols)
            )

        if cm_mode in (None, "none") and all(hive_rel(a) for a in adds):
            df = (
                self.spark.read.schema(schema)
                .option("basePath", self.root)
                .parquet(*paths)
            )
            has_meta = False
        else:
            # data files store PHYSICAL names; in id mode resolution is by
            # parquet field id (ids stamped in the files)
            data_fields = []
            for f in schema.fields:
                if f.name in pcols:
                    continue
                m = {}
                if cm_mode == "id":
                    fid = (f.metadata or {}).get("delta.columnMapping.id")
                    if fid is not None:
                        m = {"parquet.field.id": int(fid)}
                data_fields.append(
                    StructField(phys_of.get(f.name, f.name), f.dataType, True, m)
                )
            df = self._read_physical(
                paths, StructType(data_fields), cm_mode, with_meta=True
            )
            has_meta = True
            for f in schema.fields:
                if f.name not in pcols and phys_of.get(f.name, f.name) != f.name:
                    df = df.withColumnRenamed(phys_of[f.name], f.name)
            if pcols:
                ptypes = {f.name: f.dataType for f in schema.fields}
                rows = []
                for p, a in zip(paths, adds):
                    pv = a.get("partitionValues", {})
                    vals = [pv.get(phys_of.get(c, c)) for c in pcols]
                    rows.append(
                        (p, *[None if v == "__HIVE_DEFAULT_PARTITION__" else v for v in vals])
                    )
                consts = local_frame(
                    self.spark,
                    rows,
                    ", ".join(["__fp string"] + [f"__p{i} string" for i in range(len(pcols))]),
                ).select(
                    "__fp",
                    *[F.col(f"__p{i}").cast(ptypes[c]).alias(c) for i, c in enumerate(pcols)],
                )
                df = df.join(F.broadcast(consts), "__fp")
        if dv_adds or with_meta:
            df = self._apply_dvs(df, dv_adds, has_meta=has_meta, keep_meta=with_meta)
        elif has_meta:
            df = df.drop("__fp", "__ri")
        return df.select(*names, *(["__fp", "__ri"] if with_meta else []))

    def num_files(self, version: int | None = None) -> int:
        return len(self._state(version)["adds"])

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Change data feed synthesized from commit diffs — the same
        mechanism delta-spark uses for add/remove-only commits when no
        explicit change files exist. INCLUSIVE of ``from_version`` (the
        Delta startingVersion convention). Emits the table schema plus
        ``_change_type`` ('insert' | 'delete') and ``_commit_version``.

        Per version: dataChange adds → inserts (masked by any same-commit
        DV); dataChange removes → deletes of the file's pre-remove visible
        rows; a grown deletion vector on a surviving file → deletes of
        exactly the newly-masked row indices. dataChange=false rewrites
        (OPTIMIZE) emit nothing — layout is not data."""
        tip = self.latest_version() if to_version is None else to_version
        base = self._state(from_version - 1) if from_version > 0 else self._empty_state()
        self._check_readable(self._state(tip))
        meta = self._state(tip)["metaData"]
        self._refuse_mapped(meta, "changes")
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        pcols = list(meta.get("partitionColumns", []))
        data_schema = StructType([f for f in schema.fields if f.name not in pcols])
        ptypes = {f.name: f.dataType for f in schema.fields if f.name in pcols}
        out_cols = [f.name for f in schema.fields] + ["_change_type", "_commit_version"]

        def read_add(add: dict) -> DataFrame:
            df = self.spark.read.schema(data_schema).parquet(
                self._abs_data_path(add["path"])
            )
            pv = add.get("partitionValues", {})
            for c in pcols:
                df = df.withColumn(c, _partition_literal(pv.get(c), ptypes[c]))
            return df

        def rows_at(add: dict, indices: set[int]) -> DataFrame:
            pairs = local_frame(
                self.spark,
                [(i,) for i in indices], "__ri long"
            )
            return (
                read_add(add)
                .withColumn("__ri", F.col("_metadata.row_index"))
                .join(F.broadcast(pairs), "__ri")
                .drop("__ri")
            )

        def visible(add: dict) -> DataFrame:
            df = read_add(add)
            if add.get("deletionVector"):
                df = self._apply_dvs(df, [add])
            return df

        frames: list[DataFrame] = []
        state = base
        adds_before = dict(state["adds"])
        for v in range(from_version, tip + 1):
            actions = self._commit_actions(v)
            state = self._fold(state, actions)
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
                    continue  # DV re-emit of a surviving file, handled below
                frames.append(
                    visible(adds_after[p]).select(
                        *[f.name for f in schema.fields],
                        F.lit("insert").alias("_change_type"),
                        F.lit(v).alias("_commit_version"),
                    )
                )
            for p in removed_dc:
                if p in adds_after:
                    continue  # remove+add of same path = DV transition
                if p not in adds_before:
                    continue
                frames.append(
                    visible(adds_before[p]).select(
                        *[f.name for f in schema.fields],
                        F.lit("delete").alias("_change_type"),
                        F.lit(v).alias("_commit_version"),
                    )
                )
            # DV transitions: same path present before AND after
            for p in added_dc & set(adds_before):
                old_dv = adds_before[p].get("deletionVector")
                new_dv = adds_after[p].get("deletionVector")
                old_rows = self._dv_deleted_rows(old_dv) if old_dv else set()
                new_rows = self._dv_deleted_rows(new_dv) if new_dv else set()
                grown = new_rows - old_rows
                if grown:
                    frames.append(
                        rows_at(adds_after[p], grown).select(
                            *[f.name for f in schema.fields],
                            F.lit("delete").alias("_change_type"),
                            F.lit(v).alias("_commit_version"),
                        )
                    )
            adds_before = adds_after
        if not frames:
            from pyspark.sql.types import LongType, StringType, StructField

            empty = StructType(
                list(schema.fields)
                + [
                    StructField("_change_type", StringType()),
                    StructField("_commit_version", LongType()),
                ]
            )
            return local_frame(self.spark, [], empty)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out.select(*out_cols)

    def files(self, version: int | None = None) -> list[dict]:
        return list(self._state(version)["adds"].values())

    # --- write ------------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        df: DataFrame,
        partition_by: tuple[str, ...] = (),
        configuration: dict | None = None,
        name: str | None = None,
        bloom_by: tuple[str, ...] = (),
        generated: dict[str, str] | None = None,
        defaults: dict[str, str] | None = None,
        identity: dict[str, dict] | None = None,
    ) -> "DeltaTable":
        """``generated={col: sql_expr}`` declares GENERATED columns
        (protocol "Generated Columns": the expression is stored as
        ``delta.generationExpression`` in the field's schema metadata and
        the table requires minWriterVersion 4). The incoming frame omits
        the generated columns — they are computed here, MATERIALIZED into
        the data files (Delta stores generated values physically; readers
        never re-derive), and every later append either recomputes them
        or has its caller-supplied values validated against the
        expression (writer contract).

        ``identity={col: {"start": 1, "step": 1, "order_by": [...],
        "partition_by": [...]}}`` declares IDENTITY columns (protocol
        "Identity Columns", the minWriterVersion-6 table feature):
        ``delta.identity.start`` / ``delta.identity.step`` /
        ``delta.identity.highWaterMark`` live in the field's schema
        metadata, the writer allocates ``start + k·step`` values for
        frames that omit the column, and each allocating commit advances
        the high-water mark in the SAME commit's metaData. The
        ``order_by``/``partition_by`` keys are this writer's ALLOCATION
        policy, not spec metadata: ids number rows deterministically via
        the two-shuffle group-offset scheme (operators/relational.
        deterministic_id — no global-window funnel), so identical input
        gets identical ids across runs/engines. Explicit caller-supplied
        values are refused (GENERATED ALWAYS semantics;
        ``delta.identity.allowExplicitInsert`` stays false)."""
        t = cls(spark, root)
        if t.exists():
            raise DeltaCommitConflict(f"Delta table already exists at {root}")
        cfg = dict(configuration or {})
        if bloom_by:
            cfg[_BLOOM_CONF_KEY] = ",".join(bloom_by)
        t._pending_bloom = tuple(bloom_by)
        gen = dict(generated or {})
        for col, expr in gen.items():
            if col in df.columns:
                raise DeltaProtocolError(
                    f"generated column {col!r} must not be in the CREATE "
                    f"frame — it is computed from ({expr})"
                )
            df = df.withColumn(col, F.expr(expr))
        dfl = dict(defaults or {})
        for col, expr in dfl.items():
            # column DEFAULTs (protocol writer feature allowColumnDefaults,
            # spec: the SQL expression is stored in the field metadata as
            # CURRENT_DEFAULT): a real, caller-writable column — the
            # default fills it only when a write OMITS it. Absent from the
            # create frame = computed now.
            if col in gen:
                raise DeltaProtocolError(
                    f"column {col!r} cannot be both generated and defaulted"
                )
            if col not in df.columns:
                df = df.withColumn(col, F.expr(expr))
        idy = dict(identity or {})
        id_meta: dict[str, dict] = {}
        for col, spec in idy.items():
            if col in df.columns or col in gen or col in dfl:
                raise DeltaProtocolError(
                    f"identity column {col!r} must not be in the CREATE "
                    f"frame or doubly declared — it is GENERATED ALWAYS"
                )
            start = int(spec.get("start", 1))
            step = int(spec.get("step", 1))
            if step == 0:
                raise DeltaProtocolError(
                    "identity step must be nonzero (spec: any nonzero "
                    "step; a negative step descends and the high-water "
                    "mark becomes the low-water mark)"
                )
            df, hwm = _allocate_identity(
                df, col, start, step,
                spec.get("partition_by"), spec.get("order_by"),
            )
            id_meta[col] = {
                "delta.identity.start": start,
                "delta.identity.step": step,
                "delta.identity.allowExplicitInsert": False,
            }
            if hwm is not None:
                id_meta[col]["delta.identity.highWaterMark"] = hwm
        schema_json = json.loads(df.schema.json())
        for f in schema_json["fields"]:
            if f["name"] in gen:
                f.setdefault("metadata", {})
                f["metadata"]["delta.generationExpression"] = gen[f["name"]]
            if f["name"] in dfl:
                f.setdefault("metadata", {})
                f["metadata"]["CURRENT_DEFAULT"] = dfl[f["name"]]
            if f["name"] in id_meta:
                f.setdefault("metadata", {})
                f["metadata"].update(id_meta[f["name"]])
        adds = t._stage(df, tuple(partition_by))
        meta = {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema_json),
            "partitionColumns": list(partition_by),
            "configuration": cfg,
            "createdTime": int(time.time() * 1000),
        }
        if name:
            meta["name"] = name
        # generated columns take legacy writer 4; defaults and identity are
        # then writer-only table features at writer 7
        proto = t._protocol_with(None, writer={"generatedColumns"} if gen else ())
        features = {"allowColumnDefaults"} if dfl else set()
        features |= {"identityColumns"} if idy else set()
        proto = (
            t._protocol_with(proto, writer=features, legacy=False)
            or proto or {"minReaderVersion": 1, "minWriterVersion": 2}
        )
        actions = [
            {"commitInfo": t._commit_info("CREATE TABLE AS SELECT")},
            {"protocol": proto},
            {"metaData": meta},
            *({"add": a} for a in adds),
        ]
        t._publish(0, actions)
        return t

    @staticmethod
    def _identity_of(meta: dict) -> dict[str, dict]:
        """Identity columns from schema field metadata (spec "Identity
        Columns"): {col: {start, step, hwm (None until first
        allocation), allow_explicit}}."""
        out = {}
        for f in json.loads(meta["schemaString"])["fields"]:
            md = f.get("metadata") or {}
            if "delta.identity.start" in md:
                hwm = md.get("delta.identity.highWaterMark")
                out[f["name"]] = {
                    "start": int(md["delta.identity.start"]),
                    "step": int(md["delta.identity.step"]),
                    "hwm": None if hwm is None else int(hwm),
                    "allow_explicit": bool(
                        md.get("delta.identity.allowExplicitInsert", False)
                    ),
                }
        return out

    def identity_columns(self) -> dict[str, dict]:
        return self._identity_of(self._state()["metaData"])

    def _refuse_identity_rewrite(self, meta: dict, op: str) -> None:
        if self._identity_of(meta):
            raise DeltaProtocolError(
                f"{op} on a table with identity columns is not supported "
                f"by this writer — a whole/partition replace would restart "
                f"or drop id continuity (merge_upsert DOES discriminate "
                f"inserts and allocates correctly)"
            )

    @staticmethod
    def _defaults_of(meta: dict) -> dict[str, str]:
        out = {}
        for f in json.loads(meta["schemaString"])["fields"]:
            d = (f.get("metadata") or {}).get("CURRENT_DEFAULT")
            if d is not None:
                out[f["name"]] = d
        return out

    def column_defaults(self) -> dict[str, str]:
        return self._defaults_of(self._state()["metaData"])

    def _apply_defaults(self, df: DataFrame, meta: dict) -> DataFrame:
        """INSERT-time DEFAULT contract (allowColumnDefaults): a declared
        column the incoming frame OMITS is filled from its CURRENT_DEFAULT
        expression (cast to the declared type); a present column passes
        through untouched — explicit NULLs stay NULL (DEFAULT is not
        NOT NULL)."""
        dfl = self._defaults_of(meta)
        if not dfl:
            return df
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        typ = {f.name: f.dataType for f in schema.fields}
        for col, expr in dfl.items():
            if col not in df.columns:
                df = df.withColumn(col, F.expr(expr).cast(typ[col]))
        return df

    @staticmethod
    def _generated_of(meta: dict) -> dict[str, str]:
        """{column: generation expression} from the schema's field
        metadata (protocol key ``delta.generationExpression``)."""
        out: dict[str, str] = {}
        for f in json.loads(meta["schemaString"]).get("fields", []):
            expr = (f.get("metadata") or {}).get("delta.generationExpression")
            if expr is not None:
                out[f["name"]] = expr
        return out

    def generated_columns(self) -> dict[str, str]:
        return self._generated_of(self._state()["metaData"])

    def _apply_generated(self, df: DataFrame, meta: dict) -> DataFrame:
        """Writer-side generated-column contract: absent columns are
        COMPUTED (cast to the declared type); present columns are
        VALIDATED against the expression with a short-circuit limit(1)
        probe (a writer supplying wrong values would corrupt every
        reader that trusts the invariant, e.g. partition pruning on a
        generated partition column)."""
        gen = self._generated_of(meta)
        if not gen:
            return df
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        typ = {f.name: f.dataType for f in schema.fields}
        for col, expr in gen.items():
            if col not in df.columns:
                df = df.withColumn(col, F.expr(expr).cast(typ[col]))
            elif (
                df.filter(f"NOT ({col} <=> CAST(({expr}) AS {typ[col].simpleString()}))")
                .limit(1)
                .count()
            ):
                raise DeltaProtocolError(
                    f"rows contradict generated column {col!r} = ({expr}) "
                    f"— write refused"
                )
        return df

    def _apply_identity(
        self, df: DataFrame, meta: dict, identity_order: dict | None
    ) -> tuple[DataFrame, dict | None, dict, dict]:
        """Identity-column write contract: a frame OMITTING an identity
        column gets values allocated above the high-water mark (and the
        commit must carry the advanced mark — returned as a metaData
        action); a frame SUPPLYING one is refused while
        allowExplicitInsert is false (GENERATED ALWAYS). Returns
        (df, metaData action or None, mark snapshot used, new marks) —
        the snapshot lets append's retry loop detect a racer's
        allocation and re-stage."""
        idy = self._identity_of(meta)
        if not idy:
            return df, None, {}, {}
        # column-mapped tables (round 10, previously refused): allocation
        # happens on the LOGICAL frame; append's physical staging renames
        # the allocated column with every other declared column, and the
        # high-water metaData action matches schemaString fields by
        # logical name — mapping keys ride along untouched. Only
        # name-mode tables reach here: append refuses id-mode writes
        # outright and merge_upsert refuses all mapped writes.
        used: dict[str, int | None] = {}
        new_hwm: dict[str, int] = {}
        for col, spec in idy.items():
            if col in df.columns:
                if not spec["allow_explicit"]:
                    raise DeltaProtocolError(
                        f"identity column {col!r} is GENERATED ALWAYS — "
                        f"explicit values are refused"
                    )
                used[col] = spec["hwm"]
                continue
            pol = (identity_order or {}).get(col) or {}
            base = (
                spec["start"]
                if spec["hwm"] is None
                else spec["hwm"] + spec["step"]
            )
            df, hwm = _allocate_identity(
                df, col, base, spec["step"],
                pol.get("partition_by"), pol.get("order_by"),
            )
            used[col] = spec["hwm"]
            if hwm is not None:
                new_hwm[col] = hwm
        return df, self._identity_meta_action(meta, new_hwm), used, new_hwm

    @staticmethod
    def _identity_meta_action(meta: dict, new_hwm: dict) -> dict | None:
        if not new_hwm:
            return None
        schema_json = json.loads(meta["schemaString"])
        for f in schema_json["fields"]:
            if f["name"] in new_hwm:
                f.setdefault("metadata", {})
                f["metadata"]["delta.identity.highWaterMark"] = new_hwm[
                    f["name"]
                ]
        return {"metaData": {**meta, "schemaString": json.dumps(schema_json)}}

    def _commit_info(self, op: str, params: dict | None = None) -> dict:
        return {
            "timestamp": int(time.time() * 1000),
            "operation": op,
            "operationParameters": params or {},
            "engineInfo": "projectdatalake-spark-deltainterop/0.1",
        }

    def _stage(self, df: DataFrame, partition_by: tuple[str, ...]) -> list[dict]:
        """Write data files under _staging, move them into the table root
        (hive layout — Delta convention: partition columns live in the
        directory structure / partitionValues, NOT in the files), and
        return spec-shaped add actions with Delta-format stats (see
        ``_staged_files``). Files without rows are never committed."""
        stage_id = uuid.uuid4().hex
        stage_dir = f"{self.root}/_staging/{stage_id}"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        # id-mode staged frames carry parquet.field.id field metadata
        # (_physical_stage); the write conf that makes Spark stamp those
        # ids into the files is scoped to THIS action only — it is
        # consulted at write time, so enclosing the action suffices and
        # nothing leaks into later session reads/writes (ADVICE r11)
        field_ids = any(
            (f.metadata or {}).get("parquet.field.id") is not None
            for f in df.schema.fields
        )
        if field_ids:
            with _scoped_confs(
                self.spark,
                {"spark.sql.parquet.fieldId.write.enabled": "true"},
            ):
                writer.parquet(stage_dir)
        else:
            writer.parquet(stage_dir)
        adds = []
        for f in self._staged_files(stage_dir, partition_by, df.schema):
            rel = f["rel"]
            if not _atomic.rename(self.spark, f["path"], f"{self.root}/{rel}"):
                raise IOError(
                    f"failed to move staged file {f['path']} -> {self.root}/{rel}"
                )
            adds.append(
                {
                    "path": _quote_path(rel),
                    "partitionValues": f["partitionValues"],
                    "size": f["size"],
                    "modificationTime": f["mtime"],
                    "dataChange": True,
                    **f["encoded"],
                }
            )
        _atomic.delete(self.spark, stage_dir, recursive=True)
        return adds

    @staticmethod
    def _bloom_cols_of(meta: dict) -> tuple[str, ...]:
        raw = (meta.get("configuration") or {}).get(_BLOOM_CONF_KEY, "")
        return tuple(c for c in raw.split(",") if c)

    def _bloom_cols(self) -> tuple[str, ...]:
        """Columns opted into per-file bloom filters: the creation setting
        (``_pending_bloom`` while version 0 is being staged) or the live
        table configuration afterwards."""
        if not self.exists():
            return tuple(getattr(self, "_pending_bloom", ()))
        return self._bloom_cols_of(self._state()["metaData"])

    def _staged_files(
        self, stage_dir: str, partition_by, schema: StructType
    ) -> list[dict]:
        """``footer_stats.staged_files`` over ``stage_dir`` in Delta's
        encoding: each file also carries ``partitionValues`` (the hive
        null marker as null) and ``encoded`` — the add's ``stats`` JSON
        (numRecords / minValues / maxValues / nullCount) and its bloom
        ``tags``. The stats columns are ``schema``'s simple-typed
        non-partition columns (the written frame's, or the converted
        table's), so a column only some files carry still gets stats in
        each file that has it; a file lacking a column reads it as all
        null, so its nullCount is the record count."""
        cols = [
            f.name
            for f in schema.fields
            if f.name not in partition_by and f.dataType.typeName() in _SIMPLE_TYPES
        ]
        bloom_cols = [c for c in self._bloom_cols() if c in set(cols)]
        files = _fs.staged_files(self.spark, stage_dir, cols, bloom_cols=bloom_cols)
        for f in files:
            f["partitionValues"] = {
                c: (None if v == "__HIVE_DEFAULT_PARTITION__" else v)
                for c, v in f["partition"].items()
            }
            stats = {
                "numRecords": f["nrec"],
                "minValues": {},
                "maxValues": {},
                "nullCount": {},
            }
            for c in cols:
                if c in f["min"]:
                    stats["minValues"][c] = _stats_scalar(f["min"][c])
                    stats["maxValues"][c] = _stats_scalar(f["max"][c])
                stats["nullCount"][c] = f["nulls"].get(c, f["nrec"])
            f["encoded"] = {"stats": json.dumps(stats, separators=(",", ":"))}
            if f["bloom"]:
                f["encoded"]["tags"] = {
                    f"{_BLOOM_TAG_PREFIX}{c}": h for c, h in f["bloom"].items()
                }
        return files

    def _ict_prev(self, version: int) -> tuple[bool, int | None]:
        """(was ICT active at ``version - 1``, that commit's authoritative
        timestamp). One small JSON read — the previous commit's commitInfo
        carries the answer by induction (every post-enablement commit
        stamps ``inCommitTimestamp``). If the previous commit file was
        pruned (cleanup over a compacted range, or past a checkpoint —
        commitInfo lives in neither), the monotonic floor is RECOVERED
        from surviving evidence instead of silently dropping to None
        (which would floor the next ICT at wall clock and let it regress
        under clock skew): the newest surviving commitInfo, the
        ``graft.ict`` domain a compaction carries for its pruned range,
        and the enablement-timestamp table property — max of all three
        (round-10 fix)."""
        if version <= 0:
            return (False, None)
        # a pruned file is a deterministic absence — skip _commit_actions'
        # torn-write retry loop (40 × backoff) with one exists() probe
        if not _atomic.exists(
            self.spark, f"{self.root}/{_LOG}/{version - 1:020d}.json"
        ):
            return self._ict_recover(version - 1)
        try:
            acts = self._commit_actions(version - 1)
        except Exception:
            return self._ict_recover(version - 1)
        ci = next((a["commitInfo"] for a in acts if "commitInfo" in a), {})
        if "inCommitTimestamp" in ci:
            return (True, int(ci["inCommitTimestamp"]))
        return (False, ci.get("timestamp"))

    def _ict_recover(self, upto: int) -> tuple[bool, int | None]:
        """ICT floor for a pruned log tip: (enabled at ``upto``, the best
        recoverable floor ≤ the true last ICT). Every source is a valid
        floor — commits are monotonic — so max() can only tighten it."""
        state = self._state(upto)
        conf = (state["metaData"] or {}).get("configuration") or {}
        if conf.get("delta.enableInCommitTimestamps") != "true":
            return (False, None)
        floors: list[int] = []
        commits, _ = self._log_files()
        for v in sorted((c for c in commits if c <= upto), reverse=True):
            try:
                acts = self._commit_actions(v)
            except Exception:
                continue
            ci = next(
                (a["commitInfo"] for a in acts if "commitInfo" in a), {}
            )
            if "inCommitTimestamp" in ci:
                floors.append(int(ci["inCommitTimestamp"]))
            break  # older survivors only have older (looser) floors
        dom = state["domains"].get(_ICT_DOMAIN)
        if dom:
            floors.append(int(json.loads(dom)["lastInCommitTimestamp"]))
        et = conf.get("delta.inCommitTimestampEnablementTimestamp")
        if et is not None:
            floors.append(int(et))
        return (True, max(floors) if floors else None)

    def _stamp_in_commit_timestamp(
        self, version: int, actions: list[dict]
    ) -> list[dict]:
        """Spec "In-Commit Timestamps" (writer feature
        ``inCommitTimestamp``): when the feature is active, every commit's
        commitInfo — which MUST be the first action — carries a MONOTONIC
        ``inCommitTimestamp`` = max(wall clock, previous commit's
        timestamp + 1). Stamping lives here at the single publish choke
        point so every operation (append, merge, optimize, restore, …)
        and every conflict RETRY re-derives the timestamp against the
        version it actually lands on."""
        enables = any(
            ((a.get("metaData") or {}).get("configuration") or {}).get(
                "delta.enableInCommitTimestamps"
            ) == "true"
            for a in actions
        )
        if not enables and version == 0:
            return actions
        prev_on, prev_ts = self._ict_prev(version)
        if not (enables or prev_on):
            return actions
        ict = max(int(time.time() * 1000), (prev_ts or 0) + 1)
        out = list(actions)
        idx = next((i for i, a in enumerate(out) if "commitInfo" in a), None)
        if idx is None:
            ci_action = {"commitInfo": self._commit_info("COMMIT")}
        else:
            ci_action = {"commitInfo": dict(out.pop(idx)["commitInfo"])}
        ci_action["commitInfo"]["inCommitTimestamp"] = ict
        out.insert(0, ci_action)
        if enables and not prev_on and version > 0:
            # the post-creation enablement commit records WHERE the ICT
            # clock starts (spec: enablement version + timestamp table
            # properties let timestamp queries route pre/post-enablement
            # versions to the right resolution)
            for i, a in enumerate(out):
                meta = a.get("metaData")
                if meta and (meta.get("configuration") or {}).get(
                    "delta.enableInCommitTimestamps"
                ) == "true":
                    conf = dict(meta["configuration"])
                    conf.setdefault(
                        "delta.inCommitTimestampEnablementVersion", str(version)
                    )
                    conf.setdefault(
                        "delta.inCommitTimestampEnablementTimestamp", str(ict)
                    )
                    out[i] = {"metaData": {**meta, "configuration": conf}}
        return out

    def enable_in_commit_timestamps(self) -> int:
        """Turn on the ``inCommitTimestamp`` writer feature (writer-only:
        readers are untouched — the timestamp is extra commitInfo data).
        From this commit on, ``version_at`` resolves against the
        monotonic in-commit clock instead of file mtimes.

        Also declares ``domainMetadata``: this engine's ``compact_log``
        preserves the ICT monotonic floor through compactions via the
        engine-owned ``graft.ict`` domain (commitInfo is dropped per
        spec), and a domain action is only licensed when the protocol
        declares the feature (ADVICE r11) — enabling ICT without it
        would silently lose the floor at the first compaction."""
        for attempt in range(20):
            state = self._state()
            meta = state["metaData"]
            conf = dict(meta.get("configuration") or {})
            if conf.get("delta.enableInCommitTimestamps") == "true":
                return state["version"]
            # domainMetadata licenses compact_log's graft.ict floor-carry
            # domain (see docstring)
            proto = self._protocol_with(
                state["protocol"], writer={"inCommitTimestamp", "domainMetadata"}
            )
            actions: list[dict] = [
                {"commitInfo": self._commit_info("ENABLE IN-COMMIT TIMESTAMPS")},
                *([{"protocol": proto}] if proto else []),
                {"metaData": {
                    **meta,
                    "configuration": {
                        **conf, "delta.enableInCommitTimestamps": "true",
                    },
                }},
            ]
            try:
                self._publish(state["version"] + 1, actions)
                return state["version"] + 1
            except DeltaCommitConflict:
                continue
        raise DeltaCommitConflict(
            f"enable_in_commit_timestamps lost 20 races at {self.root}"
        )

    def _publish(self, version: int, actions: list[dict]) -> None:
        actions = self._stamp_in_commit_timestamp(version, actions)
        text = "\n".join(json.dumps(a, separators=(",", ":")) for a in actions) + "\n"
        try:
            _atomic.write_text(
                self.spark, f"{self.root}/{_LOG}/{version:020d}.json", text,
                exclusive=True,
            )
        except _atomic.ExclusiveCreateConflict as exc:
            raise DeltaCommitConflict(str(exc)) from exc

    @staticmethod
    def _protocol_with(
        proto: dict | None, reader=(), writer=(), legacy: bool = True
    ) -> dict | None:
        """The ``protocol`` action a commit needing the ``reader`` and
        ``writer`` features must carry, or None when ``proto`` (None = a
        new table's (1, 2)) already grants them — the one upgrade rule of
        PROTOCOL.md "Table Features" every commit path goes through.

        Versions never drop and a granted feature is never dropped; every
        reader feature is also a writer feature. A legacy table whose
        needs a legacy version implies moves to that version (``add
        constraint`` → writer 3, column mapping → (2, 5)) unless
        ``legacy=False``. Otherwise the writer moves to 7 and lists every
        feature the old writer version implied; a reader feature no
        legacy reader version implies moves the reader to 3, which lists
        ``columnMapping`` when the old reader version was 2."""

        def implied(table: dict, version: int) -> set[str]:
            return set().union(*(fs for v, fs in table.items() if version >= v))

        def lowest(table: dict, feats: set[str]) -> int | None:
            vs = [min((v for v, fs in table.items() if f in fs), default=None)
                  for f in feats]
            return None if None in vs else max(vs, default=0)

        proto = proto or {"minReaderVersion": 1, "minWriterVersion": 2}
        mrv = proto.get("minReaderVersion", 1)
        mwv = proto.get("minWriterVersion", 2)
        rf = (set(proto.get("readerFeatures") or []) if mrv >= 3
              else implied(_LEGACY_READER_FEATURES, mrv))
        wf = (set(proto.get("writerFeatures") or []) if mwv >= 7
              else implied(_LEGACY_WRITER_FEATURES, mwv))
        need_r = set(reader) - rf
        need_w = (set(writer) | set(reader)) - wf
        if not need_r and not need_w:
            return None
        legacy_r = lowest(_LEGACY_READER_FEATURES, need_r) if mrv < 3 else None
        legacy_w = lowest(_LEGACY_WRITER_FEATURES, need_w) if mwv < 7 else None
        if legacy and legacy_r is not None and legacy_w is not None:
            return {"minReaderVersion": max(mrv, legacy_r),
                    "minWriterVersion": max(mwv, legacy_w)}
        out = {"minReaderVersion": mrv, "minWriterVersion": 7}
        if need_r and legacy_r is not None:
            out["minReaderVersion"] = max(mrv, legacy_r)
        elif need_r or mrv >= 3:
            out["minReaderVersion"] = 3
            out["readerFeatures"] = sorted(rf | need_r)
        out["writerFeatures"] = sorted(wf | need_w)
        return out

    def _refuse_mapped(self, meta: dict, op: str) -> None:
        if self._column_mapping(meta):
            raise DeltaProtocolError(
                f"{op} on a column-mapped table is not supported by this "
                f"writer (reads are; writes would need physical-name "
                f"staging)"
            )

    def _physical_stage(
        self, df: DataFrame, meta: dict, schema: StructType
    ) -> tuple[DataFrame, tuple[str, ...]]:
        """Logical frame → PHYSICAL write frame under column mapping
        (round 11 closes the id-mode half): rename every column to its
        frozen ``delta.columnMapping.physicalName``; in id mode
        additionally stamp each column's mapping id as the parquet
        field id (``parquet.field.id`` field metadata; ``_stage`` scopes
        the matching write conf around its own write action), since
        id-mode files resolve by id, not name. Returns the staged frame and
        the PARTITION columns to stage by — PHYSICAL names (round 12,
        was a refusal for foreign tables whose partition physical names
        diverge from the logical ones): the staged frame's partition
        columns are renamed like every other column, the hive directory
        segments and the parsed partitionValues keys therefore carry
        the physical name — exactly what mapped readers expect
        (``partitionValues`` are keyed by physical name under column
        mapping, and every read path already resolves them through
        ``phys_of``). The engine's own rename path freezes partition
        physical names equal to their logical names, so this matters
        only for foreign tables."""
        phys_of = self._column_mapping(meta)
        pcols = tuple(meta.get("partitionColumns", []))
        if not phys_of:
            return df, pcols
        cm_mode = (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        cols = []
        for f in schema.fields:
            if f.name not in df.columns:
                continue
            pn = phys_of.get(f.name, f.name)
            if cm_mode == "id":
                fid = (f.metadata or {}).get("delta.columnMapping.id")
                if fid is None:
                    raise DeltaProtocolError(
                        f"id-mode column {f.name!r} carries no "
                        f"delta.columnMapping.id — cannot stage"
                    )
                cols.append(
                    F.col(f.name).alias(
                        pn, metadata={"parquet.field.id": int(fid)}
                    )
                )
            else:
                cols.append(F.col(f.name).alias(pn))
        # NOTE: no session conf here — ``_stage`` detects the
        # parquet.field.id metadata on the staged frame and scopes
        # ``spark.sql.parquet.fieldId.write.enabled`` around its own
        # write action (ADVICE r11: a conf set here leaked id-based
        # parquet resolution into the rest of the shared session)
        return df.select(*cols), tuple(phys_of.get(c, c) for c in pcols)

    def add_constraint(self, name: str, expr: str) -> int:
        """CHECK constraint (Delta protocol ``checkConstraints`` writer
        feature): stored as ``delta.constraints.<name>`` in the table
        configuration, the protocol gains ``checkConstraints`` (writer 3
        on a legacy table, ``_protocol_with``), and this writer REJECTS
        any append/overwrite containing a violating row from then on
        (readers are unaffected — minReaderVersion is untouched, per
        spec). The expression must already hold on the
        current snapshot."""
        state = self._state()
        meta = state["metaData"]
        key = f"delta.constraints.{name}"
        if key in (meta.get("configuration") or {}):
            raise DeltaProtocolError(f"constraint {name!r} already exists")
        n_bad = self.snapshot().filter(f"NOT ({expr})").limit(1).count()
        if n_bad:
            raise DeltaProtocolError(
                f"existing rows violate CHECK ({expr}) — constraint refused"
            )
        for attempt in range(20):
            if attempt > 0:
                # rebuild against the racer's state — replaying the stale
                # metaData would drop its concurrent config/schema change
                state = self._state()
                meta = state["metaData"]
                if key in (meta.get("configuration") or {}):
                    raise DeltaProtocolError(
                        f"constraint {name!r} already exists"
                    )
            cfg = {**(meta.get("configuration") or {}), key: expr}
            proto = self._protocol_with(
                state["protocol"], writer={"checkConstraints"}
            )
            actions = [
                {"commitInfo": self._commit_info(
                    "ADD CONSTRAINT", {"name": name, "expr": expr}
                )},
                *([{"protocol": proto}] if proto else []),
                {"metaData": {**meta, "configuration": cfg}},
            ]
            v = state["version"] + 1
            try:
                self._publish(v, actions)
                return v
            except DeltaCommitConflict:
                continue
        raise DeltaCommitConflict(f"constraint lost 20 races at {self.root}")

    def drop_constraint(self, name: str) -> int:
        state = self._state()
        meta = state["metaData"]
        key = f"delta.constraints.{name}"
        if key not in (meta.get("configuration") or {}):
            raise KeyError(name)
        for attempt in range(20):
            if attempt > 0:
                state = self._state()
                meta = state["metaData"]
                if key not in (meta.get("configuration") or {}):
                    return state["version"]  # racer already dropped it
            cfg = {
                k: v2
                for k, v2 in meta["configuration"].items()
                if k != key
            }
            actions = [
                {"commitInfo": self._commit_info(
                    "DROP CONSTRAINT", {"name": name}
                )},
                {"metaData": {**meta, "configuration": cfg}},
            ]
            v = state["version"] + 1
            try:
                self._publish(v, actions)
                return v
            except DeltaCommitConflict:
                continue
        raise DeltaCommitConflict(f"constraint lost 20 races at {self.root}")

    def _merge_schema_action(
        self, meta: dict, cur_schema: StructType, new_fields: list
    ) -> tuple[dict, StructType]:
        """metaData action appending ``new_fields`` to the table schema,
        plus the merged StructType to stage against.

        On a COLUMN-MAPPED table (round 12 — previously refused) every
        appended column mints a FRESH mapping id strictly above
        ``delta.columnMapping.maxColumnId`` (and above any id already in
        the schema, for foreign tables whose config lags) and a fresh
        uuid physical name (the delta-spark ``col-<uuid>`` convention),
        and the action's configuration advances maxColumnId in the SAME
        commit. Ids are never reused, so pre-evolution files — which
        lack the new physical column — read the addition as null, and
        foreign readers resolve the new files by the minted id (id
        mode) or physical name (name mode)."""
        cfg = dict(meta.get("configuration") or {})
        mode = cfg.get("delta.columnMapping.mode", "none")
        if mode in (None, "none"):
            merged = StructType(list(cur_schema.fields) + list(new_fields))
            return {"metaData": {**meta, "schemaString": merged.json()}}, merged
        schema_json = json.loads(meta["schemaString"])
        existing_ids = [
            int((f.get("metadata") or {}).get("delta.columnMapping.id", 0))
            for f in schema_json["fields"]
        ]
        next_id = max(
            [int(cfg.get("delta.columnMapping.maxColumnId", 0))] + existing_ids
        )
        out_fields = list(cur_schema.fields)
        for f in new_fields:
            next_id += 1
            out_fields.append(
                StructField(
                    f.name,
                    f.dataType,
                    True,
                    {
                        "delta.columnMapping.id": next_id,
                        "delta.columnMapping.physicalName": f"col-{uuid.uuid4()}",
                    },
                )
            )
        merged = StructType(out_fields)
        cfg["delta.columnMapping.maxColumnId"] = str(next_id)
        return (
            {
                "metaData": {
                    **meta,
                    "schemaString": merged.json(),
                    "configuration": cfg,
                }
            },
            merged,
        )

    def _enforce_constraints(self, df: DataFrame, meta: dict) -> None:
        """Writer-side CHECK enforcement (the protocol's contract for
        minWriterVersion >= 3 tables): one filtered limit(1) probe per
        constraint — short-circuits on the first violation, never scans
        past it."""
        cfg = meta.get("configuration") or {}
        for k, expr in cfg.items():
            if not k.startswith("delta.constraints."):
                continue
            cols = set(df.columns)
            probe = df
            # appends of a schema-subset frame: missing columns read as
            # null downstream; validate with nulls substituted
            schema = StructType.fromJson(json.loads(meta["schemaString"]))
            for f in schema.fields:
                if f.name not in cols:
                    probe = probe.withColumn(f.name, F.lit(None).cast(f.dataType))
            if probe.filter(f"NOT ({expr})").limit(1).count():
                raise DeltaProtocolError(
                    f"rows violate CHECK constraint "
                    f"{k[len('delta.constraints.'):]!r} ({expr}) — write refused"
                )

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only RENAME via COLUMN MAPPING (name mode): the first
        rename upgrades the table — every field gets a
        ``delta.columnMapping.id`` and a ``physicalName`` equal to its
        current name, so every existing data file keeps resolving with
        ZERO rewrites, and the protocol gains ``columnMapping`` per the
        spec — (2, 5) on a legacy table (``_protocol_with``). The rename
        itself then only changes the LOGICAL name; the physical name is frozen for the
        column's lifetime. Partition columns are refused (their physical
        names are baked into the hive directory layout)."""
        state = self._state()
        meta = state["metaData"]
        schema_json = json.loads(meta["schemaString"])
        names = [f["name"] for f in schema_json["fields"]]
        if old not in names:
            raise KeyError(old)
        if new in names:
            raise DeltaProtocolError(f"column {new!r} already exists")
        if old in (meta.get("partitionColumns") or []):
            raise DeltaProtocolError(
                f"{old!r} is a partition column — its physical name is the "
                f"hive directory layout; rename is refused"
            )
        cfg = dict(meta.get("configuration") or {})
        actions: list[dict] = [
            {"commitInfo": self._commit_info(
                "RENAME COLUMN", {"from": old, "to": new}
            )}
        ]
        if cfg.get("delta.columnMapping.mode", "none") in (None, "none"):
            max_id = 0
            for f in schema_json["fields"]:
                max_id += 1
                md = dict(f.get("metadata") or {})
                md.setdefault("delta.columnMapping.id", max_id)
                md.setdefault("delta.columnMapping.physicalName", f["name"])
                f["metadata"] = md
            cfg["delta.columnMapping.mode"] = "name"
            cfg["delta.columnMapping.maxColumnId"] = str(max_id)
        proto = self._protocol_with(state["protocol"], reader={"columnMapping"})
        if proto:
            actions.append({"protocol": proto})
        for f in schema_json["fields"]:
            if f["name"] == old:
                f["name"] = new
        actions.append(
            {
                "metaData": {
                    **meta,
                    "schemaString": json.dumps(schema_json),
                    "configuration": cfg,
                }
            }
        )
        for _ in range(20):
            v = self.latest_version() + 1
            try:
                self._publish(v, actions)
                return v
            except DeltaCommitConflict:
                continue
        raise DeltaCommitConflict(f"rename lost 20 races at {self.root}")

    # Delta primitive names, widest-last (spec "Type Widening" allowed
    # changes; the integer-family chain and float→double are the subset
    # whose parquet page promotion Spark 4's readers perform natively —
    # the same proven matrix as txlog.py's _WIDEN_FAMILIES, in Delta's
    # schemaString spelling).
    _WIDEN_FAMILIES = (("byte", "short", "integer", "long"), ("float", "double"))

    def widen_column(self, column: str, to_type: str) -> int:
        """Metadata-only type widening — the Delta ``typeWidening`` table
        feature (PROTOCOL.md "Type Widening"): the schema field's type is
        replaced by the wider type and the change is recorded under the
        field's ``delta.typeChanges`` metadata key
        (``{fromType, toType, tableVersion}`` per spec), with the
        protocol advanced to carry ``typeWidening`` as BOTH a reader and
        writer feature (readers must promote narrow parquet pages — this
        engine's snapshot already declares the wide read schema, which is
        all Spark 4 needs). NO data file is rewritten; files written
        before the change keep their narrow physical pages forever.

        ``to_type`` takes either Delta (``integer``/``long``/``byte``/
        ``short``) or Spark (``int``/``bigint``/``tinyint``/``smallint``)
        spellings. Partition columns are refused (their values live as
        strings in partitionValues and directory names — widening them is
        a no-op this writer won't pretend to perform as a feature
        commit). Same semantics as txlog.widen_column (txlog.py:1596);
        the reference (etl.py) has no schema evolution at all."""
        spark_to_delta = {
            "tinyint": "byte", "smallint": "short", "int": "integer",
            "bigint": "long",
        }
        to_type = spark_to_delta.get(to_type, to_type)
        for attempt in range(20):
            state = self._state()
            meta = state["metaData"]
            schema_json = json.loads(meta["schemaString"])
            field = next(
                (f for f in schema_json["fields"] if f["name"] == column), None
            )
            if field is None:
                raise KeyError(column)
            if column in (meta.get("partitionColumns") or []):
                raise DeltaProtocolError(
                    f"{column!r} is a partition column — its values are "
                    f"stored as strings in partitionValues; widening is "
                    f"refused"
                )
            cur = field["type"]
            fam = next(
                (f for f in self._WIDEN_FAMILIES if cur in f and to_type in f),
                None,
            )
            dec_ok = False
            if fam is None:
                # PROTOCOL.md Type Widening, the decimal rule:
                # decimal(p,s) → decimal(p+k1, s+k2) with k1 ≥ k2 ≥ 0 —
                # integer headroom (p−s) never shrinks, every stored
                # value still fits (round 10; refused through round 9)
                da = _decimal_params_d(cur) if isinstance(cur, str) else None
                db = _decimal_params_d(to_type)
                dec_ok = (
                    da is not None and db is not None
                    and db[0] - da[0] >= db[1] - da[1] >= 0
                    and (da != db) and db[0] <= 38
                )
            if not dec_ok and (
                fam is None or fam.index(cur) >= fam.index(to_type)
            ):
                raise DeltaProtocolError(
                    f"widen_column: {cur} → {to_type} is not a supported "
                    f"widening (families: {self._WIDEN_FAMILIES}; decimals "
                    f"widen to p+k1,s+k2 with k1 ≥ k2 ≥ 0, p ≤ 38)"
                )
            v = state["version"] + 1
            field["type"] = to_type
            md = dict(field.get("metadata") or {})
            md["delta.typeChanges"] = list(md.get("delta.typeChanges") or []) + [
                {"fromType": cur, "toType": to_type, "tableVersion": v}
            ]
            field["metadata"] = md
            proto = self._protocol_with(state["protocol"], reader={"typeWidening"})
            actions: list[dict] = [
                {"commitInfo": self._commit_info(
                    "WIDEN COLUMN",
                    {"column": column, "from": cur, "to": to_type},
                )},
                *([{"protocol": proto}] if proto else []),
                {"metaData": {
                    **meta,
                    "schemaString": json.dumps(schema_json),
                    "configuration": {
                        **(meta.get("configuration") or {}),
                        "delta.enableTypeWidening": "true",
                    },
                }},
            ]
            try:
                self._publish(v, actions)
                return v
            except DeltaCommitConflict:
                continue
        raise DeltaCommitConflict(f"widen lost 20 races at {self.root}")

    def append(
        self,
        df: DataFrame,
        txn: tuple[str, int] | None = None,
        merge_schema: bool = False,
        identity_order: dict[str, dict] | None = None,
    ) -> int:
        """Blind append — conflict-free by definition, so a lost race just
        retries against the new log tip (Delta's append concurrency rule).
        ``txn=(appId, version)`` records a setTransaction action for
        exactly-once streaming sinks. ``merge_schema=True`` accepts NEW
        nullable columns (Delta's mergeSchema): the commit carries an
        updated metaData whose schemaString appends them; old files read
        the additions as null. Without it, unknown columns are refused.

        COLUMN-MAPPED tables append through PHYSICAL staging
        (``_physical_stage``): logical columns rename to their frozen
        physical names, and — round 11, closing the id-mode refusal —
        id-mode staging additionally stamps each column's mapping id as
        the parquet field id, so new files resolve exactly like the
        foreign writer's. Schema merge on mapped tables (round 12 —
        previously refused) mints fresh mapping ids / physical names for
        the appended columns and advances maxColumnId in the same
        commit; see ``_merge_schema_action``."""
        state = self._state()
        meta = state["metaData"]
        phys_of = self._column_mapping(meta)
        df = self._apply_defaults(df, meta)
        df = self._apply_generated(df, meta)
        df_pre_identity = df
        df, id_meta_action, id_hwm_used, id_new_hwm = self._apply_identity(
            df, meta, identity_order
        )
        cur_schema = StructType.fromJson(json.loads(meta["schemaString"]))
        known = {f.name for f in cur_schema.fields}
        new_fields = [f for f in df.schema.fields if f.name not in known]
        # schema merge + identity allocation in ONE commit (round 10,
        # previously refused): both mutations edit the schemaString, so
        # they FUSE into the single metaData action a commit may carry —
        # see the action build below (_identity_meta_action stamps the
        # advanced mark into the MERGED schema)
        new_meta_action = None
        stage_meta, stage_schema = meta, cur_schema
        if new_fields:
            if not merge_schema:
                raise DeltaProtocolError(
                    f"columns {[f.name for f in new_fields]} not in the table "
                    f"schema — pass merge_schema=True for additive evolution"
                )
            new_meta_action, merged = self._merge_schema_action(
                meta, cur_schema, new_fields
            )
            # stage against the MERGED metadata so mapped tables stage
            # the new columns under their freshly minted physical
            # names/ids (unmapped tables: identical to staging cur)
            stage_meta, stage_schema = new_meta_action["metaData"], merged
        pcols = tuple(state["metaData"].get("partitionColumns", []))
        if txn is not None and state["txns"].get(txn[0], -1) >= txn[1]:
            return -1  # already applied (idempotent replay)
        self._enforce_constraints(df, meta)
        stage_df, pcols = self._physical_stage(df, stage_meta, stage_schema)
        adds = self._stage(stage_df, pcols)
        for attempt in range(20):
            if attempt > 0:
                # a racer landed: re-replay the log so a schema-merge
                # metaData action is rebuilt against the RACER's schema —
                # replaying the stale action would drop any column the
                # racer added concurrently (lost metadata update)
                state = self._state()
                meta = state["metaData"]
                if txn is not None and state["txns"].get(txn[0], -1) >= txn[1]:
                    return -1
                if new_meta_action is not None:
                    cur_schema = StructType.fromJson(
                        json.loads(meta["schemaString"])
                    )
                    known = {f.name for f in cur_schema.fields}
                    still_new = [
                        f for f in df.schema.fields if f.name not in known
                    ]
                    new_meta_action, merged = self._merge_schema_action(
                        meta, cur_schema, still_new
                    )
                    if self._column_mapping(meta):
                        # mapped: the racer may have minted mapping ids /
                        # physical names that overlap or supersede the
                        # ones our staged files carry (even for the SAME
                        # logical columns) — re-stage under the re-minted
                        # metadata. First-attempt staged files already
                        # moved into the table root stay unreferenced
                        # (vacuum-able), never mis-resolved.
                        stage_df, stage_pcols = self._physical_stage(
                            df, new_meta_action["metaData"], merged
                        )
                        adds = self._stage(stage_df, stage_pcols)
                if id_meta_action is not None:
                    # per-attempt identity re-evaluation (the txlog
                    # row-tracking lesson): a racer that allocated ids
                    # moved the high-water mark — our staged values
                    # would collide, so re-allocate and RE-STAGE;
                    # otherwise just re-stamp the action against the
                    # racer's metaData (constraints etc. may have moved)
                    cur_ids = self._identity_of(meta)
                    if any(
                        cur_ids[c]["hwm"] != id_hwm_used[c]
                        for c in id_hwm_used
                    ):
                        df, id_meta_action, id_hwm_used, id_new_hwm = (
                            self._apply_identity(
                                df_pre_identity, meta, identity_order
                            )
                        )
                        adds = self._stage(df, pcols)
                    else:
                        id_meta_action = self._identity_meta_action(
                            meta, id_new_hwm
                        )
            actions: list[dict] = [
                {"commitInfo": self._commit_info("WRITE", {"mode": "Append"})}
            ]
            if new_meta_action is not None and id_meta_action is not None:
                # fuse: ONE metaData action carrying BOTH the additive
                # columns and the advanced identity high-water mark
                actions.append(
                    self._identity_meta_action(
                        new_meta_action["metaData"], id_new_hwm
                    )
                )
            elif new_meta_action is not None:
                actions.append(new_meta_action)
            elif id_meta_action is not None:
                actions.append(id_meta_action)
            if txn is not None:
                actions.append({"txn": {"appId": txn[0], "version": txn[1],
                                        "lastUpdated": int(time.time() * 1000)}})
            if self.row_tracking_enabled(state):
                # allocate baseRowIds against a FRESH state so the
                # high-water mark and the target version come from the
                # same log read — a racer landing on v makes _publish
                # conflict and the retry re-allocates against its mark
                state_now = self._state()
                v = state_now["version"] + 1
                actions.extend(self._row_tracking_actions(adds, state_now, v))
            else:
                v = self.latest_version() + 1
            actions.extend({"add": a} for a in adds)
            try:
                self._publish(v, actions)
                return v
            except DeltaCommitConflict:
                continue
        raise DeltaCommitConflict(f"append lost 20 races at {self.root}")

    def overwrite(self, df: DataFrame) -> int:
        state = self._state()
        self._refuse_row_tracking_rewrite("overwrite")
        self._refuse_mapped(state["metaData"], "overwrite")
        self._refuse_identity_rewrite(state["metaData"], "overwrite")
        df = self._apply_defaults(df, state["metaData"])
        df = self._apply_generated(df, state["metaData"])
        self._enforce_constraints(df, state["metaData"])
        pcols = tuple(state["metaData"].get("partitionColumns", []))
        adds = self._stage(df, pcols)
        now = int(time.time() * 1000)
        actions = [
            {"commitInfo": self._commit_info("WRITE", {"mode": "Overwrite"})},
            *(
                {"remove": {"path": p, "deletionTimestamp": now, "dataChange": True}}
                for p in state["adds"]
            ),
            *({"add": a} for a in adds),
        ]
        v = state["version"] + 1
        self._publish(v, actions)  # overwrite does NOT auto-retry: true conflict
        return v

    def replace_where(self, df: DataFrame, partition_values: dict) -> int:
        """Atomic partition-scoped overwrite (Delta's ``replaceWhere`` on
        partition columns): removes exactly the adds whose partitionValues
        match, stages the replacement, publishes both in ONE commit — the
        idempotent-rerun primitive (a failed job re-runs without doubling
        rows, untouched partitions keep their add actions byte-identical).
        ``partition_values`` maps partition column → allowed value(s)."""
        self._refuse_row_tracking_rewrite("replace_where")
        state = self._state()
        self._refuse_mapped(state["metaData"], "replace_where")
        self._refuse_identity_rewrite(state["metaData"], "replace_where")
        meta = state["metaData"]
        pcols = tuple(meta.get("partitionColumns", []))
        bad = [c for c in partition_values if c not in pcols]
        if bad:
            raise DeltaProtocolError(
                f"replace_where keys must be partition columns; {bad} are not"
            )
        allowed = {
            c: {str(v) for v in (vs if isinstance(vs, (list, tuple, set)) else [vs])}
            for c, vs in partition_values.items()
        }
        # refuse rows outside the replaced scope (the replaceWhere contract)
        scope = None
        for c, vals in partition_values.items():
            vs = vals if isinstance(vals, (list, tuple, set)) else [vals]
            cond = F.col(c).isin(list(vs))
            scope = cond if scope is None else (scope & cond)
        if scope is not None and df.filter(~scope).limit(1).count() > 0:
            raise DeltaProtocolError(
                "replacement rows fall outside the replaced partitions"
            )
        df = self._apply_defaults(df, meta)
        df = self._apply_generated(df, meta)
        self._enforce_constraints(df, meta)
        victims = [
            p
            for p, a in state["adds"].items()
            if all(
                a.get("partitionValues", {}).get(c) in vs
                for c, vs in allowed.items()
            )
        ]
        adds = self._stage(df, pcols)
        now = int(time.time() * 1000)
        actions = [
            {
                "commitInfo": self._commit_info(
                    "WRITE",
                    {"mode": "Overwrite", "predicate": json.dumps(partition_values)},
                )
            },
            *(
                {"remove": {"path": p, "deletionTimestamp": now, "dataChange": True}}
                for p in victims
            ),
            *({"add": a} for a in adds),
        ]
        v = state["version"] + 1
        self._publish(v, actions)
        return v

    def merge_upsert(
        self,
        updates: DataFrame,
        keys: list[str],
        txn: tuple[str, int] | None = None,
        identity_order: dict[str, dict] | None = None,
    ) -> int:
        """MERGE (upsert) THROUGH THE DELTA LOG: update rows whose key
        matches, insert the rest — committed as remove+add actions in one
        version, the same touched-file rewrite real Delta MERGE plans.

        Scale shape (the 100 TB contract):
        - candidate files are pruned FIRST on add.stats min/max of the key
          columns against the updates' global key range — no data read for
          files that cannot contain a match;
        - the touched-file probe reads only candidates, only the key
          columns, and collects just the DISTINCT matching file paths
          (O(#files) driver state — the same metadata-sized contract as
          commit planning);
        - the rewrite reads ONLY touched files; every other add action
          survives the commit byte-identical.
        The probe and the survivor read each scan their files as ONE
        parquet relation (``_read_adds``), whatever partitions they span.
        Deletion vectors on touched files are honored (masked rows do not
        resurrect); a touched file's DV dies with its remove action.
        ``updates`` must carry the full table schema. Duplicate keys in
        ``updates`` are kept as-is (same contract as txlog merge_upsert).

        Concurrency: the touched set is computed against THIS state, so
        the commit targets exactly state.version+1 — a racer moving the
        tip surfaces as DeltaCommitConflict (recompute and retry), never
        a silent drop of either side's rows. A pure-insert merge (no
        matches) degrades to blind-append semantics and may auto-retry."""
        self._refuse_row_tracking_rewrite("merge_upsert")
        state = self._state()
        meta = state["metaData"]
        # round 11 (was _refuse_mapped): column-mapped tables merge
        # through the same PHYSICAL seam as append — the touch probe and
        # survivor read resolve files by physical name (+ parquet field
        # id in id mode) and rename back to logical, the rewrite stages
        # through _physical_stage, and file-stats pruning keys map to
        # physical names. Rename a column, then merge: both generations
        # of files resolve under one rule.
        phys_of = self._column_mapping(meta)
        if txn is not None and state["txns"].get(txn[0], -1) >= txn[1]:
            return -1  # already applied (idempotent replay)
        updates = self._apply_defaults(updates, meta)
        updates = self._apply_generated(updates, meta)
        self._enforce_constraints(updates, meta)
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        pcols = list(meta.get("partitionColumns", []))
        cols = [f.name for f in schema.fields]
        # identity-column MERGE contract: the updates frame OMITS identity
        # columns (GENERATED ALWAYS) — MATCHED rows INHERIT their existing
        # ids through the touch probe, insert-branch rows get fresh ids
        # allocated above the high-water mark (advanced in this commit's
        # metaData). Duplicate update keys are refused: two updates
        # inheriting one row's id would mint duplicate identity values.
        idy = self._identity_of(meta)
        for c in idy:
            if c in updates.columns and not idy[c]["allow_explicit"]:
                raise DeltaProtocolError(
                    f"identity column {c!r} is GENERATED ALWAYS — merge "
                    f"updates must omit it"
                )
            if c in keys:
                raise DeltaProtocolError(
                    f"identity column {c!r} cannot be a merge key"
                )
        missing = [
            c for c in cols if c not in updates.columns and c not in idy
        ]
        if missing:
            raise DeltaProtocolError(
                f"merge updates missing table columns {missing}"
            )
        bad = [k for k in keys if k not in cols]
        if bad:
            raise DeltaProtocolError(f"merge keys not in table schema: {bad}")
        updates = updates.select(*[c for c in cols if c not in idy])
        # file-level key-range prune (one tiny agg over the updates, which
        # doubles as the empty-updates no-op check)
        data_keys = [k for k in keys if k not in pcols]
        cand = list(state["adds"].items())
        rng = updates.agg(
            F.count(F.lit(1)).alias("__n"),
            *[F.min(k).alias(f"__lo_{k}") for k in data_keys],
            *[F.max(k).alias(f"__hi_{k}") for k in data_keys],
        ).collect()[0]
        if rng["__n"] == 0:
            return -1  # nothing to merge
        if data_keys and cand:
            # file stats are keyed by PHYSICAL names under column mapping
            where = {
                phys_of.get(k, k): (rng[f"__lo_{k}"], rng[f"__hi_{k}"])
                for k in data_keys
            }
            cand = [(p, a) for p, a in cand if self._stats_may_match(a, where)]
        key_frame = updates.select(*keys).distinct()
        if idy and key_frame.count() != int(rng["__n"]):
            raise DeltaProtocolError(
                "merge with identity columns requires unique update keys "
                "— duplicate keys would inherit one row's id twice"
            )
        # bloom-augmented candidate prune (bounds the probe's key-column
        # scan when file key ranges overlap; see _bloom_prune_merge)
        bcols = [k for k in data_keys if k in self._bloom_cols_of(meta)]
        if bcols and cand:
            cand = _bloom_prune_merge(self.spark, cand, key_frame, bcols, schema)
        # observable for tests/probes: how many files the touch probe reads
        self._last_merge_probe_files = len(cand)

        touched: list[tuple[str, dict]] = []
        matched_map = None
        if cand:
            probe = self._read_adds(
                [a for _, a in cand], meta, with_meta=True
            ).select(*keys, *sorted(idy), "__fp")
            hit_paths = {
                r["__fp"]
                for r in probe.join(key_frame, keys, "left_semi")
                .select("__fp")
                .distinct()
                .collect()
            }
            touched = [
                (p, a)
                for p, a in cand
                if self._abs_data_path(a["path"]) in hit_paths
            ]
            if idy and touched:
                # key → existing identity values (min per key for the
                # duplicate-key tables merge otherwise tolerates)
                matched_map = (
                    probe.join(key_frame, keys, "inner")
                    .groupBy(*keys)
                    .agg(*[F.min(c).alias(c) for c in sorted(idy)])
                )
        txn_actions = (
            []
            if txn is None
            else [{"txn": {"appId": txn[0], "version": txn[1],
                           "lastUpdated": int(time.time() * 1000)}}]
        )
        if not touched:
            # pure insert — blind-append concurrency semantics
            ins = updates
            id_meta_action = None
            id_hwm_used: dict = {}
            if idy:
                ins, id_meta_action, id_hwm_used, _ = self._apply_identity(
                    updates, meta, identity_order
                )
            ins_stage, stage_pcols = self._physical_stage(ins, meta, schema)
            adds = self._stage(ins_stage, stage_pcols)
            for attempt in range(20):
                cur = self._state()
                if txn is not None and cur["txns"].get(txn[0], -1) >= txn[1]:
                    return -1  # racer (a replay twin) already applied it
                if idy and attempt > 0:
                    cur_ids = self._identity_of(cur["metaData"])
                    if any(
                        cur_ids[c]["hwm"] != id_hwm_used[c]
                        for c in id_hwm_used
                    ):
                        # a racer allocated: re-allocate above ITS mark
                        ins, id_meta_action, id_hwm_used, _ = (
                            self._apply_identity(
                                updates, cur["metaData"], identity_order
                            )
                        )
                        ins_stage, stage_pcols = self._physical_stage(
                            ins, cur["metaData"], schema
                        )
                        adds = self._stage(ins_stage, stage_pcols)
                actions = [
                    {"commitInfo": self._commit_info("MERGE", {"matched": "0"})},
                    *txn_actions,
                    *([id_meta_action] if id_meta_action else []),
                    *({"add": a} for a in adds),
                ]
                v = cur["version"] + 1
                try:
                    self._publish(v, actions)
                    return v
                except DeltaCommitConflict:
                    continue
            raise DeltaCommitConflict(f"merge lost 20 races at {self.root}")
        survivors = self._read_adds([a for _, a in touched], meta).join(
            key_frame, keys, "left_anti"
        )
        id_meta_action = None
        if idy:
            updated = updates.join(matched_map, keys, "inner").select(*cols)
            inserts = updates.join(
                matched_map.select(*keys), keys, "left_anti"
            )
            inserts, id_meta_action, _, _ = self._apply_identity(
                inserts, meta, identity_order
            )
            merged = updated.unionByName(inserts.select(*cols)).unionByName(
                survivors
            )
        else:
            merged = updates.unionByName(survivors)
        merged_stage, stage_pcols = self._physical_stage(merged, meta, schema)
        adds = self._stage(merged_stage, stage_pcols)
        now = int(time.time() * 1000)
        actions = [
            {
                "commitInfo": self._commit_info(
                    "MERGE", {"matchedFiles": str(len(touched))}
                )
            },
            *txn_actions,
            *([id_meta_action] if id_meta_action else []),
            *(
                {"remove": {"path": p, "deletionTimestamp": now, "dataChange": True}}
                for p, _ in touched
            ),
            *({"add": a} for a in adds),
        ]
        v = state["version"] + 1
        self._publish(v, actions)  # no blind retry: touched set is stale
        return v

    def txn_version(self, app_id: str) -> int:
        """Highest setTransaction version recorded for ``app_id`` (-1 if
        none) — the reader side of exactly-once sinks."""
        return self._state()["txns"].get(app_id, -1)

    def restore(self, version: int) -> int:
        """RESTORE TABLE ... TO VERSION AS OF: reset the live file set to
        an earlier version's, as ONE forward commit — remove adds that
        arrived after it, re-add files it referenced that have since been
        removed (Delta's documented RESTORE mechanics: history moves
        FORWARD, the bad interval stays time-travelable until vacuum).
        Metadata (schema/configuration) is restored too. Fails loudly if
        a needed file was already vacuumed. Returns the new version."""
        state = self._state()
        old = self._state(version)
        self._refuse_mapped(state["metaData"], "restore")
        for p, a in old["adds"].items():
            if p not in state["adds"] and not _atomic.exists(
                self.spark, self._abs_data_path(a["path"])
            ):
                raise DeltaProtocolError(
                    f"cannot restore to version {version}: data file "
                    f"{a['path']} was vacuumed"
                )
        now = int(time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": self._commit_info(
                    "RESTORE", {"version": str(version)}
                )
            }
        ]
        if old["metaData"] != state["metaData"]:
            actions.append({"metaData": old["metaData"]})
        actions.extend(
            {"remove": {"path": p, "deletionTimestamp": now, "dataChange": True}}
            for p in state["adds"]
            if p not in old["adds"]
        )
        actions.extend(
            {"add": a}
            for p, a in old["adds"].items()
            if p not in state["adds"] or state["adds"][p] != a
        )
        v = state["version"] + 1
        self._publish(v, actions)  # conflict = racer moved the tip: re-plan
        return v

    def shallow_clone(self, dest_root: str) -> "DeltaTable":
        """SHALLOW CLONE: a new Delta table whose version-0 adds reference
        THIS table's current data files by absolute path (the spec's
        absolute-path escape hatch) — zero data copied, O(#files)
        metadata. The clone then evolves independently; vacuuming the
        SOURCE can break it (Delta's documented shallow-clone caveat).
        DV-carrying files clone as-is (the DV descriptor's absolute-path
        storage type travels with the add)."""
        from projectdatalake_spark.sources.roaring import dv_file_path

        state = self._state()
        meta = state["metaData"]
        self._refuse_mapped(meta, "shallow_clone")
        clone = DeltaTable(self.spark, dest_root)
        if clone.exists():
            raise DeltaCommitConflict(f"Delta table already exists at {dest_root}")
        new_meta = {
            **meta,
            "id": str(uuid.uuid4()),
            "createdTime": int(time.time() * 1000),
        }
        adds = []
        for a in state["adds"].values():
            a2 = dict(a)
            a2["path"] = _quote_path(self._abs_data_path(a["path"]))
            dv = a.get("deletionVector")
            if dv and dv.get("storageType") == "u":
                # relative-uuid DVs resolve against the SOURCE root —
                # rewrite the descriptor to absolute-path storage
                raw = dv_file_path(self.root, dv)
                a2["deletionVector"] = {**dv, "storageType": "p",
                                        "pathOrInlineDv": raw,
                                        "offset": dv.get("offset", 1)}
            adds.append(a2)
        actions = [
            {"commitInfo": clone._commit_info("CLONE", {"source": self.root})},
            {"protocol": state["protocol"]
             or {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": new_meta},
            # domains travel with the clone — above all delta.rowTracking:
            # the cloned files keep their baseRowIds, so WITHOUT the
            # rowIdHighWaterMark the clone's first append would allocate
            # from 0 and collide with the cloned ids (duplicate row_id
            # values in snapshot_with_row_ids). NDV-stats and clustering
            # domains describe the same files and carry for the same
            # reason Delta's CLONE copies table properties.
            *(
                {"domainMetadata": {
                    "domain": dom, "configuration": cfg, "removed": False,
                }}
                for dom, cfg in sorted(state["domains"].items())
                if cfg is not None
            ),
            *({"add": a} for a in adds),
        ]
        clone._publish(0, actions)
        return clone

    def delete_where_dv(self, condition: str) -> int | None:
        """Merge-on-read DELETE via deletion vectors: matching rows are
        recorded as roaring bitmaps of row indices — O(deleted rows), ZERO
        data files rewritten. Each touched add is re-emitted with a
        ``deletionVector`` descriptor (inline z85 when small, a versioned
        ``.bin`` DV file otherwise) and the protocol upgrades to
        (3, 7) + deletionVectors features on the first DV write, listing
        what the old versions implied (``_protocol_with``). Rows earlier
        vectors already mask do not match again: the matching read is ONE parquet relation over every add
        with the vectors in force applied (``_read_adds``). Returns the
        committed version, or None if nothing matched."""
        import struct as _struct
        import zlib

        from projectdatalake_spark.sources.roaring import (
            MAGIC, serialize_rba, z85_encode,
        )

        state = self._state()
        self._check_readable(state)
        meta = state["metaData"]
        adds = list(state["adds"].values())
        if not adds:
            return None
        by_abs = {self._abs_data_path(a["path"]): a for a in adds}
        # one scan over every live row (column-mapped files read by
        # physical name and renamed to logical BEFORE the predicate
        # evaluates); __fp/__ri are the raw path and row index a DV binds
        # to, mapping-agnostic by construction
        new_by_file = _dv.positions_by_file(
            self._read_adds(adds, meta, with_meta=True)
            .filter(condition)
            .select("__fp", "__ri"),
            "__fp",
            "__ri",
        )
        if not new_by_file:
            return None
        now = int(time.time() * 1000)
        actions: list[dict] = [
            {"commitInfo": self._commit_info("DELETE", {"predicate": condition})}
        ]
        proto = self._protocol_with(state["protocol"], reader={"deletionVectors"})
        if proto:
            actions.append({"protocol": proto})
        # DV file shared by all large bitmaps of this commit (spec layout:
        # version byte, then per DV: int32 BE size | data | int32 BE crc32)
        dv_rel = f"deletion_vector_{uuid.uuid4()}.bin"
        blob = bytearray(b"\x01")
        descriptors: dict[str, dict] = {}
        for fp, rows in new_by_file.items():
            add = by_abs[fp]
            prior = add.get("deletionVector")
            if prior:
                rows = set(rows) | self._dv_deleted_rows(prior)
            data = _struct.pack("<i", MAGIC) + serialize_rba(rows)
            if len(data) <= 256:
                descriptors[fp] = {
                    "storageType": "i",
                    "pathOrInlineDv": z85_encode(data),
                    "sizeInBytes": len(data),
                    "cardinality": len(rows),
                }
            else:
                off = len(blob)
                blob += _struct.pack(">i", len(data))
                blob += data
                blob += _struct.pack(">i", zlib.crc32(data) & 0x7FFFFFFF)
                descriptors[fp] = {
                    "storageType": "p",
                    "pathOrInlineDv": f"{self.root}/{dv_rel}",
                    "offset": off,
                    "sizeInBytes": len(data),
                    "cardinality": len(rows),
                }
        if len(blob) > 1:
            _atomic.write_bytes(self.spark, f"{self.root}/{dv_rel}", bytes(blob), exclusive=True)
        for fp, desc in descriptors.items():
            add = by_abs[fp]
            actions.append(
                {
                    "remove": {
                        "path": add["path"],
                        "deletionTimestamp": now,
                        "dataChange": True,
                    }
                }
            )
            actions.append({"add": {**add, "deletionVector": desc}})
        v = state["version"] + 1
        self._publish(v, actions)
        return v

    def optimize(
        self,
        target_files_per_partition: int = 1,
        zorder_by: tuple[str, ...] = (),
        target_files: int = 4,
        curve: str = "z",
    ) -> int | None:
        """Compaction + DV materialization: partitions holding DV-masked
        or fragmented files are re-read THROUGH their deletion vectors and
        rewritten as clean compacted files in one commit (remove old adds
        + add new, dataChange=false — the rewrite changes layout, not
        data, so downstream incremental readers skip it per the spec).
        Completes the merge-on-read lifecycle: DV deletes stay O(deleted
        rows) at write time, optimize amortizes the read-side join away.
        Returns the committed version, or None if nothing to do.

        Compaction reads every rewritten partition's files as ONE parquet
        relation (``_read_adds``), clusters the rows by the partition
        columns into ``target_files_per_partition`` shuffle slots per
        partition and stages them in one write, so each partition gets
        at most that many files (exactly one at the default). Z-order and
        row-tracking rewrites go partition by partition.

        ``zorder_by`` is OPTIMIZE ZORDER BY: ALL live files are rewritten
        range-partitioned on an interleaved-bit Z-value over the given
        columns (functions/clustering.py — the same expression txlog's
        OPTIMIZE uses), so every output file covers a small
        hyper-rectangle and add.stats min/max become tight on EVERY
        clustered column at once — multi-column file skipping from one
        layout. ``target_files`` bounds the rewrite's output count per
        partition group."""
        state = self._state()
        self._check_readable(state)
        meta = state["metaData"]
        rt_on = self.row_tracking_enabled(state)
        if rt_on and (
            meta.get("partitionColumns") or self._column_mapping(meta)
        ):
            # id materialization below shares snapshot_with_row_ids'
            # unpartitioned/unmapped scope — outside it, refuse loudly
            self._refuse_row_tracking_rewrite("optimize")
        self._refuse_mapped(meta, "optimize")
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        pcols = list(meta.get("partitionColumns", []))
        data_schema = StructType([f for f in schema.fields if f.name not in pcols])
        ptypes = {f.name: f.dataType for f in schema.fields if f.name in pcols}
        bad = [c for c in zorder_by if c in pcols or c not in
               {f.name for f in schema.fields}]
        if bad:
            raise DeltaProtocolError(
                f"zorder_by columns must be non-partition data columns: {bad}"
            )
        groups: dict[tuple, list[dict]] = {}
        for a in state["adds"].values():
            pv = a.get("partitionValues", {})
            key = tuple((c, pv.get(c)) for c in pcols)
            groups.setdefault(key, []).append(a)
        todo = {
            key: group
            for key, group in groups.items()
            if zorder_by  # ZORDER rewrites everything: layout IS the goal
            or any(a.get("deletionVector") for a in group)
            or len(group) > target_files_per_partition
        }
        if not todo:
            return None
        now = int(time.time() * 1000)
        op_params = {"zOrderBy": json.dumps(list(zorder_by))} if zorder_by else None
        if zorder_by and curve != "z":
            op_params["clusteringCurve"] = curve  # our extension, ignored by others
        actions: list[dict] = [
            {"commitInfo": self._commit_info("OPTIMIZE", op_params)}
        ]
        all_new_adds: list[dict] = []
        removed = [a for group in todo.values() for a in group]
        if zorder_by or rt_on:
            for key, group in todo.items():
                paths = [self._abs_data_path(a["path"]) for a in group]
                if rt_on:
                    # rewrite WITH ids: each row's id rides a physical
                    # `_row_id` column in the new files (compaction
                    # interleaves sources — base+position can no longer
                    # express the ids; the spec's materialized-column
                    # mechanism). Files from a PRIOR optimize already carry
                    # the column (read explicitly; missing → null),
                    # everything else derives base + row_index.
                    from pyspark.sql.types import LongType, StructField

                    read_schema = StructType(
                        list(data_schema.fields)
                        + [StructField("_row_id", LongType(), True)]
                    )
                    df = (
                        self.spark.read.schema(read_schema).parquet(*paths)
                        .withColumn(
                            "__fp", _file_path_raw(F.col("_metadata.file_path"))
                        )
                        .withColumn("__ri", F.col("_metadata.row_index"))
                    )
                    base_map = local_frame(
                        self.spark,
                        [
                            (
                                self._abs_data_path(a["path"]),
                                int(a["baseRowId"]),
                            )
                            for a in group
                        ],
                        "__fp string, __base long",
                    )
                    df = (
                        df.join(F.broadcast(base_map), "__fp")
                        .withColumn(
                            "_row_id",
                            F.coalesce(
                                F.col("_row_id"), F.col("__base") + F.col("__ri")
                            ),
                        )
                        .drop("__base")
                    )
                    df = self._apply_dvs(
                        df, [a for a in group if a.get("deletionVector")], has_meta=True
                    )
                else:
                    df = self.spark.read.schema(data_schema).parquet(*paths)
                    dv_adds = [a for a in group if a.get("deletionVector")]
                    if dv_adds:
                        df = self._apply_dvs(df, dv_adds)
                for col, sval in key:
                    df = df.withColumn(col, _partition_literal(sval, ptypes[col]))
                if zorder_by:
                    from projectdatalake_spark.functions.clustering import (
                        attach_hilbert_column,
                        zorder_column,
                    )

                    if curve == "hilbert":
                        # the liquid-clustering curve: contiguous, so range
                        # slices cover tighter rectangles than Z (2-D only)
                        staged = attach_hilbert_column(df, tuple(zorder_by), "__z")
                    elif curve == "z":
                        staged = df.withColumn(
                            "__z", zorder_column(df, tuple(zorder_by))
                        )
                    else:
                        raise ValueError(f"unknown clustering curve: {curve!r}")
                    compacted = (
                        staged.repartitionByRange(target_files, "__z")
                        .sortWithinPartitions("__z")
                        .drop("__z")
                    )
                else:
                    compacted = df.coalesce(target_files_per_partition)
                all_new_adds.extend(self._stage(compacted, tuple(pcols)))
        elif pcols:
            # every partition's rows in target_files_per_partition hash
            # slots, each slot's rows in one task: one file per slot
            k = target_files_per_partition
            df = self._read_adds(removed, meta, with_meta=True)
            compacted = df.repartition(
                len(todo) * k, *pcols, F.pmod(F.col("__ri"), F.lit(k))
            ).drop("__fp", "__ri")
            all_new_adds = self._stage(compacted, tuple(pcols))
        else:
            compacted = self._read_adds(removed, meta).coalesce(
                target_files_per_partition
            )
            all_new_adds = self._stage(compacted, ())
        actions.extend(
            {
                "remove": {
                    "path": a["path"],
                    "deletionTimestamp": now,
                    "dataChange": False,
                }
            }
            for a in removed
        )
        v = state["version"] + 1
        if rt_on:
            # spec shape: rewritten adds burn FRESH baseRowIds (the mark
            # advances) while their rows' materialized column overrides —
            # readers coalesce(materialized, base + position). Allocate
            # BEFORE the add actions are built: the allocator stamps the
            # add dicts in place.
            actions.extend(
                self._row_tracking_actions(all_new_adds, state, v)
            )
        actions.extend(
            {"add": {**a, "dataChange": False}} for a in all_new_adds
        )
        self._publish(v, actions)
        return v

    # --- column statistics (domainMetadata-carried; table_stats.py) -------

    def write_stats(self, columns: list[str], k: int = 4096) -> int:
        """Column NDV statistics: theta sketches built in one pass over
        the snapshot, upserted per column into the
        ``projectdatalake.columnStats`` ``domainMetadata`` domain — the
        spec's extension point for engine-scoped configuration, which
        replays through the log and both checkpoint shapes. Each entry
        records the table version it describes (``table_stats``: the
        entry codec and staleness rule txlog shares, the sketches Iceberg
        stores in puffin files; ``ndv_semi_reduce_join`` consumes any of
        them). Metadata-only commit; returns its version."""
        return self._write_stats_domain(
            _stats.NDV, columns, k,
            "WRITE STATS", {"columns": json.dumps(list(columns))},
        )

    def ndv(self, column: str) -> int | None:
        """NDV from the stats domain, or None when absent or stale: every
        version after the entry's must still be in the log and carry no
        add/remove action (``table_stats.answers``), so consumers never
        broadcast on numbers the table has outgrown."""
        state = self._state()
        commits = set(self._log_files()[0])

        def changed(v: int) -> bool | None:
            if v not in commits:
                return None
            return any("add" in a or "remove" in a for a in self._commit_actions(v))

        entry = self._stats_entry(_stats.NDV, column, state)
        return _stats.ndv(entry, state["version"], changed)

    def write_quantile_stats(self, column: str, k: int = 8192) -> int:
        """Mergeable KLL quantile sketch of ``column`` in the
        ``graft.quantileStats`` domain, apart from the NDV domain so
        quantile entries never enter the NDV staleness check. Same codec
        and commit step as ``write_stats``."""
        return self._write_stats_domain(
            _stats.KLL, [column], k, "WRITE QUANTILE STATS", {"column": column}
        )

    def read_quantile_sketch(self, column: str):
        """The column's KLL sketch from the quantile domain; None when
        absent."""
        return _stats.decode(_stats.KLL, self._stats_entry(_stats.KLL, column))

    def read_stats_sketch(self, column: str):
        """The column's theta sketch (the mergeable path); None when
        absent."""
        return _stats.decode(_stats.NDV, self._stats_entry(_stats.NDV, column))

    def _stats_entry(self, kind: str, column: str, state: dict | None = None):
        cfg = (state or self._state())["domains"].get(_stats.DELTA_DOMAIN[kind])
        return json.loads(cfg).get(column) if cfg else None

    def _write_stats_domain(
        self, kind: str, columns: list[str], k: int, op: str, params: dict
    ) -> int:
        """One metadata-only commit upserting the ``kind`` entries of
        ``columns``, built over the current snapshot, into the kind's
        domain; the protocol gains ``domainMetadata`` on first use."""
        state = self._state()
        domain = _stats.DELTA_DOMAIN[kind]
        entries = json.loads(state["domains"].get(domain) or "{}")
        entries.update(
            _stats.entries(self.snapshot(), kind, columns, k, state["version"])
        )
        proto = self._protocol_with(state["protocol"], writer={"domainMetadata"})
        actions: list[dict] = [
            {"commitInfo": self._commit_info(op, params)},
            *([{"protocol": proto}] if proto else []),
            {"domainMetadata": {
                "domain": domain,
                "configuration": json.dumps(entries),
                "removed": False,
            }},
        ]
        self._publish(state["version"] + 1, actions)
        return state["version"] + 1

    # --- liquid-style clustering ------------------------------------------

    _CLUSTER_DOMAIN = "delta.clustering"

    _ROW_TRACKING_DOMAIN = "delta.rowTracking"

    def row_tracking_enabled(self, state: dict | None = None) -> bool:
        state = state or self._state()
        cfg = (state["metaData"] or {}).get("configuration") or {}
        return cfg.get("delta.enableRowTracking") == "true"

    def _row_id_high_water_mark(self, state: dict) -> int:
        cfg = state["domains"].get(self._ROW_TRACKING_DOMAIN)
        if not cfg:
            return -1
        return int(json.loads(cfg).get("rowIdHighWaterMark", -1))

    def enable_row_tracking(self) -> int:
        """ROW TRACKING (Delta PROTOCOL.md "Row Tracking"): every add
        action carries ``baseRowId`` + ``defaultRowCommitVersion``, and a
        row's FRESH id is baseRowId + its physical position in the file —
        position-based, so merge-on-read DV deletes never move surviving
        ids. The ``delta.rowTracking`` domain records the
        ``rowIdHighWaterMark`` (highest id ever allocated) that each
        allocating commit must advance.

        Enabling BACKFILLS the live table: one commit re-adds every
        active file (dataChange=false) with fresh baseRowIds assigned in
        path order from the files' numRecords stats, upgrades the
        protocol (writerFeatures += rowTracking/domainMetadata), sets
        ``delta.enableRowTracking`` and seeds the high-water mark.

        Scope (loud, not silent): after enabling, appends and DV deletes
        allocate/preserve ids; file-REWRITING ops (optimize, recluster,
        overwrite, replace_where, merge) refuse — preserving ids across
        a rewrite needs the materialized-row-id column this writer does
        not emit yet."""
        state = self._state()
        if self.row_tracking_enabled(state):
            return self.latest_version()
        proto = self._protocol_with(
            state["protocol"], writer={"rowTracking", "domainMetadata"}
        )
        meta = dict(state["metaData"])
        meta["configuration"] = {
            **(meta.get("configuration") or {}),
            "delta.enableRowTracking": "true",
            # spec: the physical column rewrites materialize row ids
            # into (rows with a non-null value there own it; null falls
            # back to baseRowId + position)
            "delta.rowTracking.materializedRowIdColumnName": "_row_id",
        }
        # one target version for the whole backfill: every re-add's
        # defaultRowCommitVersion and the publish target must agree — a
        # per-add latest_version() call both costs a log listing per file
        # and lets a racer landing mid-loop skew later adds' stamps
        v = state["version"] + 1
        hwm = -1
        readds = []
        for path in sorted(state["adds"]):
            add = dict(state["adds"][path])
            st = self._parse_stats(add)
            if st is None or "numRecords" not in st:
                raise DeltaProtocolError(
                    f"row tracking backfill needs numRecords stats on "
                    f"{path} — rewrite the file with a stats-attaching "
                    "writer first"
                )
            add["baseRowId"] = hwm + 1
            add["defaultRowCommitVersion"] = v
            add["dataChange"] = False
            hwm += int(st["numRecords"])
            readds.append(add)
        actions: list[dict] = [
            {"commitInfo": self._commit_info("ENABLE ROW TRACKING")},
            *([{"protocol": proto}] if proto else []),
            {"metaData": meta},
            {"domainMetadata": {
                "domain": self._ROW_TRACKING_DOMAIN,
                "configuration": json.dumps({"rowIdHighWaterMark": hwm}),
                "removed": False,
            }},
            *({"add": a} for a in readds),
        ]
        self._publish(v, actions)
        return v

    def _row_tracking_actions(
        self, adds: list[dict], state: dict, commit_version: int
    ) -> list[dict]:
        """Allocate baseRowIds for ``adds`` (mutated in place, path
        order) and return the high-water-mark domain action the same
        commit must carry. No-op (empty list) when tracking is off."""
        if not self.row_tracking_enabled(state):
            return []
        hwm = self._row_id_high_water_mark(state)
        for add in sorted(adds, key=lambda a: a["path"]):
            st = self._parse_stats(add)
            if st is None or "numRecords" not in st:
                raise DeltaProtocolError(
                    "row-tracked append needs numRecords stats per file"
                )
            add["baseRowId"] = hwm + 1
            add["defaultRowCommitVersion"] = commit_version
            hwm += int(st["numRecords"])
        return [
            {"domainMetadata": {
                "domain": self._ROW_TRACKING_DOMAIN,
                "configuration": json.dumps({"rowIdHighWaterMark": hwm}),
                "removed": False,
            }}
        ]

    def _refuse_row_tracking_rewrite(self, op: str) -> None:
        if self.row_tracking_enabled():
            raise DeltaProtocolError(
                f"{op} on a row-tracked table would reassign row ids — "
                "this writer does not materialize row ids into rewritten "
                "files yet; disable row tracking or skip the rewrite"
            )

    def snapshot_with_row_ids(self, min_row_id: int | None = None) -> DataFrame:
        """The table plus ``row_id`` and ``row_commit_version`` metadata
        columns: row_id = the file's baseRowId + ``_metadata.row_index``
        (the spec's fresh-row-id rule), joined from an O(#files)
        broadcast map — one scan, no per-file plan branches. DV-masked
        rows drop but survivors keep their ids (position-based).
        Unpartitioned, unmapped tables only (loud otherwise).

        ``min_row_id``: incremental-consumer watermark — files whose id
        range [baseRowId, baseRowId + numRecords) falls wholly below it
        are skipped unopened (exact file-level skipping, append-only ids
        are monotone per file), plus a residual filter for the straddling
        file. The txlog/Iceberg twins share the semantics."""
        state = self._state()
        self._check_readable(state)
        meta = state["metaData"]
        if not self.row_tracking_enabled(state):
            raise DeltaProtocolError("row tracking is not enabled")
        if meta.get("partitionColumns") or self._column_mapping(meta):
            raise DeltaProtocolError(
                "snapshot_with_row_ids supports unpartitioned, unmapped "
                "tables only in this implementation"
            )
        adds = list(state["adds"].values())
        if min_row_id is not None:
            def above(a: dict) -> bool:
                st = self._parse_stats(a)
                if st is None or "numRecords" not in st:
                    return True  # unknown count: conservatively keep
                # MATERIALIZED files (an optimize rewrite) hold arbitrary
                # id mixtures — their baseRowId is fresh and says nothing
                # about content; prune on the column's write-time max
                mat_max = (st.get("maxValues") or {}).get("_row_id")
                if mat_max is not None:
                    return int(mat_max) >= min_row_id
                return (
                    int(a["baseRowId"]) + int(st["numRecords"]) - 1
                    >= min_row_id
                )
            adds = [a for a in adds if above(a)]
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        if not adds:
            return local_frame(
                self.spark,
                [], StructType(list(schema.fields)),
            ).withColumn("row_id", F.lit(None).cast("long")).withColumn(
                "row_commit_version", F.lit(None).cast("long")
            )
        base_map = local_frame(
            self.spark,
            [
                (
                    self._abs_data_path(a["path"]),
                    int(a["baseRowId"]),
                    int(a["defaultRowCommitVersion"]),
                )
                for a in adds
            ],
            "__fp string, __base long, __dcv long",
        )
        paths = [self._abs_data_path(a["path"]) for a in adds]
        from pyspark.sql.types import LongType, StructField

        # one scan covers plain AND optimize-materialized files: the
        # explicit schema reads `_row_id` where present and null where
        # absent, and the coalesce applies the spec's precedence
        # (materialized value wins; null → baseRowId + position)
        read_schema = StructType(
            list(schema.fields) + [StructField("_row_id", LongType(), True)]
        )
        df = (
            self.spark.read.schema(read_schema).parquet(*paths)
            .withColumn("__fp", _file_path_raw(F.col("_metadata.file_path")))
            .withColumn("__ri", F.col("_metadata.row_index"))
            .join(F.broadcast(base_map), "__fp")
            .withColumn(
                "row_id",
                F.coalesce(F.col("_row_id"), F.col("__base") + F.col("__ri")),
            )
            .withColumn("row_commit_version", F.col("__dcv"))
            .drop("_row_id")
        )
        df = self._apply_dvs(
            df, [a for a in adds if a.get("deletionVector")], has_meta=True
        ).drop("__base", "__dcv")
        if min_row_id is not None:
            df = df.filter(F.col("row_id") >= F.lit(int(min_row_id)))
        return df

    def set_clustering(self, cols: tuple[str, ...]) -> int:
        """Declare clustering columns via a ``domainMetadata`` action on
        the ``delta.clustering`` domain (the liquid-clustering metadata
        shape) and advance the protocol to carry the ``domainMetadata``
        + ``clustering`` writer features. Metadata-only: existing files
        keep their layout; ``recluster()`` is the maintenance loop that
        converges it. Empty ``cols`` tombstones the domain."""
        state = self._state()
        proto = self._protocol_with(
            state["protocol"], writer={"domainMetadata", "clustering"}
        )
        actions: list[dict] = [
            {"commitInfo": self._commit_info(
                "CLUSTER BY", {"columns": json.dumps(list(cols))}
            )},
            *([{"protocol": proto}] if proto else []),
        ]
        if cols:
            actions.append(
                {"domainMetadata": {
                    "domain": self._CLUSTER_DOMAIN,
                    "configuration": json.dumps(
                        {"clusteringColumns": [[c] for c in cols]}
                    ),
                    "removed": False,
                }}
            )
        else:
            actions.append(
                {"domainMetadata": {
                    "domain": self._CLUSTER_DOMAIN,
                    "configuration": None,
                    "removed": True,
                }}
            )
        v = state["version"] + 1
        self._publish(v, actions)
        return v

    def cluster_columns(self) -> tuple[str, ...]:
        cfg = self._state()["domains"].get(self._CLUSTER_DOMAIN)
        if not cfg:
            return ()
        return tuple(c[0] for c in json.loads(cfg)["clusteringColumns"])

    def recluster(
        self, target_files: int = 8, max_groups: int | None = None
    ) -> int | None:
        """LIQUID-STYLE INCREMENTAL RECLUSTERING for Delta — the same
        interval sweep as txlog's ``recluster`` (the two formats share
        the algorithm, each over its own stats encoding): per partition,
        the per-file minValues/maxValues of the LEADING clustering
        column are swept into strict-overlap components; components of
        ≥2 files (plus files missing stats) are re-read THROUGH their
        deletion vectors, range-shuffled on the full clustering key,
        and swapped in one dataChange=false commit. Boundary-touching
        intervals count as disjoint, so a second pass over unchanged
        data returns None.

        100 TB: a full OPTIMIZE ZORDER is O(table) per run; this
        touches only the pockets fresh ingest degraded — recurring
        maintenance cost tracks ingest, not table size."""
        self._refuse_row_tracking_rewrite("recluster")
        from functools import cmp_to_key

        ccols = self.cluster_columns()
        if not ccols:
            raise DeltaProtocolError(
                "recluster needs clustering columns — set_clustering() first"
            )
        state = self._state()
        self._check_readable(state)
        meta = state["metaData"]
        self._refuse_mapped(meta, "recluster")
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        pcols = list(meta.get("partitionColumns", []))
        data_schema = StructType(
            [f for f in schema.fields if f.name not in pcols]
        )
        ptypes = {f.name: f.dataType for f in schema.fields if f.name in pcols}
        c0 = ccols[0]
        by_part: dict[tuple, list[dict]] = {}
        for a in state["adds"].values():
            pv = a.get("partitionValues", {})
            by_part.setdefault(
                tuple((c, pv.get(c)) for c in pcols), []
            ).append(a)

        def cmp_lo(x, y):  # None = unbounded-below sorts first
            lx, ly = x[0], y[0]
            if lx is None or ly is None:
                return (lx is not None) - (ly is not None)
            return -1 if lx < ly else (1 if lx > ly else 0)

        groups: list[tuple[tuple, list[dict]]] = []
        for key, files in by_part.items():
            ivs = []
            for a in files:
                s = self._parse_stats(a) or {}
                lo = (s.get("minValues") or {}).get(c0)
                hi = (s.get("maxValues") or {}).get(c0)
                ivs.append((lo, hi, a))
            ivs.sort(key=cmp_to_key(cmp_lo))
            comp: list[dict] = []
            cur_hi = None
            for lo, hi, a in ivs:
                overlaps = bool(comp) and (
                    cur_hi is None or lo is None or lo < cur_hi
                )
                if overlaps:
                    comp.append(a)
                    if cur_hi is not None and hi is not None:
                        cur_hi = max(cur_hi, hi)
                    elif hi is None:
                        cur_hi = None
                else:
                    if len(comp) >= 2:
                        groups.append((key, comp))
                    comp, cur_hi = [a], hi
            if len(comp) >= 2:
                groups.append((key, comp))
        if not groups:
            return None
        groups.sort(key=lambda g: len(g[1]), reverse=True)
        if max_groups is not None:
            groups = groups[: max(1, int(max_groups))]
        now = int(time.time() * 1000)
        actions: list[dict] = [
            {"commitInfo": self._commit_info(
                "RECLUSTER", {"clusterBy": json.dumps(list(ccols))}
            )}
        ]
        n_live = len(state["adds"])
        for key, group in groups:
            paths = [self._abs_data_path(a["path"]) for a in group]
            df = self.spark.read.schema(data_schema).parquet(*paths)
            dv_adds = [a for a in group if a.get("deletionVector")]
            if dv_adds:
                df = self._apply_dvs(df, dv_adds)
            for col, sval in key:
                df = df.withColumn(col, _partition_literal(sval, ptypes[col]))
            n_out = max(1, round(target_files * len(group) / max(1, n_live)))
            compacted = df.repartitionByRange(
                n_out, *[F.col(c) for c in ccols]
            ).sortWithinPartitions(*ccols)
            new_adds = self._stage(compacted, tuple(pcols))
            for a in group:
                actions.append(
                    {"remove": {
                        "path": a["path"],
                        "deletionTimestamp": now,
                        "dataChange": False,
                    }}
                )
            for a in new_adds:
                actions.append({"add": {**a, "dataChange": False}})
        v = state["version"] + 1
        self._publish(v, actions)
        return v

    # --- checkpoint -------------------------------------------------------

    def checkpoint(self) -> int:
        """Write a classic single-file parquet checkpoint at the current
        version + ``_last_checkpoint`` (spec: readers may then start replay
        at the checkpoint; older JSON commits become prunable)."""
        state = self._state()
        v = state["version"]
        rows = []
        rows.append({"protocol": state["protocol"]})
        rows.append({"metaData": state["metaData"]})
        for add in state["adds"].values():
            rows.append({"add": add})
        for app, tv in state["txns"].items():
            rows.append({"txn": {"appId": app, "version": tv}})
        for dom, cfg in state.get("domains", {}).items():
            rows.append({"domainMetadata": {
                "domain": dom, "configuration": cfg, "removed": False,
            }})
        schema_ddl = (
            f"txn {_CKPT_TXN_T}, add {_CKPT_ADD_T}, remove {_CKPT_REMOVE_T}, "
            f"metaData {_CKPT_META_T}, protocol {_CKPT_PROTO_T}, "
            f"domainMetadata {_CKPT_DOMAIN_T}"
        )
        norm_rows = [
            {
                "txn": r.get("txn"),
                "add": r.get("add"),
                "remove": None,
                "metaData": r.get("metaData"),
                "protocol": r.get("protocol"),
                "domainMetadata": r.get("domainMetadata"),
            }
            for r in rows
        ]
        ckpt_df = local_frame(self.spark, norm_rows, schema=schema_ddl)
        tmp = f"{self.root}/_staging/ckpt_{uuid.uuid4().hex}"
        ckpt_df.coalesce(1).write.mode("overwrite").parquet(tmp)
        self._move_single_part(tmp, f"{self.root}/{_LOG}/{v:020d}.checkpoint.parquet")
        _atomic.write_text(
            self.spark,
            f"{self.root}/{_LOG}/{_LAST_CHECKPOINT}",
            json.dumps({"version": v, "size": len(norm_rows)}),
            exclusive=False,  # spec: _last_checkpoint is overwritten in place
        )
        return v

    def checkpoint_v2(self, sidecar_files: int = 2) -> int:
        """V2 CHECKPOINT with SIDECARS (Delta ``v2Checkpoint`` table
        feature): the non-file actions — protocol, metaData, txn — plus a
        ``checkpointMetadata`` action and one ``sidecar`` action per
        sidecar file land in a uuid-named top-level checkpoint
        ``<v>.checkpoint.<uuid>.parquet``; the add actions are sharded
        across ``sidecar_files`` parquet files under
        ``_delta_log/_sidecars/``. Readers start replay at the checkpoint
        exactly as with the classic shape; commits at or before it become
        prunable. If the table's protocol does not yet carry the feature,
        a protocol-upgrade commit lands first (minReaderVersion 3 /
        minWriterVersion 7, reader+writer features += v2Checkpoint, with
        the old versions' implied legacy features enumerated, per spec).
        Returns the checkpointed version.

        100 TB: a classic checkpoint is ONE parquet file proportional to
        the table's entire file count — on a million-file table every
        checkpoint serializes that state through one writer task, and
        every cold read re-scans it from one file. Sidecars shard the
        file state so checkpoint writes parallelize across the cluster
        and cold-start readers fan sidecar scans out."""
        for _ in range(20):
            state = self._state()
            proto = self._protocol_with(state["protocol"], reader={"v2Checkpoint"})
            if proto is None:
                break  # granted (by us or a racer)
            try:
                self._publish(state["version"] + 1, [
                    {"commitInfo": self._commit_info(
                        "UPGRADE PROTOCOL", {"feature": "v2Checkpoint"}
                    )},
                    {"protocol": proto},
                ])
            except DeltaCommitConflict:
                continue
            state = self._state()
            break
        else:
            raise DeltaCommitConflict(
                f"v2Checkpoint upgrade lost 20 races at {self.root}"
            )
        v = state["version"]
        adds = list(state["adds"].values())
        sidecar_actions: list[dict] = []
        if adds:
            side_schema = f"add {_CKPT_ADD_T}, remove {_CKPT_REMOVE_T}"
            side_df = local_frame(
                self.spark,
                [{"add": a, "remove": None} for a in adds], schema=side_schema
            )
            n_side = max(1, min(int(sidecar_files), len(adds)))
            tmp = f"{self.root}/_staging/ckpt_v2_{uuid.uuid4().hex}"
            side_df.repartition(n_side).write.mode("overwrite").parquet(tmp)
            for p, size, _m in _atomic.list_files(self.spark, tmp, ".parquet"):
                rel = f"{uuid.uuid4().hex}.parquet"
                dest = f"{self.root}/{_LOG}/{_SIDECAR_DIR}/{rel}"
                if not _atomic.rename(self.spark, p, dest):
                    raise IOError(f"sidecar move failed for version {v}")
                sidecar_actions.append(
                    {
                        "path": rel,  # spec: relative to _delta_log/_sidecars/
                        "sizeInBytes": size,
                        "modificationTime": _atomic.mtime_ms(self.spark, dest),
                        "tags": None,
                    }
                )
            _atomic.delete(self.spark, tmp, recursive=True)
        top_schema = (
            f"txn {_CKPT_TXN_T}, add {_CKPT_ADD_T}, remove {_CKPT_REMOVE_T}, "
            f"metaData {_CKPT_META_T}, protocol {_CKPT_PROTO_T}, "
            f"checkpointMetadata {_CKPT_META_CM_T}, sidecar {_CKPT_SIDECAR_T}, "
            f"domainMetadata {_CKPT_DOMAIN_T}"
        )
        blank = {
            "txn": None, "add": None, "remove": None, "metaData": None,
            "protocol": None, "checkpointMetadata": None, "sidecar": None,
            "domainMetadata": None,
        }
        top_rows = [
            {**blank, "checkpointMetadata": {"version": v, "tags": None}},
            {**blank, "protocol": state["protocol"]},
            {**blank, "metaData": state["metaData"]},
        ]
        top_rows += [
            {**blank, "txn": {"appId": a, "version": t, "lastUpdated": None}}
            for a, t in state["txns"].items()
        ]
        top_rows += [
            {**blank, "domainMetadata": {
                "domain": dom, "configuration": cfg, "removed": False,
            }}
            for dom, cfg in state.get("domains", {}).items()
        ]
        top_rows += [{**blank, "sidecar": s} for s in sidecar_actions]
        top_df = local_frame(self.spark, top_rows, schema=top_schema)
        tmp = f"{self.root}/_staging/ckpt_v2_top_{uuid.uuid4().hex}"
        top_df.coalesce(1).write.mode("overwrite").parquet(tmp)
        self._move_single_part(
            tmp, f"{self.root}/{_LOG}/{v:020d}.checkpoint.{uuid.uuid4().hex}.parquet"
        )
        _atomic.write_text(
            self.spark,
            f"{self.root}/{_LOG}/{_LAST_CHECKPOINT}",
            json.dumps({"version": v, "size": len(top_rows) + len(adds)}),
            exclusive=False,  # spec: _last_checkpoint is overwritten in place
        )
        return v

    def _move_single_part(self, tmp: str, dest: str) -> None:
        """Move the one parquet part Spark wrote under ``tmp`` to ``dest``
        and drop ``tmp``."""
        parts = _atomic.list_files(self.spark, tmp, ".parquet")
        if not parts or not _atomic.rename(self.spark, parts[0][0], dest):
            raise IOError(f"checkpoint move failed: {tmp} -> {dest}")
        _atomic.delete(self.spark, tmp, recursive=True)

    def vacuum(self, retain_versions: int = 1) -> int:
        """Delete data files (and DV blobs) no longer referenced by any of
        the newest ``retain_versions`` versions — the storage-reclaim half
        of the maintenance lifecycle (optimize leaves the old files behind
        for time travel; vacuum retires them past the travel horizon).
        Time travel below the horizon afterwards fails loudly at read time
        (missing file), exactly Delta's documented trade-off. Returns the
        number of files deleted."""
        tip = self.latest_version()
        horizon = max(0, tip - max(1, retain_versions) + 1)
        keep: set[str] = set()
        dv_keep: set[str] = set()
        for v in range(horizon, tip + 1):
            state = self._state(v)
            for a in state["adds"].values():
                keep.add(self._abs_data_path(a["path"]))
                dv = a.get("deletionVector")
                if dv and dv.get("storageType") in ("p", "u"):
                    dv_keep.add(dv["pathOrInlineDv"])
        keep = {_atomic.path_only(p) for p in keep}
        dv_keep = {_atomic.path_only(p) for p in dv_keep}
        root_uri = _atomic.path_only(self.root)
        deleted = 0
        for p, _size, _m in _atomic.list_files(self.spark, self.root):
            abs_p = _atomic.path_only(p)
            rel = abs_p[len(root_uri):].lstrip("/")
            if rel.startswith((_LOG, "_staging")) or rel.startswith("."):
                continue
            if (rel.endswith(".parquet") and abs_p not in keep) or (
                ".bin" in rel and "deletion_vector" in rel and abs_p not in dv_keep
            ):
                deleted += _atomic.delete(self.spark, p)
        return deleted

    def prune_log(self) -> int:
        """Delete JSON commits at or before the newest checkpoint (log
        retention). Time travel to pre-checkpoint versions becomes
        unavailable — exactly Delta's documented trade-off."""
        commits, checkpoints = self._log_files()
        if not checkpoints:
            return 0
        ckpt = max(checkpoints)
        n = 0
        for v in commits:
            if v <= ckpt:
                _atomic.delete(self.spark, f"{self.root}/{_LOG}/{v:020d}.json")
                self._commit_memo.pop(v, None)
                n += 1
        return n


# --- conversions ----------------------------------------------------------


def append_stream(
    stream_df: DataFrame,
    table: DeltaTable,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Exactly-once streaming sink into a Delta table via ``foreachBatch``
    + ``append(txn=...)``: each micro-batch commits one version carrying a
    setTransaction (appId, version) action — the protocol's idempotence
    ledger — so a crash-replayed batch is skipped before any file is
    staged (the same mechanism delta-spark's streaming sink uses).
    Returns the StreamingQuery."""
    app_id = checkpoint_dir  # one logical writer per checkpoint

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        table.append(batch_df, txn=(app_id, batch_id))

    return _start_sink(stream_df, commit_batch, checkpoint_dir, available_now)


def upsert_stream(
    stream_df: DataFrame,
    table: DeltaTable,
    keys: list[str],
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Exactly-once streaming UPSERT sink: each micro-batch lands as ONE
    MERGE version (``merge_upsert`` — touched-file rewrite, DV-aware)
    whose setTransaction action makes replays no-ops. The table converges
    to last-write-wins per key across batches; the physical cost per
    batch is the merge's (only files containing matched keys rewrite) —
    the Delta twin of iceberg_interop.upsert_stream's merge-on-read
    shape. Returns the StreamingQuery."""
    app_id = checkpoint_dir

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        table.merge_upsert(batch_df, keys, txn=(app_id, batch_id))

    return _start_sink(stream_df, commit_batch, checkpoint_dir, available_now)


def convert_parquet_to_delta(
    spark: SparkSession,
    root: str,
    schema: StructType,
    partition_by: tuple[str, ...] = (),
    collect_stats: bool = True,
) -> DeltaTable:
    """In-place CONVERT TO DELTA: give an existing (optionally
    hive-partitioned) parquet directory a transaction log WITHOUT touching
    the data files — the metadata-only migration that makes converting a
    100 TB directory an O(#files) listing, not an O(bytes) rewrite. A
    file without rows is deleted, never committed.

    ``schema`` must be the FULL logical schema including typed partition
    columns (Delta requires explicit types; hive directories only carry
    strings)."""
    t = DeltaTable(spark, root)
    if t.exists():
        raise DeltaCommitConflict(f"already a Delta table: {root}")
    adds = [
        {
            "path": _quote_path(f["rel"]),
            "partitionValues": {c: f["partitionValues"].get(c) for c in partition_by},
            "size": f["size"],
            "modificationTime": f["mtime"],
            "dataChange": True,
            **(f["encoded"] if collect_stats else {}),
        }
        for f in t._staged_files(root, partition_by, schema)
    ]
    meta = {
        "id": str(uuid.uuid4()),
        "format": {"provider": "parquet", "options": {}},
        "schemaString": schema.json(),
        "partitionColumns": list(partition_by),
        "configuration": {},
        "createdTime": int(time.time() * 1000),
    }
    actions = [
        {"commitInfo": t._commit_info("CONVERT", {"numFiles": str(len(adds))})},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": meta},
        *({"add": a} for a in adds),
    ]
    t._publish(0, actions)
    return t


def convert_txlog_to_delta(txtable, dest_root: str, zero_copy: bool = True) -> DeltaTable:
    """Export a native txlog table (sources/txlog.py) to a real Delta table.

    When the source has no active deletion vectors, no column renames, and
    no hidden partition transforms, the export is ZERO-COPY: add actions
    reference the txlog data files by absolute path (the spec's absolute-
    URI escape hatch, same mechanism Delta shallow clones use). Otherwise
    the current snapshot is materialized — correctness first, and the
    condition is checked, not assumed."""
    spark = txtable.spark
    state = txtable._state()
    plain = (
        not txtable._active_dvs()
        and all(log == phys for log, phys in txtable.column_mapping().items())
        and all(
            kind == "identity"
            for (kind, _p, _c, _n) in txtable._all_partition_fields()
        )
    )
    if zero_copy and plain:
        t = DeltaTable(spark, dest_root)
        if t.exists():
            raise DeltaCommitConflict(f"already a Delta table: {dest_root}")
        schema = txtable.snapshot().schema
        pcols = tuple(txtable._partition_by())
        adds = []
        for a in txtable._active_files():
            abs_path = txtable._resolve(a["path"])
            adds.append(
                {
                    "path": _quote_path(abs_path),
                    "partitionValues": {c: a.get("partition", {}).get(c) for c in pcols},
                    "size": a.get("size", 0),
                    "modificationTime": int(time.time() * 1000),
                    "dataChange": True,
                    **(
                        {"stats": json.dumps(_txlog_stats_to_delta(a), separators=(",", ":"))}
                        if a.get("stats")
                        else {}
                    ),
                }
            )
        meta = {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema.json(),
            "partitionColumns": list(pcols),
            "configuration": {"projectdatalake.sourceFormat": "txlog"},
            "createdTime": int(time.time() * 1000),
        }
        actions = [
            {"commitInfo": t._commit_info("CLONE", {"source": txtable.root})},
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": meta},
            *({"add": a} for a in adds),
        ]
        t._publish(0, actions)
        return t
    pcols = tuple(txtable._partition_by())
    ident = tuple(
        c for c in pcols if any(
            k == "identity" and n == c
            for (k, _p, _c2, n) in txtable._all_partition_fields()
        )
    )
    return DeltaTable.create(spark, dest_root, txtable.snapshot(), partition_by=ident)


def _txlog_stats_to_delta(add: dict) -> dict:
    """txlog per-file stats {col: {min, max}} → Delta stats shape."""
    stats = add.get("stats", {})
    return {
        "minValues": {c: v.get("min") for c, v in stats.items() if v.get("min") is not None},
        "maxValues": {c: v.get("max") for c, v in stats.items() if v.get("max") is not None},
    }
