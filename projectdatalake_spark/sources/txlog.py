"""Minimal transactional table format: a JSON commit log over Parquet.

The north-star table format (BASELINE.json ``spark_approach`` names
Delta/Iceberg) needs jars this container doesn't ship, so this module
implements the essential protocol from first principles — the same
public design Delta Lake's log documents (versioned JSON commits listing
add/remove file actions, mutual exclusion on the commit file, readers
replaying the log into a snapshot):

- ``_txlog/{version:08d}.json`` — one commit per version; each lists
  ``adds`` (relative path + partition values + size) and ``removes``.
- Commits are published with **exclusive create** (Hadoop
  ``FileSystem.create(path, overwrite=False)``): two writers racing to
  version N — one wins, the loser re-reads the log and retries against
  the new snapshot. Atomic on file:// and HDFS; on S3 a real deployment
  pins a coordinating LogStore, exactly as Delta documents.
- Data files keep the **hive layout** (``year=2024/month=3/part-*.parquet``)
  in the table root, so partition-column inference, partition pruning, and
  plain directory readers all still work; snapshot readers pass the log's
  explicit file list with ``basePath`` so removed/orphan files are
  invisible to them.
- Crash safety: writers stage Spark output under ``_staging/{uuid}`` and
  move files in before committing; files that never make it into a commit
  are ignored by snapshot readers and reaped by ``vacuum``.

Log, checkpoint and staging I/O goes through the filesystem seam in
``sources/atomic.py``: ``os`` for local roots, the Hadoop FileSystem
(the one the Spark job itself writes through) for hdfs:// and s3a://.

Scale note: log replay and file-list planning are driver-side and O(files),
the same contract as Delta's scan planning; snapshot reads hand Spark an
explicit split list, so executor-side cost is unchanged. Checkpoint
compaction (Delta's ``_last_checkpoint``) is the natural extension once
version counts reach thousands; ``history()`` is already the replay core.
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from projectdatalake_spark.session import local_frame
from projectdatalake_spark.sources import atomic as _atomic, footer_stats as _fs
from projectdatalake_spark.sources import table_stats as _stats
from projectdatalake_spark.sources.iceberg_interop import _start_sink

_LOG_DIR = "_txlog"
_STAGING = "_staging"
_DV_DIR = "_dv"
# above this many deleted rows the read-side mask joins as a shuffle
# anti-join instead of a broadcast (DVs are delta-sized by design, but the
# format must not OOM the driver when they are not)
_DV_BROADCAST_ROWS = 5_000_000


class CommitConflict(Exception):
    """Another writer published this version first (exclusive-create lost)."""


def _parse_transform(spec: str) -> tuple[str, int | None, str]:
    """Parse a partition spec: ``col`` (identity), ``days(col)``,
    ``truncate(width, col)``, ``bucket(n, col)`` → (kind, param, col).
    Hidden partitioning, the Iceberg idea: the table partitions on a
    DERIVED value, writers never add the column by hand, and readers
    filter on the SOURCE column — the format maps predicates to
    partitions itself."""
    spec = spec.strip()
    if "(" not in spec:
        return ("identity", None, spec)
    kind, rest = spec.split("(", 1)
    args = [a.strip() for a in rest.rstrip(")").split(",")]
    kind = kind.strip().lower()
    if kind == "days" and len(args) == 1:
        return ("days", None, args[0])
    if kind in ("truncate", "bucket") and len(args) == 2:
        return (kind, int(args[0]), args[1])
    raise ValueError(f"unsupported partition transform: {spec!r}")


def _transform_col(kind: str, param: int | None, col: str, dtype: str | None = None):
    from pyspark.sql import functions as F

    if kind == "identity":
        return F.col(col)
    if kind == "days":
        # ISO date string: lexicographic order == chronological order.
        # Session-timezone contract: a TIMESTAMP (LTZ) column holds an
        # instant — decompose it in the UTC calendar via integer math
        # (unix_micros → epoch day → DATE), never via date_format on the
        # raw timestamp, which renders in the SESSION timezone and would
        # route the same instant to different partitions under different
        # sessions. DATE / TIMESTAMP_NTZ / STRING wall values are
        # timezone-free already and keep the direct rendering.
        if dtype == "timestamp":
            micros = F.unix_micros(F.col(col))
            epoch_day = F.floor(micros / F.lit(86_400_000_000)).cast("int")
            # DATE→STRING cast is a pure calendar rendering (tz-free)
            return F.date_add(F.lit("1970-01-01").cast("date"), epoch_day).cast(
                "string"
            )
        return F.date_format(F.col(col), "yyyy-MM-dd")
    if kind == "truncate":
        return F.substring(F.col(col).cast("string"), 1, param)
    if kind == "bucket":
        return F.pmod(F.xxhash64(F.col(col)), F.lit(param)).cast("int")
    raise ValueError(kind)


def _transform_col_for(kind: str, param: int | None, col: str, df: "DataFrame"):
    """dtype-aware ``_transform_col``: resolve the source column's Spark
    type from ``df`` so temporal transforms take the session-timezone-
    independent path for TIMESTAMP (LTZ) sources."""
    return _transform_col(kind, param, col, dict(df.dtypes).get(col))


def _hidden_name(kind: str, param: int | None, col: str) -> str:
    return col if kind == "identity" else f"_p_{kind}_{col}"


def _transform_bound(kind: str, param: int | None, v):
    """Map a source-column predicate bound through a monotone transform so
    it can be compared against hive partition-value strings. Returns None
    when the transform cannot prune intervals (bucket)."""
    import datetime

    if v is None:
        return None
    if kind == "days":
        if isinstance(v, datetime.datetime):
            # partition values are UTC-calendar days; rebase aware bounds
            # (naive datetimes are UTC wall by contract, matching how
            # Spark collects TIMESTAMP values under a UTC session)
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc)
            return v.isoformat()[:10]
        if isinstance(v, datetime.date):
            return v.isoformat()
        return str(v)[:10]
    if kind == "truncate":
        return str(v)[:param]
    if kind == "identity":
        return str(v)
    return None


def _stats_value(v):
    """JSON-safe, order-preserving form of a min/max bound. ISO timestamp
    strings compare lexicographically in chronological order, so interval
    overlap tests stay correct after serialization."""
    import datetime
    import decimal

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (int, float, str, bool)) or v is None:
        return v
    return None  # unsupported type: no stats, file conservatively kept


def _partition_may_match(add: dict, where: dict, fields: list) -> bool:
    """Hidden-partition pruning: map each source-column interval through
    its monotone transforms (days, truncate, identity) and compare against
    the file's hive partition values. Bucket cannot prune intervals and
    always answers yes."""
    part = add.get("partition") or {}
    for col, (lo, hi) in where.items():
        for kind, param, src, name in fields:
            if src != col or name not in part:
                continue
            pval = part[name]
            lo_t = _transform_bound(kind, param, lo)
            hi_t = _transform_bound(kind, param, hi)
            if kind == "identity":
                # hive values are strings; compare numerically when the
                # bound is numeric (string order would mis-prune numbers)
                try:
                    pnum = float(pval)
                    lo_t = None if lo is None else float(lo)
                    hi_t = None if hi is None else float(hi)
                    if lo_t is not None and pnum < lo_t:
                        return False
                    if hi_t is not None and pnum > hi_t:
                        return False
                    continue
                except (TypeError, ValueError):
                    pass
            if lo_t is not None and pval < lo_t:
                return False
            if hi_t is not None and pval > hi_t:
                return False
    return True


# Type widening (Delta's type-widening table feature, narrowed to the
# conversions Spark's parquet readers promote natively): old files keep
# their narrow physical type; the table schema records the wide one and
# every read declares it explicitly, so int32 pages decode straight into
# long vectors with no rewrite. Widening is the ONLY legal type change;
# the max-width fold in table_schema() makes commit order irrelevant.
_WIDEN_FAMILIES = (
    ("tinyint", "smallint", "int", "bigint"),
    ("float", "double"),
)


def _widen_rank(t: str) -> tuple[int, int] | None:
    for fi, fam in enumerate(_WIDEN_FAMILIES):
        if t in fam:
            return (fi, fam.index(t))
    return None


def _decimal_params(t: str) -> tuple[int, int] | None:
    """(precision, scale) when ``t`` spells a decimal, else None."""
    import re

    m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", t.strip())
    return (int(m.group(1)), int(m.group(2))) if m else None


def _widens_to(frm: str, to: str) -> bool:
    """True when a value/file of type ``frm`` may be read/written where
    ``to`` is declared (same family, equal or wider). Decimals widen per
    the Delta type-widening rule: decimal(p,s) → decimal(p+k1, s+k2)
    with k1 ≥ k2 ≥ 0 — integer headroom (p−s) never shrinks, so every
    stored value still fits, and Spark's parquet readers rescale narrow
    pages under the declared wide schema natively (round-10; the
    engine's largest declared type-system refusal until then)."""
    a, b = _widen_rank(frm), _widen_rank(to)
    if a is not None and b is not None:
        return a[0] == b[0] and a[1] <= b[1]
    da, db = _decimal_params(frm), _decimal_params(to)
    if da is not None and db is not None:
        return db[0] - da[0] >= db[1] - da[1] >= 0 and db[0] <= 38
    return False


def _bloom_may_match(add: dict, probes: dict[str, list[int]]) -> bool:
    """Bloom-filter equality skipping for high-cardinality columns: a file
    whose bloom lacks any probed bit cannot contain the value. Files
    without a bloom for the column answer yes (never skip on ignorance).
    ``probes`` maps physical column → the k bit positions of the probed
    value, computed ONCE per snapshot call with the same Spark xxhash64
    the writer used (a 1-row local job — hash parity by construction)."""
    blooms = add.get("bloom") or {}
    for col, positions in probes.items():
        hexmap = blooms.get(col)
        if not hexmap:
            continue
        bits = int(hexmap, 16)
        if any(not (bits >> p) & 1 for p in positions):
            return False
    return True


def _dict_may_match(add: dict, where_eq: dict) -> bool:
    """Exact equality skipping via the per-file value dictionary (captured
    at write for columns with ≤ 64 distinct values per file): a file whose
    dictionary lacks the probed value cannot contain it. Files without a
    dictionary for the column answer yes."""
    dicts = add.get("dict") or {}
    for col, v in where_eq.items():
        vals = dicts.get(col)
        if vals is not None and _stats_value(v) not in vals:
            return False
    return True


def _stats_may_match(add: dict, where: dict) -> bool:
    """Can a file's [min, max] ranges intersect every predicate interval?
    Missing stats/columns answer yes (never skip on ignorance)."""
    stats = add.get("stats") or {}
    for col, (lo, hi) in where.items():
        s = stats.get(col)
        if not s:
            continue
        smin, smax = s.get("min"), s.get("max")
        lo_n, hi_n = _stats_value(lo), _stats_value(hi)
        if lo_n is not None and smax is not None and smax < lo_n:
            return False
        if hi_n is not None and smin is not None and smin > hi_n:
            return False
    return True


class TxTable:
    """A transactional Parquet table rooted at ``root``.

    Construct with :meth:`create` for a new table or directly for an
    existing one. All mutations append a numbered commit; readers replay
    commits into an immutable snapshot (optionally as of an older version).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        # commit-JSON memo: commits are IMMUTABLE once published
        # (exclusive create), so a version read once never re-reads; the
        # directory is still listed on every history() call, which is
        # what keeps concurrent writers and prune_log visible. Planning
        # paths (snapshot → mapping + specs + schema + stats) otherwise
        # re-parse the whole log several times per operation.
        self._commit_memo: dict[int, dict] = {}
        self._checkpoint_memo: dict[int, dict] = {}

    def _read_json_retry(self, p: str) -> dict:
        """Read + parse a log file, tolerating TRANSIENT torn states.

        Commits publish via exclusive create THEN content write, so a
        concurrent reader can observe the winner's claim before its bytes
        land (or, on Hadoop's checksummed local FS, a half-written ``.crc``
        sibling → ChecksumException). Both states resolve in microseconds —
        bounded retry, then raise: a commit torn FOREVER means a crashed
        writer mid-publish, which needs repair, not a silent skip (skipping
        would un-serialize the log for this reader only)."""
        import time as _time

        last: Exception | None = None
        for attempt in range(40):
            try:
                text = _atomic.read_text(self.spark, p)
                if text.strip():
                    return json.loads(text)
                last = ValueError(f"empty commit file {p}")
            except Exception as exc:  # ChecksumException / torn JSON / FNF race
                last = exc
            _atomic.backoff_sleep(attempt)
        raise IOError(f"torn or unreadable log file {p}") from last

    # --- log replay -------------------------------------------------------

    def history(self) -> list[dict]:
        """All commits, version-ascending. Empty list = table absent."""
        versions = []
        for name in _atomic.list_dir(self.spark, f"{self.root}/{_LOG_DIR}"):
            if name.endswith(".json") and name[:-5].isdigit():
                versions.append(int(name[:-5]))
        present = set(versions)
        for gone in set(self._commit_memo) - present:  # prune_log ran
            del self._commit_memo[gone]
        commits = []
        for v in sorted(versions):
            c = self._commit_memo.get(v)
            if c is None:
                c = self._read_json_retry(f"{self.root}/{_LOG_DIR}/{v:08d}.json")
                self._commit_memo[v] = c
            commits.append(c)
        return commits

    def latest_version(self) -> int:
        commits = self.history()
        return commits[-1]["version"] if commits else -1

    def version_at(self, ts: float) -> int:
        """Time travel by timestamp (Delta's ``TIMESTAMP AS OF``): the
        latest version whose commit timestamp is <= ``ts`` (epoch
        seconds). Commit timestamps are writer-clock ascending in
        practice; replay order is by version, so ties resolve to the
        highest qualifying version. Raises if ``ts`` predates the table."""
        best = -1
        for c in self.history():
            if c["ts"] <= ts and c["version"] > best:
                best = c["version"]
        if best < 0:
            raise ValueError(
                f"timestamp {ts} predates the first commit of {self.root}"
            )
        return best

    def _read_checkpoint(self) -> dict | None:
        """The newest log checkpoint at or below no particular version —
        ``_last_checkpoint`` names it, mirroring Delta's discovery file."""
        marker = f"{self.root}/{_LOG_DIR}/_last_checkpoint"
        if not _atomic.exists(self.spark, marker):
            return None
        try:
            v = int(json.loads(_atomic.read_text(self.spark, marker))["version"])
            body = self._checkpoint_memo.get(v)
            if body is None:  # checkpoint files are immutable per version
                body = json.loads(
                    _atomic.read_text(
                        self.spark,
                        f"{self.root}/{_LOG_DIR}/{v:08d}.checkpoint.json"
                    )
                )
                self._checkpoint_memo[v] = body
            return body
        except Exception:
            return None  # torn/missing checkpoint: fall back to full replay

    @staticmethod
    def _empty_state() -> dict:
        return {
            "partition_by": None,  # None = never seen (distinct from [])
            "specs_seen": [],
            "bloom_by": [],
            "cluster": None,
            "mapping": {},
            "constraints": {},
            "generated": {},
            "defaults": {},
            "schema": {},
            "leases": {},
            "stats": {},
        }

    @staticmethod
    def _fold_state(state: dict, commits, version: int | None) -> dict:
        """Fold metadata actions into ``state`` (mutates + returns it).
        ONE replay covers everything history-derived — partition spec(s),
        bloom/cluster settings, column mapping, constraints, widened
        schema — so a checkpoint can carry the complete fold and survive
        log-retention pruning of the commits that produced it."""

        def put_schema(col: str, typ: str) -> None:
            cur = state["schema"].get(col)
            if cur is None or cur == typ:
                state["schema"][col] = typ
            elif _widens_to(typ, cur):
                pass  # narrower member of the same family: keep wide
            else:
                state["schema"][col] = typ

        for c in commits:
            if version is not None and c["version"] > version:
                break
            op = c["op"]
            if "partition_by" in c:
                spec = list(c["partition_by"])
                state["partition_by"] = spec
                if tuple(spec) not in {tuple(s) for s in state["specs_seen"]}:
                    state["specs_seen"].append(spec)
            if "bloom_by" in c:
                state["bloom_by"] = list(c["bloom_by"])
            if "cluster" in c:
                state["cluster"] = c["cluster"] or None
            if op == "clone":
                state["mapping"] = dict(c.get("column_mapping", {}))
            for col, typ in c.get("schema", {}).items():
                if col not in state["mapping"].values():
                    state["mapping"].setdefault(col, col)
                put_schema(col, typ)
            if op == "rename_column":
                ren = c["rename"]
                state["mapping"][ren["new"]] = state["mapping"].pop(ren["old"])
            if op == "widen_column":
                w = c["widen"]
                put_schema(w["col"], w["to"])
            if op == "add_constraint":
                state["constraints"][c["constraint"]["name"]] = c["constraint"]["check"]
            elif op == "drop_constraint":
                state["constraints"].pop(c["constraint"]["name"], None)
            if "generated" in c:
                state["generated"] = dict(c["generated"])
            if "defaults" in c:
                state["defaults"] = dict(c["defaults"])
            if op == "optimize_lease":
                lease = dict(c["lease"])
                lease["version"] = c["version"]
                lease["ts"] = c.get("ts", 0)
                state.setdefault("leases", {})[lease["holder"]] = lease
            if "release_lease" in c:
                state.setdefault("leases", {}).pop(c["release_lease"], None)
            if op == "set_stats":
                state.setdefault("stats", {}).update(c["stats"])
            if "row_tracking" in c:
                rt = state.setdefault(
                    "row_tracking", {"enabled": False, "hwm": -1, "base": {}}
                )
                inc = c["row_tracking"]
                rt["enabled"] = inc.get("enabled", rt["enabled"])
                rt["hwm"] = inc.get("hwm", rt["hwm"])
                # commits carry only THEIR files' bases; the fold merges
                # (stale entries for removed files are inert — readers
                # map active files only)
                rt["base"].update(inc.get("base", {}))
                if inc.get("materialized"):
                    # files whose rows carry a physical _row_id column
                    # (an OPTIMIZE rewrite under row tracking) — no base
                    # entry; readers select the column instead
                    rt["materialized"] = sorted(
                        set(rt.get("materialized", []))
                        | set(inc["materialized"])
                    )
        return state

    def _state(self, version: int | None = None) -> dict:
        """Complete metadata state at ``version`` (default latest):
        checkpoint base + post-checkpoint commits when a state-carrying
        checkpoint is usable, else a full-history fold (also the
        fallback for pre-state checkpoints). This is what makes every
        setting SURVIVE log-retention pruning — without the checkpoint
        base, a pruned creation commit would silently drop bloom/cluster
        settings, renames, and constraints."""
        ck = self._read_checkpoint()
        if (
            ck is not None
            and "state" in ck
            and (version is None or version >= ck["version"])
        ):
            state = {k: v for k, v in ck["state"].items()}
            # deep-ish copy of the mutable members
            state["specs_seen"] = [list(s) for s in state["specs_seen"]]
            state["mapping"] = dict(state["mapping"])
            state["constraints"] = dict(state["constraints"])
            state["generated"] = dict(state.get("generated", {}))
            state["schema"] = dict(state["schema"])
            state["leases"] = {
                k: dict(v) for k, v in state.get("leases", {}).items()
            }
            state["stats"] = {
                k: dict(v) for k, v in state.get("stats", {}).items()
            }
            if "row_tracking" in state:
                state["row_tracking"] = {
                    **state["row_tracking"],
                    "base": dict(state["row_tracking"].get("base", {})),
                    "materialized": list(
                        state["row_tracking"].get("materialized", [])
                    ),
                }
            commits = [
                c for c in self.history() if c["version"] > ck["version"]
            ]
            return self._fold_state(state, commits, version)
        commits = self.history()
        if commits and commits[0]["version"] > 0:
            raise ValueError(
                f"metadata at version {version} predates the log-retention "
                "horizon — the commits were pruned and no covering "
                "checkpoint exists"
            )
        return self._fold_state(self._empty_state(), commits, version)

    def checkpoint(self) -> int:
        """Consolidate the log tip into one snapshot file: the active file
        set, merged schema, AND the full metadata state (partition specs,
        bloom/cluster settings, column mapping, constraints) as of the
        latest version, so readers replay O(commits-since-checkpoint)
        instead of O(all-versions) — and so table state survives a
        log-retention job pruning pre-checkpoint commit JSONs (Delta's
        checkpoints consolidate metadata actions for the same reason).
        Commit JSONs are NOT deleted here; history()/changes()/time
        travel past the horizon degrade explicitly, never silently. The
        ``_last_checkpoint`` marker is the only overwritten file, and a
        torn write degrades to full replay, never to a wrong snapshot."""
        v = self.latest_version()
        body = {
            "version": v,
            "active": self._active_files(v),
            "partition_by": list(self._partition_by()),
            "schema": self.table_schema(),
            # via _state (not a raw fold): a re-checkpoint after earlier
            # pruning must build on the previous checkpoint's base
            "state": self._state(v),
            # the deletion vectors in force: prune_log may drop the
            # delete_dv commits that wrote them
            "dvs": self._active_dvs(v),
        }
        ck = f"{self.root}/{_LOG_DIR}/{v:08d}.checkpoint.json"
        if not _atomic.exists(self.spark, ck):
            try:
                _atomic.write_text(self.spark, ck, json.dumps(body, indent=1), exclusive=True)
            except _atomic.ExclusiveCreateConflict as exc:
                raise CommitConflict(str(exc)) from exc
        _atomic.write_text(
            self.spark, f"{self.root}/{_LOG_DIR}/_last_checkpoint",
            json.dumps({"version": v}), exclusive=False,
        )
        return v

    def _active_files(self, version: int | None = None) -> list[dict]:
        """Replay add/remove actions up to ``version`` (default: latest),
        starting from the newest usable checkpoint when one exists."""
        active: dict[str, dict] = {}
        start_after = -1
        ck = self._read_checkpoint()
        if ck is not None and (version is None or ck["version"] <= version):
            active = {a["path"]: a for a in ck["active"]}
            start_after = ck["version"]
        else:
            commits = self.history()
            if commits and commits[0]["version"] > 0:
                raise ValueError(
                    f"version {version} predates the log-retention horizon "
                    f"(oldest commit {commits[0]['version']}, checkpoint "
                    f"{ck['version'] if ck else 'absent'}) — time travel "
                    "below a pruned log is unavailable"
                )
        for commit in self.history():
            if commit["version"] <= start_after:
                continue
            if version is not None and commit["version"] > version:
                break
            for rel in commit.get("removes", []):
                active.pop(rel, None)
            for add in commit.get("adds", []):
                active[add["path"]] = add
        return list(active.values())

    def _data_path(self, add: dict) -> str:
        """Absolute location of an add-action's file. Cloned tables carry
        a ``base`` pointing at the source table's root (shallow clone =
        zero-copy references); everything else is relative to our root."""
        return f"{add.get('base', self.root)}/{add['path']}"

    def _resolve(self, p: str) -> str:
        """Absolute form of a possibly-relative auxiliary path (DV files)."""
        return p if ("://" in p or p.startswith("/")) else f"{self.root}/{p}"

    def _active_dvs(self, version: int | None = None) -> list[dict]:
        """Deletion vectors in force at ``version``: every ``delete_dv``
        commit whose target data files are still active. A DV dies with
        its files — once optimize/replace/merge rewrites them (reading
        through the mask, so deletions are materialized into the new
        files), the vector is inert and vacuum may reap it. ``restore``
        and ``clone`` commits carry the exact DV set of their target
        state, replacing the replayed list (post-target deletions must
        not leak through a restore). The fold starts from the set a
        checkpoint at or below ``version`` recorded, so it survives
        log-retention pruning of the commits that wrote the vectors."""
        active = {a["path"] for a in self._active_files(version)}
        entries: list[dict] = []
        start_after = -1
        ck = self._read_checkpoint()
        if ck is not None and "dvs" in ck and (
            version is None or ck["version"] <= version
        ):
            entries = list(ck["dvs"])
            start_after = ck["version"]
        for commit in self.history():
            if commit["version"] <= start_after:
                continue
            if version is not None and commit["version"] > version:
                break
            if "dv" in commit:  # delete_dv / update_dv commits
                entries.append(commit["dv"])
            elif commit["op"] in ("restore", "clone"):
                entries = list(commit.get("dvs_active", []))
        return [dv for dv in entries if any(f in active for f in dv["files"])]

    def _apply_dv_mask(self, df: DataFrame, dvs: list[dict]) -> DataFrame:
        """Drop masked rows: anti-join on (file, row-position) using the
        ``_metadata`` columns Spark derives for free at scan time — the
        Spark-native equivalent of a reader-side position bitmap. ``df``
        must be the raw scan (before any transformation detaches
        ``_metadata``)."""
        from pyspark.sql import functions as F

        mask = (
            self.spark.read.parquet(*[self._resolve(dv["path"]) for dv in dvs])
            .select("file_path", "row_index")
            .dropDuplicates()
        )
        if sum(dv.get("rows", 0) for dv in dvs) <= _DV_BROADCAST_ROWS:
            mask = F.broadcast(mask)
        tagged = df.withColumn("__fp", F.col("_metadata.file_path")).withColumn(
            "__ri", F.col("_metadata.row_index")
        )
        return tagged.join(
            mask,
            (tagged["__fp"] == mask["file_path"]) & (tagged["__ri"] == mask["row_index"]),
            "left_anti",
        ).drop("__fp", "__ri")

    # --- column mapping (zero-rewrite renames) -----------------------------

    def column_mapping(self) -> dict[str, str]:
        """logical name → physical (on-disk parquet) name. Data files
        always store physical names; ``rename_column`` only rewires this
        map — no file is touched (Delta's column-mapping design). The map
        is identity until a rename happens. Reads through the checkpoint
        state fold, so renames survive log-retention pruning."""
        return self._state()["mapping"]

    def logical_schema(self) -> dict[str, str]:
        """The schema callers see: logical names over the merged types."""
        phys = self.table_schema()
        return {logical: phys[p] for logical, p in self.column_mapping().items() if p in phys}

    def _to_physical(self, df: DataFrame) -> DataFrame:
        for logical, phys in self.column_mapping().items():
            if logical != phys and logical in df.columns:
                df = df.withColumnRenamed(logical, phys)
        return df

    def _to_logical(self, df: DataFrame) -> DataFrame:
        for logical, phys in self.column_mapping().items():
            if logical != phys and phys in df.columns:
                df = df.withColumnRenamed(phys, logical)
        return df

    def rename_column(self, old: str, new: str) -> int:
        """Rename a column without rewriting a single data file: a
        metadata-only commit updates the logical→physical map. Guards:
        partition source columns and columns referenced by an active
        CHECK constraint cannot be renamed (same restrictions Delta
        documents), and the new name must be free."""
        mapping = self.column_mapping()
        if old not in mapping:
            raise ValueError(f"no such column: {old!r}")
        if new in mapping:
            raise ValueError(f"column {new!r} already exists")
        if old in {src for _, _, src, _ in self._partition_fields()}:
            raise ValueError(f"cannot rename partition source column {old!r}")
        for name, check in self.active_constraints().items():
            if old in check:
                raise ValueError(
                    f"cannot rename {old!r}: referenced by CHECK constraint {name!r}"
                )
        for col, expr in self._state().get("generated", {}).items():
            if old == col or old in expr:
                raise ValueError(
                    f"cannot rename {old!r}: part of generated column "
                    f"{col!r} = ({expr})"
                )
        return self._publish(
            "rename_column", adds=[], removes=[], rename={"old": old, "new": new}
        )

    # --- reads ------------------------------------------------------------

    def snapshot(
        self,
        version: int | None = None,
        where: dict | None = None,
        where_eq: dict | None = None,
    ) -> DataFrame:
        """The table as of ``version`` (default latest). Explicit file list
        + ``basePath`` keeps partition inference while hiding uncommitted,
        removed, and orphan files; ``mergeSchema`` honors additive
        evolution across commits.

        ``where`` enables **stats-based data skipping**: ``{col: (lo, hi)}``
        interval predicates (None = unbounded side) drop every file whose
        logged min/max range cannot overlap — before Spark ever sees it.
        Files without stats for a column are conservatively kept, and the
        residual filter is still applied row-level, so the result equals
        ``snapshot().filter(...)`` exactly; only the I/O shrinks. This is
        file-level pruning on top of the partition pruning the hive layout
        already gives — the min/max skipping table formats are built on.

        ``where_eq`` ({col: value}) adds **dictionary-based equality
        skipping**: point predicates also probe the per-file value
        dictionary (captured at write for low-cardinality columns), which
        prunes exactly where min/max is useless — values interleaving
        across the whole range. Columns opted in via ``bloom_by`` also
        probe a per-file BLOOM filter — the high-cardinality regime the
        64-entry dictionary can't cover (point lookups on ids scattered
        across files). Same exactness contract throughout: residual filter
        applied, only I/O shrinks; bloom false positives cost I/O, never
        correctness."""
        adds = self._active_files(version)
        if not adds:
            # no files (an empty write commits none): the schema still reads
            schema = self._physical_read_schema(version)
            if not schema:
                raise ValueError(
                    f"txlog table at {self.root} has no data at version {version}"
                )
            return self._to_logical(local_frame(self.spark, [], schema))
        # prune against EVERY spec era: each file carries the keys of the
        # spec it was written under (partition evolution)
        fields = self._all_partition_fields()
        mapping = self.column_mapping()
        if where:  # caller filters on logical names; stats/files store physical
            where = {mapping.get(c, c): v for c, v in where.items()}
        probes: dict[str, list[int]] = {}
        if where_eq:
            where_eq = {mapping.get(c, c): v for c, v in where_eq.items()}
            # a point predicate is also a degenerate interval: reuse the
            # min/max and partition pruning before the dictionary probe
            prune = dict(where or {})
            prune.update({c: (v, v) for c, v in where_eq.items()})
            # bloom probe positions: one tiny local job, shared by all files
            probes = self._bloom_probes(where_eq)
        else:
            prune = where
        if prune:
            adds = [
                a
                for a in adds
                if _stats_may_match(a, prune)
                and _partition_may_match(a, prune, fields)
                and (not where_eq or _dict_may_match(a, where_eq))
                and (not probes or _bloom_may_match(a, probes))
            ]
            if not adds:
                return self.snapshot(version).filter("1=0")
        df = self._snapshot_of(adds, version)
        if where:
            for col, (lo, hi) in where.items():
                if lo is not None:
                    df = df.filter(df[col] >= lo)
                if hi is not None:
                    df = df.filter(df[col] <= hi)
        if where_eq:
            for col, v in where_eq.items():
                df = df.filter(df[col] == v)
        return self._to_logical(df)

    def stats_agg(
        self, cols: tuple[str, ...] = (), version: int | None = None
    ) -> dict:
        """METADATA-ONLY aggregates: exact ``count(*)`` plus global
        min/max for ``cols``, answered from the commit log's per-file
        stats (``numRecords`` + min/max bounds) without opening one data
        file — the O(#files) fast path real Delta uses for SELECT
        COUNT(*). At 100 TB this is milliseconds vs a full scan.

        Correctness rules (refuse rather than approximate):
        - every active file must carry ``numRecords`` (tables written
          before stats, or files whose stats pass failed, raise);
        - with live deletion vectors, the count subtracts the EXACT
          masked-row count by reading the DV parquets (metadata-sized,
          distinct (file, row) — overlapping DVs don't double-count),
          but min/max are REFUSED: a masked row may have held the
          extremum, so file bounds are no longer tight.
        Returns {"count": int, "min": {col: v}, "max": {col: v}}.
        """
        adds = self._active_files(version)
        missing = [a["path"] for a in adds if "numRecords" not in a]
        if missing:
            raise ValueError(
                f"metadata-only agg unavailable: {len(missing)} active "
                f"file(s) lack numRecords (e.g. {missing[0]}) — run a "
                "rewrite (optimize) to refresh stats, or scan"
            )
        n = sum(int(a["numRecords"]) for a in adds)
        dvs = self._active_dvs(version)
        if dvs:
            paths = [self._resolve(dv["path"]) for dv in dvs]
            masked = (
                self.spark.read.parquet(*paths)
                .select("file_path", "row_index")
                .distinct()
                .count()
            )
            n -= masked
        out: dict = {"count": n, "min": {}, "max": {}}
        for c in cols:
            if dvs:
                raise ValueError(
                    "metadata-only min/max unavailable under live deletion "
                    "vectors (a masked row may hold the extremum) — "
                    "optimize first or scan"
                )
            per_file = [(a.get("stats") or {}).get(c) for a in adds]
            if any(s is None or s.get("min") is None for s in per_file):
                raise ValueError(
                    f"metadata-only min/max unavailable: no bounds for "
                    f"{c!r} on every active file"
                )
            out["min"][c] = min(s["min"] for s in per_file)
            out["max"][c] = max(s["max"] for s in per_file)
        return out

    def _snapshot_of(self, adds: list[dict], version: int | None = None) -> DataFrame:
        """The masked PHYSICAL frame over an explicit add list: base-grouped
        read (shallow-clone refs keep their own basePath), deletion-vector
        mask, hidden partition columns dropped. Callers that rewrite a file
        subset (merge/delete under partition evolution) read through this
        so masks and layout eras are honored; ``snapshot`` adds pruning,
        residual filters, and the logical rename on top.

        Files group by (base, partition-key set): partition evolution
        leaves files with DIFFERENT hive layouts in one table, and
        Spark's partition inference requires one consistent layout per
        read — each era reads separately and unions by name (an era's
        partition columns are the other era's data columns, so no column
        goes missing)."""
        by_era: dict[tuple, list[dict]] = {}
        for a in adds:
            key = (
                a.get("base", self.root),
                frozenset((a.get("partition") or {}).keys()),
            )
            by_era.setdefault(key, []).append(a)
        frames = []
        for (base, _), group in by_era.items():
            frames.append(
                self._read_group(base, [a["path"] for a in group], version)
            )
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f, allowMissingColumns=True)
        dvs = self._active_dvs(version)
        if dvs:
            df = self._apply_dv_mask(df, dvs)
        hidden = [
            name for kind, _, _, name in self._all_partition_fields() if kind != "identity"
        ]
        hidden = [h for h in hidden if h in df.columns]
        if hidden:
            df = df.drop(*hidden)
        return df

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Change data feed: every row added or removed by the commits in
        ``(from_version, to_version]``, tagged with ``_change_type``
        ('insert' / 'delete') and ``_commit_version`` — the incremental-
        consumer contract (downstream jobs poll ``latest_version()`` and
        read only the delta instead of re-scanning the table).

        File-level capture: append → inserts; overwrite / replace_where →
        deletes of the replaced files' rows plus inserts of the new.
        ``optimize`` commits are data-neutral (same rows, new layout) and
        are skipped entirely. Removed files must still exist — i.e. lie
        inside the vacuum retention horizon."""
        from pyspark.sql import functions as F

        to_version = self.latest_version() if to_version is None else to_version
        # rel path → base root, across the whole log (removes are plain
        # strings; their base is wherever the add that introduced them
        # pointed — our root, or a clone's source root)
        base_of: dict[str, str] = {}
        for commit in self.history():
            for add in commit.get("adds", []):
                base_of[add["path"]] = add.get("base", self.root)

        def read_rels(rels: list[str]) -> DataFrame:
            groups: dict[str, list[str]] = {}
            for p in rels:
                groups.setdefault(base_of.get(p, self.root), []).append(p)
            out = None
            for base, ps in groups.items():
                df = self._read_group(base, ps)
                out = df if out is None else out.unionByName(df, allowMissingColumns=True)
            return out

        frames = []
        for commit in self.history():
            v = commit["version"]
            if v <= from_version or v > to_version or commit["op"] == "optimize":
                continue
            if "dv" in commit:  # delete_dv / update_dv
                # position-level capture: the masked rows of the target
                # files are the deletes; an update_dv commit's adds (the
                # new row images) fall through to the insert branch below
                dv = commit["dv"]
                mask = self.spark.read.parquet(self._resolve(dv["path"])).select(
                    "file_path", "row_index"
                )
                data = (
                    read_rels(dv["files"])
                    .withColumn("__fp", F.col("_metadata.file_path"))
                    .withColumn("__ri", F.col("_metadata.row_index"))
                )
                deleted = data.join(
                    F.broadcast(mask),
                    (data["__fp"] == mask["file_path"]) & (data["__ri"] == mask["row_index"]),
                    "left_semi",
                ).drop("__fp", "__ri")
                frames.append(
                    deleted.withColumn("_change_type", F.lit("delete")).withColumn(
                        "_commit_version", F.lit(v).cast("bigint")
                    )
                )
            for kind, rels in (
                ("insert", [a["path"] for a in commit.get("adds", [])]),
                ("delete", commit.get("removes", [])),
            ):
                if not rels:
                    continue
                frames.append(
                    read_rels(rels)
                    .withColumn("_change_type", F.lit(kind))
                    .withColumn("_commit_version", F.lit(v).cast("bigint"))
                )
        if not frames:
            return self.snapshot().filter("1=0").withColumn(
                "_change_type", F.lit("")
            ).withColumn("_commit_version", F.lit(0).cast("bigint"))
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return self._to_logical(out)

    # --- writes -----------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        df: DataFrame,
        partition_by: tuple[str, ...] = (),
        bloom_by: tuple[str, ...] = (),
        cluster_by: tuple[str, ...] = (),
        cluster_target_files: int = 48,
        cluster_max_rows: int | None = None,
        generated: dict[str, str] | None = None,
        defaults: dict[str, str] | None = None,
    ) -> "TxTable":
        """Create the table with ``df`` as version 0. ``bloom_by`` opts
        columns into per-file bloom filters (high-cardinality equality
        skipping; see _bloom_may_match). ``cluster_by`` turns on the
        stats-clustered sink: every append/overwrite range-shuffles on
        the key and splits files by ``cluster_max_rows``, so logged
        min/max stats carve the key space into disjoint slices (see
        _stage)."""
        table = cls(spark, root)
        if table.history():
            raise ValueError(f"txlog table already exists at {root}")
        cluster = None
        if cluster_by:
            cluster = {"by": list(cluster_by), "files": int(cluster_target_files)}
            if cluster_max_rows:
                cluster["max_rows"] = int(cluster_max_rows)
        # stats attach runs while staging version 0, before any commit
        # exists to read the settings back from — seed them on the instance
        table._pending_bloom = tuple(bloom_by)
        table._pending_cluster = cluster
        gen = dict(generated or {})
        for col, expr in gen.items():
            # GENERATED columns (the Delta-parity contract, see
            # delta_interop.DeltaTable.create): the creation frame omits
            # them; they are computed here, MATERIALIZED into the files,
            # and every later write recomputes or validates them
            if col in df.columns:
                raise ValueError(
                    f"generated column {col!r} must not be in the CREATE "
                    f"frame — it is computed from ({expr})"
                )
            from pyspark.sql import functions as F

            df = df.withColumn(col, F.expr(expr))
        dfl = dict(defaults or {})
        for col, expr in dfl.items():
            # column DEFAULTs (the Delta allowColumnDefaults parity
            # contract): unlike generated columns the column is a real,
            # caller-writable one — the default only fills it when a
            # write OMITS it. Absent from the create frame = computed now.
            if col in gen:
                raise ValueError(
                    f"column {col!r} cannot be both generated and defaulted"
                )
            if col not in df.columns:
                from pyspark.sql import functions as F

                df = df.withColumn(col, F.expr(expr))
        table._commit_write(
            df, op="create", partition_by=partition_by, removes=[],
            bloom_by=list(bloom_by), cluster=cluster,
            **({"generated": gen} if gen else {}),
            **({"defaults": dfl} if dfl else {}),
        )
        return table

    def generated_columns(self) -> dict[str, str]:
        """{column: generation expression} in force (state-folded; survives
        log-retention pruning through the checkpoint, like constraints)."""
        return dict(self._state().get("generated", {}))

    def _apply_generated(self, df: DataFrame) -> DataFrame:
        """Writer-side generated-column contract on EVERY write path
        (single funnel: _commit_write): absent columns are COMPUTED (cast
        to the declared type), present columns are VALIDATED against the
        expression with a short-circuit probe."""
        gen = self._state().get("generated", {})
        if not gen:
            return df
        from pyspark.sql import functions as F

        known = self.table_schema()
        mapping = self.column_mapping()
        for col, expr in gen.items():
            typ = known.get(mapping.get(col, col), "double")
            if col not in df.columns:
                df = df.withColumn(col, F.expr(expr).cast(typ))
            elif (
                df.filter(f"NOT ({col} <=> CAST(({expr}) AS {typ}))")
                .limit(1)
                .count()
            ):
                raise ValueError(
                    f"rows contradict generated column {col!r} = ({expr}) "
                    f"— write refused"
                )
        return df

    def column_defaults(self) -> dict[str, str]:
        """{column: default expression} in force (state-folded; survives
        log-retention pruning through the checkpoint, like generated)."""
        return dict(self._state().get("defaults", {}))

    def set_column_default(self, col: str, expr: str | None) -> int:
        """Metadata-only commit setting (or, with ``expr=None``, dropping)
        a column DEFAULT — the ALTER TABLE ... SET DEFAULT analog.
        Existing rows are untouched; only later writes that omit the
        column see it."""
        cur = dict(self._state().get("defaults", {}))
        if expr is None:
            cur.pop(col, None)
        else:
            cur[col] = expr
        return self._publish("set_default", adds=[], removes=[], defaults=cur)

    def _apply_defaults(self, df: DataFrame) -> DataFrame:
        """INSERT-time DEFAULT contract on every write funnelled through
        _commit_write: a declared column the incoming frame OMITS is
        filled from its expression (cast to the declared type); a present
        column passes through untouched — explicit NULLs stay NULL
        (DEFAULT is not NOT NULL)."""
        dfl = self._state().get("defaults", {})
        if not dfl:
            return df
        from pyspark.sql import functions as F

        known = self.table_schema()
        mapping = self.column_mapping()
        for col, expr in dfl.items():
            if col not in df.columns:
                typ = known.get(mapping.get(col, col), "double")
                df = df.withColumn(col, F.expr(expr).cast(typ))
        return df

    def _partition_by(self) -> tuple[str, ...]:
        """The CURRENT partition spec: the creation spec unless a later
        ``set_partition_spec`` commit evolved it. New writes use this.
        Reads through the checkpoint state fold (survives pruning)."""
        if not self.history():
            raise ValueError(f"no txlog table at {self.root}")
        spec = self._state()["partition_by"]
        return tuple(spec or ())

    def _all_partition_specs(self) -> list[tuple[str, ...]]:
        """Every spec any active-era file may have been written under —
        the creation spec plus each evolution step. Pruning consults all
        of them: a file prunes by whichever spec's keys its hive path
        carries (Iceberg's per-file spec-id, path-encoded)."""
        specs = [tuple(s) for s in self._state()["specs_seen"]]
        return specs or [()]

    def set_partition_spec(self, partition_by: tuple[str, ...]) -> int:
        """Evolve the partition spec (Iceberg partition evolution): a
        metadata-only commit — NO existing file is rewritten. Files
        already on disk keep their old hive layout and still prune under
        the old spec; new writes land under the new spec; merge/delete
        touching old-layout files migrate them as a side effect.
        ``replace_where`` on the new spec refuses while old-layout files
        could hold matching rows (use merge/delete/overwrite, which
        migrate); after full migration it works again."""
        for spec in partition_by:
            _parse_transform(spec)  # validate eagerly
        return self._publish(
            "set_partition_spec", adds=[], removes=[],
            partition_by=list(partition_by),
        )

    def _bloom_by(self) -> tuple[str, ...]:
        """Columns (physical names) carrying per-file bloom filters: the
        creation setting unless a later ``set_bloom_columns`` commit
        changed it. Already-written files keep (or lack) their blooms —
        readers never skip on a missing bloom, so the change is safe
        retroactively; OPTIMIZE rewrites backfill them. Reads through the
        checkpoint state fold (survives log-retention pruning)."""
        if not self.history():
            return tuple(getattr(self, "_pending_bloom", ()))
        return tuple(self._state()["bloom_by"])

    def set_bloom_columns(self, cols: tuple[str, ...]) -> int:
        """Metadata-only commit switching which columns future writes
        bloom-index (Delta's bloom filter index DDL analog)."""
        mapping = self.column_mapping()
        return self._publish(
            "set_bloom_columns", adds=[], removes=[],
            bloom_by=[mapping.get(c, c) for c in cols],
        )

    def _cluster_spec(self) -> dict | None:
        """Write-time stats-clustering setting (physical column names):
        ``{"by": [cols...], "files": N, "max_rows": M?}`` — the creation
        setting unless a later ``set_clustering`` commit changed it.
        Applied by append/overwrite (not partition-scoped rewrites, whose
        batches are too small to range-shuffle profitably). Reads through
        the checkpoint state fold (survives log-retention pruning)."""
        if not self.history():
            return getattr(self, "_pending_cluster", None)
        return self._state()["cluster"]

    def set_clustering(
        self,
        cols: tuple[str, ...],
        target_files: int = 48,
        max_rows_per_file: int | None = None,
    ) -> int:
        """Metadata-only commit switching the write-time clustering key
        (Delta liquid-clustering ``CLUSTER BY`` DDL analog). Empty
        ``cols`` turns clustering off; already-written files keep their
        layout — stats skipping degrades gracefully, never breaks."""
        mapping = self.column_mapping()
        spec = None
        if cols:
            spec = {
                "by": [mapping.get(c, c) for c in cols],
                "files": int(target_files),
            }
            if max_rows_per_file:
                spec["max_rows"] = int(max_rows_per_file)
        return self._publish("set_clustering", adds=[], removes=[], cluster=spec)

    def _bloom_probes(self, where_eq: dict) -> dict[str, list[int]]:
        """Bit positions of each probed value, via the SAME Spark xxhash64
        expression the writer aggregated — a 1-row local job per snapshot
        call, not per file. Values are cast to the column's stored type
        first (xxhash64 is type-sensitive: hashing 5 as INT ≠ as BIGINT)."""
        cols = [c for c in where_eq if c in set(self._bloom_by())]
        if not cols:
            return {}
        schema = self.table_schema()
        row = self.spark.range(1).select(
            *[
                F.array(
                    _fs.bloom_positions(F.lit(where_eq[c]).cast(schema.get(c, "string")))
                ).alias(c)
                for c in cols
            ]
        ).collect()[0]
        return {c: list(row[c]) for c in cols}

    def _partition_fields(self) -> list[tuple[str, int | None, str, str]]:
        """Parsed CURRENT partition spec: (kind, param, source_col,
        stored_name)."""
        out = []
        for spec in self._partition_by():
            kind, param, col = _parse_transform(spec)
            out.append((kind, param, col, _hidden_name(kind, param, col)))
        return out

    def _all_partition_fields(self) -> list[tuple[str, int | None, str, str]]:
        seen = []
        for spec_set in self._all_partition_specs():
            for spec in spec_set:
                kind, param, col = _parse_transform(spec)
                f = (kind, param, col, _hidden_name(kind, param, col))
                if f not in seen:
                    seen.append(f)
        return seen

    def _partition_expr(self, kind: str, param: int | None, col: str, df: DataFrame):
        return _transform_col_for(kind, param, col, df)

    def _stage(
        self,
        df: DataFrame,
        partition_by: tuple[str, ...],
        cluster: dict | None = None,
    ) -> list[dict]:
        """Write ``df`` under _staging/{uuid} and move the parquet files into
        the table root (hive layout preserved). Returns add-actions (files
        without rows are never committed); nothing is visible to snapshot
        readers until the commit publishes.

        ``cluster`` composes the stats-clustered sink: a range shuffle on
        the cluster key (``repartitionByRange`` — disjoint key intervals
        per task) + an in-partition sort + ``maxRecordsPerFile``. Because
        rows leave each task in key order, the record-count file splits
        inherit tight DISJOINT min/max intervals, which is exactly what
        ``_staged_files`` logs and ``snapshot(where=...)`` prunes on —
        write-side skipping to match the read side."""
        stage_id = uuid.uuid4().hex
        stage_dir = f"{self.root}/{_STAGING}/{stage_id}"
        # hidden partitioning: derive transform columns at write time; the
        # caller's frame never carries them (the Iceberg contract)
        part_names = []
        for spec in partition_by:
            kind, param, col = _parse_transform(spec)
            name = _hidden_name(kind, param, col)
            if kind != "identity":
                df = df.withColumn(name, _transform_col_for(kind, param, col, df))
            part_names.append(name)
        if cluster:
            ccols = [c for c in cluster.get("by", ()) if c in df.columns]
            if ccols:
                df = df.repartitionByRange(
                    int(cluster.get("files", 48)), *ccols
                ).sortWithinPartitions(*ccols)
        writer = df.write.mode("overwrite")
        if cluster and cluster.get("max_rows"):
            writer = writer.option("maxRecordsPerFile", int(cluster["max_rows"]))
        if part_names:
            writer = writer.partitionBy(*part_names)
        writer.parquet(stage_dir)
        adds: list[dict] = []
        for f in self._staged_files(stage_dir, part_names, df.schema):
            rel = f["rel"]
            if not _atomic.rename(self.spark, f["path"], f"{self.root}/{rel}"):
                raise IOError(
                    f"failed to move staged file {f['path']} -> {self.root}/{rel}"
                )
            adds.append(
                {
                    "path": rel,
                    "partition": f["partition"],
                    "size": f["size"],
                    **f["encoded"],
                }
            )
        _atomic.delete(self.spark, stage_dir, recursive=True)
        return adds

    def _staged_files(self, stage_dir: str, part_names, schema) -> list[dict]:
        """``footer_stats.staged_files`` over ``stage_dir`` in txlog's
        encoding: each file also carries ``encoded`` — ``numRecords``,
        ``stats`` ({col: {min, max}} for columns with a bound), ``dict``
        (≤64 sorted values) and ``bloom`` (hex bit maps), each key only
        when it has content. The stats columns are ``schema``'s (the
        written frame's) primitives outside ``part_names``; dictionaries
        cover the equality-skippable types. Feeds snapshot(where=...)
        data skipping."""
        dict_types = {"string", "integer", "long", "short", "byte", "boolean"}
        cols, dict_cols = [], []
        for f in schema.fields:
            tn = f.dataType.typeName()
            if f.name in part_names or tn not in _fs._STATS_TYPES:
                continue
            cols.append(f.name)
            if tn in dict_types:
                dict_cols.append(f.name)
        bloom_cols = [c for c in self._bloom_by() if c in cols]
        files = _fs.staged_files(self.spark, stage_dir, cols, dict_cols, bloom_cols)
        for f in files:
            enc: dict = {"numRecords": f["nrec"]}
            stats = {}
            for c in cols:
                mn = _stats_value(f["min"].get(c))
                mx = _stats_value(f["max"].get(c))
                if mn is not None or mx is not None:
                    stats[c] = {"min": mn, "max": mx}
            if stats:
                enc["stats"] = stats
            dicts = {
                c: [_stats_value(v) for v in f["dict"][c]]
                for c in dict_cols
                if f["dict"].get(c)
            }
            if dicts:
                enc["dict"] = dicts
            if f["bloom"]:
                enc["bloom"] = f["bloom"]
            f["encoded"] = enc
        return files

    def _publish(
        self, op: str, adds: list[dict], removes: list[str], precondition=None,
        extra_fn=None, **extra
    ) -> int | None:
        """Retry loop around the exclusive-create commit. ``precondition``
        (if given) is re-evaluated against the log tip on every attempt —
        returning False abandons the commit (returns None); this is how a
        replayed idempotent append stays a no-op even when it loses a
        version race to the original. ``extra_fn(version)`` (if given)
        computes per-attempt commit keys against the state at
        ``version - 1`` — the row-tracking allocator's seam: the
        high-water mark and the target version come from the same fold,
        so a racer landing on the version forces a conflict and a
        re-allocation, never a silent id collision."""
        _ROW_SAFE_OPS = ("append", "create", "enable_row_tracking", "delete_dv")
        # a rewrite that MATERIALIZES ids into its output files (the
        # optimize path) declares so in its row_tracking payload and
        # is id-preserving by construction
        guard_rewrites = (
            op not in _ROW_SAFE_OPS
            and (adds or removes)
            and not (extra.get("row_tracking") or {}).get("materialized")
        )
        while True:
            if precondition is not None and not precondition():
                return None
            version = self.latest_version() + 1
            if guard_rewrites:
                # re-evaluated PER ATTEMPT against the attempt's own base
                # version: a concurrent enable_row_tracking that wins the
                # version race must fail the retried rewrite too, or it
                # would land id-moving file changes on a now-tracked table
                rt = self._state(version - 1).get("row_tracking") or {}
                if rt.get("enabled"):
                    raise ValueError(
                        f"{op} on a row-tracked table would move or "
                        "reassign row ids — this writer only allocates on "
                        "append and masks via delete_where_dv; disable row "
                        "tracking to rewrite"
                    )
            commit = {
                "version": version,
                "op": op,
                "ts": time.time(),
                "adds": adds,
                "removes": removes,
                **extra,
                **(extra_fn(version) if extra_fn is not None else {}),
            }
            try:
                _atomic.write_text(
                    self.spark, f"{self.root}/{_LOG_DIR}/{version:08d}.json",
                    json.dumps(commit, indent=1), exclusive=True,
                )
                if version > 0 and version % 10 == 0:
                    try:  # best-effort: a failed checkpoint costs replay, not data
                        self.checkpoint()
                    except Exception:
                        pass
                return version
            except _atomic.ExclusiveCreateConflict:
                # lost the race: recompute against the new log tip. Appends
                # commute; precondition-guarded commits (idempotent append,
                # optimize) keep their planned removes — the precondition
                # decides whether they are still valid; overwrite/replace
                # recompute their removes.
                if op == "append" or precondition is not None:
                    continue
                removes = self._recompute_removes(op, extra)

    def _recompute_removes(self, op: str, extra: dict) -> list[str]:
        if op in ("create", "overwrite"):
            return [a["path"] for a in self._active_files()]
        if op == "replace_where":
            values = {k: set(v) for k, v in extra["predicate"].items()}
            out = [
                a["path"]
                for a in self._active_files()
                if all(a["partition"].get(k) in v for k, v in values.items())
            ]
            if extra.get("include_stale"):  # evolution migration commit
                out.extend(a["path"] for a in self._stale_spec_files())
            return sorted(set(out))
        return []

    def _commit_write(
        self,
        df: DataFrame,
        op: str,
        partition_by: tuple[str, ...],
        removes: list[str],
        apply_cluster: bool = False,
        **extra,
    ) -> int:
        # with_txn-armed idempotence metadata rides whichever write path
        # the operation takes (append/overwrite/replace_where/merge)
        extra = {**self.__dict__.pop("_txn_extra_pending", {}), **extra}
        if op != "create":
            df = self._apply_defaults(df)
            df = self._apply_generated(df)
            self._validate_write(df)
            df = self._to_physical(df)  # files always store physical names
        cluster = (
            self._cluster_spec() if (apply_cluster or op == "create") else None
        )
        adds = self._stage(df, partition_by, cluster=cluster)
        schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        # UNCONDITIONAL for appends: enablement is re-derived per publish
        # attempt from _state(version - 1), so an enable_row_tracking that
        # wins a version race against this append still gets its files
        # allocated on the retry (a once-before-the-loop check would
        # commit them baseless, permanently breaking snapshot_with_row_ids)
        extra_fn = None
        if op == "append":
            extra_fn = lambda version: self._allocate_row_ids(adds, version)
        return self._publish(
            op, adds, removes, partition_by=list(partition_by), schema=schema,
            extra_fn=extra_fn, **extra
        )

    def _allocate_row_ids(self, adds: list[dict], version: int) -> dict:
        """Per-attempt row-id allocation for an append landing at
        ``version``: bases start above the high-water mark folded at
        ``version - 1`` (path order), and the commit carries only its
        own files' bases plus the advanced mark. No-op ({}) when row
        tracking is off at ``version - 1`` — enablement is decided HERE,
        per attempt, never once before the retry loop."""
        rt = self._state(version - 1).get("row_tracking") or {}
        if not rt.get("enabled"):
            return {}
        hwm = int(rt.get("hwm", -1))
        base: dict[str, int] = {}
        for a in sorted(adds, key=lambda a: a["path"]):
            n = a.get("numRecords")
            if n is None:
                raise ValueError(
                    f"row-tracked append needs numRecords stats on "
                    f"{a['path']}"
                )
            base[a["path"]] = hwm + 1
            hwm += int(n)
        return {"row_tracking": {"enabled": True, "hwm": hwm, "base": base}}

    # --- schema enforcement & constraints ---------------------------------

    def table_schema(self, version: int | None = None) -> dict[str, str]:
        """Physical schema as of ``version`` (default: latest): the union
        of every commit's column→type map, with a MAX-WIDTH fold inside
        each widening family — a ``widen_column`` commit pins the wide
        type, and later narrow-typed batches (legal writes) can never
        narrow it back. Non-family type changes keep last-write-wins
        (the legacy additive behavior). Reads through the checkpoint
        state fold for the latest version (survives pruning); explicit
        time travel below the checkpoint folds the full history."""
        return self._state(version)["schema"]

    def widen_column(self, column: str, to_type: str) -> int:
        """Widen a column's declared type (int family upward, or
        float→double) WITHOUT rewriting any file — Delta's type-widening
        feature. Existing files keep the narrow physical type; every
        read declares the wide schema and Spark's parquet readers
        promote the pages natively. Narrow-typed batches remain legal
        writes after widening (they store narrow, read wide)."""
        mapping = self.column_mapping()
        phys = mapping.get(column, column)
        cur = self.table_schema().get(phys)
        if cur is None:
            raise ValueError(f"widen_column: unknown column {column!r}")
        if cur == to_type:
            raise ValueError(f"widen_column: {column!r} is already {to_type}")
        if not _widens_to(cur, to_type):
            raise ValueError(
                f"widen_column: {cur} → {to_type} is not a supported "
                f"widening (families: {_WIDEN_FAMILIES}; decimals widen "
                f"to p+k1,s+k2 with k1 ≥ k2 ≥ 0, p ≤ 38)"
            )
        return self._publish(
            "widen_column", adds=[], removes=[],
            widen={"col": phys, "from": cur, "to": to_type},
        )

    def _physical_read_schema(self, version: int | None = None) -> str:
        """Explicit schema for parquet reads: every physical column at
        its WIDENED type. Declaring it (instead of mergeSchema) is what
        lets narrow old files and wide new files coexist in one scan —
        parquet merge would refuse int vs bigint."""
        return ", ".join(
            f"`{c}` {t}" for c, t in self.table_schema(version).items()
        )

    def _read_group(
        self, base: str, rel_paths: list[str], version: int | None = None
    ) -> DataFrame:
        return (
            self.spark.read.option("basePath", base)
            .schema(self._physical_read_schema(version))
            .parquet(*[f"{base}/{p}" for p in rel_paths])
        )

    def active_constraints(self) -> dict[str, str]:
        """CHECK constraints in force: replay of add/drop commits through
        the checkpoint state fold (survives log-retention pruning)."""
        return self._state()["constraints"]

    def _validate_write(self, df: DataFrame) -> None:
        """Write-time enforcement, BEFORE any data lands: incoming columns
        that exist must keep their type (new columns = allowed additive
        evolution); every active CHECK constraint must hold on the batch.
        Catching this at the writer is the point of a table format —
        plain-directory writes surface type conflicts as read-time
        mergeSchema failures long after the bad data is in."""
        from pyspark.sql import functions as F

        known = self.table_schema()  # physical names
        mapping = self.column_mapping()
        for f in df.schema.fields:  # incoming frames use logical names
            want = known.get(mapping.get(f.name, f.name))
            have = f.dataType.simpleString()
            # a narrower member of the same widening family is a legal
            # write after widen_column: it stores narrow, reads wide
            if want is not None and want != have and not _widens_to(have, want):
                raise ValueError(
                    f"schema enforcement: column {f.name!r} is {want} in the "
                    f"table but {have} in the incoming batch"
                )
        cons = self.active_constraints()
        if cons:
            # SQL CHECK semantics: only a FALSE predicate violates (NULL passes)
            checks = df.agg(
                *[
                    F.count(F.when(F.expr(check) == F.lit(False), 1)).alias(name)
                    for name, check in cons.items()
                ]
            ).first()
            for name, check in cons.items():
                if checks[name]:
                    raise ValueError(
                        f"CHECK constraint {name!r} ({check}) violated by "
                        f"{checks[name]} incoming row(s)"
                    )

    def add_constraint(self, name: str, check: str) -> int:
        """Install a CHECK constraint (SQL predicate). Existing data is
        validated first — a constraint the table already violates is
        rejected, as Delta documents for ADD CONSTRAINT."""
        from pyspark.sql import functions as F

        bad = (
            self.snapshot()
            .filter(F.expr(check) == F.lit(False))
            .limit(1)
            .count()
        )
        if bad:
            raise ValueError(f"existing rows violate CHECK {name!r} ({check})")
        return self._publish(
            "add_constraint", adds=[], removes=[],
            constraint={"name": name, "check": check},
        )

    def drop_constraint(self, name: str) -> int:
        return self._publish(
            "drop_constraint", adds=[], removes=[], constraint={"name": name}
        )

    def append(self, df: DataFrame) -> int:
        """Add rows; existing files untouched. Additive schema changes OK."""
        return self._commit_write(
            df, "append", self._partition_by(), removes=[], apply_cluster=True
        )

    def append_once(self, df: DataFrame, app_id: str, batch_id: int) -> int | None:
        """Idempotent append: the commit records ``(app_id, batch_id)``, and
        a replay whose batch id the log has already seen is a no-op — the
        txn mechanism Delta documents as ``txnAppId``/``txnVersion``, and
        what makes an at-least-once foreachBatch sink exactly-once.
        Returns the committed version, or None if skipped as a replay."""
        def unseen() -> bool:
            return not self._txn_seen(app_id, batch_id)

        if not unseen():
            return None
        adds = self._stage(df, self._partition_by(), cluster=self._cluster_spec())
        return self._publish(
            "append", adds, removes=[],
            precondition=unseen,
            partition_by=list(self._partition_by()),
            txn={"app": app_id, "batch": batch_id},
        )

    def overwrite(self, df: DataFrame) -> int:
        """Replace the whole table in one atomic commit."""
        removes = [a["path"] for a in self._active_files()]
        return self._commit_write(
            df, "overwrite", self._partition_by(), removes=removes,
            apply_cluster=True,
        )

    def with_txn(self, app_id: str, batch_id: int) -> "TxTable":
        """Arm the NEXT write on this instance with idempotence metadata
        (Delta's txnAppId/txnVersion): the commit records (app, batch)
        and re-checks it as a publish precondition, so a replayed batch
        that already committed is a no-op. Used by the streaming sinks;
        cleared after the next _commit_write."""

        def unseen() -> bool:
            return not self._txn_seen(app_id, batch_id)

        self._txn_extra_pending = {
            "txn": {"app": app_id, "batch": batch_id},
            "precondition": unseen,
        }
        return self

    def _txn_seen(self, app_id: str, batch_id: int) -> bool:
        return any(
            c.get("txn", {}).get("app") == app_id
            and c.get("txn", {}).get("batch") >= batch_id
            for c in self.history()
            if c.get("txn")
        )

    def replace_where(self, df: DataFrame, partition_values: dict) -> int:
        """Atomic partition-scoped overwrite (Delta ``replaceWhere``):
        replace exactly the partitions matching ``partition_values``
        ({col: iterable-of-values}, hive string form). Rows in ``df``
        outside those partitions are rejected — the guard that keeps the
        remove-set honest."""
        from pyspark.sql import functions as F

        pcols = self._partition_by()
        if not partition_values:
            raise ValueError("replace_where needs at least one partition predicate; use overwrite()")
        by_name = {name: (kind, param, src) for kind, param, src, name in self._partition_fields()}
        for col in partition_values:
            if col not in by_name:
                raise ValueError(f"{col} is not a partition column of {pcols}")
        values = {k: {str(x) for x in v} for k, v in partition_values.items()}
        cond = None
        for col, vals in values.items():
            kind, param, src = by_name[col]
            expr = F.col(src) if kind == "identity" else _transform_col_for(kind, param, src, df)
            c = expr.cast("string").isin(*vals)
            cond = c if cond is None else cond & c
        n_outside = df.filter(~cond).limit(1).count() if cond is not None else 0
        if n_outside:
            raise ValueError("replace_where data contains rows outside the target partitions")
        if self._stale_spec_files():
            raise ValueError(
                "partition spec evolved and old-layout files remain; "
                "replace_where cannot bound its remove set — use "
                "merge_upsert/delete_where/overwrite (they migrate old files)"
            )
        removes = [
            a["path"]
            for a in self._active_files()
            if all(a["partition"].get(k) in v for k, v in values.items())
        ]
        return self._commit_write(
            df, "replace_where", pcols, removes=removes,
            predicate={k: sorted(v) for k, v in values.items()},
        )

    def _stale_spec_files(self) -> list[dict]:
        """Active files written under a PREVIOUS partition spec (their
        hive path lacks at least one current-spec key). Empty unless
        ``set_partition_spec`` evolved the layout."""
        names = {name for _, _, _, name in self._partition_fields()}
        return [
            a
            for a in self._active_files()
            if any(n not in (a.get("partition") or {}) for n in names)
        ]

    def merge_upsert(self, updates: DataFrame, keys: list[str], max_partitions: int = 10_000) -> int:
        """Partition-scoped MERGE: only partitions containing updated keys
        are rewritten; every other partition's files are untouched (their
        add-actions survive the commit byte-identical). The touched
        partition list is collected driver-side — bounded and guarded,
        like every table format's merge planning."""
        from pyspark.sql import functions as F

        # generated AND defaulted columns land on the UPDATES side before
        # any union — after unionByName(allowMissingColumns) the column
        # exists (NULL-filled on the updates rows) so _commit_write's
        # _apply_defaults would skip it, landing NULL where Delta's
        # merge_upsert lands the default
        updates = self._apply_defaults(self._apply_generated(updates))
        fields = self._partition_fields()
        if not fields:
            merged = updates.unionByName(
                self.snapshot().join(updates.select(*keys), keys, "left_anti"),
                allowMissingColumns=True,
            )
            return self.overwrite(merged)

        def part_expr(kind, param, src):
            e = F.col(src) if kind == "identity" else _transform_col_for(kind, param, src, updates)
            return e.cast("string")

        touched_rows = (
            updates.select(
                *[part_expr(k, p, s).alias(n) for k, p, s, n in fields]
            )
            .distinct()
            .limit(max_partitions + 1)
            .collect()
        )
        if len(touched_rows) > max_partitions:
            raise ValueError(
                f"merge touches more than {max_partitions} partitions; "
                "raise max_partitions or fall back to overwrite()"
            )
        values = {n: {str(r[n]) for r in touched_rows} for _, _, _, n in fields}
        scoped = None
        for kind, param, src, name in fields:
            c = part_expr(kind, param, src).isin(*values[name])
            scoped = c if scoped is None else scoped & c
        stale = self._stale_spec_files()
        if not stale:
            current = self.snapshot()
            merged = updates.unionByName(
                current.filter(scoped).join(updates.select(*keys), keys, "left_anti"),
                allowMissingColumns=True,
            )
            return self.replace_where(merged, values)
        # partition evolution migration path: old-layout files may hold
        # matching rows anywhere, so they join the rewrite wholesale and
        # land under the CURRENT spec (each merge shrinks the stale set;
        # replace_where unlocks at zero). Because every doomed row is
        # rewritten anyway, the key anti-join applies to ALL of them —
        # which also upserts keys whose partition value changed, a case
        # the partition-pruned fast path cannot see by design
        names = {n for _, _, _, n in fields}
        doomed = stale + [
            a
            for a in self._active_files()
            if all(n in (a.get("partition") or {}) for n in names)
            and all(a["partition"].get(k) in v for k, v in values.items())
        ]
        scoped_df = self._to_logical(self._snapshot_of(doomed))
        merged = updates.unionByName(
            scoped_df.join(updates.select(*keys), keys, "left_anti"),
            allowMissingColumns=True,
        )
        return self._commit_write(
            merged, "replace_where", self._partition_by(),
            removes=sorted(a["path"] for a in doomed),
            predicate={k: sorted(v) for k, v in values.items()},
            include_stale=True,
        )

    def apply_changes(
        self,
        changes: DataFrame,
        keys: list[str],
        delete_col: str = "_deleted",
        max_partitions: int = 10_000,
    ) -> int:
        """Full CDC apply in ONE atomic commit (the MERGE form with a
        WHEN MATCHED … THEN DELETE clause): rows with ``delete_col``
        true remove their key, every other row upserts. All change rows
        — deletes included — must carry the partition columns, which is
        what scopes the rewrite to touched partitions only (a CDC feed
        that can't name the partition can't be partition-pruned by any
        format). Composing merge + delete as two commits would expose an
        intermediate state; this is one replace_where.

        100 TB: identical cost shape to merge_upsert — only partitions
        containing changed keys rewrite."""
        from pyspark.sql import functions as F

        is_del = F.coalesce(F.col(delete_col).cast("boolean"), F.lit(False))
        # upsert rows get generated and defaulted columns BEFORE the union
        # (see merge_upsert); delete rows only contribute keys
        ups = self._apply_defaults(
            self._apply_generated(changes.filter(~is_del).drop(delete_col))
        )
        all_keys = changes.select(*keys)
        fields = self._partition_fields()
        if not fields:
            merged = ups.unionByName(
                self.snapshot().join(all_keys, keys, "left_anti"),
                allowMissingColumns=True,
            )
            return self.overwrite(merged)

        def part_expr(kind, param, src):
            e = F.col(src) if kind == "identity" else _transform_col_for(kind, param, src, changes)
            return e.cast("string")

        touched_rows = (
            changes.select(
                *[part_expr(k, p, s).alias(n) for k, p, s, n in fields]
            )
            .distinct()
            .limit(max_partitions + 1)
            .collect()
        )
        if len(touched_rows) > max_partitions:
            raise ValueError(
                f"apply_changes touches more than {max_partitions} "
                "partitions; raise max_partitions or fall back to overwrite()"
            )
        values = {n: {str(r[n]) for r in touched_rows} for _, _, _, n in fields}
        scoped = None
        for kind, param, src, name in fields:
            c = part_expr(kind, param, src).isin(*values[name])
            scoped = c if scoped is None else scoped & c
        if self._stale_spec_files():
            # mirror merge_upsert's migration path: old-layout files join
            # the rewrite wholesale under the current spec
            names = {n for _, _, _, n in fields}
            doomed = self._stale_spec_files() + [
                a
                for a in self._active_files()
                if all(n in (a.get("partition") or {}) for n in names)
                and all(a["partition"].get(k) in v for k, v in values.items())
            ]
            scoped_df = self._to_logical(self._snapshot_of(doomed))
            merged = ups.unionByName(
                scoped_df.join(all_keys, keys, "left_anti"),
                allowMissingColumns=True,
            )
            return self._commit_write(
                merged, "replace_where", self._partition_by(),
                removes=sorted(a["path"] for a in doomed),
                predicate={k: sorted(v) for k, v in values.items()},
                include_stale=True,
            )
        merged = ups.unionByName(
            self.snapshot().filter(scoped).join(all_keys, keys, "left_anti"),
            allowMissingColumns=True,
        )
        return self.replace_where(merged, values)

    def delete_where(self, condition: str, max_partitions: int = 10_000) -> int | None:
        """Row-level DELETE, partition-scoped: only partitions that
        actually contain matching rows are rewritten (without their
        matches); every other partition's files survive untouched. Returns
        the commit version, or None when nothing matched. Unpartitioned
        tables fall back to a full rewrite — the honest cost without
        deletion vectors, which are the round-3 extension."""
        from pyspark.sql import functions as F

        snap = self.snapshot()
        fields = self._partition_fields()
        if not fields:
            if snap.filter(condition).limit(1).count() == 0:
                return None
            # SQL DELETE: only a TRUE predicate deletes; NULL rows survive
            return self.overwrite(snap.filter(~F.coalesce(F.expr(condition), F.lit(False))))

        def part_expr(kind, param, src):
            e = F.col(src) if kind == "identity" else _transform_col_for(kind, param, src, snap)
            return e.cast("string")

        touched_rows = (
            snap.filter(condition)
            .select(*[part_expr(k, p, s).alias(n) for k, p, s, n in fields])
            .distinct()
            .limit(max_partitions + 1)
            .collect()
        )
        if not touched_rows:
            return None
        if len(touched_rows) > max_partitions:
            raise ValueError(
                f"delete touches more than {max_partitions} partitions; "
                "raise max_partitions or use overwrite()"
            )
        values = {n: {str(r[n]) for r in touched_rows} for _, _, _, n in fields}
        scoped = None
        for kind, param, src, name in fields:
            c = part_expr(kind, param, src).isin(*values[name])
            scoped = c if scoped is None else scoped & c
        stale = self._stale_spec_files()
        if not stale:
            survivors = snap.filter(scoped).filter(
                ~F.coalesce(F.expr(condition), F.lit(False))
            )
            return self.replace_where(survivors, values)
        # evolution migration: old-layout files can't be partition-bounded,
        # so they are rewritten wholesale (minus deleted rows) under the
        # current spec alongside the matched partitions
        names = {n for _, _, _, n in fields}
        doomed = stale + [
            a
            for a in self._active_files()
            if all(n in (a.get("partition") or {}) for n in names)
            and all(a["partition"].get(k) in v for k, v in values.items())
        ]
        survivors = (
            self._to_logical(self._snapshot_of(doomed))
            .filter(~F.coalesce(F.expr(condition), F.lit(False)))
        )
        return self._commit_write(
            survivors, "replace_where", self._partition_by(),
            removes=sorted(a["path"] for a in doomed),
            predicate={k: sorted(v) for k, v in values.items()},
            include_stale=True,
        )

    def update_where(
        self,
        condition: str,
        set_exprs: dict[str, str],
        max_partitions: int = 10_000,
    ) -> int | None:
        """Row-level ``UPDATE ... SET``, copy-on-write and partition-scoped:
        only partitions containing matching rows are rewritten (with the
        assignments applied); every other partition's files survive
        untouched. SQL semantics throughout: only rows where ``condition``
        is TRUE update (NULL keeps the row as-is), every right-hand side is
        evaluated against the PRE-update row (``SET a=b, b=a`` swaps), and
        each assignment is cast back to the column's existing type so the
        table schema is stable. Returns the commit version, or None when
        nothing matched.

        Updates that target a partition source column can move rows across
        partitions, so the remove-set cannot be bounded — those (and
        unpartitioned tables) fall back to a full atomic overwrite, the
        honest cost. At 100 TB the scoped path is the one that matters:
        a 0.1%-of-rows update confined to k partitions rewrites k
        partitions, not the table."""
        from pyspark.sql import functions as F

        snap = self.snapshot()
        unknown = sorted(set(set_exprs) - set(snap.columns))
        if unknown:
            raise ValueError(f"UPDATE SET targets unknown columns: {unknown}")
        gen = self._state().get("generated", {})
        direct = sorted(set(set_exprs) & set(gen))
        if direct:
            raise ValueError(
                f"cannot UPDATE generated columns directly: {direct} — "
                f"update their source columns instead"
            )
        cond = F.coalesce(F.expr(condition), F.lit(False))

        def rewrite(df: DataFrame) -> DataFrame:
            dtypes = dict(df.dtypes)
            cols = []
            for c in df.columns:
                if c in set_exprs:
                    cols.append(
                        F.when(cond, F.expr(set_exprs[c]).cast(dtypes[c]))
                        .otherwise(F.col(c))
                        .alias(c)
                    )
                else:
                    cols.append(F.col(c))
            out = df.select(*cols)
            # a SET on a source column stales derived values: drop every
            # generated column so the commit funnel recomputes them fresh
            # (always correct; costs only the rewritten partitions)
            return out.drop(*gen.keys()) if gen else out

        fields = self._partition_fields()
        part_srcs = {src for _, _, src, _ in fields}
        if not fields or part_srcs & set(set_exprs):
            if snap.filter(cond).limit(1).count() == 0:
                return None
            return self.overwrite(rewrite(snap))

        def part_expr(kind, param, src):
            e = F.col(src) if kind == "identity" else _transform_col_for(kind, param, src, snap)
            return e.cast("string")

        touched_rows = (
            snap.filter(cond)
            .select(*[part_expr(k, p, s).alias(n) for k, p, s, n in fields])
            .distinct()
            .limit(max_partitions + 1)
            .collect()
        )
        if not touched_rows:
            return None
        if len(touched_rows) > max_partitions:
            raise ValueError(
                f"update touches more than {max_partitions} partitions; "
                "raise max_partitions or use overwrite()"
            )
        values = {n: {str(r[n]) for r in touched_rows} for _, _, _, n in fields}
        scoped = None
        for kind, param, src, name in fields:
            c = part_expr(kind, param, src).isin(*values[name])
            scoped = c if scoped is None else scoped & c
        stale = self._stale_spec_files()
        if not stale:
            return self.replace_where(rewrite(snap.filter(scoped)), values)
        # evolution migration: old-layout files can't be partition-bounded,
        # so they are rewritten wholesale (with assignments applied) under
        # the current spec alongside the matched partitions
        names = {n for _, _, _, n in fields}
        doomed = stale + [
            a
            for a in self._active_files()
            if all(n in (a.get("partition") or {}) for n in names)
            and all(a["partition"].get(k) in v for k, v in values.items())
        ]
        updated = rewrite(self._to_logical(self._snapshot_of(doomed)))
        return self._commit_write(
            updated, "replace_where", self._partition_by(),
            removes=sorted(a["path"] for a in doomed),
            predicate={k: sorted(v) for k, v in values.items()},
            include_stale=True,
        )

    def delete_where_dv(self, condition: str) -> int | None:
        """Row-level DELETE via a deletion vector: NO data file is touched.
        The matching rows' (file, row-position) pairs are written as one
        small parquet under ``_dv/`` and the commit records which data
        files it masks; every snapshot/changes/rewrite reader applies the
        mask. Cost is O(deleted rows), not O(partition) — the right tool
        when deletes are sparse (GDPR row erasure on a 100 TB table);
        ``delete_where`` (partition rewrite) stays the right tool when
        deletes are dense, and ``optimize`` materializes pending vectors
        into clean files either way.

        Returns the commit version, None when nothing matched (or when a
        concurrent rewrite of a masked file invalidated the positions —
        the caller may re-issue against the new snapshot)."""
        from pyspark.sql import functions as F

        logical = self._masked_tagged_logical()
        hits = logical.filter(condition).select(
            F.col("__fp").alias("file_path"), F.col("__ri").alias("row_index")
        )
        staged = self._stage_dv(hits)
        if staged is None:
            return None
        dv_rel, touched_rel, n = staged

        def positions_still_valid() -> bool:
            current = {a["path"] for a in self._active_files()}
            return all(p in current for p in touched_rel)

        return self._publish(
            "delete_dv", adds=[], removes=[],
            precondition=positions_still_valid,
            dv={"path": dv_rel, "files": touched_rel, "rows": n},
        )

    def _masked_tagged_logical(self) -> DataFrame:
        """The current table with ``__fp``/``__ri`` file-position columns
        attached and every active deletion vector already applied — the
        frame DV writers (delete_where_dv / update_where_dv) compute their
        position hits from (already-masked rows must not re-match)."""
        from pyspark.sql import functions as F

        adds = self._active_files()
        if not adds:
            raise ValueError(f"txlog table at {self.root} has no data")
        groups: dict[str, list[dict]] = {}
        for a in adds:
            groups.setdefault(a.get("base", self.root), []).append(a)
        raw = None
        for base, group in groups.items():
            df = self._read_group(base, [a["path"] for a in group])
            raw = df if raw is None else raw.unionByName(df, allowMissingColumns=True)
        tagged = raw.withColumn("__fp", F.col("_metadata.file_path")).withColumn(
            "__ri", F.col("_metadata.row_index")
        )
        dvs = self._active_dvs()
        if dvs:
            mask = (
                self.spark.read.parquet(*[self._resolve(dv["path"]) for dv in dvs])
                .select("file_path", "row_index")
                .dropDuplicates()
            )
            tagged = tagged.join(
                F.broadcast(mask),
                (tagged["__fp"] == mask["file_path"])
                & (tagged["__ri"] == mask["row_index"]),
                "left_anti",
            )
        return self._to_logical(tagged)

    def _stage_dv(self, hits: DataFrame) -> tuple[str, list[str], int] | None:
        """Write ``hits`` (file_path, row_index) as one parquet under
        ``_dv/`` via the staging dir. Returns (dv_rel, touched_rel_files,
        n_rows), or None when there are no hits (staging cleaned up)."""
        stage_id = uuid.uuid4().hex
        stage_dir = f"{self.root}/{_STAGING}/{stage_id}"
        hits.coalesce(1).write.mode("overwrite").parquet(stage_dir)
        staged = self.spark.read.parquet(stage_dir)
        n = staged.count()
        if n == 0:
            _atomic.delete(self.spark, stage_dir, recursive=True)
            return None
        touched_abs = [r.file_path for r in staged.select("file_path").distinct().collect()]

        # map by FULL path, never basename — partitioned writes reuse part
        # file basenames across partition dirs, and a basename map would
        # mark the wrong sibling as touched. The hit paths come from
        # _metadata.file_path (a percent-encoded URI) while _data_path
        # yields raw filesystem paths: decode the URI side only, or
        # space-valued partitions KeyError here.
        by_abs = {
            _atomic.strip_file_scheme(self._data_path(a)): a["path"]
            for a in self._active_files()
        }
        touched_rel = sorted(
            by_abs[_atomic.uri_to_path(p)] for p in touched_abs
        )
        dv_rel = f"{_DV_DIR}/{stage_id}.parquet"
        parts = _atomic.list_files(self.spark, stage_dir, ".parquet")
        if not parts:
            raise IOError("deletion vector staging produced no parquet file")
        if not _atomic.rename(self.spark, parts[0][0], f"{self.root}/{dv_rel}"):
            raise IOError(f"failed to move deletion vector to {self.root}/{dv_rel}")
        _atomic.delete(self.spark, stage_dir, recursive=True)
        return dv_rel, touched_rel, n

    def update_where_dv(self, condition: str, set_exprs: dict[str, str]) -> int | None:
        """Sparse ``UPDATE ... SET`` via deletion vector + append
        (merge-on-read): the matched rows are masked out of their files by
        a position vector and their updated images are appended as new
        files — ONE atomic commit carrying both, so readers see either the
        old rows or the new, never neither. Cost is O(changed rows), not
        O(partition): the update path a 100 TB table wants when the delta
        is sparse; ``update_where`` (copy-on-write) stays the right tool
        when it is dense, and ``optimize`` folds mask + images into clean
        files either way. Unlike the copy-on-write path, assignments to
        partition source columns need no full rewrite — the new images
        simply land in their new partitions.

        Same SQL semantics as ``update_where`` (TRUE-only matching,
        right-hand sides against the pre-update row, casts back to the
        column's type). Returns the commit version, or None when nothing
        matched / a concurrent rewrite invalidated the positions."""
        from pyspark.sql import functions as F

        logical = self._masked_tagged_logical()
        data_cols = [c for c in logical.columns if c not in ("__fp", "__ri")]
        unknown = sorted(set(set_exprs) - set(data_cols))
        if unknown:
            raise ValueError(f"UPDATE SET targets unknown columns: {unknown}")
        cond = F.coalesce(F.expr(condition), F.lit(False))
        # one heavy pass: stage the full matched rows, then derive both the
        # vector and the updated images from the (small) staged copy
        stage_id = uuid.uuid4().hex
        stage_dir = f"{self.root}/{_STAGING}/{stage_id}"
        logical.filter(cond).write.mode("overwrite").parquet(stage_dir)
        matches = self.spark.read.parquet(stage_dir)
        if matches.limit(1).count() == 0:
            _atomic.delete(self.spark, stage_dir, recursive=True)
            return None
        staged = self._stage_dv(
            matches.select(
                F.col("__fp").alias("file_path"), F.col("__ri").alias("row_index")
            )
        )
        dv_rel, touched_rel, n = staged
        dtypes = dict(matches.dtypes)
        updated = matches.select(
            *[
                F.expr(set_exprs[c]).cast(dtypes[c]).alias(c) if c in set_exprs else F.col(c)
                for c in data_cols
            ]
        )

        def positions_still_valid() -> bool:
            current = {a["path"] for a in self._active_files()}
            return all(p in current for p in touched_rel)

        version = self._commit_write(
            updated, "update_dv", self._partition_by(), removes=[],
            dv={"path": dv_rel, "files": touched_rel, "rows": n},
            precondition=positions_still_valid,
        )
        _atomic.delete(self.spark, stage_dir, recursive=True)
        return version

    def restore(self, version: int) -> int | None:
        """RESTORE TABLE TO VERSION AS OF: one commit whose net effect
        makes the latest snapshot equal ``snapshot(version)``. No data is
        copied — the commit re-points add/remove actions at the old files
        (they must still exist, i.e. lie inside the vacuum retention
        horizon; a reaped file fails loudly here, not at read time).
        History is preserved: the restore is itself a commit, so time
        travel ABOVE it still sees the pre-restore states, and the commit
        records the exact deletion-vector set of the target version so
        post-target row deletes cannot leak through. Column renames are
        metadata, not data, and are NOT rolled back (Delta RESTORE
        semantics for protocol-level metadata). Returns the commit
        version, or None if a concurrent commit interfered (re-issue
        against the new log tip)."""
        target = {a["path"]: a for a in self._active_files(version)}
        if not target:
            raise ValueError(f"version {version} has no data to restore")
        current = {a["path"] for a in self._active_files()}
        for p, a in target.items():
            if p not in current and not _atomic.exists(self.spark, self._data_path(a)):
                raise ValueError(
                    f"cannot restore to version {version}: {p} was vacuumed"
                )
        adds = [a for p, a in target.items() if p not in current]
        removes = sorted(p for p in current if p not in target)

        def no_interference() -> bool:
            # a concurrent commit invalidates the planned add/remove sets;
            # abandon (None) rather than restore to a mixed state
            return {a["path"] for a in self._active_files()} == current

        return self._publish(
            "restore", adds=adds, removes=removes,
            precondition=no_interference,
            to=version, dvs_active=self._active_dvs(version),
        )

    def clone_to(self, dest_root: str) -> "TxTable":
        """Shallow clone (zero-copy): a new table whose version-0 commit
        references this table's active files — with their stats and any
        deletion vectors — via a ``base`` pointer; not one data byte is
        copied. Writes to the clone land under its own root and never
        touch the source; rewrites (optimize / merge / replace)
        materialize the referenced rows locally, gradually un-sharing.
        The documented Delta SHALLOW CLONE caveat applies: vacuum on the
        SOURCE can break the clone (the clone's vacuum never deletes
        foreign files — it only walks its own root). The dev/test pattern
        for 100 TB tables: clone, experiment transactionally, drop."""
        dest = TxTable(self.spark, dest_root)
        if dest.history():
            raise ValueError(f"txlog table already exists at {dest_root}")
        adds = []
        for a in self._active_files():
            a = dict(a)
            a.setdefault("base", self.root)
            adds.append(a)
        dvs = [
            {**dv, "path": self._resolve(dv["path"])} for dv in self._active_dvs()
        ]
        dest._publish(
            "clone", adds=adds, removes=[],
            source=self.root,
            partition_by=list(self._partition_by()),
            schema=self.table_schema(),
            column_mapping=self.column_mapping(),
            dvs_active=dvs,
        )
        return dest

    # --- maintenance ------------------------------------------------------

    def _zorder_column(self, df: DataFrame, cols: tuple[str, ...], bits: int = 8):
        """Interleaved-bit Z-value over ``cols`` for multi-dimensional
        clustering — shared across the table formats, see
        functions/clustering.py for the design notes."""
        from projectdatalake_spark.functions.clustering import zorder_column

        return zorder_column(df, cols, bits)

    def write_stats(self, columns: list[str], k: int = 4096) -> int:
        """Column NDV statistics as a metadata-only ``set_stats`` commit:
        theta sketches built in one pass over the snapshot, each entry
        stamped with the table version it describes. ``table_stats``
        holds the entry codec and staleness rule Delta shares (Iceberg
        stores the same sketches in puffin files), and
        ``ndv_semi_reduce_join`` consumes any table exposing ``ndv()`` +
        ``snapshot()``. The base64 sketches ride in the commit JSON, so
        they fold through checkpoints like every other metadata action
        and stay union-mergeable."""
        return self._commit_stats(_stats.NDV, columns, k)

    def write_quantile_stats(self, column: str, k: int = 8192) -> int:
        """Mergeable KLL quantile sketch of ``column`` as a metadata-only
        ``set_stats`` commit, in the same map as the NDV entries under
        the ``__kll__:`` key prefix (no column name can collide with it),
        so it folds through checkpoints with no new machinery."""
        return self._commit_stats(_stats.KLL, [column], k)

    def _commit_stats(self, kind: str, columns: list[str], k: int) -> int:
        v = self.latest_version()
        built = _stats.entries(self.snapshot(), kind, columns, k, v)
        prefix = _stats.TXLOG_PREFIX[kind]
        return self._publish(
            "set_stats", [], [], stats={prefix + c: e for c, e in built.items()}
        )

    def _stats_entry(self, kind: str, column: str) -> dict | None:
        return self._state().get("stats", {}).get(_stats.TXLOG_PREFIX[kind] + column)

    def read_quantile_sketch(self, column: str):
        """The column's KLL sketch (mergeable path); None when absent.
        Staleness is the caller's concern, as with read_stats_sketch."""
        return _stats.decode(_stats.KLL, self._stats_entry(_stats.KLL, column))

    def ndv(self, column: str) -> int | None:
        """NDV of ``column`` from the stats commit, or None when absent
        OR STALE: every version after the entry's must still be in the
        log and change no data — adds, removes or deletion vectors
        (``table_stats.answers``). A consumer must not broadcast on
        numbers the table has outgrown; re-run write_stats after large
        ingests. O(metadata)."""
        entry = self._stats_entry(_stats.NDV, column)
        commits = {c["version"]: c for c in self.history()}

        def changed(v: int) -> bool | None:
            c = commits.get(v)
            if c is None:
                return None
            return bool(c.get("adds") or c.get("removes") or "dv" in c)

        return _stats.ndv(entry, max(commits, default=-1), changed)

    def row_tracking_enabled(self) -> bool:
        return bool((self._state().get("row_tracking") or {}).get("enabled"))

    def enable_row_tracking(self) -> int:
        """ROW TRACKING for txlog — the third format's twin of Delta
        row tracking / Iceberg v3 row lineage, in txlog's native
        metadata channel: each allocating commit carries a
        ``row_tracking`` key with its files' base ids plus the advanced
        high-water mark; the state fold MERGES bases across commits, so
        a commit stays O(its own files). A row's id = its file's base +
        physical position — stable under ``delete_where_dv`` masks by
        construction. Enabling is a METADATA-ONLY commit (no adds — it
        neither invalidates NDV staleness nor pollutes the change feed)
        that backfills bases for every active file in path order from
        their numRecords stats.

        Scope (loud, central): once enabled, ``_publish`` refuses any
        file-moving commit except append/delete_dv — rewrites would
        reassign ids without a materialized-id column."""
        if self.row_tracking_enabled():
            return self.latest_version()

        def extra_fn(version: int) -> dict:
            hwm = -1
            base: dict[str, int] = {}
            for a in sorted(
                self._active_files(version - 1), key=lambda a: a["path"]
            ):
                n = a.get("numRecords")
                if n is None:
                    raise ValueError(
                        f"row tracking backfill needs numRecords stats on "
                        f"{a['path']} — rewrite with a stats-attaching "
                        "writer first"
                    )
                base[a["path"]] = hwm + 1
                hwm += int(n)
            return {
                "row_tracking": {"enabled": True, "hwm": hwm, "base": base}
            }

        return self._publish(
            "enable_row_tracking", adds=[], removes=[], extra_fn=extra_fn
        )

    def snapshot_with_row_ids(self, min_row_id: int | None = None) -> DataFrame:
        """The table plus ``row_id`` = file base (O(#files) broadcast
        map) + ``_metadata.row_index``; DV-masked rows drop, survivors
        keep their ids (position-based). Unpartitioned, unmapped tables
        only (loud otherwise) — the same scope as the Delta/Iceberg
        twins.

        ``min_row_id`` is the INCREMENTAL-CONSUMER path: a downstream
        job tracking a row-id watermark passes last_seen + 1 and the
        scan PRUNES every file whose entire id range [base, base +
        numRecords) falls below it — append-only ids are monotone per
        file, so this is exact file-level skipping from O(metadata), no
        change feed needed (the row-id twin of stats-based data
        skipping; plan-asserted in tests)."""
        from pyspark.sql import functions as F

        from projectdatalake_spark.sources import atomic as _atomic

        state = self._state()
        rt = state.get("row_tracking") or {}
        if not rt.get("enabled"):
            raise ValueError("row tracking is not enabled")
        if self._partition_by() or any(
            k != v for k, v in state["mapping"].items()
        ):
            raise ValueError(
                "snapshot_with_row_ids supports unpartitioned, unmapped "
                "tables only in this implementation"
            )
        active = self._active_files()
        mat_set = set(rt.get("materialized", []))
        base_rows = []
        mat_paths = []
        for a in active:
            if a["path"] in mat_set:
                # OPTIMIZE-rewritten file: ids live in the physical
                # `_row_id` column; prune via its write-time stats
                st = (a.get("stats") or {}).get("_row_id")
                if (
                    min_row_id is not None
                    and st is not None
                    and st.get("max") is not None
                    and int(st["max"]) < min_row_id
                ):
                    continue
                mat_paths.append(
                    _atomic.strip_file_scheme(self._data_path(a))
                )
                continue
            b = rt["base"].get(a["path"])
            if b is None:
                raise ValueError(
                    f"active file {a['path']} has no row-id base — "
                    "re-run enable_row_tracking"
                )
            if (
                min_row_id is not None
                and a.get("numRecords") is not None
                and int(b) + int(a["numRecords"]) - 1 < min_row_id
            ):
                continue  # whole file below the watermark: skip unopened
            base_rows.append(
                (_atomic.strip_file_scheme(self._data_path(a)), int(b))
            )
        if not base_rows and not mat_paths:
            return self.snapshot().withColumn(
                "row_id", F.lit(None).cast("long")
            ).limit(0)
        tag = lambda df: df.withColumn(
            "__ri", F.col("_metadata.row_index")
        ).withColumn("__fpu", F.col("_metadata.file_path"))
        out = None
        if base_rows:
            base_map = local_frame(
                self.spark,
                base_rows, "__fp string, __base long"
            )
            df = tag(self.spark.read.parquet(*[p for p, _b in base_rows]))
            # the URI→raw pairing footer_stats.staged_files keys by:
            # decode the _metadata URI side only, never the listing side
            df = df.withColumn(
                "__fp",
                F.url_decode(
                    F.regexp_replace(
                        F.regexp_replace(F.col("__fpu"), "^file:", ""),
                        r"\+", "%2B",
                    )
                ),
            )
            out = (
                df.join(F.broadcast(base_map), "__fp")
                .withColumn("row_id", F.col("__base") + F.col("__ri"))
                .drop("__fp", "__base")
            )
        if mat_paths:
            mdf = tag(
                self.spark.read.schema(
                    self._physical_read_schema() + ", `_row_id` bigint"
                ).parquet(*mat_paths)
            ).withColumn("row_id", F.col("_row_id")).drop("_row_id")
            out = mdf if out is None else out.unionByName(mdf)
        dvs = self._active_dvs()
        if dvs:
            # DV masks record the URI form verbatim (captured from a
            # scan's _metadata.file_path at delete time)
            mask = (
                self.spark.read.parquet(
                    *[self._resolve(dv["path"]) for dv in dvs]
                )
                .select("file_path", "row_index")
                .dropDuplicates()
            )
            out = out.join(
                F.broadcast(mask),
                (out["__fpu"] == mask["file_path"])
                & (out["__ri"] == mask["row_index"]),
                "left_anti",
            )
        out = out.drop("__fpu", "__ri")
        if min_row_id is not None:
            # residual: the first surviving file may straddle the mark
            out = out.filter(F.col("row_id") >= F.lit(int(min_row_id)))
        return out

    def read_stats_sketch(self, column: str):
        """The column's theta sketch (mergeable path); None when absent.
        Staleness is the CALLER's concern here — a stale sketch still
        unions correctly with newer partials."""
        return _stats.decode(_stats.NDV, self._stats_entry(_stats.NDV, column))

    def _active_leases(self) -> list[dict]:
        """Unexpired OPTIMIZE leases from the metadata fold. Expiry is
        judged lazily at read time (commit ts + ttl_ms) — a crashed
        optimizer's claim evaporates without any cleanup commit."""
        now = time.time()
        out = []
        for lease in self._state().get("leases", {}).values():
            ttl = lease.get("ttl_ms")
            if ttl is not None and (now - lease.get("ts", 0)) * 1000 > ttl:
                continue
            out.append(lease)
        return out

    def _scan_with_row_ids(self, groups: dict, rt: dict) -> DataFrame:
        """Scan of the given {base: [adds]} file groups carrying each
        row's id as ``_row_id`` plus (``__fpu``, ``__ri``) DV-mask tags:
        files already MATERIALIZED select their physical column;
        base-mapped files compute base + row_index through a broadcast
        map (the same URI→raw pairing as snapshot_with_row_ids). The
        optimize() rewrite consumes this so ids survive the file move."""
        mat_set = set(rt.get("materialized", []))
        phys = self._physical_read_schema()
        mat_frames = []
        plain_frames = []
        base_rows = []
        for base, group in groups.items():
            mat = [a["path"] for a in group if a["path"] in mat_set]
            plain = [a for a in group if a["path"] not in mat_set]
            if mat:
                mat_frames.append(
                    self.spark.read.option("basePath", base)
                    .schema(phys + ", `_row_id` bigint")
                    .parquet(*[f"{base}/{p}" for p in mat])
                    .withColumn("__fpu", F.col("_metadata.file_path"))
                    .withColumn("__ri", F.col("_metadata.row_index"))
                )
            if plain:
                for a in plain:
                    b = rt.get("base", {}).get(a["path"])
                    if b is None:
                        raise ValueError(
                            f"active file {a['path']} has no row-id base "
                            "— re-run enable_row_tracking"
                        )
                    base_rows.append(
                        (
                            _atomic.strip_file_scheme(f"{base}/{a['path']}"),
                            int(b),
                        )
                    )
                plain_frames.append(
                    self._read_group(base, [a["path"] for a in plain])
                    .withColumn("__fpu", F.col("_metadata.file_path"))
                    .withColumn("__ri", F.col("_metadata.row_index"))
                )
        out = None
        if plain_frames:
            pf = plain_frames[0]
            for f2 in plain_frames[1:]:
                pf = pf.unionByName(f2, allowMissingColumns=True)
            base_map = local_frame(
                self.spark,
                base_rows, "__fp string, __base long"
            )
            decoded = F.url_decode(
                F.regexp_replace(
                    F.regexp_replace(F.col("__fpu"), "^file:", ""),
                    r"\+", "%2B",
                )
            )
            pf = (
                pf.withColumn("__fp", decoded)
                .join(F.broadcast(base_map), "__fp")
                .withColumn("_row_id", F.col("__base") + F.col("__ri"))
                .drop("__fp", "__base")
            )
            out = pf
        for mf in mat_frames:
            out = mf if out is None else out.unionByName(
                mf, allowMissingColumns=True
            )
        return out

    def optimize(
        self,
        min_files: int = 2,
        sort_by: tuple[str, ...] = (),
        target_files: int = 4,
        zorder_by: tuple[str, ...] = (),
        curve: str = "z",
        lease_ttl_ms: int | None = None,
        holder: str | None = None,
        stats_policy: dict | None = None,
    ) -> int | None:
        """Transactional small-file compaction (OPTIMIZE): partitions
        holding ≥ ``min_files`` files are rewritten into one file each and
        swapped in a single commit — readers see either the old files or
        the new, never a mix, which plain-directory compaction
        (writers.compact_parquet) cannot promise. Pure metadata+layout
        change: the snapshot's rows are identical before and after, and
        time travel to pre-optimize versions still resolves the old files
        (until ``vacuum`` reaps them).

        ``sort_by`` switches compaction to data CLUSTERING: rows are
        range-partitioned into ``target_files`` output tasks on the sort
        columns, so each rewritten file covers a narrow, disjoint range
        and the write-time min/max stats become tight —
        ``snapshot(where=...)`` then skips most files. The row-layout
        half of what Z-ordering buys, without changing results.

        Concurrency: the commit carries a precondition that the compacted
        partitions' file sets are unchanged at publish time — losing a
        race to ANY concurrent write of those partitions abandons the
        compaction (returns None) rather than resurrecting replaced data.

        ``lease_ttl_ms`` turns on the MULTI-WRITER LEASE protocol: before
        rewriting anything, the optimizer commits an ``optimize_lease``
        claim on its target partitions. A concurrent optimizer skips
        partitions under another holder's unexpired lease and works the
        remainder — two optimizers PARTITION the compaction instead of
        one losing its whole rewrite to the publish-time precondition.
        Claim races resolve deterministically (earlier claim version
        wins the overlap); the winning optimize commit releases its
        lease atomically, an abandon releases it with a metadata-only
        commit, and a crashed holder's claim expires by TTL with no
        cleanup. Without the flag behavior is unchanged (no extra
        commits).

        ``stats_policy`` (round 11 — the streaming dedup index's
        degradation trigger applied to the table format, per the
        round-9/10 verdict sketch) switches partition SELECTION from
        the raw file count to small-file degradation: a partition
        compacts only when it holds at least ``min_files`` live files
        (key ``min_files``, defaulting to the positional argument) AND
        its MEDIAN live file size is at or below ``small_bytes``
        (default 1 MiB). The decision reads ONLY the log's add-entry
        sizes — metadata-grain, no filesystem listing — so a bursty
        partition compacts when it actually degrades and a healthy
        one is never rewritten on schedule. Fully lease-compatible:
        selection runs first and the lease claim covers exactly the
        degraded partitions."""
        pcols = self._partition_by()
        by_part: dict[tuple, list[dict]] = {}
        for a in self._active_files():
            key = tuple(sorted(a["partition"].items()))
            by_part.setdefault(key, []).append(a)
        if stats_policy is not None:
            small = int(stats_policy.get("small_bytes", 1 << 20))
            need = int(stats_policy.get("min_files", min_files))

            def _degraded(files: list[dict]) -> bool:
                if len(files) < need:
                    return False
                sizes = sorted(int(a.get("size") or 0) for a in files)
                return sizes[len(sizes) // 2] <= small

            doomed = {k: v for k, v in by_part.items() if _degraded(v)}
        else:
            doomed = {
                k: v for k, v in by_part.items() if len(v) >= min_files
            }
        if not doomed:
            return None
        holder_id = holder or uuid.uuid4().hex
        extra_publish: dict = {}
        if lease_ttl_ms is not None:

            def _key_json(k: tuple) -> str:
                return json.dumps([list(kv) for kv in k])

            others = [
                l for l in self._active_leases() if l["holder"] != holder_id
            ]
            taken = {p for l in others for p in l.get("partitions", [])}
            doomed = {
                k: v for k, v in doomed.items() if _key_json(k) not in taken
            }
            if not doomed:
                return None
            claim_v = self._publish(
                "optimize_lease",
                [],
                [],
                lease={
                    "holder": holder_id,
                    "partitions": sorted(_key_json(k) for k in doomed),
                    "ttl_ms": int(lease_ttl_ms),
                },
            )
            # two claims may have raced onto overlapping partitions: the
            # EARLIER claim version wins each overlap — both sides apply
            # the same rule against the same log, so the split is agreed
            lost = {
                p
                for l in self._active_leases()
                if l["holder"] != holder_id and l["version"] < claim_v
                for p in l.get("partitions", [])
            }
            doomed = {
                k: v for k, v in doomed.items() if _key_json(k) not in lost
            }
            if not doomed:
                self._publish(
                    "release_lease", [], [], release_lease=holder_id
                )
                return None
            extra_publish["release_lease"] = holder_id
        doomed_adds = [a for files in doomed.values() for a in files]
        removes = sorted(a["path"] for a in doomed_adds)
        groups: dict[str, list[dict]] = {}
        for a in doomed_adds:
            groups.setdefault(a.get("base", self.root), []).append(a)
        rt = self._state().get("row_tracking") or {}
        rt_on = bool(rt.get("enabled"))
        removed_set = set(removes)
        dvs = [
            dv for dv in self._active_dvs() if any(f in removed_set for f in dv["files"])
        ]
        planned_dvs = {dv["path"] for dv in dvs}
        if rt_on:
            # ROW-TRACKED rewrite: ids must survive the file move, so the
            # rewrite MATERIALIZES each row's id as a physical `_row_id`
            # column (invisible to normal reads — explicit schemas never
            # select it; snapshot_with_row_ids prefers it where present).
            # Compaction interleaves source files, so base+position can
            # no longer express the ids — the column is the only carrier,
            # exactly why the formats define a materialized-id column.
            scoped = self._scan_with_row_ids(groups, rt)
            if dvs:
                mask = (
                    self.spark.read.parquet(
                        *[self._resolve(dv["path"]) for dv in dvs]
                    )
                    .select("file_path", "row_index")
                    .dropDuplicates()
                )
                scoped = scoped.join(
                    F.broadcast(mask),
                    (scoped["__fpu"] == mask["file_path"])
                    & (scoped["__ri"] == mask["row_index"]),
                    "left_anti",
                )
            scoped = scoped.drop("__fpu", "__ri")
        else:
            scoped = None
            for base, group in groups.items():
                df = self._read_group(base, [a["path"] for a in group])
                scoped = df if scoped is None else scoped.unionByName(df, allowMissingColumns=True)
            # pending deletion vectors must be materialized into the
            # rewrite, or the compacted files would resurrect masked rows
            if dvs:
                scoped = self._apply_dv_mask(scoped, dvs)
        if zorder_by:
            if sort_by:
                raise ValueError("pass sort_by OR zorder_by, not both")
            if curve == "hilbert":
                # contiguous space-filling curve: tighter per-file
                # hyper-rectangles than Z at the same bit budget (2-D)
                from projectdatalake_spark.functions.clustering import (
                    attach_hilbert_column,
                )

                staged = attach_hilbert_column(scoped, tuple(zorder_by), "__z")
            elif curve == "z":
                z = self._zorder_column(scoped, tuple(zorder_by))
                staged = scoped.withColumn("__z", z)
            else:
                raise ValueError(f"unknown clustering curve: {curve!r}")
            compacted = (
                staged.repartitionByRange(target_files, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        elif sort_by:
            # range partitioning gives each output task a disjoint slice of
            # the sort key; every emitted file's [min, max] is narrow
            compacted = scoped.repartitionByRange(
                target_files, *sort_by
            ).sortWithinPartitions(*sort_by)
        elif pcols:
            # one task (= one output file) per hive partition (transform
            # specs repartition on the DERIVED expression, not the name)
            compacted = scoped.repartition(
                *[
                    _transform_col_for(kind, param, src, scoped)
                    for kind, param, src, _ in self._partition_fields()
                ]
            )
        else:
            compacted = scoped.coalesce(1)
        adds = self._stage(compacted, pcols)
        if rt_on:
            # the rewrite carries ids IN-COLUMN: declare every output
            # file materialized (this is also what licenses the commit
            # past the _publish row-tracking guard); hwm unchanged —
            # no new ids were allocated
            extra_publish["row_tracking"] = {
                "enabled": True,
                "materialized": sorted(a["path"] for a in adds),
            }

        def unchanged() -> bool:
            current = {a["path"] for a in self._active_files()}
            if not all(p in current for p in removes):
                return False
            # a deletion vector that landed on these files after planning
            # would be silently dropped by the rewrite — abandon instead
            now_dvs = {
                dv["path"]
                for dv in self._active_dvs()
                if any(f in removed_set for f in dv["files"])
            }
            return now_dvs == planned_dvs

        out = self._publish(
            "optimize", adds, removes=removes, precondition=unchanged,
            partition_by=list(pcols), **extra_publish,
        )
        if out is None and "release_lease" in extra_publish:
            # abandoned to the precondition: free the claim immediately so
            # peers need not wait out the TTL
            self._publish("release_lease", [], [], release_lease=holder_id)
        return out

    def recluster(self, max_groups: int | None = None) -> int | None:
        """LIQUID-STYLE INCREMENTAL RECLUSTERING (the shape of Delta's
        liquid-clustering OPTIMIZE): rewrite ONLY the files whose
        cluster-key ranges OVERLAP other files' — plus files missing
        stats on the key, whose range is unknown — and leave every
        already-disjoint file untouched. Per hive partition, the logged
        min/max intervals of the leading cluster column are swept into
        overlap components; components of ≥2 files are range-shuffled on
        the full cluster key and swapped in ONE commit guarded by the
        same unchanged-files precondition as ``optimize`` (losing a race
        abandons, never resurrects). ``max_groups`` caps the pass to the
        worst components — bounded maintenance windows. Returns the
        commit version, or None when the layout is already converged.

        Convergence: rewritten components come out of repartitionByRange
        with disjoint intervals (boundary-touching intervals count as
        disjoint — a shared single key value is not worth a rewrite), so
        a second pass over unchanged data returns None.

        100 TB: a full OPTIMIZE cluster rewrite is O(table) every run —
        unpayable recurring cost. Steady-state ingest only degrades the
        layout where new batches LAND; this touches exactly those
        overlap pockets, so recurring cost tracks ingest, not table
        size. The one-shot clustered rewrite (optimize sort_by/zorder)
        stays the bootstrap; this is the maintenance loop."""
        from functools import cmp_to_key

        spec = self._cluster_spec()
        if not spec or not spec.get("by"):
            raise ValueError(
                "recluster needs a clustering spec — create(cluster_by=...) "
                "or set_clustering() first"
            )
        c0 = spec["by"][0]
        actives = self._active_files()
        by_part: dict[tuple, list[dict]] = {}
        for a in actives:
            by_part.setdefault(tuple(sorted(a["partition"].items())), []).append(a)

        def cmp_lo(x, y):  # None = unbounded-below sorts first
            lx, ly = x[0], y[0]
            if lx is None or ly is None:
                return (lx is not None) - (ly is not None)
            return -1 if lx < ly else (1 if lx > ly else 0)

        groups: list[list[dict]] = []
        for files in by_part.values():
            ivs = []
            for a in files:
                s = (a.get("stats") or {}).get(c0) or {}
                ivs.append((s.get("min"), s.get("max"), a))
            ivs.sort(key=cmp_to_key(cmp_lo))
            comp: list[dict] = []
            cur_hi = None  # only meaningful while comp is non-empty
            for lo, hi, a in ivs:
                # strict overlap: touching at one boundary key is disjoint
                # enough (guarantees convergence after one pass)
                overlaps = bool(comp) and (
                    cur_hi is None or lo is None or lo < cur_hi
                )
                if overlaps:
                    comp.append(a)
                    if cur_hi is not None and hi is not None:
                        cur_hi = max(cur_hi, hi)
                    elif hi is None:
                        cur_hi = None  # unbounded-above swallows the rest
                else:
                    if len(comp) >= 2:
                        groups.append(comp)
                    comp, cur_hi = [a], hi
            if len(comp) >= 2:
                groups.append(comp)
        if not groups:
            return None
        groups.sort(key=len, reverse=True)  # worst pockets first
        if max_groups is not None:
            groups = groups[: max(1, int(max_groups))]
        doomed_adds = [a for comp in groups for a in comp]
        removes = sorted(a["path"] for a in doomed_adds)
        by_base: dict[str, list[dict]] = {}
        for a in doomed_adds:
            by_base.setdefault(a.get("base", self.root), []).append(a)
        scoped = None
        for base, group in by_base.items():
            df = self._read_group(base, [a["path"] for a in group])
            scoped = (
                df
                if scoped is None
                else scoped.unionByName(df, allowMissingColumns=True)
            )
        # pending deletion vectors must fold into the rewrite or the new
        # files would resurrect the masked rows (same rule as optimize)
        removed_set = set(removes)
        dvs = [
            dv
            for dv in self._active_dvs()
            if any(f in removed_set for f in dv["files"])
        ]
        planned_dvs = {dv["path"] for dv in dvs}
        if dvs:
            scoped = self._apply_dv_mask(scoped, dvs)
        # incremental output sizing: the pass rewrites a FRACTION of the
        # table, so it gets that fraction of the table's file target
        target = int(spec.get("files", 48))
        n_out = max(1, round(target * len(doomed_adds) / max(1, len(actives))))
        sub_spec = {"by": list(spec["by"]), "files": n_out}
        if spec.get("max_rows"):
            sub_spec["max_rows"] = spec["max_rows"]
        pcols = self._partition_by()
        adds = self._stage(scoped, pcols, cluster=sub_spec)

        def unchanged() -> bool:
            current = {a["path"] for a in self._active_files()}
            if not all(p in current for p in removes):
                return False
            now_dvs = {
                dv["path"]
                for dv in self._active_dvs()
                if any(f in removed_set for f in dv["files"])
            }
            return now_dvs == planned_dvs

        return self._publish(
            "recluster", adds, removes=removes, precondition=unchanged,
            partition_by=list(pcols),
        )

    def vacuum(self, retain_versions: int = 0) -> list[str]:
        """Delete data files unreachable from the last ``retain_versions+1``
        snapshots — staged-but-never-committed orphans and removed files
        past the time-travel horizon. Returns deleted relative paths."""
        latest = self.latest_version()
        keep: set[str] = set()
        for v in range(max(0, latest - retain_versions), latest + 1):
            keep.update(a["path"] for a in self._active_files(v))
            keep.update(dv["path"] for dv in self._active_dvs(v))
        root_uri = _atomic.path_only(self.root)
        deleted = []
        for p, _size, _m in _atomic.list_files(self.spark, self.root, ".parquet"):
            rel = _atomic.path_only(p)[len(root_uri) :].lstrip("/")
            if rel.split("/", 1)[0] in (_LOG_DIR, _STAGING) or rel in keep:
                continue
            _atomic.delete(self.spark, p)
            deleted.append(rel)
        return deleted

    def prune_log(self, retain_versions: int = 0) -> list[str]:
        """Log retention: delete commit JSONs older than the last
        ``retain_versions+1`` versions — the companion to ``vacuum``
        (which reaps data files). REFUSES unless a state-carrying
        checkpoint covers the pruned range, because snapshot planning and
        every metadata fold (settings, renames, constraints) must come
        from the checkpoint once the commits are gone. History, CDF, and
        time travel below the new horizon become explicitly unavailable
        (readers raise), never silently wrong. Checkpoint files are kept.
        Returns the deleted log filenames."""
        latest = self.latest_version()
        cutoff = latest - retain_versions  # prune versions < cutoff
        ck = self._read_checkpoint()
        if ck is None or "state" not in ck:
            raise ValueError(
                "prune_log needs a state-carrying checkpoint — call "
                "checkpoint() first"
            )
        # never prune past the checkpoint: replay starts there
        cutoff = min(cutoff, ck["version"] + 1)
        deleted = []
        for c in self.history():
            v = c["version"]
            if v >= cutoff:
                break
            name = f"{v:08d}.json"
            _atomic.delete(self.spark, f"{self.root}/{_LOG_DIR}/{name}")
            deleted.append(name)
        return deleted


def append_stream(
    stream_df: DataFrame,
    table: TxTable,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Exactly-once streaming sink into a TxTable via ``foreachBatch``.

    Structured Streaming's foreachBatch is at-least-once: after a crash
    between sink write and checkpoint commit, the same ``batch_id`` is
    replayed. Idempotence comes from the commit log itself — every commit
    records its (checkpoint, batch_id), and a replayed batch that finds
    its id already in the log is skipped. This is the same txn mechanism
    Delta's idempotent ``txnAppId``/``txnVersion`` writes document.

    Returns the StreamingQuery (caller awaits termination for availableNow).
    """
    app_id = checkpoint_dir  # one logical writer per checkpoint

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        table.append_once(batch_df, app_id, batch_id)

    return _start_sink(stream_df, commit_batch, checkpoint_dir, available_now)


def upsert_stream(
    stream_df: DataFrame,
    table: TxTable,
    keys: list[str],
    checkpoint_dir: str,
    available_now: bool = True,
    delete_col: str | None = None,
):
    """Exactly-once streaming MERGE sink (the CDC-apply pattern): each
    micro-batch upserts into the TxTable by key via partition-scoped
    merge, with the same txn idempotence contract as ``append_stream`` —
    the merge commit records (checkpoint, batch_id) and a crash-replayed
    batch that finds its id in the log is skipped before any rewrite is
    planned (and re-checked as a publish precondition, so losing a
    version race to the original still abandons cleanly). Late batches
    de-duplicate per key inside the batch first (last arrival wins by
    key ordering is the CALLER's contract — pre-aggregate upstream if
    arrival order matters). With ``delete_col``, rows flagged true
    DELETE their key instead (full CDC apply via apply_changes, one
    atomic commit per batch).

    Returns the StreamingQuery (caller awaits for availableNow)."""
    app_id = checkpoint_dir

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if table._txn_seen(app_id, batch_id):
            return
        if batch_df.isEmpty():
            return
        armed = table.with_txn(app_id, batch_id)
        deduped = batch_df.dropDuplicates(keys)
        if delete_col is None:
            armed.merge_upsert(deduped, keys)
        else:
            armed.apply_changes(deduped, keys, delete_col=delete_col)

    return _start_sink(stream_df, commit_batch, checkpoint_dir, available_now)
