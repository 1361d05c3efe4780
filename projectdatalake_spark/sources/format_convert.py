"""Zero-copy table-format conversion: Delta ⇄ Iceberg.

Both formats are, at rest, parquet files + a metadata layer. Conversion
therefore never has to touch data: it reads one format's metadata and
writes the other's, referencing the SAME parquet files by absolute path
— O(#files) metadata work for a table of any size. This is the
escape-hatch a 100 TB lakehouse needs when the table format loses the
argument but the data shouldn't move.

Honesty rules (checked, not assumed):
- The one-shot Delta → Iceberg convert refuses while deletion vectors
  are active (Iceberg readers would resurrect masked rows) — run
  ``DeltaTable.optimize()`` first to materialize them. The LIVE export
  (``uniform_export``) instead TRANSLATES them to Iceberg v3 deletion
  vectors in the same snapshot (round 10). Column-mapped tables are
  refused everywhere (physical names in files would leak).
- Iceberg → Delta refuses while position deletes are active (Delta adds
  cannot carry them) and for non-identity partition transforms.
- Record counts come from existing metadata (Delta add.stats numRecords,
  Iceberg manifest record_count); only when a foreign Delta table lacks
  stats does the converter fall back to a parquet-footer read per file.
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql.types import StructType

from projectdatalake_spark.sources import atomic as _atomic
from projectdatalake_spark.sources.delta_interop import (
    DeltaCommitConflict,
    DeltaProtocolError,
    DeltaTable,
    _quote_path,
)
from projectdatalake_spark.sources.iceberg_interop import (
    IcebergCommitConflict,
    IcebergProtocolError,
    IcebergTable,
    _encode_bound,
    _new_snapshot_id,
)


def _refuse_unconvertible_delta(
    delta: DeltaTable, state: dict, allow_dvs: bool = False
) -> None:
    meta = state["metaData"]
    if delta._column_mapping(meta):
        raise DeltaProtocolError(
            "cannot convert a column-mapped Delta table zero-copy "
            "(data files carry physical names)"
        )
    if not allow_dvs and any(
        a.get("deletionVector") for a in state["adds"].values()
    ):
        raise DeltaProtocolError(
            "active deletion vectors — run optimize() to materialize them "
            "before converting (Iceberg would resurrect masked rows); the "
            "live UniForm export translates them instead (uniform_export)"
        )


def convert_delta_to_iceberg(delta: DeltaTable, dest_root: str) -> IcebergTable:
    """Publish an Iceberg v2 table whose single snapshot references the
    Delta table's CURRENT data files in place (absolute paths)."""
    state = delta._state()
    delta._check_readable(state)
    meta = state["metaData"]
    _refuse_unconvertible_delta(delta, state)
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    pcols = tuple(meta.get("partitionColumns", []))
    # foreign (Delta-written) files carry no parquet field ids → the
    # Iceberg reads must resolve by NAME (and rename/drop are refused)
    t = IcebergTable.create_empty(
        delta.spark,
        dest_root,
        schema,
        pcols,
        properties={"projectdatalake.fieldIdsInFiles": "false"},
    )
    files = _delta_adds_as_iceberg_files(delta, state, t, pcols)
    t.append_files(files)
    return t


def _delta_adds_as_iceberg_files(
    delta: DeltaTable, state: dict, t: IcebergTable, pcols: tuple
) -> list[dict]:
    """append_files-shaped descriptors for the Delta state's live adds:
    absolute paths, typed partition tuples, stats mapped add.stats →
    manifest bounds — the shared metadata bridge under the one-shot
    convert AND the UniForm live export."""
    ice_meta = t.metadata()
    ice_fields = next(
        s for s in ice_meta["schemas"] if s["schema-id"] == ice_meta["current-schema-id"]
    )["fields"]
    type_of = {f["name"]: f["type"] for f in ice_fields}
    fid_of = {f["name"]: f["id"] for f in ice_fields}
    files = []
    for add in state["adds"].values():
        stats = DeltaTable._parse_stats(add)
        if stats and "numRecords" in stats:
            count = stats["numRecords"]
        else:  # foreign table without stats: one footer read
            import pyarrow.parquet as pq

            count = pq.ParquetFile(delta._abs_data_path(add["path"])).metadata.num_rows
        pv = add.get("partitionValues", {})
        partition = {
            c: t._typed_part(pv.get(c), type_of[c]) for c in pcols
        }
        lower, upper = [], []
        for c in (stats or {}).get("minValues", {}):
            ice_t = type_of.get(c)
            if not isinstance(ice_t, str):
                continue
            lo_b = _encode_bound(stats["minValues"][c], ice_t)
            if lo_b is not None:
                lower.append({"key": fid_of[c], "value": lo_b})
        for c in (stats or {}).get("maxValues", {}):
            ice_t = type_of.get(c)
            if not isinstance(ice_t, str):
                continue
            hi_b = _encode_bound(stats["maxValues"][c], ice_t)
            if hi_b is not None:
                upper.append({"key": fid_of[c], "value": hi_b})
        files.append(
            {
                "path": delta._abs_data_path(add["path"]),
                "size": add.get("size", 0),
                "partition": partition,
                "record_count": count,
                "lower_bounds": lower or None,
                "upper_bounds": upper or None,
            }
        )
    return files


def _delta_dvs_as_iceberg_dv_files(
    delta: DeltaTable, state: dict, t: IcebergTable, sid: int, seq_hint: int
) -> tuple[list[dict], int]:
    """Translate the Delta state's LIVE deletion vectors into Iceberg v3
    deletion-vector entries over the same data files: each masked add's
    roaring bitmap decodes to row positions and re-encodes as a Puffin
    ``deletion-vector-v1`` blob (portable roaring64 framing — the format
    delete_where_dv writes natively), one content=1 entry per masked
    file with ``referenced_data_file`` + blob addressing. Returns
    (delete-file dicts, total masked rows).

    Scale posture: translation is O(deleted rows) per masked file on
    the driver (decode + re-encode of one bitmap at a time — DVs are
    per-file and bitmap-compressed, the same grain delete_where_dv's
    executor build emits); a mapInPandas re-encode is the upgrade path
    if a single file's vector ever outgrows the driver."""
    from projectdatalake_spark.sources.puffin import (
        DV_BLOB_TYPE,
        dv_blob_payload,
        read_puffin,
        write_puffin,
    )

    masked = sorted(
        (delta._abs_data_path(a["path"]), a["deletionVector"])
        for a in state["adds"].values()
        if a.get("deletionVector")
    )
    if not masked:
        return [], 0
    blobs = []
    for fp, dv in masked:
        positions = sorted(delta._dv_deleted_rows(dv))
        blobs.append((fp, dv_blob_payload(positions), len(positions)))
    puffin_bytes, _fsz = write_puffin(
        [
            (
                {
                    "type": DV_BLOB_TYPE,
                    "fields": [],
                    "snapshot-id": sid,
                    "sequence-number": seq_hint,
                    "properties": {
                        "referenced-data-file": fp,
                        "cardinality": str(card),
                    },
                },
                payload,
            )
            for fp, payload, card in blobs
        ],
        properties={"created-by": "projectdatalake-spark uniform dv export"},
    )
    puffin_path = f"{t.root}/metadata/{uuid.uuid4().hex}-uniform-deletes.puffin"
    _atomic.write_bytes(t.spark, puffin_path, puffin_bytes, exclusive=True)
    written, _ = read_puffin(puffin_bytes)
    offsets = {
        b["properties"]["referenced-data-file"]: (b["offset"], b["length"])
        for b, _payload in written
    }
    files = [
        {
            "content": 1,  # POSITION_DELETES (DV flavor)
            "file_path": puffin_path,
            "file_format": "PUFFIN",
            "partition": {},
            "record_count": card,
            "file_size_in_bytes": len(puffin_bytes),
            "referenced_data_file": fp,
            "content_offset": offsets[fp][0],
            "content_size_in_bytes": offsets[fp][1],
        }
        for fp, _payload, card in blobs
    ]
    return files, sum(card for _fp, _payload, card in blobs)


def _stamp_uniform_v3(new_meta: dict) -> None:
    """Metadata mutator folding the format-version-3 declaration into
    the SAME commit as a DV-carrying sync (``append_files``'s
    ``meta_mutator`` seam — ADVICE r11 closed the two-commit window
    where v2-declared metadata referenced PUFFIN delete files).

    Once a sync translated Delta DVs into Iceberg v3 deletion-vector
    delete files (PUFFIN, content=1 with ``referenced_data_file``), the
    exported metadata must stop declaring format-version 2: a
    spec-compliant v2 reader cannot decode PUFFIN position deletes, and
    a LENIENT one could skip the unknown delete format and RESURRECT
    masked rows — the exact hazard the pre-round-10 refusal guarded
    against (ADVICE r10, medium). Declaring 3 makes both classes
    behave: v3-capable readers decode the DVs; pre-v3 readers must
    refuse a format-version above what they support (spec rule), so the
    failure is loud, never silent row resurrection. The export tree is
    fully engine-written, so the stamp contradicts no other writer, and
    it persists across later DV-free syncs (append_files copies the
    prior metadata forward) — v3 never downgrades. Because the mutator
    runs inside every commit attempt on the attempt's own rebuilt
    metadata, no committed version can declare v2 while referencing the
    DV delete files, crash or race notwithstanding.

    DEVIATION (recorded as ``uniform.dv-v3-deletes``): v3 additionally
    mandates row-lineage metadata (``next-row-id``, snapshot
    ``first-row-id``) and ``format-version: 3`` in manifest/list Avro
    headers; a zero-copy mirror of a Delta table cannot honestly
    maintain lineage, and the Avro headers keep the engine-wide "2".
    Both gaps read as loud missing-field/mismatch errors in a strict
    v3 validator — never as wrong rows, which is the failure class
    this stamp exists to close."""
    new_meta["format-version"] = 3
    new_meta["properties"] = {
        **(new_meta.get("properties") or {}),
        "uniform.dv-v3-deletes": "true",
    }


def uniform_export(
    delta: DeltaTable, ice_root: str | None = None
) -> tuple[IcebergTable, int | None]:
    """DELTA UNIFORM SHAPE (Delta's Universal Format): Delta stays the
    ONLY writer; call this after commits to (re)generate Iceberg
    metadata over the SAME data files, so external Iceberg readers track
    a live Delta table — zero copy, O(#files) metadata per sync. By
    default the Iceberg metadata lives INSIDE the Delta root
    (``metadata/`` beside ``_delta_log/``), exactly UniForm's layout.

    Every sync commits one Iceberg REPLACE snapshot holding the Delta
    tip's full live file set, stamped ``uniform.delta-version`` in the
    snapshot summary; prior snapshots stay time-travelable, so Iceberg
    snapshot N and Delta version it mirrors read IDENTICALLY (the
    oracle contract in `delta_uniform_export`). A sync at an already-
    exported version is a no-op (returns (table, None)) — safe to call
    unconditionally after every commit.

    Deletion vectors (round 10 — previously a refusal): a sync under
    live Delta DVs TRANSLATES each masked file's roaring bitmap into an
    Iceberg v3 deletion vector (Puffin ``deletion-vector-v1`` blob,
    content=1 entry with ``referenced_data_file``) riding in the SAME
    replace snapshot, so external Iceberg readers see exactly the
    masked table — and because every sync is a full-state replacement
    (prior delete manifests are dropped with the prior data manifests),
    a later Delta optimize() that materializes the DVs simply exports
    clean. The first DV-carrying sync also stamps ``format-version: 3``
    on the exported metadata (sticky; see ``_stamp_uniform_v3``) so a
    pre-v3 reader refuses loudly instead of skipping the PUFFIN delete
    files and resurrecting masked rows. Column mapping stays refused,
    as does a drifted schema (drop the metadata dir and re-export to
    re-baseline)."""
    state = delta._state()
    delta._check_readable(state)
    _refuse_unconvertible_delta(delta, state, allow_dvs=True)
    meta = state["metaData"]
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    pcols = tuple(meta.get("partitionColumns", []))
    root = (ice_root or delta.root).rstrip("/")
    v = state["version"]
    t = IcebergTable(delta.spark, root)
    fresh = not _atomic.exists(delta.spark, f"{root}/metadata/version-hint.text")
    if fresh:
        t = IcebergTable.create_empty(
            delta.spark,
            root,
            schema,
            pcols,
            properties={
                "projectdatalake.fieldIdsInFiles": "false",
                "uniform.source-format": "delta",
            },
        )
    else:
        ice_meta = t.metadata()
        ice_fields = next(
            s
            for s in ice_meta["schemas"]
            if s["schema-id"] == ice_meta["current-schema-id"]
        )["fields"]
        want = [(f.name,) for f in schema.fields]
        have = [(f["name"],) for f in ice_fields]
        if want != have:
            raise IcebergProtocolError(
                "uniform_export: the Delta schema drifted from the "
                "exported Iceberg schema — remove the Iceberg metadata "
                "directory and re-export to re-baseline"
            )
        cur_sid = ice_meta.get("current-snapshot-id")
        if cur_sid is not None and cur_sid != -1:
            cur = next(
                s for s in ice_meta["snapshots"] if s["snapshot-id"] == cur_sid
            )
            if cur.get("summary", {}).get("uniform.delta-version") == str(v):
                return t, None  # tip already exported
    files = _delta_adds_as_iceberg_files(delta, state, t, pcols)
    ice_meta = t.metadata()
    sid = _new_snapshot_id()
    dv_files, n_dv = _delta_dvs_as_iceberg_dv_files(
        delta, state, t, sid, ice_meta["last-sequence-number"] + 1
    )
    summary = {"uniform.delta-version": v}
    if dv_files:
        summary["added-dvs"] = str(len(dv_files))
        summary["added-position-deletes"] = str(n_dv)
    sid = t.append_files(
        files,
        meta=ice_meta,
        replace=not fresh,
        operation="append" if fresh else "replace",
        summary_props=summary,
        delete_manifests=[t._delete_manifest(ice_meta, dv_files, sid)] if dv_files else [],
        sid=sid,
        # the snapshot carries v3-only delete structures: declare v3 IN
        # THE SAME metadata commit so no observable version pairs a v2
        # declaration with PUFFIN delete files — see _stamp_uniform_v3
        meta_mutator=_stamp_uniform_v3 if dv_files else None,
    )
    return t, sid


def convert_iceberg_to_delta(ice: IcebergTable, dest_root: str) -> DeltaTable:
    """Publish a Delta table (protocol (1,2)) whose version 0 references
    the Iceberg table's CURRENT data files in place (absolute-path adds —
    the spec mechanism shallow clones use)."""
    meta = ice.metadata()
    entries, delete_entries = ice._entries_for_snapshot(meta, None)
    if delete_entries:
        raise IcebergProtocolError(
            "active position deletes — compact them away before converting "
            "(Delta adds cannot carry Iceberg delete files)"
        )
    spec = ice._current_spec(meta)
    if any(f["transform"] != "identity" for f in spec["fields"]):
        raise IcebergProtocolError(
            "non-identity partition transforms cannot map to Delta "
            "partitionValues"
        )
    # spec-evolved tables mix partition-tuple shapes across file eras;
    # Delta has one partitionColumns list — compact to the current spec
    # first so every live file shares it
    eras = {e.get("_spec_id", 0) for e in entries}
    if eras - {spec["spec-id"]}:
        raise IcebergProtocolError(
            "live files span historical partition specs — run "
            "rewrite_data_files() to migrate them to the current spec "
            "before converting to Delta"
        )
    schema = ice._spark_schema(meta)
    # strip field-id metadata: Delta resolves by name
    plain_schema = StructType.fromJson(
        json.loads(
            json.dumps(
                {
                    "type": "struct",
                    "fields": [
                        {
                            "name": f.name,
                            "type": json.loads(f.dataType.json()),
                            "nullable": True,
                            "metadata": {},
                        }
                        for f in schema.fields
                    ],
                }
            )
        )
    )
    pcols = [f["name"] for f in spec["fields"]]
    t = DeltaTable(ice.spark, dest_root)
    if t.exists():
        raise DeltaCommitConflict(f"already a Delta table: {dest_root}")
    now = int(time.time() * 1000)
    adds = []
    for e in entries:
        df_rec = e["data_file"]
        part = df_rec.get("partition", {}) or {}
        pv = {
            c: (None if part.get(c) is None else str(part[c])) for c in pcols
        }
        adds.append(
            {
                "path": _quote_path(df_rec["file_path"]),
                "partitionValues": pv,
                "size": df_rec.get("file_size_in_bytes", 0),
                "modificationTime": now,
                "dataChange": True,
                "stats": json.dumps(
                    {"numRecords": df_rec.get("record_count", 0)},
                    separators=(",", ":"),
                ),
            }
        )
    dmeta = {
        "id": str(uuid.uuid4()),
        "format": {"provider": "parquet", "options": {}},
        "schemaString": plain_schema.json(),
        "partitionColumns": pcols,
        "configuration": {"projectdatalake.sourceFormat": "iceberg"},
        "createdTime": now,
    }
    actions = [
        {"commitInfo": t._commit_info("CONVERT", {"source": ice.root})},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": dmeta},
        *({"add": a} for a in adds),
    ]
    t._publish(0, actions)
    return t


def convert_delta_to_txlog(delta: DeltaTable, dest_root: str, zero_copy: bool = True):
    """Delta → txlog, ZERO-COPY when honest: the txlog create commit's
    add actions carry ``base`` = the Delta table root and reference its
    parquet files in place (the same external-base mechanism txlog
    shallow clones use); per-file min/max stats map across so data
    skipping survives the hop. Refused conditions fall back to a
    materializing snapshot copy: active deletion vectors (txlog's DV
    encoding differs — masked rows would resurrect) and column mapping
    (physical names in files would leak)."""
    from projectdatalake_spark.sources.txlog import TxTable

    spark = delta.spark
    state = delta._state()
    meta = state["metaData"]
    plain = (
        not any(a.get("deletionVector") for a in state["adds"].values())
        and not delta._column_mapping(meta)
    )
    pcols = tuple(meta.get("partitionColumns", []))
    if not (zero_copy and plain):
        return TxTable.create(
            spark, dest_root, delta.snapshot(), partition_by=pcols
        )
    t = TxTable(spark, dest_root)
    if t.history():
        raise ValueError(f"txlog table already exists at {dest_root}")
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    # the full schema INCLUDING identity partition columns: txlog reads
    # pass it explicitly with basePath set, so Spark fills the partition
    # columns from the hive directories (they are not in the files)
    schema_map = {
        f.name: f.dataType.simpleString() for f in schema.fields
    }
    adds = []
    for a in state["adds"].values():
        stats = DeltaTable._parse_stats(a) or {}
        tx_stats = {
            c: {"min": (stats.get("minValues") or {}).get(c),
                "max": (stats.get("maxValues") or {}).get(c)}
            for c in (stats.get("minValues") or {})
        }
        adds.append(
            {
                "path": a["path"],
                "base": delta.root,
                "partition": {
                    c: (a.get("partitionValues") or {}).get(c) for c in pcols
                },
                "size": a.get("size", 0),
                **({"stats": tx_stats} if tx_stats else {}),
            }
        )
    t._publish(
        "create", adds, removes=[],
        partition_by=list(pcols), schema=schema_map,
        source_format="delta", source_root=delta.root,
    )
    return t


def convert_iceberg_to_txlog(ice: IcebergTable, dest_root: str, zero_copy: bool = True):
    """Iceberg → txlog, ZERO-COPY when honest: identity-partitioned (or
    unpartitioned) current-spec tables whose files sit in the standard
    ``data/`` hive layout convert by reference — add actions carry
    ``base`` = the Iceberg data directory; manifest column bounds decode
    into txlog min/max stats so skipping survives. Refused conditions
    (live delete files, non-identity transforms, spec-era files outside
    the hive layout) fall back to a materializing snapshot copy."""
    from projectdatalake_spark.sources.iceberg_interop import (
        _decode_bound,
        _spec_part_fields,
    )
    from projectdatalake_spark.sources.txlog import TxTable

    spark = ice.spark
    meta = ice.metadata()
    entries, deletes = ice._entries_for_snapshot(meta, None)
    spec = next(
        s for s in meta["partition-specs"]
        if s["spec-id"] == meta["default-spec-id"]
    )
    pf = _spec_part_fields(meta, spec)
    pcols = tuple(p["pname"] for p in pf)
    data_base = f"{ice.root}/data"
    std_layout = all(
        e["data_file"]["file_path"].startswith(data_base + "/")
        for e in entries
    )
    if not std_layout and not pf and entries:
        # foreign-referenced files (e.g. this Iceberg table was itself a
        # zero-copy convert): an unpartitioned table needs no hive-dir
        # recovery, so any common ancestor works as the base
        import os as _os

        data_base = _os.path.commonpath(
            [_os.path.dirname(e["data_file"]["file_path"]) for e in entries]
        )
        std_layout = True
    plain = (
        not deletes
        and all(p["transform"] == "identity" for p in pf)
        and {e["_spec_id"] for e in entries} <= {spec["spec-id"]}
        and std_layout
    )
    if not (zero_copy and plain):
        return TxTable.create(
            spark, dest_root, ice.snapshot(),
            partition_by=tuple(p["pname"] for p in pf if p["transform"] == "identity"),
        )
    t = TxTable(spark, dest_root)
    if t.history():
        raise ValueError(f"txlog table already exists at {dest_root}")
    schema = ice._spark_schema(meta)
    schema_map = {
        f.name: f.dataType.simpleString() for f in schema.fields
    }
    ice_fields = next(
        s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
    )["fields"]
    name_of = {f["id"]: f["name"] for f in ice_fields}
    type_of = {f["id"]: f["type"] for f in ice_fields}
    adds = []
    for e in entries:
        d = e["data_file"]
        tx_stats = {}
        lowers = {kv["key"]: kv["value"] for kv in (d.get("lower_bounds") or [])}
        uppers = {kv["key"]: kv["value"] for kv in (d.get("upper_bounds") or [])}
        for fid in set(lowers) | set(uppers):
            tt = type_of.get(fid)
            if not isinstance(tt, str) or fid not in name_of:
                continue
            try:
                from projectdatalake_spark.sources.txlog import _stats_value

                tx_stats[name_of[fid]] = {
                    "min": _stats_value(
                        _decode_bound(lowers[fid], tt)
                    ) if fid in lowers else None,
                    "max": _stats_value(
                        _decode_bound(uppers[fid], tt)
                    ) if fid in uppers else None,
                }
            except Exception:
                continue  # undecodable bound: no stats for this column
        part = d.get("partition") or {}
        adds.append(
            {
                "path": d["file_path"][len(data_base) + 1:],
                "base": data_base,
                "partition": {
                    c: (None if part.get(c) is None else str(part.get(c)))
                    for c in pcols
                },
                "size": d.get("file_size_in_bytes", 0),
                **({"stats": tx_stats} if tx_stats else {}),
            }
        )
    t._publish(
        "create", adds, removes=[],
        partition_by=list(pcols), schema=schema_map,
        source_format="iceberg", source_root=ice.root,
    )
    return t
