"""Apache Iceberg table interop — write and read Iceberg v2 metadata
without iceberg jars, from the PUBLIC table-format specification
(iceberg.apache.org/spec/).

The metadata layer is implemented from first principles:

- ``metadata/v{N}.metadata.json`` + ``version-hint.text`` (the
  HadoopTables / file-system catalog layout);
- snapshots → **manifest list** (Avro) → **manifest files** (Avro) →
  parquet data files, with partition tuples recorded per entry;
- Avro object-container encoding comes from the sibling
  ``avro_codec.py``, which is cross-validated in both directions against
  the REAL Apache Avro implementation on Spark's JVM classpath
  (tests/test_avro_codec.py) — so the manifest bytes this module writes
  are readable by the exact library Iceberg itself links against.

Scope (documented, spec-honest):

- format-version 2, parquet data files, append / dynamic-overwrite
  snapshots, snapshot time travel;
- partition transforms: identity, ``bucket[N]`` (murmur3 per spec
  Appendix B, vector-tested), ``truncate[W]`` (int/long/string), and
  ``year``/``month``/``day``/``hour`` — non-identity source columns stay
  in the data files (the spec's storage contract) and equality
  predicates prune through the transform at planning time;
- column upper/lower bounds in manifests are omitted (optional per
  spec); partition pruning works off the partition tuples;
- the commit protocol is the optimistic file-system-catalog one:
  exclusive create of the next ``v{N}.metadata.json``, then
  ``version-hint.text`` advances; losers retry against the new tip.

Identity-partition columns are restored as typed constants from manifest
partition tuples on read (the spec's "identity partition values as
constants" rule — the same mechanism Iceberg uses for hive-migrated
files), so data files written via hive layout need no rewrite.

Reference parity: engine-added surface (the reference has no table
format; SURVEY.md §2.2's partitioned sink is its ceiling) — this is the
Iceberg half of BASELINE.json's "Delta/Iceberg sinks" north star.
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructField, StructType

from projectdatalake_spark.session import local_frame
from projectdatalake_spark.sources import atomic as _atomic
from projectdatalake_spark.sources import deletion_vectors as _dv
from projectdatalake_spark.sources import footer_stats as _fs
from projectdatalake_spark.sources import puffin as _puffin
from projectdatalake_spark.sources import table_stats as _stats
from projectdatalake_spark.sources.avro_codec import read_container, write_container

_SPARK_TO_ICEBERG = {
    "integer": "int",
    "long": "long",
    "short": "int",
    "byte": "int",
    "float": "float",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
    "binary": "binary",
}

_ICEBERG_TO_AVRO = {
    "int": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
    "date": {"type": "int", "logicalType": "date"},
}


class IcebergCommitConflict(Exception):
    pass


class IcebergProtocolError(Exception):
    pass


class _Unchanged(Exception):
    """Raised by a metadata mutator whose precondition shows, on that
    attempt's metadata, that there is nothing to commit: no version is
    written and ``_commit_metadata`` returns ``value``."""

    def __init__(self, value=None):
        super().__init__(value)
        self.value = value


def _iceberg_schema(schema: StructType) -> list[dict]:
    fields = []
    for i, f in enumerate(schema.fields, start=1):
        t = _SPARK_TO_ICEBERG.get(f.dataType.typeName())
        if t is None:
            if f.dataType.typeName() == "decimal":
                t = f"decimal({f.dataType.precision}, {f.dataType.scale})"
            else:
                raise IcebergProtocolError(
                    f"unsupported type for iceberg export: {f.dataType.simpleString()}"
                )
        fields.append({"id": i, "name": f.name, "required": False, "type": t})
    return fields


# --- Avro schemas for the metadata tree (field shapes per the v2 spec;
# field-id attributes are carried so strict readers can project by id) ---


def _manifest_list_schema() -> dict:
    def opt(name, typ, fid):
        return {"name": name, "type": ["null", typ], "default": None, "field-id": fid}

    def req(name, typ, fid):
        return {"name": name, "type": typ, "field-id": fid}

    return {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            req("manifest_path", "string", 500),
            req("manifest_length", "long", 501),
            req("partition_spec_id", "int", 502),
            req("content", "int", 517),
            req("sequence_number", "long", 515),
            req("min_sequence_number", "long", 516),
            req("added_snapshot_id", "long", 503),
            req("added_files_count", "int", 504),
            req("existing_files_count", "int", 505),
            req("deleted_files_count", "int", 506),
            req("added_rows_count", "long", 512),
            req("existing_rows_count", "long", 513),
            req("deleted_rows_count", "long", 514),
            # v3 row lineage: the first row id assigned to this manifest's
            # added data files (spec: data files with a null first_row_id
            # inherit by accumulating record_count in entry order)
            opt("first_row_id", "long", 520),
            opt(
                "partitions",
                {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "r508",
                        "fields": [
                            {"name": "contains_null", "type": "boolean", "field-id": 509},
                            {
                                "name": "contains_nan",
                                "type": ["null", "boolean"],
                                "default": None,
                                "field-id": 518,
                            },
                            {
                                "name": "lower_bound",
                                "type": ["null", "bytes"],
                                "default": None,
                                "field-id": 510,
                            },
                            {
                                "name": "upper_bound",
                                "type": ["null", "bytes"],
                                "default": None,
                                "field-id": 511,
                            },
                        ],
                    },
                },
                507,
            ),
        ],
    }


def _partition_record_schema(part_fields: list[tuple[str, str]]) -> dict:
    """Avro record for the partition tuple (identity transforms: the
    source column's type)."""
    fields = []
    for i, (name, ice_type) in enumerate(part_fields):
        avro_t = _ICEBERG_TO_AVRO.get(ice_type)
        if avro_t is None:
            raise IcebergProtocolError(
                f"unsupported identity partition type {ice_type!r}"
            )
        fields.append(
            {
                "name": name,
                "type": ["null", avro_t],
                "default": None,
                "field-id": 1000 + i,
            }
        )
    return {"type": "record", "name": "r102", "fields": fields}


def _manifest_entry_schema(part_schema: dict) -> dict:
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {
                "name": "snapshot_id",
                "type": ["null", "long"],
                "default": None,
                "field-id": 1,
            },
            {
                "name": "sequence_number",
                "type": ["null", "long"],
                "default": None,
                "field-id": 3,
            },
            {
                "name": "file_sequence_number",
                "type": ["null", "long"],
                "default": None,
                "field-id": 4,
            },
            {
                "name": "data_file",
                "field-id": 2,
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int", "field-id": 134},
                        {"name": "file_path", "type": "string", "field-id": 100},
                        {"name": "file_format", "type": "string", "field-id": 101},
                        {"name": "partition", "type": part_schema, "field-id": 102},
                        {"name": "record_count", "type": "long", "field-id": 103},
                        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
                        {
                            "name": "lower_bounds",
                            "type": ["null", _bounds_map_schema("k126_v127", 126, 127)],
                            "default": None,
                            "field-id": 125,
                        },
                        {
                            "name": "upper_bounds",
                            "type": ["null", _bounds_map_schema("k129_v130", 129, 130)],
                            "default": None,
                            "field-id": 128,
                        },
                        {
                            "name": "equality_ids",
                            "type": [
                                "null",
                                {"type": "array", "items": "int", "element-id": 136},
                            ],
                            "default": None,
                            "field-id": 135,
                        },
                        # v3 row lineage: explicit assignment (carried
                        # EXISTING files keep theirs); null = inherit from
                        # the manifest's first_row_id by accumulation
                        {
                            "name": "first_row_id",
                            "type": ["null", "long"],
                            "default": None,
                            "field-id": 142,
                        },
                        # v3 deletion vectors: a content=1 entry whose
                        # file_format is PUFFIN masks exactly ONE data
                        # file (field 143) via the DV blob at
                        # [content_offset, +content_size) in the puffin
                        {
                            "name": "referenced_data_file",
                            "type": ["null", "string"],
                            "default": None,
                            "field-id": 143,
                        },
                        {
                            "name": "content_offset",
                            "type": ["null", "long"],
                            "default": None,
                            "field-id": 144,
                        },
                        {
                            "name": "content_size_in_bytes",
                            "type": ["null", "long"],
                            "default": None,
                            "field-id": 145,
                        },
                    ],
                },
            },
        ],
    }


def _bounds_map_schema(rec_name: str, key_id: int, value_id: int) -> dict:
    """Iceberg's map<int, binary> bounds columns: Avro's non-string-key
    map convention — an array of key/value records with logicalType map."""
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": rec_name,
            "fields": [
                {"name": "key", "type": "int", "field-id": key_id},
                {"name": "value", "type": "bytes", "field-id": value_id},
            ],
        },
    }


def _decimal_params_i(t: str) -> tuple[int, int] | None:
    """(precision, scale) when the Iceberg type string spells a decimal
    (``decimal(P, S)``, space-tolerant), else None."""
    import re

    m = re.fullmatch(r"decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)", t.strip())
    return (int(m.group(1)), int(m.group(2))) if m else None


def _encode_bound(value, ice_type: str) -> bytes | None:
    """Iceberg single-value binary serialization (spec Appendix D):
    little-endian fixed-width numerics, UTF-8 strings, date as LE int
    days, decimal as the unscaled value in minimal-length two's-
    complement BIG-endian bytes. Types outside this set return None
    (bound omitted)."""
    import datetime
    import struct as _struct

    if value is None:
        return None
    dec = _decimal_params_i(ice_type) if ice_type.startswith("decimal") else None
    if dec is not None:
        import decimal as _dec

        # minimal two's-complement length keeps the encoding precision-
        # independent: promote_column(decimal(P,S) → decimal(P',S))
        # leaves every stored bound byte-valid (length-aware decode)
        unscaled = int(
            _dec.Decimal(value).scaleb(dec[1]).to_integral_value(
                rounding=_dec.ROUND_HALF_EVEN
            )
        )
        # MINIMAL signed length (spec Appendix D: "minimum number of
        # bytes"). A non-negative n needs bit_length+1 bits (leading
        # sign 0); a negative n needs the smallest k with
        # n >= -2^(8k-1), i.e. (n+1).bit_length()+1 bits — the +1 shift
        # makes exact powers -2^(8k-1) (e.g. -128 → 0x80) land on k
        # bytes instead of spilling a redundant 0xFF (ADVICE r11: the
        # old ceil((bit_length+8)/8) emitted 0xFF80 for -128)
        bl = unscaled.bit_length() if unscaled >= 0 else (
            unscaled + 1
        ).bit_length()
        nbytes = bl // 8 + 1
        return unscaled.to_bytes(nbytes, "big", signed=True)
    if ice_type == "int":
        return _struct.pack("<i", int(value))
    if ice_type == "long":
        return _struct.pack("<q", int(value))
    if ice_type == "float":
        return _struct.pack("<f", float(value))
    if ice_type == "double":
        return _struct.pack("<d", float(value))
    if ice_type == "boolean":
        return b"\x01" if value else b"\x00"
    if ice_type == "string":
        return str(value).encode("utf-8")
    if ice_type == "date":
        if isinstance(value, datetime.date):
            return _struct.pack("<i", (value - datetime.date(1970, 1, 1)).days)
    if ice_type in ("timestamp", "timestamptz"):
        if isinstance(value, datetime.datetime):
            epoch = datetime.datetime(
                1970, 1, 1, tzinfo=value.tzinfo if value.tzinfo else None
            )
            return _struct.pack("<q", int((value - epoch).total_seconds() * 1_000_000))
    return None


def _decode_bound(data: bytes, ice_type: str):
    import struct as _struct

    if data is None:
        return None
    # int/long and float/double decode LENGTH-aware: after a type
    # promotion (int->long, float->double) old manifests still carry
    # 4-byte bounds under the narrow type they were written at — the
    # spec's id-based evolution keeps them valid, readers promote
    if ice_type in ("int", "long"):
        return _struct.unpack("<i" if len(data) == 4 else "<q", data)[0]
    if ice_type in ("float", "double"):
        return _struct.unpack("<f" if len(data) == 4 else "<d", data)[0]
    if ice_type == "boolean":
        return data == b"\x01"
    if ice_type == "string":
        return data.decode("utf-8")
    dec = _decimal_params_i(ice_type) if ice_type.startswith("decimal") else None
    if dec is not None:
        import decimal as _dec

        # length-aware by construction (minimal two's-complement): bounds
        # written under decimal(P,S) stay valid after promotion to
        # decimal(P',S) — same scale, same unscaled integer
        return _dec.Decimal(
            int.from_bytes(data, "big", signed=True)
        ).scaleb(-dec[1])
    return None


# --- partition transforms (spec "Partition Transforms"; bucket hashing
# per Appendix B, spec-vector-tested in functions/murmur3.py) ---

_DATE_TRANSFORMS = ("year", "month", "day", "hour")

# Iceberg v3 reserved field id for the materialized `_row_id` metadata
# column (spec "Reserved Field IDs" / "Row Lineage": rewrites preserve
# lineage by writing _row_id explicitly into the new data files; rows
# with a null value fall back to first_row_id + position)
_ROW_ID_FIELD_ID = 2147483546
_ROW_ID_COL = "_row_id"

# metadata-log entries kept (Iceberg's default for
# ``write.metadata.previous-versions-max``)
_METADATA_LOG_MAX = 100


def _new_snapshot_id() -> int:
    return uuid.uuid4().int % (1 << 62)


def _current_schema(meta: dict) -> dict:
    return next(s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"])


def _stamp_dv_v2_embedded(meta: dict) -> None:
    """Metadata mutator recording, in the same commit as a DV delete,
    that v3 deletion vectors sit under a v2 declaration (see
    ``IcebergTable.delete_where_dv``), visible to any metadata auditor."""
    meta["properties"] = {
        **(meta.get("properties") or {}),
        "deletion-vectors.v2-embedded": "true",
    }


def _partition_summaries(
    entries: list[dict], part_fields: list[tuple[str, str]]
) -> list[dict] | None:
    """Manifest-list ``partitions`` field summaries (spec field_summary):
    per partition field, contains_null + encoded [lower, upper] bounds
    over the manifest's entries — what lets scan planning skip a whole
    manifest before opening its Avro."""
    if not part_fields:
        return None
    out = []
    for pname, rtype in part_fields:
        vals = [
            (e["data_file"].get("partition") or {}).get(pname)
            for e in entries
        ]
        nn = [v for v in vals if v is not None]
        lo = hi = None
        if nn:
            try:
                lo = _encode_bound(min(nn), rtype)
                hi = _encode_bound(max(nn), rtype)
            except Exception:
                lo = hi = None  # unencodable type: no bounds, never skip
        out.append(
            {
                "contains_null": any(v is None for v in vals),
                "contains_nan": False,
                "lower_bound": lo,
                "upper_bound": hi,
            }
        )
    return out


def _parse_partition_by(
    entries: tuple[str, ...], by_name: dict[str, dict]
) -> list[dict]:
    """Spec fields from DDL-ish ``partition_by`` entries: a bare column
    name = identity; ``bucket(N, col)`` / ``truncate(W, col)`` /
    ``year(col)`` / ``month(col)`` / ``day(col)`` / ``hour(col)`` = the
    spec's non-identity transforms. Partition field names follow the
    Java implementation's convention (``col_bucket``, ``col_trunc``,
    ``col_year``, ...)."""
    import re

    out = []
    for i, raw in enumerate(entries):
        e = raw.strip()
        m = re.fullmatch(r"(bucket|truncate)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)", e)
        d = re.fullmatch(r"(year|month|day|hour)\s*\(\s*(\w+)\s*\)", e)
        if m:
            kind, param, col = m.group(1), int(m.group(2)), m.group(3)
            if param <= 0:
                raise IcebergProtocolError(f"{kind} parameter must be > 0: {raw!r}")
            transform = f"{kind}[{param}]"
            pname = f"{col}_{'bucket' if kind == 'bucket' else 'trunc'}"
        elif d:
            kind, col = d.group(1), d.group(2)
            transform, pname = kind, f"{col}_{kind}"
        else:
            if not re.fullmatch(r"\w+", e):
                raise IcebergProtocolError(f"unsupported partition transform: {raw!r}")
            transform, col, pname = "identity", e, e
        if col not in by_name:
            raise IcebergProtocolError(f"partition source column not in schema: {col!r}")
        src_type = by_name[col]["type"]
        _result_type(transform, src_type, raw)  # validates the combination
        out.append(
            {
                "name": pname,
                "transform": transform,
                "source-id": by_name[col]["id"],
                "field-id": 1000 + i,
            }
        )
    return out


def _result_type(transform: str, src_type: str, label: str = "") -> str:
    """Transform result type per the spec's transform table. Raises for
    source types a transform does not accept (never silently hashes an
    unsupported representation)."""
    if transform == "identity":
        return src_type
    if transform.startswith("bucket["):
        if src_type in ("int", "long", "date", "timestamp", "timestamptz", "string"):
            return "int"
        raise IcebergProtocolError(
            f"bucket over {src_type!r} not supported ({label or transform})"
        )
    if transform.startswith("truncate["):
        if src_type in ("int", "long", "string"):
            return src_type
        raise IcebergProtocolError(
            f"truncate over {src_type!r} not supported ({label or transform})"
        )
    if transform in _DATE_TRANSFORMS:
        ok = ("date", "timestamp", "timestamptz")
        if transform == "hour":
            ok = ("timestamp", "timestamptz")
        if src_type in ok:
            return "int"
        raise IcebergProtocolError(
            f"{transform} over {src_type!r} not supported ({label or transform})"
        )
    raise IcebergProtocolError(f"unknown partition transform {transform!r}")


def _spec_part_fields(meta: dict, spec: dict) -> list[dict]:
    """Resolved view of the current spec: each field as {pname, source,
    transform, src_type, result_type} with the source column looked up
    by SOURCE-ID (names are mutable; ids are not)."""
    ice_fields = _current_schema(meta)["fields"]
    by_id = {f["id"]: f for f in ice_fields}
    out = []
    for f in spec["fields"]:
        src = by_id.get(f["source-id"])
        if src is None:
            raise IcebergProtocolError(
                f"partition source id {f['source-id']} not in current schema"
            )
        out.append(
            {
                "pname": f["name"],
                "source": src["name"],
                "transform": f.get("transform", "identity"),
                "src_type": src["type"],
                "result_type": _result_type(f.get("transform", "identity"), src["type"]),
            }
        )
    return out


# a URI's scheme and authority, as ``atomic.path_only`` drops them
_SCHEME_AUTHORITY = "^[A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?"


def _file_path_raw(col):
    """``_metadata.file_path`` as a RAW filesystem path (executor-side):
    strip the scheme and authority (manifests record paths without them,
    ``atomic.path_only``), then percent-decode — the URI form is
    percent-encoded (space-valued hive partitions arrive as %20) while
    manifests record raw paths, and the spec requires position-delete
    file_path values to EQUAL the manifest form. ``url_decode`` is
    form-decoding ('+' → space), so literal '+' is protected to %2B
    first (URI path encoding never emits a bare '+' for a space)."""
    c = col if not isinstance(col, str) else F.col(col)
    return F.url_decode(
        F.regexp_replace(
            F.regexp_replace(c, _SCHEME_AUTHORITY, ""),
            r"\+",
            "%2B",
        )
    )


def _raw_ddl_type(values: list) -> str:
    """DDL type holding the decoded Avro partition values of one column
    (int/long → bigint, float/double → double); the scan casts it to the
    column type exactly as a literal of that value would be cast."""
    for v in values:
        if isinstance(v, bool):
            return "boolean"
        if isinstance(v, int):
            return "bigint"
        if isinstance(v, float):
            return "double"
        if v is not None:
            return "string"
    return "string"


def _normalize_stored_delete_paths(spark, deletes_df, live_paths, pos_col="pos"):
    """Stored position-delete ``file_path`` values, normalized to the RAW
    manifest form for comparison against the data side; returns a
    (``file_path``, ``pos_col``) frame and whether legacy rows were found.
    ``live_paths=None`` skips the probe: the caller already knows every
    stored path is raw.

    ``delete_where`` writes them ALREADY in raw form (spec: the value must
    equal the manifest entry), so the stored value is compared VERBATIM
    (scheme and authority stripped only, never decoded): a raw path whose
    hive-escaped partition dir contains %XX (':' → %3A, '%' → %25, '#' → %23 — e.g.
    timestamp-valued partitions) would decode a SECOND time and silently
    stop matching — deleted rows would resurrect on read and
    rewrite_position_deletes would drop their pairs as dangling. Only the
    ``_metadata.file_path`` (URI) side is ever decoded, per
    atomic.uri_to_path's invariant.

    Legacy rows written in percent-ENCODED URI form (external writers that
    encode) fall back to the decoded form ONLY when the verbatim form
    matches no live data file: ``live_paths`` is the snapshot's
    manifest-form data path list — metadata-scale, already driver-resident
    at every call site, joined as a broadcast.

    Two-phase for plan quality: the common case (every stored path
    matches a live file verbatim — all tables this writer produced)
    returns the PLAIN parquet-scan-shaped frame, so the downstream MOR
    anti-join plans against the delete files alone, with no extra join
    or decode in front of it. The legacy probe is one bounded job over
    the DELETE files only — O(delete bytes), never the data side."""
    verbatim = F.regexp_replace(F.col("file_path"), _SCHEME_AUTHORITY, "")
    verbatim_df = deletes_df.select(
        verbatim.alias("file_path"), F.col(pos_col)
    )
    if live_paths is None:
        return verbatim_df, False
    live_df = local_frame(
        spark,
        [(p,) for p in sorted({_atomic.path_only(p) for p in live_paths})],
        "__lp string",
    )
    legacy = (
        verbatim_df.join(
            F.broadcast(live_df),
            F.col("file_path") == F.col("__lp"),
            "left_anti",
        )
        .limit(1)
        .count()
    )
    if not legacy:
        return verbatim_df, False
    return (
        verbatim_df.select(F.col("file_path").alias("__fpv"), F.col(pos_col))
        .join(F.broadcast(live_df), F.col("__fpv") == F.col("__lp"), "left")
        .select(
            F.when(F.col("__lp").isNotNull(), F.col("__fpv"))
            .otherwise(
                F.url_decode(F.regexp_replace(F.col("__fpv"), r"\+", "%2B"))
            )
            .alias("file_path"),
            pos_col,
        )
    ), True


def _ntz_epoch_micros(col):
    """Naive-UTC epoch micros of a TIMESTAMP_NTZ column, computed purely
    from its (timezone-free) wall-clock fields — a cast to TIMESTAMP would
    re-interpret the wall in the SESSION timezone and shift the value."""
    day = F.datediff(F.to_date(col), F.lit("1970-01-01").cast("date")).cast("long")
    sec = F.date_part(F.lit("SECOND"), col)  # decimal, microsecond fraction
    return (
        day * F.lit(86_400_000_000)
        + F.hour(col).cast("long") * F.lit(3_600_000_000)
        + F.minute(col).cast("long") * F.lit(60_000_000)
        + (sec * F.lit(1_000_000)).cast("long")
    )


def _transform_expr(transform: str, source: str, src_type: str):
    """Spark Column computing ``transform(source)`` — expression-only for
    everything except bucket, which is an Arrow-batched pandas UDF over
    the numpy-vectorized murmur3 (per-batch column math, no per-row
    Python).

    Timezone contract: every temporal path here is SESSION-TIMEZONE
    INDEPENDENT (``_transform_py`` prunes assuming naive-UTC, and
    IcebergTable accepts any SparkSession, not just the project factory's
    UTC-pinned one). NTZ sources use their wall clock directly; LTZ
    (timestamptz) sources decompose the epoch instant in the UTC calendar
    via integer math, never via F.year/to_date rendering."""
    col = F.col(source)
    if transform == "identity":
        return col
    if transform.startswith("truncate["):
        w = int(transform[len("truncate[") : -1])
        if src_type == "string":
            return F.substring(col, 1, w)
        # floor-to-multiple for ints: v - (((v % W) + W) % W), via pmod
        return (col - F.pmod(col, F.lit(w))).cast(
            "int" if src_type == "int" else "long"
        )
    if transform in ("year", "month", "day", "hour"):
        if src_type == "timestamptz":
            # LTZ holds an instant; floor-divide micros for day/hour and
            # rebase through DATE (calendar ops on DATE are tz-free)
            micros = F.unix_micros(col)
            epoch_day = F.floor(micros / F.lit(86_400_000_000)).cast("int")
            if transform == "hour":
                return F.floor(micros / F.lit(3_600_000_000)).cast("int")
            if transform == "day":
                return epoch_day
            utc_date = F.date_add(F.lit("1970-01-01").cast("date"), epoch_day)
            if transform == "year":
                return (F.year(utc_date) - F.lit(1970)).cast("int")
            return (
                (F.year(utc_date) - F.lit(1970)) * 12 + F.month(utc_date) - 1
            ).cast("int")
        # date / timestamp_ntz: wall-clock calendar fields are tz-free
        if transform == "year":
            return (F.year(col) - F.lit(1970)).cast("int")
        if transform == "month":
            return ((F.year(col) - F.lit(1970)) * 12 + F.month(col) - 1).cast("int")
        if transform == "day":
            return F.datediff(
                F.to_date(col), F.lit("1970-01-01").cast("date")
            ).cast("int")
        return (
            F.datediff(F.to_date(col), F.lit("1970-01-01").cast("date")) * 24
            + F.hour(col)
        ).cast("int")
    if transform.startswith("bucket["):
        n = int(transform[len("bucket[") : -1])
        if src_type == "string":
            return _bucket_udf_string(n)(col)
        if src_type == "date":
            as_long = F.datediff(col, F.lit("1970-01-01").cast("date")).cast("long")
        elif src_type == "timestamp":  # NTZ: naive-UTC by convention
            as_long = _ntz_epoch_micros(col)
        elif src_type == "timestamptz":
            as_long = F.unix_micros(col)  # an instant — tz plays no part
        else:  # int / long hash as their LONG value per spec
            as_long = col.cast("long")
        # keep nulls OUT of the UDF batch: an int64 Arrow batch containing
        # nulls materializes as a float64 pandas Series, silently rounding
        # |v| > 2^53 before the hash — rows would land in (and prune from)
        # the wrong bucket. Coalesce JVM-side, restore null JVM-side.
        return F.when(
            as_long.isNotNull(),
            _bucket_udf_long(n)(F.coalesce(as_long, F.lit(0).cast("long"))),
        )
    raise IcebergProtocolError(f"unknown partition transform {transform!r}")


def _bucket_udf_long(n: int):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _bucket(s):
        import numpy as np

        from projectdatalake_spark.functions.murmur3 import mmh3_long_np

        mask = s.isna()
        # a long batch WITH nulls arrives as float64 — fillna then a direct
        # int64 cast would round-trip through float and corrupt |v| > 2^53;
        # the nullable Int64 path keeps full 64-bit precision
        vals = s.astype("Int64").fillna(0).to_numpy(dtype="int64")
        h = mmh3_long_np(vals).astype(np.int64)
        out = pd.Series((h & 0x7FFFFFFF) % n, dtype="Int32")
        out[mask.to_numpy()] = None
        return out

    # real annotation objects (the module's `from __future__ import
    # annotations` would stringify inline hints beyond pyspark's resolver)
    _bucket.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_bucket, "int")


def _bucket_udf_string(n: int):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _bucket(s):
        from projectdatalake_spark.functions.murmur3 import bucket_of_bytes

        return pd.Series(
            [
                None if v is None else bucket_of_bytes(str(v).encode("utf-8"), n)
                for v in s
            ],
            dtype="Int32",
        )

    _bucket.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_bucket, "int")


def _transform_py(transform: str, value, src_type: str):
    """Driver-side twin of ``_transform_expr`` for metadata pruning:
    maps a PREDICATE value on the source column to partition-tuple
    space. Accepts datetime.date/datetime for temporal sources."""
    import datetime

    from projectdatalake_spark.functions.murmur3 import (
        bucket_of_bytes,
        bucket_of_long,
    )

    if value is None:
        return None
    if transform == "identity":
        return value
    if transform.startswith("truncate["):
        w = int(transform[len("truncate[") : -1])
        if src_type == "string":
            return str(value)[:w]
        v = int(value)
        return v - v % w  # Python % is floor-mod, matching the spec's floor
    if transform in _DATE_TRANSFORMS:
        d = value
        if transform == "year":
            return d.year - 1970
        if transform == "month":
            return (d.year - 1970) * 12 + d.month - 1
        if transform == "day":
            base = d.date() if isinstance(d, datetime.datetime) else d
            return (base - datetime.date(1970, 1, 1)).days
        # hour: naive datetimes are session-UTC by convention
        ts = d if d.tzinfo else d.replace(tzinfo=datetime.timezone.utc)
        return int(ts.timestamp()) // 3600
    if transform.startswith("bucket["):
        n = int(transform[len("bucket[") : -1])
        if src_type == "string":
            return bucket_of_bytes(str(value).encode("utf-8"), n)
        if src_type == "date":
            return bucket_of_long((value - datetime.date(1970, 1, 1)).days, n)
        if src_type in ("timestamp", "timestamptz"):
            ts = value if value.tzinfo else value.replace(tzinfo=datetime.timezone.utc)
            return bucket_of_long(int(ts.timestamp() * 1_000_000), n)
        return bucket_of_long(int(value), n)
    raise IcebergProtocolError(f"unknown partition transform {transform!r}")


def ndv_semi_reduce_join(
    fact: DataFrame,
    dim_table,  # duck-typed: anything exposing ndv(col) + snapshot()
    key: str,
    how: str = "inner",
    key_bytes: int = 16,
    max_broadcast_bytes: int = 8 << 20,
) -> DataFrame:
    """NDV-informed SEMI-JOIN REDUCTION — the first CBO-style consumer of
    puffin table stats: when the dim's registered NDV(key) says its
    DISTINCT-KEY set fits a broadcast (``ndv × key_bytes ≤
    max_broadcast_bytes``), the fact side is pre-filtered by a broadcast
    left-semi join on those keys before the main join. Row counts alone
    can never make this call: a dim over the broadcast threshold plans as
    a shuffle join and nothing prunes the fact scan — but a low NDV means
    the key set itself is tiny even when the table is not, and the semi
    filter drops every fact row the join would discard BEFORE the
    shuffle. Semantically a no-op (inner/semi joins discard those rows
    anyway); plan-asserted in tests/test_iceberg_interop.py.

    100 TB: this is the shape engines call IN-filter / bloom pushdown —
    the dominant cost in a fact-dim join is shuffling fact rows that
    match nothing; NDV is the statistic that licenses removing them
    cheaply."""
    if how not in ("inner", "left_semi", "semi"):
        raise ValueError(
            "semi reduction only preserves semantics for inner/semi joins"
        )
    dim = dim_table.snapshot()
    nd = dim_table.ndv(key)
    if nd is not None and nd * key_bytes <= max_broadcast_bytes:
        fact = fact.join(
            F.broadcast(dim.select(key).distinct()), key, "left_semi"
        )
    if how in ("left_semi", "semi"):
        return fact.join(dim.select(key).distinct(), key, "left_semi")
    return fact.join(dim, key, how)


def ndv_informed_star_join(
    fact: DataFrame,
    fact_stats,  # duck-typed: ndv(col) — the fact table's stats source
    dims: list[tuple],  # [(dim_table, key[, how])], how ∈ inner|left|left_semi
    key_bytes: int = 16,
    max_broadcast_bytes: int = 8 << 20,
    assume_unique_keys: bool = True,
) -> DataFrame:
    """NDV-informed MULTI-JOIN PLANNING over a star — the second
    CBO-style stats consumer: given a fact and several inner-join dims,
    stored NDVs (puffin / txlog set_stats / Delta domainMetadata — any
    table exposing ``ndv()``) pick BOTH the join ORDER and the physical
    strategy per dim, decisions Catalyst cannot make without CBO
    statistics (it keeps the user's syntactic join order and, with row
    counts unknown or over threshold, shuffles everything):

    - estimated selectivity of the dim-``key`` inner join is
      ``min(1, ndv_dim(key) / ndv_fact(key))`` — under uniformity, the
      fraction of fact rows whose key survives. Joins apply ASCENDING
      (most reducing first) so every later, more expensive join sees the
      smallest possible fact side. Unknown NDVs rank last at 1.0.
    - a dim whose ``ndv × key_bytes`` clears the broadcast budget gets
      the ``ndv_semi_reduce_join`` treatment: broadcast left-semi fact
      reduction on its distinct keys, then a broadcast hash join —
      a LARGE dim with a LOW-NDV key still qualifies (row counts alone
      would shuffle it). Others join plain (shuffle, but over the
      already-reduced fact).
    - ``assume_unique_keys`` (the standard star contract: dim keys are
      primary keys, so NDV == row count and NDV licensing the key-set
      broadcast licenses the dim broadcast too) additionally broadcasts
      the dim itself. Pass False for dims with duplicate keys — the
      semi-reduction still broadcasts (its size IS the NDV), but the
      main join stays a shuffle because NDV says nothing about the
      dim's row count then.

    OUTER/SEMI variants (per-dim ``how``, default inner): join TYPE
    changes which rewrites are SOUND, and the planner refuses the
    unsound ones instead of applying them blindly —

    - ``left`` (left-outer enrichment): the fact keeps every row, so
      the key-set SEMI-REDUCTION IS REFUSED for that dim (it would drop
      exactly the null-extended rows the outer join exists to keep);
      the dim itself still broadcasts when unique keys + NDV budget
      allow (broadcasting the BUILD side of a left-outer join is sound
      — only the probe/fact side may not be). Left joins never reduce
      the fact, so they rank AFTER every reducing join regardless of
      NDV: they run over the smallest fact the inner/semi tier leaves.
    - ``left_semi``: the reduction IS the join — one broadcast (budget
      permitting) key-set semi, ranked with the inner tier.
    - joins on distinct fact keys with disjoint dim columns commute
      across these types (a left join only APPENDS columns; inner/semi
      only FILTER rows), so the reorder stays semantics-free — the
      outer variant is oracle-proven by `star_ndv_outer_join`.

    Inner joins commute, so reordering is semantically a no-op —
    oracle-proven by `star_ndv_join_ordering`; the order/strategy choices
    (including the refused outer reduction) are plan-asserted in
    tests/test_iceberg_interop.py.

    100 TB: join order is THE lever on a star — shuffling the fact once
    at full width and once at 10% width differ by ~2× of total bytes;
    stats make the choice O(metadata)."""
    _HOWS = {"inner", "left", "left_semi"}
    ranked = []
    for pos, d in enumerate(dims):
        dim_table, key, how = d if len(d) == 3 else (*d, "inner")
        how = {"left_outer": "left", "semi": "left_semi"}.get(how, how)
        if how not in _HOWS:
            raise ValueError(
                f"ndv_informed_star_join: unsupported join type {how!r} "
                f"(supported: {sorted(_HOWS)})"
            )
        nd_dim = dim_table.ndv(key)
        nd_fact = fact_stats.ndv(key) if fact_stats is not None else None
        if nd_dim is None or nd_fact is None or nd_fact == 0:
            sel = 1.0  # unverifiable → assume no reduction, rank last
        else:
            sel = min(1.0, nd_dim / nd_fact)
        # tier 0: fact-reducing joins, ascending selectivity; tier 1:
        # left-outer enrichments (never reduce — always after)
        tier = 1 if how == "left" else 0
        ranked.append((tier, sel, pos, dim_table, key, how, nd_dim))
    ranked.sort(key=lambda t: (t[0], t[1], t[2]))  # pos: deterministic ties
    out = fact
    for _tier, sel, _pos, dim_table, key, how, nd_dim in ranked:
        dim = dim_table.snapshot()
        fits = nd_dim is not None and nd_dim * key_bytes <= max_broadcast_bytes
        if how == "left":
            # NO semi-reduction (unsound — see docstring); broadcast the
            # dim when the unique-key contract makes NDV its row count
            out = out.join(
                F.broadcast(dim) if (fits and assume_unique_keys) else dim,
                key, "left",
            )
        elif how == "left_semi":
            keys = dim.select(key).distinct()
            out = out.join(
                F.broadcast(keys) if fits else keys, key, "left_semi"
            )
        elif fits:
            out = out.join(
                F.broadcast(dim.select(key).distinct()), key, "left_semi"
            )
            out = out.join(
                F.broadcast(dim) if assume_unique_keys else dim, key, "inner"
            )
        else:
            out = out.join(dim, key, "inner")
    return out


class IcebergTable:
    """An Iceberg v2 table under ``root`` (filesystem-catalog layout:
    ``metadata/`` + ``version-hint.text``)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        # position-delete files known to store raw manifest-form paths
        # (written by this object, or probed once): delete files are
        # immutable, so the verdict holds for the object's life
        self._raw_form_deletes: set[str] = set()
        # Iceberg resolves columns by FIELD ID, not name — that is what
        # makes its schema evolution (rename/add/drop) metadata-only.
        # Spark's parquet reader/writer support exactly this: ids travel
        # in the parquet schema and reads match on them when the read
        # schema carries parquet.field.id metadata.
        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

    # --- metadata discovery ----------------------------------------------

    def current_metadata_version(self) -> int:
        hint = f"{self.root}/metadata/version-hint.text"
        # The hint is advisory and may be observed mid-overwrite by a racing
        # writer (filesystems without atomic replace truncate-then-write).
        # A torn read must degrade to the authoritative directory scan, not
        # crash the reader with a bare int() ValueError.
        for attempt in range(5):
            try:
                raw = _atomic.read_bytes(self.spark, hint).decode().strip()
            except FileNotFoundError:
                break
            except Exception:
                raw = ""
            if raw.isdigit():
                v = int(raw)
                # the hint may be STALE (two racing winners' hint writes can
                # land out of order) — walk forward to the true tip; each
                # probe is one exists() call and almost always misses
                while _atomic.exists(
                    self.spark, f"{self.root}/metadata/v{v + 1}.metadata.json"
                ):
                    v += 1
                return v
            _atomic.backoff_sleep(attempt)
        # hint missing (crash window) or torn (racing overwrite): scan for
        # the highest v*.metadata.json — always correct, O(#versions) names
        best = -1
        for name in _atomic.list_dir(self.spark, f"{self.root}/metadata"):
            if name.startswith("v") and name.endswith(".metadata.json"):
                stem = name[1 : -len(".metadata.json")]
                if stem.isdigit():
                    best = max(best, int(stem))
        if best < 0:
            raise FileNotFoundError(f"not an Iceberg table: {self.root}")
        return best

    def metadata(self, version: int | None = None) -> dict:
        v = self.current_metadata_version() if version is None else version
        p = f"{self.root}/metadata/v{v}.metadata.json"
        # exclusive create makes the file VISIBLE before its bytes land, so
        # a racing reader (walk-forward probe, crash-window scan, commit
        # retry) can open a mid-write file: empty/partial JSON, or a
        # checksum mismatch on the local FS. The window is the microseconds
        # between create() and close() — bounded retry rides it out; a
        # file torn forever (writer died mid-write) surfaces loudly.
        last: Exception | None = None
        for attempt in range(10):
            try:
                return json.loads(_atomic.read_bytes(self.spark, p).decode())
            except Exception as exc:
                last = exc
                _atomic.backoff_sleep(attempt)
        raise IcebergProtocolError(
            f"metadata file unreadable after retries: {p}"
        ) from last

    def snapshots(self) -> list[dict]:
        return list(self.metadata().get("snapshots", []))

    def current_snapshot_id(self) -> int | None:
        return self.metadata().get("current-snapshot-id")

    # --- read -------------------------------------------------------------

    def _entries_for_snapshot(
        self, meta: dict, snapshot_id: int | None, skip_manifest=None
    ) -> tuple[list[dict], list[dict]]:
        """(data entries, delete entries) alive at the snapshot (default:
        the current one), annotated by ``_manifest_entries``. Manifest
        content 0 = data, 1 = deletes (v2); anything else is a future
        format → refuse loudly. ``skip_manifest(m) -> bool`` (data
        manifests only) lets planning drop a manifest on its
        manifest-list partition summaries WITHOUT opening its Avro —
        delete manifests are always read."""
        if snapshot_id is None:
            snapshot_id = meta.get("current-snapshot-id")
        lineage = bool(meta.get("row-lineage"))
        data: list[dict] = []
        deletes: list[dict] = []
        for m in self._manifest_list(self._find_snapshot(meta, snapshot_id)):
            content = m.get("content", 0)
            if content not in (0, 1):
                raise IcebergProtocolError(
                    f"manifest content {content} not supported by this reader"
                )
            if content == 0 and skip_manifest is not None and skip_manifest(m):
                continue
            (deletes if content else data).extend(self._manifest_entries(m, lineage))
        return data, deletes

    # --- manifests: one reader, one writer, one commit path ---------------

    @staticmethod
    def _find_snapshot(meta: dict, snapshot_id: int | None) -> dict | None:
        """Snapshot ``snapshot_id`` of ``meta``; None for an empty head."""
        if snapshot_id is None or snapshot_id == -1:
            return None
        for s in meta.get("snapshots", []):
            if s["snapshot-id"] == snapshot_id:
                return s
        raise FileNotFoundError(f"snapshot {snapshot_id} not in table metadata")

    @staticmethod
    def _head(meta: dict, branch: str | None = None) -> int | None:
        """The snapshot id ``branch`` (default main) points at, None for an
        empty table; a branch not created yet forks from main's head."""
        ref = (meta.get("refs") or {}).get(branch) if branch else None
        sid = ref["snapshot-id"] if ref else meta.get("current-snapshot-id")
        return None if sid == -1 else sid

    def _manifest_list(self, snap: dict | None) -> list[dict]:
        """The manifest-list rows of ``snap`` ([] for an empty head)."""
        if snap is None:
            return []
        return read_container(_atomic.read_bytes(self.spark, snap["manifest-list"]))[1]

    def _manifest_entries(self, m: dict, lineage: bool = False) -> list[dict]:
        """The live (EXISTING / ADDED) entries of manifest-list row ``m``,
        each annotated with what the spec lets it inherit from ``m``:
        ``_seq``, its effective DATA sequence number (a null entry seq
        inherits the manifest's — the order equality deletes apply by);
        ``_spec_id``, the spec era its partition tuple reads under;
        ``_snap``, the snapshot that added it (a null entry snapshot_id
        inherits ``added_snapshot_id``). Under row lineage a data entry
        also gets ``_fri``: its explicit first_row_id (field 142), else
        the manifest's first_row_id advanced by record_count in entry
        order, else None."""
        _, rows = read_container(_atomic.read_bytes(self.spark, m["manifest_path"]))
        content = m.get("content", 0)
        lineage = lineage and content == 0
        running = m.get("first_row_id") if lineage else None
        out = []
        for e in rows:
            if e["status"] not in (0, 1):
                continue
            seq, snap = e.get("sequence_number"), e.get("snapshot_id")
            e["_seq"] = seq if seq is not None else m["sequence_number"]
            e["_spec_id"] = m.get("partition_spec_id", 0)
            e["_snap"] = snap if snap is not None else m.get("added_snapshot_id")
            if lineage:
                fri = e["data_file"].get("first_row_id")
                if fri is None and running is not None:
                    fri = running
                    running = int(running) + int(e["data_file"]["record_count"])
                e["_fri"] = None if fri is None else int(fri)
            out.append(e)
        return out

    def _referenced_files(self, snaps: list[dict], opened: dict) -> tuple[set, set]:
        """(manifest lists and manifests, data and delete files) that
        ``snaps`` reference. ``opened`` maps a manifest path to its files,
        so a manifest shared by many snapshots is read once per walk."""
        meta_files: set[str] = set()
        files: set[str] = set()
        for s in snaps:
            meta_files.add(s["manifest-list"])
            for m in self._manifest_list(s):
                p = m["manifest_path"]
                meta_files.add(p)
                if p not in opened:
                    opened[p] = {
                        e["data_file"]["file_path"] for e in self._manifest_entries(m)
                    }
                files |= opened[p]
        return meta_files, files

    def _write_manifest(
        self, meta: dict, spec: dict, entries: list[dict], content: str
    ) -> dict:
        """Write one manifest of ``entries`` (``content`` "data" or
        "deletes") under ``spec``, with the key-value header the spec
        requires, and return its manifest-list row: counts by entry
        status, partition summaries, and a ``min_sequence_number`` over
        the sequence numbers EXISTING entries pin. ``_commit_snapshot``
        stamps the rest and registers ``spec`` (carried in ``_spec``)."""
        pf = [(p["pname"], p["result_type"]) for p in _spec_part_fields(meta, spec)]
        path = f"{self.root}/metadata/{uuid.uuid4().hex}-m{int(content != 'data')}.avro"
        data = write_container(
            _manifest_entry_schema(_partition_record_schema(pf)),
            entries,
            extra_meta={
                "schema": json.dumps(_current_schema(meta)).encode(),
                "partition-spec": json.dumps(spec["fields"]).encode(),
                "partition-spec-id": str(spec["spec-id"]).encode(),
                "format-version": b"2",
                "content": content.encode(),
            },
        )
        _atomic.write_bytes(self.spark, path, data, exclusive=True)
        by_status = {
            st: [e["data_file"]["record_count"] for e in entries if e["status"] == st]
            for st in (0, 1, 2)
        }
        pinned = [e["sequence_number"] for e in entries if e["sequence_number"] is not None]
        return {
            "manifest_path": path,
            "manifest_length": len(data),
            "partition_spec_id": spec["spec-id"],
            "content": int(content != "data"),
            "min_sequence_number": min(pinned, default=None),
            "added_files_count": len(by_status[1]),
            "existing_files_count": len(by_status[0]),
            "deleted_files_count": len(by_status[2]),
            "added_rows_count": sum(by_status[1]),
            "existing_rows_count": sum(by_status[0]),
            "deleted_rows_count": sum(by_status[2]),
            "partitions": _partition_summaries(entries, pf),
            "_spec": spec,
        }

    def _delete_manifest(self, meta: dict, files: list[dict], sid: int) -> dict:
        """A manifest of delete ``files`` ADDED by snapshot ``sid``, written
        under the field-less spec GLOBAL deletes need (see
        ``_unpartitioned_spec``); returns its manifest-list row."""
        return self._write_manifest(
            meta,
            self._unpartitioned_spec(meta),
            [
                {
                    "status": 1,
                    "snapshot_id": sid,
                    "sequence_number": None,
                    "file_sequence_number": None,
                    "data_file": f,
                }
                for f in files
            ],
            "deletes",
        )

    def _commit_metadata(self, mutate):
        """The optimistic metadata commit every table change goes through.
        Each attempt reads a CONSISTENT (version, metadata) pair — reading
        them separately lets a writer land on a later version without
        conflicting and silently drop a racer's commit — and
        ``mutate(meta)`` edits a copy in place, re-checking its own
        preconditions against that metadata (raising aborts the commit;
        raising ``_Unchanged`` ends it without writing). The predecessor is logged in ``metadata-log`` (newest
        ``_METADATA_LOG_MAX`` kept) and exactly version+1 is created.
        Losing that create to another writer is the only failure that is
        retried. Returns what ``mutate`` returned."""
        for _ in range(20):
            v = self.current_metadata_version()
            meta = self.metadata(version=v)
            new_meta = dict(meta)
            new_meta["refs"] = dict(meta.get("refs") or {})
            try:
                out = mutate(new_meta)
            except _Unchanged as done:
                return done.value
            new_meta["metadata-log"] = (
                meta.get("metadata-log", [])
                + [
                    {
                        "timestamp-ms": meta["last-updated-ms"],
                        "metadata-file": f"{self.root}/metadata/v{v}.metadata.json",
                    }
                ]
            )[-_METADATA_LOG_MAX:]
            new_meta["last-updated-ms"] = int(time.time() * 1000)
            try:
                self._write_metadata(v + 1, new_meta)
                return out
            except IcebergCommitConflict:
                continue
        raise IcebergCommitConflict(f"metadata commit lost 20 races at {self.root}")

    def _commit_snapshot(self, build, sid: int | None = None, branch: str | None = None) -> int:
        """Commit one snapshot on ``branch`` (default main) through
        ``_commit_metadata``. Each attempt calls ``build(meta, seq)``,
        which re-checks the caller's precondition against that attempt's
        metadata (raising aborts), may set table-level keys on ``meta``,
        and returns (manifest-list rows, summary, added data rows) — or
        None to commit only those keys, with no snapshot. Rows
        from ``_write_manifest`` belong to this commit: they get its
        sequence number and snapshot id, a first_row_id under row
        lineage, and their partition spec registered — a spec id a
        racing evolution claimed for other fields refuses the commit.
        Then the manifest list and the snapshot are written (parent = the
        ref's head; ``first-row-id`` under lineage) and the ref advances;
        a main commit also extends the snapshot log. ``sid`` pins the
        snapshot id when written files already carry it. Returns it."""
        sid = _new_snapshot_id() if sid is None else sid

        def mutate(meta):
            ref = meta["refs"].get(branch) if branch else None
            if ref is not None and ref.get("type") == "tag":
                raise IcebergProtocolError(f"cannot write to tag {branch!r}")
            parent = self._head(meta, branch)
            seq = meta["last-sequence-number"] + 1
            built = build(meta, seq)
            if built is None:
                return None
            rows, summary, added_rows = built
            lineage = bool(meta.get("row-lineage"))
            next_row_id = int(meta.get("next-row-id", 0))
            specs = {s["spec-id"]: s for s in meta["partition-specs"]}
            out_rows = []
            for r in rows:
                if "_spec" in r:
                    r = dict(r)
                    spec = r.pop("_spec")
                    if specs.setdefault(spec["spec-id"], spec)["fields"] != spec["fields"]:
                        raise IcebergCommitConflict(
                            f"spec id {spec['spec-id']} claimed by a racing spec "
                            f"evolution at {self.root} — restage"
                        )
                    pinned = r["min_sequence_number"]
                    r["sequence_number"] = seq
                    r["min_sequence_number"] = seq if pinned is None else min(seq, pinned)
                    r["added_snapshot_id"] = sid
                    if lineage and r["content"] == 0 and r.get("first_row_id") is None:
                        r["first_row_id"] = next_row_id
                out_rows.append(r)
            mlist_path = f"{self.root}/metadata/snap-{sid}-1-{uuid.uuid4().hex}.avro"
            _atomic.write_bytes(
                self.spark,
                mlist_path,
                write_container(
                    _manifest_list_schema(),
                    out_rows,
                    extra_meta={
                        "snapshot-id": str(sid).encode(),
                        "sequence-number": str(seq).encode(),
                        "format-version": b"2",
                    },
                ),
                exclusive=True,
            )
            now = int(time.time() * 1000)
            snap = {
                "snapshot-id": sid,
                "sequence-number": seq,
                "timestamp-ms": now,
                "manifest-list": mlist_path,
                "summary": summary,
                "schema-id": meta["current-schema-id"],
            }
            if parent is not None:
                snap["parent-snapshot-id"] = parent
            if lineage:
                snap["first-row-id"] = next_row_id
                meta["next-row-id"] = next_row_id + added_rows
            meta["partition-specs"] = list(specs.values())
            meta["last-sequence-number"] = seq
            meta["snapshots"] = meta["snapshots"] + [snap]
            if branch is None:
                meta["current-snapshot-id"] = sid
                meta["refs"]["main"] = {"snapshot-id": sid, "type": "branch"}
                meta["snapshot-log"] = meta.get("snapshot-log", []) + [
                    {"timestamp-ms": now, "snapshot-id": sid}
                ]
            else:
                # branch commit: only the ref advances — main's head and
                # its snapshot log are untouched (the WAP staging contract)
                meta["refs"][branch] = {"snapshot-id": sid, "type": "branch"}
            return sid

        return self._commit_metadata(mutate)

    def _require_head(self, meta: dict, base: int | None, branch: str | None = None) -> None:
        """Refuse a commit whose file set was computed against snapshot
        ``base`` once another commit moved the head of ``branch``
        (default main): committing over it would drop the racer's files
        (a compaction can run for minutes — the window is wide)."""
        head = self._head(meta, branch)
        if head != base:
            raise IcebergCommitConflict(
                f"replace base snapshot moved ({base} → {head}) at "
                f"{self.root} — recompute against the new tip"
            )

    # --- refs: branches + tags (spec "References") ------------------------

    def refs(self) -> dict:
        return dict(self.metadata().get("refs", {}))

    def _resolve_ref(self, meta: dict, name: str) -> int:
        r = (meta.get("refs") or {}).get(name)
        if r is None:
            raise FileNotFoundError(f"ref {name!r} not in table metadata")
        return r["snapshot-id"]

    def create_branch(self, name: str, snapshot_id: int | None = None) -> None:
        """A BRANCH ref: an independently-advancing head (the
        write-audit-publish staging lane). Forks from ``snapshot_id``
        (default: the current main head)."""
        def mutate(meta):
            if name in meta["refs"]:
                raise IcebergProtocolError(f"ref {name!r} already exists")
            sid = snapshot_id
            if sid is None:
                sid = meta.get("current-snapshot-id")
            if sid is None or sid == -1:
                raise IcebergProtocolError("cannot branch an empty table")
            if not any(s["snapshot-id"] == sid for s in meta["snapshots"]):
                raise FileNotFoundError(f"snapshot {sid} not in table metadata")
            meta["refs"][name] = {"snapshot-id": sid, "type": "branch"}

        self._commit_metadata(mutate)

    def create_tag(self, name: str, snapshot_id: int | None = None) -> None:
        """A TAG ref: an immutable named snapshot (release pinning)."""
        def mutate(meta):
            if name in meta["refs"]:
                raise IcebergProtocolError(f"ref {name!r} already exists")
            sid = snapshot_id
            if sid is None:
                sid = meta.get("current-snapshot-id")
            if not any(s["snapshot-id"] == sid for s in meta["snapshots"]):
                raise FileNotFoundError(f"snapshot {sid} not in table metadata")
            meta["refs"][name] = {"snapshot-id": sid, "type": "tag"}

        self._commit_metadata(mutate)

    def drop_ref(self, name: str) -> None:
        def mutate(meta):
            if name == "main":
                raise IcebergProtocolError("cannot drop the main branch")
            if name not in meta["refs"]:
                raise FileNotFoundError(f"ref {name!r} not in table metadata")
            del meta["refs"][name]

        self._commit_metadata(mutate)

    def fast_forward(self, target: str, source: str) -> int:
        """Advance branch ``target`` to branch ``source``'s head — the
        PUBLISH half of write-audit-publish: stage commits on an audit
        branch, validate them, then main adopts the audited head as one
        atomic metadata commit (no data moves, no rewrite). Refused
        unless target's head is an ANCESTOR of source's head (a true
        fast-forward; anything else would silently drop commits)."""
        out: dict = {}

        def mutate(meta):
            refs = meta["refs"]
            src = self._resolve_ref(meta, source)
            if target == "main" or target in refs:
                tgt = (
                    meta.get("current-snapshot-id")
                    if target == "main" and target not in refs
                    else refs[target]["snapshot-id"]
                )
            else:
                raise FileNotFoundError(f"ref {target!r} not in table metadata")
            if (refs.get(target) or {}).get("type") == "tag":
                raise IcebergProtocolError("cannot fast-forward a tag")
            parents = {
                s["snapshot-id"]: s.get("parent-snapshot-id")
                for s in meta["snapshots"]
            }
            cur = src
            seen = False
            while cur is not None:
                if cur == tgt:
                    seen = True
                    break
                cur = parents.get(cur)
            if not seen:
                raise IcebergProtocolError(
                    f"{target!r} head is not an ancestor of {source!r} head "
                    f"— not a fast-forward"
                )
            refs[target] = {"snapshot-id": src, "type": "branch"}
            if target == "main":
                meta["current-snapshot-id"] = src
                meta["snapshot-log"] = meta.get("snapshot-log", []) + [
                    {
                        "timestamp-ms": int(time.time() * 1000),
                        "snapshot-id": src,
                    }
                ]
            out["sid"] = src

        self._commit_metadata(mutate)
        return out["sid"]

    def rollback_to(self, snapshot_id: int) -> int:
        """ROLLBACK: main's head moves back to an ancestor snapshot as
        one metadata commit (Iceberg's rollback-to-snapshot) — the
        bad-publish undo. The target must be an ancestor of the current
        head (rolling "back" to an unrelated snapshot would silently
        re-parent history); files stay on disk, so rolling forward again
        is another metadata commit, and expire eventually reclaims the
        abandoned tail."""
        def mutate(meta):
            cur = meta.get("current-snapshot-id")
            parents = {
                s["snapshot-id"]: s.get("parent-snapshot-id")
                for s in meta["snapshots"]
            }
            if snapshot_id not in parents:
                raise FileNotFoundError(
                    f"snapshot {snapshot_id} not in table metadata"
                )
            walk = cur
            while walk is not None and walk != snapshot_id:
                walk = parents.get(walk)
            if walk != snapshot_id:
                raise IcebergProtocolError(
                    f"snapshot {snapshot_id} is not an ancestor of the "
                    f"current head — not a rollback"
                )
            meta["current-snapshot-id"] = snapshot_id
            meta["refs"]["main"] = {
                "snapshot-id": snapshot_id,
                "type": "branch",
            }
            meta["snapshot-log"] = meta.get("snapshot-log", []) + [
                {
                    "timestamp-ms": int(time.time() * 1000),
                    "snapshot-id": snapshot_id,
                }
            ]

        self._commit_metadata(mutate)
        return snapshot_id

    # --- puffin statistics files (spec: puffin-spec.md; table_stats.py) ---

    def write_stats(self, columns: list[str], k: int = 4096) -> str:
        """Write a PUFFIN statistics file with one
        ``apache-datasketches-theta-v1`` NDV blob per column for the
        CURRENT snapshot, and register it under table metadata's
        ``statistics`` list (Iceberg spec §Table Statistics) — the input
        a CBO consumes without scanning data (see
        ``ndv_semi_reduce_join``). The snapshot's earlier blobs of other
        (type, column) pairs are carried into the new file, which
        replaces the snapshot's stats entry; returns the file's path.
        ``table_stats`` builds the sketches Delta and txlog also store.

        100 TB: the sketch build is ONE linear pass over every column —
        each partition keeps its k smallest distinct hashes
        (Arrow-batched), a k-row global top-k merges them, and only k+1
        longs per column reach the driver. KMV/theta error ~1/sqrt(k)
        (~1.6% at k=4096)."""
        return self._register_stats(_stats.NDV, columns, k)

    def ndv(self, column: str, snapshot_id: int | None = None) -> int | None:
        """NDV of ``column`` from the snapshot's registered puffin stats
        (the blob's ``ndv`` property — what engines read), or None when
        no stats file covers that snapshot/column. O(metadata): the
        puffin payload is never opened here."""
        meta = self.metadata()
        sid = snapshot_id or meta.get("current-snapshot-id")
        for s in meta.get("statistics", []):
            if s["snapshot-id"] != sid:
                continue
            for bm in s.get("blob-metadata", []):
                props = bm.get("properties", {})
                if props.get("column") == column and "ndv" in props:
                    return int(props["ndv"])
        return None

    def read_stats_sketch(self, column: str, snapshot_id: int | None = None):
        """Deserialize the column's theta sketch from the puffin payload
        (for UNIONS across tables/snapshots — the mergeable path); None
        when absent."""
        return self._stats_sketch(_stats.NDV, column, snapshot_id)

    def write_quantile_stats(self, column: str, k: int = 8192) -> str:
        """Write a PUFFIN statistics file carrying a mergeable KLL
        QUANTILE sketch for ``column`` at the current snapshot and
        register it under metadata ``statistics``, with the snapshot's
        other blobs carried forward as in ``write_stats``. TWO blobs per
        column: ``apache-datasketches-kll-v1`` carries the OFFICIAL
        Apache DataSketches KllDoublesSketch compact image (byte-level
        cross-validated against the datasketches-java copy Spark
        bundles — tests/test_accuracy_gates.py::
        test_kll_datasketches_layout), so external DataSketches readers
        heapify it directly; ``graft-kll-v1`` (magic + compactor levels
        as float64; operators/aggregates.KLLSketch.to_bytes) rides
        beside it carrying the alternating-selector phase the official
        layout has no slot for, which resumed-compaction determinism
        needs.

        100 TB: one linear pass builds bounded per-task compactors;
        every later quantile/range-boundary question is metadata-only
        (see kll_clustered_write for the consumer shape)."""
        return self._register_stats(_stats.KLL, [column], k)

    def read_quantile_sketch(self, column: str, snapshot_id: int | None = None):
        """Deserialize the column's KLL sketch from the snapshot's puffin
        stats (old snapshots' stats entries stay readable — time-traveled
        quantiles without a scan); the graft blob wins, and a foreign
        file with only the official DataSketches image still answers.
        None when absent."""
        return self._stats_sketch(_stats.KLL, column, snapshot_id)

    def _stats_sketch(self, kind: str, column: str, snapshot_id: int | None):
        meta = self.metadata()
        sid = snapshot_id or meta.get("current-snapshot-id")
        for blobs in self._stats_blobs(meta, sid):
            sk = _stats.blob_sketch(kind, blobs, column)
            if sk is not None:
                return sk
        return None

    def _stats_blobs(self, meta: dict, sid: int):
        """The puffin blobs of each stats file registered for ``sid``."""
        for s in meta.get("statistics", []):
            if s["snapshot-id"] == sid:
                yield _puffin.read_puffin(
                    _atomic.read_bytes(self.spark, s["statistics-path"])
                )[0]

    def _register_stats(self, kind: str, columns: list[str], k: int) -> str:
        """Build the ``kind`` sketches of ``columns`` over the current
        snapshot, write them with the snapshot's earlier blobs of other
        (type, column) pairs into one new puffin file, and register it as
        the snapshot's only stats entry. Returns the file's path."""
        meta = self.metadata()
        sid = self._head(meta)
        if sid is None:
            raise IcebergProtocolError("cannot write stats for an empty table")
        snap = self._find_snapshot(meta, sid)
        field_ids = {f["name"]: f["id"] for f in _current_schema(meta)["fields"]}
        blobs = _stats.puffin_blobs(
            kind, _stats.build(self.snapshot(), kind, columns, k), field_ids,
            sid, int(snap.get("sequence-number", 0)),
        )
        for old in self._stats_blobs(meta, sid):
            blobs = _stats.carry_forward(old, blobs)
        data, footer_size = _puffin.write_puffin(
            blobs, {"created-by": "projectdatalake-spark"}
        )
        path = f"{self.root}/metadata/{sid}-{uuid.uuid4().hex}.stats"
        _atomic.write_bytes(self.spark, path, data, exclusive=True)
        entry = {
            "snapshot-id": sid,
            "statistics-path": path,
            "file-size-in-bytes": len(data),
            "file-footer-size-in-bytes": footer_size,
            "blob-metadata": [
                {**m, "length": len(payload)} for m, payload in blobs
            ],
        }

        def mutate(md):
            md["statistics"] = [
                s
                for s in md.get("statistics", [])
                if s["snapshot-id"] != sid
            ] + [entry]

        self._commit_metadata(mutate)
        return path

    def write_partition_stats(self) -> str:
        """PARTITION STATISTICS file (spec §Partition Statistics): one
        parquet row per (spec_id, partition) of the CURRENT snapshot —
        spec field ids 1-5 (partition struct with the UNIFIED partition
        type: every partition field that appears in ANY of the table's
        specs, deduplicated by table-wide partition-field id and sorted
        by that id ascending, the spec's rule for spec-evolved tables;
        then spec_id, data_record_count, data_file_count,
        total_data_file_size_in_bytes, and — when the snapshot carries
        delete files — the optional delete rollups, spec field ids 6-9:
        position_delete_record_count / _file_count (content=1, parquet
        pairs AND v3 deletion vectors — each manifest entry counts as
        one delete file) and equality_delete_record_count / _file_count
        (content=2); global deletes written under the field-less spec
        land on its all-null tuple row; and — round 11 — the remaining
        optional fields 10-12: ``total_record_count`` (the spec's
        "accurate count after applying deletes" — computed by
        attributing each deletion vector's cardinality to its
        ``referenced_data_file``'s own partition, and NULLED table-wide
        whenever any live delete cannot be attributed exactly from
        metadata: equality deletes count predicates, not victims, and
        multi-file parquet position deletes don't split per file),
        ``last_updated_at`` / ``last_updated_snapshot_id`` (the max
        effective data-sequence entry per partition — carried EXISTING
        entries keep their original seq, so compaction carry-overs are
        not "updates"; the timestamp resolves via the snapshot log and
        nulls for expired snapshots)) — registered under table
        metadata's ``partition-statistics`` list. Each manifest entry's
        tuple is interpreted under the spec IT was written with (name
        lookup per era; positions absent from that era are null) and
        stamped with that entry's spec_id — never the current spec's,
        which on a spec-evolved table would silently misgroup old-era
        files. Non-identity transforms are supported directly: the
        manifest tuple already stores the TRANSFORMED value (bucket
        ordinal, months-since-epoch, truncated prefix), typed by the
        transform's result type. Computed ENTIRELY from manifest
        entries (no data file opened) and written driver-side via
        pyarrow: the rollup is O(partitions), metadata-sized — a table
        with driver-hostile partition cardinality would build the same
        rows with one Spark aggregate over inspect("files")."""
        import io

        import pyarrow as pa
        import pyarrow.parquet as pq

        meta = self.metadata()
        sid = meta.get("current-snapshot-id")
        if sid is None or sid == -1:
            raise IcebergProtocolError(
                "cannot write partition stats for an empty table"
            )
        # UNIFIED partition type: union of every spec's fields, keyed by
        # the table-wide partition-field id (update_spec never reuses
        # ids; a field shared across specs keeps one id). Name/type for
        # a shared id come from the LATEST spec carrying it (spec rule).
        specs = sorted(meta["partition-specs"], key=lambda s: s["spec-id"])
        unified: dict[int, dict] = {}
        names_by_spec: dict[int, dict[int, str]] = {}
        for s in specs:
            resolved = _spec_part_fields(meta, s)
            names_by_spec[int(s["spec-id"])] = {
                int(sf["field-id"]): sf["name"] for sf in s["fields"]
            }
            for p, sf in zip(resolved, s["fields"]):
                unified[int(sf["field-id"])] = {
                    "pname": p["pname"],
                    "result_type": p["result_type"],
                }
        fids = sorted(unified)
        entries, dels = self._entries_for_snapshot(meta, None)
        # group by (spec_id, unified tuple) — Iceberg's PartitionMap key

        def key_of(e) -> tuple:
            part = e["data_file"].get("partition") or {}
            spec_id = int(e["_spec_id"])
            names = names_by_spec.get(spec_id, {})
            return (spec_id,) + tuple(
                part.get(names[f]) if f in names else None for f in fids
            )

        # [data_rows, data_files, data_bytes,
        #  pos_del_rows, pos_del_files, eq_del_rows, eq_del_files]
        agg: dict[tuple, list[int]] = {}
        # optional fields 10-12 (round 11): last-updated = the max
        # EFFECTIVE data sequence number touching the partition (carried
        # EXISTING entries pin their original seq, so a compaction
        # carry-over is not an "update"), resolved to the adding
        # snapshot; total_record_count = data rows minus delete rows
        # ATTRIBUTED per partition — only deletion vectors carry
        # referenced_data_file, which resolves to the masked file's own
        # partition, so the subtraction is exact. Any delete the
        # metadata cannot attribute exactly (equality deletes count
        # predicates, not victims; multi-file parquet position deletes
        # don't split per file) nulls field 10 table-wide rather than
        # publish a wrong "accurate count" (the spec's word).
        upd: dict[tuple, tuple[int, int, int]] = {}
        dv_sub: dict[tuple, int] = {}
        accurate = True
        # equal effective seqs (e.g. carried EXISTING entries from
        # different snapshots pinning the same original seq) tie-break
        # on COMMIT ORDER — the snapshot's position in the snapshots
        # list — never on the raw random snapshot id (ADVICE r11)
        snap_ord = {
            int(s["snapshot-id"]): i
            for i, s in enumerate(meta.get("snapshots", []))
        }

        def touch(k: tuple, e: dict) -> None:
            snap = int(e.get("_snap") or 0)
            cand = (int(e["_seq"]), snap_ord.get(snap, -1), snap)
            if k not in upd or cand > upd[k]:
                upd[k] = cand

        fkey: dict[str, tuple] = {}
        for e in entries:
            k = key_of(e)
            a = agg.setdefault(k, [0] * 7)
            a[0] += int(e["data_file"]["record_count"])
            a[1] += 1
            a[2] += int(e["data_file"]["file_size_in_bytes"])
            fkey[e["data_file"]["file_path"]] = k
            touch(k, e)
        has_dels = False
        for e in dels:
            k = key_of(e)
            a = agg.setdefault(k, [0] * 7)
            off = 5 if int(e["data_file"].get("content", 1)) == 2 else 3
            a[off] += int(e["data_file"]["record_count"])
            a[off + 1] += 1
            has_dels = True
            touch(k, e)
            rdf = e["data_file"].get("referenced_data_file")
            if off == 3 and rdf in fkey:
                dv_sub[fkey[rdf]] = dv_sub.get(fkey[rdf], 0) + int(
                    e["data_file"]["record_count"]
                )
            else:
                accurate = False
        _PA = {
            "string": pa.string(), "int": pa.int32(), "long": pa.int64(),
            "float": pa.float32(), "double": pa.float64(),
            "boolean": pa.bool_(), "date": pa.date32(),
        }

        def fid(n: int) -> dict:
            return {b"PARQUET:field_id": str(n).encode()}

        part_fields = [
            pa.field(
                unified[f]["pname"],
                _PA.get(unified[f]["result_type"], pa.string()),
                metadata=fid(f),
            )
            for f in fids
        ]
        schema_fields = [
            pa.field("partition", pa.struct(part_fields), metadata=fid(1)),
            pa.field("spec_id", pa.int32(), metadata=fid(2)),
            pa.field("data_record_count", pa.int64(), metadata=fid(3)),
            pa.field("data_file_count", pa.int64(), metadata=fid(4)),
            pa.field(
                "total_data_file_size_in_bytes", pa.int64(),
                metadata=fid(5),
            ),
        ]
        if has_dels:
            schema_fields += [
                pa.field(
                    "position_delete_record_count", pa.int64(),
                    metadata=fid(6),
                ),
                pa.field(
                    "position_delete_file_count", pa.int64(),
                    metadata=fid(7),
                ),
                pa.field(
                    "equality_delete_record_count", pa.int64(),
                    metadata=fid(8),
                ),
                pa.field(
                    "equality_delete_file_count", pa.int64(),
                    metadata=fid(9),
                ),
            ]
        schema_fields += [
            pa.field("total_record_count", pa.int64(), metadata=fid(10)),
            pa.field("last_updated_at", pa.int64(), metadata=fid(11)),
            pa.field(
                "last_updated_snapshot_id", pa.int64(), metadata=fid(12)
            ),
        ]
        schema = pa.schema(schema_fields)
        keys = sorted(agg, key=lambda k: tuple(str(x) for x in k))
        cols = {
            "partition": [
                {unified[f]["pname"]: v for f, v in zip(fids, k[1:])}
                for k in keys
            ],
            "spec_id": [k[0] for k in keys],
            "data_record_count": [agg[k][0] for k in keys],
            "data_file_count": [agg[k][1] for k in keys],
            "total_data_file_size_in_bytes": [agg[k][2] for k in keys],
        }
        if has_dels:
            cols["position_delete_record_count"] = [agg[k][3] for k in keys]
            cols["position_delete_file_count"] = [agg[k][4] for k in keys]
            cols["equality_delete_record_count"] = [agg[k][5] for k in keys]
            cols["equality_delete_file_count"] = [agg[k][6] for k in keys]
        ts_by_snap = {
            s["snapshot-id"]: int(s["timestamp-ms"])
            for s in meta.get("snapshots", [])
        }
        cols["total_record_count"] = [
            (agg[k][0] - dv_sub.get(k, 0)) if accurate else None
            for k in keys
        ]
        cols["last_updated_at"] = [
            ts_by_snap.get(upd[k][2]) for k in keys
        ]
        cols["last_updated_snapshot_id"] = [
            upd[k][2] or None for k in keys
        ]
        tbl = pa.Table.from_pydict(cols, schema=schema)
        buf = io.BytesIO()
        pq.write_table(tbl, buf)
        data = buf.getvalue()
        path = f"{self.root}/metadata/partition-stats-{sid}-{uuid.uuid4().hex}.parquet"
        _atomic.write_bytes(self.spark, path, data, exclusive=True)
        entry = {
            "snapshot-id": sid,
            "statistics-path": path,
            "file-size-in-bytes": len(data),
        }

        def mutate(md):
            md["partition-statistics"] = [
                s
                for s in md.get("partition-statistics", [])
                if s["snapshot-id"] != sid
            ] + [entry]

        self._commit_metadata(mutate)
        return path

    def read_partition_stats(
        self, snapshot_id: int | None = None
    ) -> DataFrame | None:
        """The registered partition-statistics file as a DataFrame; None
        when no stats cover the snapshot."""
        meta = self.metadata()
        sid = snapshot_id or meta.get("current-snapshot-id")
        for s in meta.get("partition-statistics", []):
            if s["snapshot-id"] == sid:
                return self.spark.read.parquet(s["statistics-path"])
        return None

    def inspect(self, kind: str) -> DataFrame:
        """Metadata TABLES (Iceberg's ``table$files`` family) — the
        table's own metadata as queryable DataFrames, no data files
        opened: ``files`` (live data files + partition/size/rows/era),
        ``delete_files``, ``snapshots``, ``history`` (main's snapshot
        log), ``refs``, ``partitions`` (per-partition file/row rollup,
        current spec era). O(metadata) — this is how a 100 TB table is
        audited (small-file ratios, partition skew, snapshot bloat)
        without touching a byte of data."""
        meta = self.metadata()
        spark = self.spark
        if kind in ("files", "delete_files"):
            entries, dels = self._entries_for_snapshot(meta, None)
            rows = [
                (
                    e["data_file"]["file_path"],
                    int(e["data_file"].get("content", 0)),
                    json.dumps(e["data_file"].get("partition") or {}),
                    int(e["data_file"]["record_count"]),
                    int(e["data_file"]["file_size_in_bytes"]),
                    int(e["_seq"]),
                    int(e["_spec_id"]),
                )
                for e in (entries if kind == "files" else dels)
            ]
            return local_frame(
                spark,
                rows,
                "file_path string, content int, partition string, "
                "record_count long, file_size_in_bytes long, "
                "sequence_number long, spec_id int",
            )
        if kind == "metrics":
            # readable_metrics parity (Iceberg's files$readable_metrics):
            # per-file lower/upper bounds DECODED from the spec's
            # Appendix-D single-value binary back to readable values —
            # the human-auditable face of stats-based file skipping.
            # Values surface as strings so one frame covers all types.
            entries, _ = self._entries_for_snapshot(meta, None)
            ice_fields = _current_schema(meta)["fields"]
            rows = []
            for e in entries:
                dfile = e["data_file"]
                lowers = {
                    kv["key"]: kv["value"]
                    for kv in (dfile.get("lower_bounds") or [])
                }
                uppers = {
                    kv["key"]: kv["value"]
                    for kv in (dfile.get("upper_bounds") or [])
                }
                for f in ice_fields:
                    if not isinstance(f["type"], str):
                        continue
                    lo = (
                        _decode_bound(lowers[f["id"]], f["type"])
                        if f["id"] in lowers
                        else None
                    )
                    hi = (
                        _decode_bound(uppers[f["id"]], f["type"])
                        if f["id"] in uppers
                        else None
                    )
                    if lo is None and hi is None:
                        continue
                    rows.append(
                        (
                            dfile["file_path"],
                            int(e["_seq"]),
                            f["name"],
                            None if lo is None else str(lo),
                            None if hi is None else str(hi),
                        )
                    )
            return local_frame(
                spark,
                rows,
                "file_path string, sequence_number long, column string, "
                "lower string, upper string",
            )
        if kind == "snapshots":
            rows = [
                (
                    int(s["snapshot-id"]),
                    s.get("parent-snapshot-id"),
                    int(s["sequence-number"]),
                    int(s["timestamp-ms"]),
                    s["summary"].get("operation"),
                )
                for s in meta.get("snapshots", [])
            ]
            return local_frame(
                spark,
                rows,
                "snapshot_id long, parent_id long, sequence_number long, "
                "committed_at_ms long, operation string",
            )
        if kind == "history":
            rows = [
                (int(e["timestamp-ms"]), int(e["snapshot-id"]))
                for e in meta.get("snapshot-log", [])
            ]
            return local_frame(
                spark,
                rows, "made_current_at_ms long, snapshot_id long"
            )
        if kind == "refs":
            rows = [
                (name, r["type"], int(r["snapshot-id"]))
                for name, r in (meta.get("refs") or {}).items()
            ]
            return local_frame(
                spark,
                rows, "name string, type string, snapshot_id long"
            )
        if kind == "partitions":
            entries, _ = self._entries_for_snapshot(meta, None)
            agg: dict[str, list[int]] = {}
            for e in entries:
                key = json.dumps(
                    e["data_file"].get("partition") or {}, sort_keys=True
                )
                a = agg.setdefault(key, [0, 0, 0])
                a[0] += 1
                a[1] += e["data_file"]["record_count"]
                a[2] += e["data_file"]["file_size_in_bytes"]
            rows = [(k, a[0], a[1], a[2]) for k, a in agg.items()]
            return local_frame(
                spark,
                rows,
                "partition string, file_count long, record_count long, "
                "total_size_bytes long",
            )
        if kind == "statistics":
            rows = [
                (
                    int(s["snapshot-id"]),
                    s["statistics-path"],
                    int(s["file-size-in-bytes"]),
                    bm.get("properties", {}).get("column"),
                    bm["type"],
                    int(bm.get("properties", {}).get("ndv", -1)),
                    int(bm["length"]),
                )
                for s in meta.get("statistics", [])
                for bm in s.get("blob-metadata", [])
            ]
            return local_frame(
                spark,
                rows,
                "snapshot_id long, statistics_path string, "
                "file_size_in_bytes long, column string, blob_type string, "
                "ndv long, blob_length long",
            )
        raise ValueError(
            f"unknown metadata table {kind!r} — one of files, "
            f"delete_files, snapshots, history, refs, partitions, statistics"
        )

    @staticmethod
    def _preds_by_spec(
        meta: dict, pf_by_spec: dict, where_eq: dict
    ) -> dict[int, list[tuple[str, set]]]:
        """Equality predicates mapped into partition space per spec era.
        Keys may be SOURCE columns (values transformed — bucket/truncate/
        date transforms prune equality exactly) or partition FIELD names
        (pre-transformed values compared directly); a file is prunable
        only by the fields ITS spec actually partitioned on."""
        preds_by_spec: dict[int, list[tuple[str, set]]] = {}
        for spec_id, era_pf in pf_by_spec.items():
            tuple_preds: list[tuple[str, set]] = []
            for col, allowed in where_eq.items():
                vals = (
                    list(allowed)
                    if isinstance(allowed, (list, tuple, set))
                    else [allowed]
                )
                for p in era_pf:
                    if p["pname"] == col:
                        tuple_preds.append((p["pname"], set(vals)))
                    elif p["source"] == col:
                        tuple_preds.append(
                            (
                                p["pname"],
                                {
                                    _transform_py(p["transform"], v, p["src_type"])
                                    for v in vals
                                },
                            )
                        )
            preds_by_spec[spec_id] = tuple_preds
        return preds_by_spec

    @staticmethod
    def _summary_skipper(pf_by_spec: dict, preds_by_spec: dict):
        """Manifest-level pruning predicate over the manifest-list
        ``partitions`` field summaries: skip a DATA manifest when some
        predicate field's allowed values all fall outside the manifest's
        [lower, upper] partition bounds (and it holds no nulls the
        predicate accepts). Planning never opens the skipped manifest's
        Avro — at a commit-per-minute append rate that is the difference
        between O(#manifests) and O(#matching-manifests) plan cost.
        Missing summaries, missing bounds, or any decode doubt keep the
        manifest (never skip on ignorance)."""

        def skip(m: dict) -> bool:
            parts = m.get("partitions")
            if not parts:
                return False
            spec_id = m.get("partition_spec_id", 0)
            era_pf = pf_by_spec.get(spec_id, [])
            by_name = {p["pname"]: i for i, p in enumerate(era_pf)}
            for pname, allowed in preds_by_spec.get(spec_id, []):
                i = by_name.get(pname)
                if i is None or i >= len(parts):
                    continue
                s = parts[i] or {}
                if None in allowed and s.get("contains_null"):
                    continue
                rtype = era_pf[i]["result_type"]
                try:
                    lo = _decode_bound(s.get("lower_bound"), rtype) \
                        if s.get("lower_bound") is not None else None
                    hi = _decode_bound(s.get("upper_bound"), rtype) \
                        if s.get("upper_bound") is not None else None
                    non_null = [v for v in allowed if v is not None]
                    if not non_null:
                        if not s.get("contains_null"):
                            return True
                        continue
                    if lo is not None and hi is not None and all(
                        v < lo or v > hi for v in non_null
                    ) and not (None in allowed and s.get("contains_null")):
                        return True
                except Exception:
                    continue  # doubt → keep
            return False

        return skip

    def snapshot(
        self,
        snapshot_id: int | None = None,
        where_eq: dict | None = None,
        where: dict | None = None,
        ref: str | None = None,
    ) -> DataFrame:
        """DataFrame of the table state at ``snapshot_id`` (default:
        current). ``where_eq={col: values}`` prunes manifest entries on
        their partition tuples — keys may be source columns (values are
        mapped through the field's transform: bucket/truncate/date
        transforms prune equality predicates exactly) or partition field
        names (pre-transformed values); ``where={col: (lo, hi)}`` prunes
        on the manifests' per-file lower/upper bounds (Iceberg
        single-value binary, keyed by field id) — both are metadata-only
        scan planning: files are skipped before any parquet footer is
        opened. Pruning is planning-only, never filtering: surviving
        files can hold non-matching rows (a bucket holds many keys), so
        callers apply the residual predicate, as Iceberg engines do.
        Identity-partition columns are restored typed from the partition
        tuple per the spec's constants rule; non-identity source columns
        are read from the data files themselves."""
        meta = self.metadata()
        schema = self._spark_schema(meta)
        if ref is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id or ref, not both")
            snapshot_id = self._resolve_ref(meta, ref)
        # spec ERAS: after partition-spec evolution, files from different
        # eras coexist in one snapshot; each entry's partition tuple is
        # interpreted under ITS manifest's spec id
        pf_by_spec = {
            s["spec-id"]: _spec_part_fields(meta, s)
            for s in meta["partition-specs"]
        }
        skip_manifest = None
        if where_eq:
            preds_for_skip = self._preds_by_spec(meta, pf_by_spec, where_eq)
            skip_manifest = self._summary_skipper(pf_by_spec, preds_for_skip)
        entries, delete_entries = self._entries_for_snapshot(
            meta, snapshot_id, skip_manifest=skip_manifest
        )
        if where_eq:
            preds_by_spec = preds_for_skip

            def keep(e):
                part = e["data_file"].get("partition", {}) or {}
                for pname, allowed_set in preds_by_spec.get(e["_spec_id"], []):
                    if pname not in part:
                        continue
                    if part[pname] not in allowed_set:
                        return False
                return True

            entries = [e for e in entries if keep(e)]
        if where:
            ice_fields = _current_schema(meta)["fields"]
            fid_of = {f["name"]: f["id"] for f in ice_fields}
            type_of = {f["name"]: f["type"] for f in ice_fields}

            def in_range(e):
                df_rec = e["data_file"]
                lowers = {
                    kv["key"]: kv["value"] for kv in (df_rec.get("lower_bounds") or [])
                }
                uppers = {
                    kv["key"]: kv["value"] for kv in (df_rec.get("upper_bounds") or [])
                }
                for col, (lo, hi) in where.items():
                    fid = fid_of.get(col)
                    t = type_of.get(col)
                    if fid is None or not isinstance(t, str):
                        continue
                    mn = _decode_bound(lowers.get(fid), t) if fid in lowers else None
                    mx = _decode_bound(uppers.get(fid), t) if fid in uppers else None
                    # files lacking bounds are conservatively kept
                    if lo is not None and mx is not None and mx < lo:
                        return False
                    if hi is not None and mn is not None and mn > hi:
                        return False
                return True

            entries = [e for e in entries if in_range(e)]
        if not entries:
            return local_frame(self.spark, [], schema)
        # identity fields (restore-as-constant set) per spec era
        idcols_by_spec = {
            sid: [p["pname"] for p in era if p["transform"] == "identity"]
            for sid, era in pf_by_spec.items()
        }
        return self._live_scan(meta, schema, idcols_by_spec, entries, delete_entries)

    def _live_scan(
        self,
        meta: dict,
        schema: StructType,
        idcols_by_spec: dict[int, list[str]],
        entries: list[dict],
        delete_entries: list[dict],
        with_pos: bool = False,
    ) -> DataFrame:
        """The live rows of the data ``entries`` (``_era_scan``) with the
        position, DV and equality deletes of ``delete_entries`` applied;
        ``with_pos=True`` keeps each row's raw file path ``__fp`` and row
        index ``__ri`` (the pair a new delete records)."""
        pos_entries = [
            e for e in delete_entries if e["data_file"].get("content") != 2
        ]
        eq_entries = [
            e for e in delete_entries if e["data_file"].get("content") == 2
        ]
        for e in eq_entries:
            if not e["data_file"].get("equality_ids"):
                raise IcebergProtocolError(
                    "equality delete file without equality_ids — cannot "
                    "apply, rows would be resurrected"
                )
        deletes_df = None
        if pos_entries:
            # v2 position deletes (parquet pairs) and v3 deletion vectors
            # (puffin roaring blobs) in one frame, applied once as an
            # anti-join on the parquet metadata row index — merge-on-read,
            # no data rewritten
            deletes_df = self._pos_delete_pairs_df(
                pos_entries, [e["data_file"]["file_path"] for e in entries]
            ).select(
                F.col("file_path").alias("__fp"), F.col("pos").alias("__ri")
            )
        # equality deletes apply to data files with STRICTLY SMALLER data
        # sequence numbers, so when any exist each file's data sequence
        # number rides along as ``__seq``
        out = self._era_scan(
            entries, schema, idcols_by_spec,
            with_seq=bool(eq_entries), with_ri=with_pos or deletes_df is not None,
        )
        if deletes_df is not None:
            out = out.join(deletes_df, on=["__fp", "__ri"], how="left_anti")
        out = out.select(
            *[f.name for f in schema.fields],
            *(["__fp", "__ri"] if with_pos else []),
            *(["__seq"] if eq_entries else []),
        )
        if eq_entries:
            # group delete files by their equality-id tuple; each group is
            # one broadcast anti-join on null-safe key equality plus the
            # sequence ordering (data_seq < delete_seq): rows re-appended
            # AFTER the delete keep their higher seq and survive
            fields_by_id = {f["id"]: f for f in _current_schema(meta)["fields"]}
            spark_type = {f.name: f.dataType for f in schema.fields}
            by_ids: dict[tuple, list] = {}
            for e in eq_entries:
                by_ids.setdefault(
                    tuple(sorted(e["data_file"]["equality_ids"])), []
                ).append(e)
            for ids_key, ents in by_ids.items():
                unknown = [i for i in ids_key if i not in fields_by_id]
                if unknown:
                    raise IcebergProtocolError(
                        f"equality_ids {unknown} not in current schema — "
                        f"cannot apply equality deletes"
                    )
                cols = [fields_by_id[i]["name"] for i in ids_key]
                key_schema = StructType(
                    [
                        StructField(c, spark_type[c], True)
                        for c in cols
                    ]
                )
                kf = None
                for e in ents:
                    one = self.spark.read.schema(key_schema).parquet(
                        e["data_file"]["file_path"]
                    ).withColumn("__del_seq", F.lit(e["_seq"]).cast("long"))
                    kf = one if kf is None else kf.unionByName(one)
                kf = kf.select(
                    *[F.col(c).alias(f"__eq_{c}") for c in cols], "__del_seq"
                )
                cond = F.col("__seq") < F.col("__del_seq")
                for c in cols:
                    cond = cond & F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
                out = out.join(F.broadcast(kf), on=cond, how="left_anti")
            out = out.drop("__seq")
        return out

    def _era_scan(
        self,
        entries: list[dict],
        schema: StructType,
        idcols_by_spec: dict[int, list[str]],
        with_seq: bool = False,
        with_ri: bool = False,
    ) -> DataFrame:
        """The live data files as ONE parquet scan per partition-spec era
        (unioned when the specs evolved), carrying the table schema,
        ``__fp`` (the raw file path, ``_file_path_raw``) and with
        ``with_ri`` the row index ``__ri``. Identity-partition columns
        come back as the spec's typed constants, and with ``with_seq``
        ``__seq`` as each file's data sequence number, through ONE
        broadcast frame per era keyed on the file path — the manifest
        form normalised as ``_file_path_raw`` normalises the data side."""
        ptypes = {f.name: f.dataType for f in schema.fields}
        eras: dict[int, dict[str, dict]] = {}
        for e in entries:
            eras.setdefault(e["_spec_id"], {}).setdefault(
                _atomic.path_only(e["data_file"]["file_path"]), e
            )
        scans = []
        for spec_id, by_path in eras.items():
            era_cols = idcols_by_spec.get(spec_id, [])
            data_schema = StructType(
                [f for f in schema.fields if f.name not in set(era_cols)]
            )
            df = self.spark.read.schema(data_schema).parquet(
                *[e["data_file"]["file_path"] for e in by_path.values()]
            ).withColumn("__fp", _file_path_raw(F.col("_metadata.file_path")))
            if with_ri:
                df = df.withColumn("__ri", F.col("_metadata.row_index"))
            if era_cols or with_seq:
                rows = []
                for key, e in by_path.items():
                    part = e["data_file"].get("partition", {}) or {}
                    rows.append(
                        (key, *[part.get(c) for c in era_cols])
                        + ((e["_seq"],) if with_seq else ())
                    )
                raw_types = [
                    _raw_ddl_type([r[i + 1] for r in rows])
                    for i in range(len(era_cols))
                ]
                ddl = ", ".join(
                    ["__fp string"]
                    + [f"__c{i} {t}" for i, t in enumerate(raw_types)]
                    + (["__seq long"] if with_seq else [])
                )
                consts = local_frame(self.spark, rows, ddl).select(
                    "__fp",
                    *[
                        F.col(f"__c{i}").cast(ptypes[c]).alias(c)
                        for i, c in enumerate(era_cols)
                    ],
                    *(["__seq"] if with_seq else []),
                )
                df = df.join(F.broadcast(consts), "__fp")
            scans.append(df)
        out = scans[0]
        for df in scans[1:]:
            out = out.unionByName(df)
        return out

    def _spark_schema(self, meta: dict) -> StructType:
        ice = _current_schema(meta)
        from pyspark.sql.types import (
            BinaryType, BooleanType, DateType, DoubleType, FloatType,
            IntegerType, LongType, StringType, StructField, TimestampNTZType,
            TimestampType,
        )

        back = {
            "int": IntegerType(), "long": LongType(), "float": FloatType(),
            "double": DoubleType(), "string": StringType(),
            "boolean": BooleanType(), "date": DateType(),
            "timestamp": TimestampNTZType(), "timestamptz": TimestampType(),
            "binary": BinaryType(),
        }
        ids_ok = (meta.get("properties") or {}).get(
            "projectdatalake.fieldIdsInFiles", "true"
        ) != "false"
        fields = []
        for f in ice["fields"]:
            t = f["type"]
            # id-based resolution only when the data files carry ids;
            # converted tables (foreign files) resolve by name
            meta_f = {"parquet.field.id": f["id"]} if ids_ok else {}
            if isinstance(t, str) and t in back:
                fields.append(StructField(f["name"], back[t], True, meta_f))
            elif isinstance(t, str) and t.startswith("decimal"):
                from pyspark.sql.types import DecimalType

                p, s = t[t.index("(") + 1 : t.index(")")].split(",")
                fields.append(
                    StructField(f["name"], DecimalType(int(p), int(s)), True, meta_f)
                )
            else:
                raise IcebergProtocolError(f"unsupported iceberg type {t!r}")
        return StructType(fields)

    @staticmethod
    def _current_spec(meta: dict) -> dict:
        return next(
            s
            for s in meta["partition-specs"]
            if s["spec-id"] == meta["default-spec-id"]
        )

    @staticmethod
    def _unpartitioned_spec(meta: dict) -> dict:
        """The spec GLOBAL delete files must be written under (Iceberg spec:
        a delete file under a partitioned spec scopes to its partition
        tuple — an all-null tuple would scope to the null partition only,
        and compliant external readers would resurrect the deleted rows
        everywhere else). Reuses an existing field-less spec when the
        table has one; otherwise returns a fresh spec-id, which
        ``_commit_snapshot`` registers — or refuses, when a racing spec
        evolution took the id first."""
        for s in meta["partition-specs"]:
            if not s["fields"]:
                return s
        return {
            "spec-id": max(s["spec-id"] for s in meta["partition-specs"]) + 1,
            "fields": [],
        }

    # --- write ------------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        df: DataFrame,
        partition_by: tuple[str, ...] = (),
    ) -> "IcebergTable":
        t = cls.create_empty(spark, root, df.schema, partition_by)
        t.append(df)
        return t

    @classmethod
    def create_empty(
        cls,
        spark: SparkSession,
        root: str,
        spark_schema: StructType,
        partition_by: tuple[str, ...] = (),
        properties: dict | None = None,
    ) -> "IcebergTable":
        """Metadata-only table creation (v0, no snapshot) — the base for
        zero-copy converts (``append_files``) and empty-table DDL.

        ``projectdatalake.fieldIdsInFiles`` property: "true" (default —
        our staged writes stamp parquet field ids, enabling id-based
        evolution) or "false" (zero-copy converts referencing foreign
        files without ids → reads resolve by NAME, and rename/drop are
        refused because old files could not serve the renamed column)."""
        t = cls(spark, root)
        if _atomic.exists(spark, f"{root}/metadata/version-hint.text"):
            raise IcebergCommitConflict(f"already an Iceberg table: {root}")
        fields = _iceberg_schema(spark_schema)
        by_name = {f["name"]: f for f in fields}
        spec_fields = _parse_partition_by(partition_by, by_name)
        meta = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": t.root,
            "last-sequence-number": 0,
            "last-updated-ms": int(time.time() * 1000),
            "last-column-id": len(fields),
            "current-schema-id": 0,
            "schemas": [{"type": "struct", "schema-id": 0, "fields": fields}],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "last-partition-id": 1000 + len(spec_fields) - 1 if spec_fields else 999,
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {
                "write.format.default": "parquet",
                "projectdatalake.fieldIdsInFiles": "true",
                **(properties or {}),
            },
            "current-snapshot-id": -1,
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }
        t._write_metadata(0, meta)
        return t

    def _write_metadata(self, version: int, meta: dict) -> None:
        try:
            _atomic.write_bytes(
                self.spark,
                f"{self.root}/metadata/v{version}.metadata.json",
                json.dumps(meta, indent=1).encode(),
                exclusive=True,
            )
        except _atomic.ExclusiveCreateConflict as exc:
            raise IcebergCommitConflict(str(exc)) from exc
        # Advance the hint via temp-file + rename where the FS supports it
        # (single-FS atomic replace → no torn-read window for local/HDFS).
        # Object stores rename non-atomically but their overwrite PUT is
        # already atomic, so the plain-overwrite fallback is safe there.
        hint = f"{self.root}/metadata/version-hint.text"
        data = str(version).encode()
        tmp = f"{hint}.tmp.{uuid.uuid4().hex}"
        _atomic.write_bytes(self.spark, tmp, data, exclusive=True)
        try:
            renamed = _atomic.rename(self.spark, tmp, hint)
        except Exception:
            renamed = False
        if not renamed:
            _atomic.write_bytes(self.spark, hint, data, exclusive=False)
            try:
                _atomic.delete(self.spark, tmp)
            except Exception:
                pass

    def _staged_files(self, stage: str) -> tuple[list[tuple[str, int]], dict]:
        """The parquet files with rows Spark just wrote under ``stage``:
        ([(path, size)], {path: record count}), paths scheme-less as
        manifests record them (``footer_stats.staged_files``: counts from
        the footers on a local root, 0-row files deleted)."""
        files = _fs.staged_files(self.spark, stage, [])
        return (
            [(_atomic.path_only(f["path"]), f["size"]) for f in files],
            {_atomic.path_only(f["path"]): f["nrec"] for f in files},
        )

    def _stage_data(
        self,
        df: DataFrame,
        pcols: tuple[str, ...],
        bound_types: dict[str, str] | None = None,
    ):
        """Write parquet under data/ (hive layout for partitioned writes),
        returning (abs_path, size, partition_strings, record_count,
        bounds) per file with rows — counts, layout, AND per-file column
        min/max from ONE staged write + the staged-file step
        (``footer_stats.staged_files``, never a per-file job).
        ``bound_types`` maps column → iceberg type for the columns whose
        bounds the manifest should carry."""
        stage_dir = f"{self.root}/data/{uuid.uuid4().hex}"
        writer = df.write.mode("overwrite")
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(stage_dir)
        bcols = [
            c for c in (bound_types or {}) if c not in pcols and c in df.columns
        ]
        return [
            (
                _atomic.path_only(f["path"]),
                f["size"],
                f["partition"],
                f["nrec"],
                {c: (f["min"].get(c), f["max"].get(c)) for c in bcols},
            )
            for f in _fs.staged_files(self.spark, stage_dir, bcols)
        ]

    def _with_field_ids(
        self, df: DataFrame, meta: dict, extra_fields: dict | None = None
    ) -> DataFrame:
        """Project ``df`` onto the CURRENT schema with parquet field-id
        metadata attached (ids end up in the parquet files — the hook
        id-based schema evolution resolves against). Schema columns the
        frame lacks (post-add_column appends of old-shape data) are
        backfilled as typed nulls. ``extra_fields`` (name → (field_id,
        ice_type)) admits RESERVED metadata columns outside the table
        schema — the row-lineage rewrite's materialized ``_row_id``."""
        extra_fields = extra_fields or {}
        spark_schema = self._spark_schema(meta)
        ice = _current_schema(meta)
        known = {f["name"] for f in ice["fields"]} | set(extra_fields)
        unknown = [c for c in df.columns if c not in known]
        if unknown:
            raise IcebergProtocolError(
                f"columns not in table schema: {unknown} (evolve the schema "
                f"first — add_column/rename_column)"
            )
        cols = []
        for f, sf in zip(ice["fields"], spark_schema.fields):
            src = (
                F.col(f["name"])
                if f["name"] in df.columns
                else F.lit(None).cast(sf.dataType)
            )
            cols.append(src.alias(f["name"], metadata={"parquet.field.id": f["id"]}))
        for name, (fid, _t) in extra_fields.items():
            cols.append(
                F.col(name).alias(name, metadata={"parquet.field.id": fid})
            )
        return df.select(*cols)

    def update_spec(self, partition_by: tuple[str, ...]) -> int:
        """PARTITION SPEC EVOLUTION — metadata only. The new spec (same
        DDL-ish syntax as ``create``: bare columns, ``bucket(N, col)``,
        ``truncate(W, col)``, ``year/month/day/hour(col)``) becomes the
        default for FUTURE writes; every existing data file stays put
        under its original spec era — manifests pin their spec id, and
        the reader interprets each file's partition tuple (pruning AND
        identity-constant restoration) under the spec it was written
        with. This is the Iceberg feature that makes repartitioning a
        100 TB table O(metadata) instead of a rewrite; run
        ``rewrite_data_files`` afterwards if physical relayout under the
        new spec is actually wanted. Partition FIELD IDS are table-wide
        and never reused: a field matching an existing (source-id,
        transform) pair keeps its id across specs, new fields get fresh
        ids. Returns the new spec id."""

        def mutate(meta):
            parsed = _parse_partition_by(
                partition_by, {f["name"]: f for f in _current_schema(meta)["fields"]}
            )
            known: dict[tuple, int] = {}
            last_pid = meta.get("last-partition-id", 999)
            for s in meta["partition-specs"]:
                for f in s["fields"]:
                    known[(f["source-id"], f["transform"])] = f["field-id"]
                    last_pid = max(last_pid, f["field-id"])
            new_fields = []
            for f in parsed:
                fid = known.get((f["source-id"], f["transform"]))
                if fid is None:
                    last_pid += 1
                    fid = last_pid
                new_fields.append({**f, "field-id": fid})
            new_spec_id = max(s["spec-id"] for s in meta["partition-specs"]) + 1
            meta["partition-specs"] = meta["partition-specs"] + [
                {"spec-id": new_spec_id, "fields": new_fields}
            ]
            meta["default-spec-id"] = new_spec_id
            meta["last-partition-id"] = last_pid
            return new_spec_id

        return self._commit_metadata(mutate)

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only rename: a new schema version keeps every FIELD ID
        and changes only the name — existing data files (which carry the
        ids in their parquet schemas) resolve under the new name with zero
        rewrites, exactly Iceberg's id-based-evolution contract. Partition
        source columns are refused (the spec evolves specs separately)."""

        def evolve(meta, fields):
            spec = self._current_spec(meta)
            if old in {p["source"] for p in _spec_part_fields(meta, spec)}:
                raise IcebergProtocolError(
                    f"{old!r} is a partition source column — partition spec "
                    f"evolution is a separate operation"
                )
            if (meta.get("properties") or {}).get(
                "projectdatalake.fieldIdsInFiles", "true"
            ) == "false":
                raise IcebergProtocolError(
                    "rename on a name-resolved table (converted zero-copy, data "
                    "files without field ids) — old files could not serve the "
                    "new name"
                )
            names = {f["name"] for f in fields}
            if old not in names:
                raise KeyError(old)
            if new in names:
                raise IcebergProtocolError(f"column {new!r} already exists")
            return [{**f, "name": new} if f["name"] == old else dict(f) for f in fields]

        return self._commit_schema(evolve)

    def add_column(self, name: str, ice_type: str) -> int:
        """Additive evolution: the new column gets a FRESH field id
        (last-column-id + 1 — ids are never reused, so late-arriving data
        can't alias a dropped column's bytes); existing files read it as
        null."""

        def evolve(meta, fields):
            if name in {f["name"] for f in fields}:
                raise IcebergProtocolError(f"column {name!r} already exists")
            fid = meta["last-column-id"] + 1
            return list(fields) + [
                {"id": fid, "name": name, "required": False, "type": ice_type}
            ]

        return self._commit_schema(evolve)

    # spec "Schema Evolution": the allowed primitive promotions — the
    # fixed pairs below plus decimal(P,S) → decimal(P',S) with P' > P
    # (precision-only, SAME scale — the spec's decimal rule; checked in
    # promote_column via _decimal_params_i since it's parameterized)
    _PROMOTIONS = {("int", "long"), ("float", "double")}

    def promote_column(self, name: str, to_type: str) -> int:
        """Metadata-only TYPE PROMOTION (spec "Schema Evolution":
        int→long, float→double are valid v2 schema updates): a new
        schema version keeps the FIELD ID and widens only the type —
        existing data files keep their narrow pages (Spark's parquet
        readers promote them under the declared wide schema, the same
        machinery as txlog/Delta type widening), and old manifests'
        4-byte bounds stay valid through the length-aware decode in
        _decode_bound. Partition source columns are refused (their
        transform results and serialized partition values are typed)."""

        def evolve(meta, fields):
            for s in meta["partition-specs"]:
                if name in {p["source"] for p in _spec_part_fields(meta, s)}:
                    raise IcebergProtocolError(
                        f"{name!r} is a partition source column (in a current "
                        f"or historical spec) — promotion would retype its "
                        f"serialized partition values"
                    )
            field = next((f for f in fields if f["name"] == name), None)
            if field is None:
                raise KeyError(name)
            ok = (field["type"], to_type) in self._PROMOTIONS
            if not ok and isinstance(field["type"], str):
                # decimal(P,S) → decimal(P',S), P' > P (precision-only — the
                # spec keeps the SCALE, which is also what keeps old
                # manifests' unscaled-int bounds valid: the stored bytes
                # decode to the same value under either precision)
                da = _decimal_params_i(field["type"])
                db = _decimal_params_i(to_type)
                ok = (
                    da is not None and db is not None
                    and da[1] == db[1] and db[0] > da[0] and db[0] <= 38
                )
            if not ok:
                raise IcebergProtocolError(
                    f"promote_column: {field['type']} → {to_type} is not a "
                    f"valid Iceberg primitive promotion (allowed: "
                    f"{sorted(self._PROMOTIONS)} and decimal(P,S) → "
                    f"decimal(P',S) with P' > P ≤ 38)"
                )
            return [{**f, "type": to_type} if f["name"] == name else dict(f) for f in fields]

        return self._commit_schema(evolve)

    def drop_column(self, name: str) -> int:
        """Metadata-only drop: the field leaves the current schema (its id
        is retired, never reused — meta["last-column-id"] only grows), data
        files keep the bytes but no read schema references them. Partition
        source columns are refused."""

        def evolve(meta, fields):
            # guard across ALL spec eras: a column sourced by ANY spec still
            # interprets that era's partition tuples (ids never die)
            for s in meta["partition-specs"]:
                if name in {p["source"] for p in _spec_part_fields(meta, s)}:
                    raise IcebergProtocolError(
                        f"{name!r} is a partition source column (in a current or "
                        f"historical spec) — evolve the partition spec first"
                    )
            if name not in {f["name"] for f in fields}:
                raise KeyError(name)
            kept = [dict(f) for f in fields if f["name"] != name]
            if not kept:
                raise IcebergProtocolError("cannot drop the last column")
            return kept

        return self._commit_schema(evolve)

    def _commit_schema(self, evolve) -> int:
        """Commit a new current schema: ``evolve(meta, fields)`` checks the
        change against each attempt's metadata and returns the new field
        list. Field ids are never reused — ``last-column-id`` only grows.
        Returns the new schema id."""

        def mutate(meta):
            fields = evolve(meta, _current_schema(meta)["fields"])
            new_sid = max(s["schema-id"] for s in meta["schemas"]) + 1
            meta["schemas"] = meta["schemas"] + [
                {"type": "struct", "schema-id": new_sid, "fields": fields}
            ]
            meta["current-schema-id"] = new_sid
            meta["last-column-id"] = max(
                [meta["last-column-id"]] + [f["id"] for f in fields]
            )
            return new_sid

        return self._commit_metadata(mutate)

    def _typed_part(self, value: str | None, ice_type: str):
        if value is None or value == "__HIVE_DEFAULT_PARTITION__":
            return None
        if ice_type in ("int", "long"):
            return int(value)
        if ice_type in ("float", "double"):
            return float(value)
        if ice_type == "boolean":
            return value.lower() == "true"
        return value

    def append(self, df: DataFrame, branch: str | None = None) -> int:
        """Commit an append snapshot: new manifest (Avro) for the added
        files, manifest list = prior manifests + the new one, next
        metadata JSON published via exclusive create. ``branch`` stages
        the commit on that ref instead of main (create_branch first;
        publish via fast_forward) — the write half of WAP."""
        meta = self.metadata()
        return self.append_files(
            self._prepare_files(df, meta), meta=meta, branch=branch
        )

    def append_once(self, df: DataFrame, app_id: str, batch_id: int) -> int | None:
        """Idempotent append: the commit's snapshot summary records
        (app-id, batch-id); a replay that finds its id already in the
        snapshot history is SKIPPED — the exactly-once contract
        foreachBatch sinks need (Structured Streaming replays a batch
        after a crash between sink write and checkpoint commit).
        Retention caveat: expire_snapshots forgets expired batch ids, so
        snapshot retention must exceed the replay horizon (one batch).
        Returns the snapshot id, or None when skipped."""
        meta = self.metadata()
        if self._txn_committed(meta, app_id, batch_id):
            return None
        return self.append_files(
            self._prepare_files(df, meta),
            meta=meta,
            summary_props={"app-id": app_id, "batch-id": batch_id},
        )

    @staticmethod
    def _txn_committed(meta: dict, app_id: str, batch_id: int) -> bool:
        """Whether a snapshot's summary already records (app-id,
        batch-id) — the replay check of ``append_once`` and
        ``merge_upsert(txn=)``."""
        return any(
            (s.get("summary") or {}).get("app-id") == app_id
            and (s.get("summary") or {}).get("batch-id") == str(batch_id)
            for s in meta.get("snapshots", [])
        )

    def row_lineage_enabled(self, meta: dict | None = None) -> bool:
        meta = meta or self.metadata()
        return bool(meta.get("row-lineage"))

    def enable_row_lineage(self) -> int:
        """ICEBERG V3 ROW LINEAGE (spec "Row Lineage") — the format twin
        of Delta row tracking, built on INHERITANCE instead of per-file
        stamps: table metadata carries ``next-row-id``, each snapshot a
        ``first-row-id``, each manifest-list entry a ``first_row_id``
        (field 520), and a data file with a null ``first_row_id`` (field
        142) inherits it by accumulating record_count in manifest entry
        order — so the immutable data manifest never needs to know the
        allocation; the manifest LIST (rebuilt per commit attempt
        anyway) carries it. A row's _row_id = file first_row_id +
        position: stable under position deletes by construction.

        Enabling BACKFILLS via one metadata commit: the current manifest
        list is re-written with first_row_id stamped per data manifest
        (list order, spans = added+existing rows), ``next-row-id``
        seeded — zero data files touched, O(#manifests).

        DEVIATION (recorded in table properties as
        ``row-lineage.v2-embedded``): the spec ties row lineage to
        format-version 3, but this writer keeps declaring v2 in table
        metadata and manifest lists — stamping "3" while emitting
        otherwise-v2 structures (no v3 manifest schemas, no deletion
        vectors) would be a LIE to external v3 readers, whereas under v2
        external readers simply ignore the unknown lineage fields
        (Avro/JSON unknown-field semantics) and this implementation
        stays self-consistent. The property makes the deviation visible
        in the metadata itself, not just in this docstring.

        Scope (loud): appends and position deletes allocate/preserve;
        ``rewrite_data_files`` preserves by MATERIALIZING ``_row_id``
        into the rewritten files (reserved field id, spec rule);
        ``rewrite_manifests`` AND ``overwrite_partitions`` (round 11 —
        previously refused) preserve by stamping each carried file's
        resolved first_row_id explicitly (field 142), so a dynamic
        overwrite changes the id of nothing that survives; MERGE
        (equality-delete MOR) commits only ADDED files and delete
        manifests — ids never move, and the lineage READER applies the
        equality deletes by the strictly-smaller-seq rule (round 11),
        so merged lineage tables read end to end."""
        def build(meta, seq):
            # both checks read this attempt's metadata: a racing enable
            # already seeded next-row-id (re-seeding would reissue ids),
            # and a racing first append makes an empty table populated
            if meta.get("row-lineage"):
                raise _Unchanged()
            meta["row-lineage"] = True
            meta["next-row-id"] = 0
            meta["properties"] = {
                **(meta.get("properties") or {}),
                # see docstring: lineage fields embedded under a v2
                # declaration, visible to any metadata auditor
                "row-lineage.v2-embedded": "true",
            }
            if self._head(meta) is None:
                return None  # empty table: nothing to backfill
            running = 0
            stamped = []
            for m in self._manifest_list(self._find_snapshot(meta, self._head(meta))):
                if m.get("content", 0) == 0 and m.get("first_row_id") is None:
                    m = {**m, "first_row_id": running}
                    running += int(m.get("added_rows_count", 0)) + int(
                        m.get("existing_rows_count", 0)
                    )
                stamped.append(m)
            return stamped, {"operation": "enable-row-lineage"}, running

        self._commit_snapshot(build)
        return self.current_metadata_version()

    def snapshot_with_row_ids(self, min_row_id: int | None = None) -> DataFrame:
        """The table plus ``_row_id``: file first_row_id (explicit, or
        inherited by record_count accumulation in manifest entry order
        from the manifest-list entry's first_row_id) + the parquet
        ``_metadata.row_index`` — one scan plus an O(#files) broadcast
        map join. Position deletes mask rows without moving survivor
        ids; equality deletes apply by the spec's strictly-smaller-seq
        rule (round 11 — was a refusal: masking is value-based and
        never moves survivor ids, so MERGED lineage tables read
        directly). Identity-partitioned tables (round 12 — was a
        refusal) restore the source column from each file's partition
        tuple, the spec's own read rule: the per-file constant rides the
        SAME O(#files) broadcast map the row-id base uses, coalesced
        over the scan's null (a file from a non-identity era carries the
        column physically and its map value is null, so coalesce is
        exact for mixed spec eras).

        ``min_row_id``: incremental-consumer watermark — files whose id
        range [first_row_id, first_row_id + record_count) falls wholly
        below it skip unopened, plus a residual filter on the straddling
        file (same semantics as the Delta/txlog twins)."""
        meta = self.metadata()
        if not meta.get("row-lineage"):
            raise IcebergProtocolError("row lineage is not enabled")
        # identity partitioning drops the source column from data files;
        # per spec era, the pnames to restore as per-file constants
        # (round 12 — the reader previously refused identity specs)
        ident_by_spec = {
            s["spec-id"]: [
                p["pname"]
                for p in _spec_part_fields(meta, s)
                if p["transform"] == "identity"
            ]
            for s in meta.get("partition-specs", [])
        }
        schema = self._spark_schema(meta)
        data, deletes = self._entries_for_snapshot(meta, None)
        # round 11 (was a refusal): equality deletes apply by the spec's
        # strictly-smaller seq rule — the id map stays valid (masking
        # never moves survivor ids), so a MERGED lineage table reads
        pos_entries = [e for e in deletes if e["data_file"].get("content") != 2]
        eq_entries = [e for e in deletes if e["data_file"].get("content") == 2]
        base_of: dict[str, int] = {}
        seq_of: dict[str, int] = {}
        ident_of: dict[str, dict] = {}  # file → {pname: constant}
        for e in data:
            dfile = e["data_file"]
            fri = e["_fri"]
            if fri is None:
                raise IcebergProtocolError(
                    f"data file {dfile['file_path']} predates row lineage "
                    "and carries no first_row_id — re-run enable_row_lineage"
                )
            if min_row_id is not None:
                # a rewritten file's ids live in its materialized
                # _row_id column — its inherited range says nothing
                # about content ids; prune on the column's write-time
                # upper bound instead (reserved field id)
                ub = {b["key"]: b["value"] for b in (dfile.get("upper_bounds") or [])}
                mat_max = (
                    _decode_bound(ub[_ROW_ID_FIELD_ID], "long")
                    if _ROW_ID_FIELD_ID in ub
                    else None
                )
                hi = (
                    int(mat_max)
                    if mat_max is not None
                    else fri + int(dfile["record_count"]) - 1
                )
                if hi < min_row_id:
                    continue  # whole file below the watermark
            base_of[dfile["file_path"]] = fri
            seq_of[dfile["file_path"]] = int(e["_seq"])
            m_ident = ident_by_spec.get(e["_spec_id"], [])
            if m_ident:
                part = dfile.get("partition") or {}
                ident_of[dfile["file_path"]] = {c: part.get(c) for c in m_ident}
        if not base_of:
            return local_frame(self.spark, [], schema).withColumn(
                "_row_id", F.lit(None).cast("long")
            )
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        # identity columns present in the CURRENT schema whose constants
        # ride the broadcast map (ordered by schema position)
        ident_union = {c for vals in ident_of.values() for c in vals}
        ident_cols = [f for f in schema.fields if f.name in ident_union]
        map_schema = StructType(
            [
                StructField("__fp", StringType(), False),
                StructField("__base", LongType(), False),
                StructField("__fseq", LongType(), False),
            ]
            + [
                StructField(f"__pv_{f.name}", f.dataType, True)
                for f in ident_cols
            ]
        )
        base_map = local_frame(
            self.spark,
            [
                tuple(
                    [_atomic.path_only(p), b, seq_of[p]]
                    + [ident_of.get(p, {}).get(f.name) for f in ident_cols]
                )
                for p, b in base_of.items()
            ],
            map_schema,
        )
        # one scan covers plain AND rewrite-materialized files: the
        # explicit schema reads `_row_id` where present and null where
        # the column does not exist, then the spec's precedence applies
        # (materialized value wins; null → first_row_id + position)
        read_schema = StructType(
            list(schema.fields) + [StructField(_ROW_ID_COL, LongType(), True)]
        )
        df = (
            self.spark.read.schema(read_schema).parquet(*base_of)
            .withColumn("__fp", _file_path_raw(F.col("_metadata.file_path")))
            .withColumn("__ri", F.col("_metadata.row_index"))
            .join(F.broadcast(base_map), "__fp")
            .withColumn(
                "_row_id",
                F.coalesce(
                    F.col(_ROW_ID_COL), F.col("__base") + F.col("__ri")
                ),
            )
        )
        for f in ident_cols:
            # identity-era files: the column is absent from the file
            # (reads null) and the map carries the tuple constant;
            # non-identity-era files: physical value, null map entry —
            # coalesce restores exactly either way
            df = df.withColumn(
                f.name, F.coalesce(F.col(f.name), F.col(f"__pv_{f.name}"))
            ).drop(f"__pv_{f.name}")
        if pos_entries:
            deletes_df = self._pos_delete_pairs_df(
                pos_entries, list(base_of)
            ).select(
                F.col("file_path").alias("__fp"), F.col("pos").alias("__ri")
            )
            df = df.join(deletes_df, on=["__fp", "__ri"], how="left_anti")
        if eq_entries:
            # same application as the normal scan (snapshot): group the
            # delete files by equality-id tuple, broadcast each group,
            # anti-join on null-safe key equality AND data_seq < del_seq
            # (rows re-appended after the delete keep their higher seq
            # and survive — exactly why merge's same-snapshot data files
            # escape their own delete)
            fields_by_id = {f["id"]: f for f in _current_schema(meta)["fields"]}
            spark_type = {f.name: f.dataType for f in schema.fields}
            by_ids: dict[tuple, list] = {}
            for e in eq_entries:
                ids_key = tuple(sorted(e["data_file"].get("equality_ids") or []))
                if not ids_key:
                    raise IcebergProtocolError(
                        "equality delete file without equality_ids — "
                        "cannot apply, rows would be resurrected"
                    )
                by_ids.setdefault(ids_key, []).append(e)
            from pyspark.sql.types import StructField as _SF2

            for ids_key, ents in by_ids.items():
                unknown = [i for i in ids_key if i not in fields_by_id]
                if unknown:
                    raise IcebergProtocolError(
                        f"equality_ids {unknown} not in current schema — "
                        f"cannot apply equality deletes"
                    )
                cols = [fields_by_id[i]["name"] for i in ids_key]
                key_schema = StructType(
                    [_SF2(c, spark_type[c], True) for c in cols]
                )
                kf = None
                for e in ents:
                    one = self.spark.read.schema(key_schema).parquet(
                        e["data_file"]["file_path"]
                    ).withColumn("__del_seq", F.lit(e["_seq"]).cast("long"))
                    kf = one if kf is None else kf.unionByName(one)
                kf = kf.select(
                    *[F.col(c).alias(f"__eq_{c}") for c in cols], "__del_seq"
                )
                cond = F.col("__fseq") < F.col("__del_seq")
                for c in cols:
                    cond = cond & F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
                df = df.join(F.broadcast(kf), cond, "left_anti")
        df = df.drop("__fp", "__ri", "__base", "__fseq")
        if min_row_id is not None:
            df = df.filter(F.col("_row_id") >= F.lit(int(min_row_id)))
        return df

    def set_sort_order(self, cols: tuple[str, ...]) -> int:
        """Declare the table SORT ORDER (spec "Sort Orders"): a new
        sort-order entry (identity transforms, asc, nulls-first) becomes
        the default — metadata-only; ``rewrite_data_files`` then
        range-clusters on these columns so compacted files carry tight
        DISJOINT min/max bounds and ``snapshot(where=...)`` plans only
        the overlapping files. The Iceberg twin of txlog's ``cluster_by``
        table setting (the liquid-clustering analog). Returns the new
        order id."""

        def mutate(meta):
            by_name = {f["name"]: f for f in _current_schema(meta)["fields"]}
            missing = [c for c in cols if c not in by_name]
            if missing:
                raise IcebergProtocolError(
                    f"sort order columns not in table schema: {missing}"
                )
            orders = meta.get("sort-orders") or [{"order-id": 0, "fields": []}]
            order = {
                "order-id": max(o["order-id"] for o in orders) + 1,
                "fields": [
                    {
                        "transform": "identity",
                        "source-id": by_name[c]["id"],
                        "direction": "asc",
                        "null-order": "nulls-first",
                    }
                    for c in cols
                ],
            }
            meta["sort-orders"] = orders + [order]
            meta["default-sort-order-id"] = order["order-id"]
            return order["order-id"]

        return self._commit_metadata(mutate)

    def _default_sort_cols(self, meta: dict) -> list[str]:
        oid = meta.get("default-sort-order-id", 0)
        order = next(
            (o for o in (meta.get("sort-orders") or []) if o["order-id"] == oid),
            None,
        )
        if not order or not order["fields"]:
            return []
        name_of = {f["id"]: f["name"] for f in _current_schema(meta)["fields"]}
        return [name_of[f["source-id"]] for f in order["fields"]]

    def rewrite_data_files(
        self,
        target_files: int | None = None,
        zorder_by: tuple[str, ...] = (),
        curve: str = "z",
    ) -> int | None:
        """Copy-on-write COMPACTION (Iceberg's rewrite_data_files): the
        current merge-on-read state — position AND equality deletes
        applied — is materialized into fresh data files and committed as
        a REPLACE snapshot whose manifest list holds ONLY the new data
        manifest. Reads after compaction are plain scans again (no
        anti-joins); prior snapshots still time travel to the old file
        set until ``expire_snapshots`` reclaims it. This is the
        read-amplification release valve for the delete-heavy ingest
        pattern: MOR absorbs deletes in O(keys), compaction amortizes
        their read cost across one rewrite. Returns the new snapshot id,
        or None for an empty table.

        When the table carries a default SORT ORDER (``set_sort_order``),
        the rewrite range-partitions + sorts on those columns into
        ``target_files`` files (default: the session's parallelism), so
        each compacted file has tight disjoint bounds — write-side
        completion of the column-bounds skipping ladder. Without a sort
        order or ``zorder_by`` it writes at most ``target_files`` files
        per partition (default 1, as Delta ``optimize`` compacts each
        partition), split by row content, never by the input's layout.

        Under ROW LINEAGE the rewrite is id-preserving: each row's
        ``_row_id`` is materialized into the new files (reserved field
        id; per-file max recorded in upper_bounds so the watermark
        consumer keeps pruning rewritten files), overriding the fresh
        inherited ids the replace snapshot burns — compaction changes
        the id of NOTHING (the same contract as the Delta/txlog OPTIMIZE
        twins, oracle-gated)."""
        meta = self.metadata()
        entries, _ = self._entries_for_snapshot(meta, None)
        if not entries:
            return None
        lineage = bool(meta.get("row-lineage"))
        extra_fields = None
        if lineage:
            # v3 rule: a rewrite preserves lineage by MATERIALIZING each
            # row's _row_id (reserved field id) into the new files — the
            # fresh inherited ids the rewritten files burn are overridden
            # row-for-row, so compaction changes the id of NOTHING.
            # snapshot_with_row_ids supplies ids + position-delete masking
            # (and refuses equality deletes / partitioned tables — this
            # writer's lineage scope, inherited here loudly).
            df = self.snapshot_with_row_ids()
            extra_fields = {_ROW_ID_COL: (_ROW_ID_FIELD_ID, "long")}
        else:
            df = self.snapshot()
        sort_cols = self._default_sort_cols(meta)
        if zorder_by:
            # multi-dimensional clustering at rewrite time — Iceberg's
            # actual shape too (RewriteDataFiles zOrder is a rewrite-call
            # strategy, not table metadata, unlike set_sort_order)
            from projectdatalake_spark.functions.clustering import (
                attach_hilbert_column,
                zorder_column,
            )

            n_out = target_files or self.spark.sparkContext.defaultParallelism
            if curve == "hilbert":
                staged = attach_hilbert_column(df, tuple(zorder_by), "__z")
            elif curve == "z":
                staged = df.withColumn("__z", zorder_column(df, tuple(zorder_by)))
            else:
                raise ValueError(f"unknown clustering curve: {curve!r}")
            df = (
                staged.repartitionByRange(n_out, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        elif sort_cols:
            n_out = target_files or self.spark.sparkContext.defaultParallelism
            df = df.repartitionByRange(n_out, *sort_cols).sortWithinPartitions(
                *sort_cols
            )
        # unsorted: Delta optimize's rule, at most target_files (default 1)
        # files per partition, whatever partitioning the input plan has
        per_partition = None if zorder_by or sort_cols else target_files or 1
        files = self._prepare_files(
            df, meta, extra_fields=extra_fields, files_per_partition=per_partition
        )
        return self.append_files(files, meta=meta, replace=True, operation="replace")

    def rewrite_manifests(self) -> int | None:
        """Iceberg's ``rewrite_manifests`` maintenance action: consolidate
        the current snapshot's DATA manifests into ONE manifest per spec
        era (entries carried as EXISTING with their original sequence
        numbers pinned), leaving data files AND delete manifests
        untouched — a pure metadata rewrite. Small frequent appends each
        add a manifest; scan planning reads every one of them, so a
        1000-append table pays 1000 Avro opens per query plan. Returns
        the new snapshot id, or None when already consolidated.

        100 TB: manifests are the scan-planning fan-out; planning cost
        is O(#manifests) driver-side file opens. Consolidation resets it
        to O(#spec eras) without moving a byte of data — the cheapest
        maintenance win on an append-heavy table.

        Under ROW LINEAGE each carried file's resolved first_row_id is
        stamped explicitly (field 142) before its source manifest's
        inheritance base is dropped — ids survive consolidation
        untouched."""
        meta = self.metadata()
        lineage = bool(meta.get("row-lineage"))
        base = self._head(meta)
        prior = self._manifest_list(self._find_snapshot(meta, base))
        data_manifests = [m for m in prior if m.get("content", 0) == 0]
        specs_present = {m.get("partition_spec_id", 0) for m in data_manifests}
        if len(data_manifests) <= len(specs_present):
            return None  # one manifest per era already
        # group live entries by spec era, pin their effective sequences
        by_spec: dict[int, list[dict]] = {}
        for m in data_manifests:
            for e in self._manifest_entries(m, lineage):
                dfile = e["data_file"]
                if lineage:
                    # consolidation drops the per-manifest inheritance
                    # base, so each carried file gets its RESOLVED id
                    # stamped explicitly (field 142) — the spec's rule
                    # for carrying EXISTING files between manifests
                    if e["_fri"] is None:
                        raise IcebergProtocolError(
                            f"manifest {m['manifest_path']} predates row "
                            "lineage and carries no first_row_id — re-run "
                            "enable_row_lineage"
                        )
                    dfile = {**dfile, "first_row_id": e["_fri"]}
                by_spec.setdefault(e["_spec_id"], []).append(
                    {
                        "status": 0,  # EXISTING: carried, not added
                        "snapshot_id": e.get("snapshot_id"),
                        "sequence_number": e["_seq"],
                        "file_sequence_number": e.get("file_sequence_number"),
                        "data_file": dfile,
                    }
                )
        specs = {s["spec-id"]: s for s in meta["partition-specs"]}
        new_rows = [
            self._write_manifest(meta, specs[spec_id], entries, "data")
            for spec_id, entries in sorted(by_spec.items())
        ]
        delete_manifests = [m for m in prior if m.get("content", 0) == 1]
        summary = {
            "operation": "replace",
            "manifests-replaced": str(len(data_manifests)),
            "manifests-created": str(len(new_rows)),
        }

        def build(meta, seq):
            self._require_head(meta, base)
            return new_rows + delete_manifests, summary, 0

        return self._commit_snapshot(build)

    def rewrite_position_deletes(self, target_files: int = 1) -> int | None:
        """Iceberg's ``rewrite_position_deletes`` maintenance action
        (public spec / Spark procedure of the same name): compact every
        live position-delete file into ``target_files`` sorted pair
        files and DROP DANGLING pairs — deletes whose target data file
        left the live set (dynamic overwrites and partition-scoped
        rewrites carry delete manifests along, turning their pairs into
        dead weight every scan still reads). Data files are untouched;
        equality-delete files ride through with their original sequence
        numbers pinned. Commits a replace-shaped snapshot (refuses to
        land over a moved tip, like every rewrite here); returns the new
        snapshot id, or None when the table holds no position deletes.

        100 TB: every MOR scan anti-joins ALL live position-delete
        files; a delete-heavy ingest accretes thousands of small pair
        files — each one a parquet footer open per scan, forever. This
        action costs O(delete bytes) (pairs are (path, pos) — KBs per
        million rows), never touches data, and resets the scan's
        delete-side read amplification to ``target_files``."""
        meta = self.metadata()
        base = self._head(meta)
        prior = self._manifest_list(self._find_snapshot(meta, base))
        entries_of = {
            m["manifest_path"]: self._manifest_entries(m) for m in prior
        }
        pos_entries = [
            e
            for m in prior
            if m.get("content", 0) == 1
            for e in entries_of[m["manifest_path"]]
            if e["data_file"].get("content") != 2
        ]
        if not pos_entries:
            return None
        n_before = sum(e["data_file"]["record_count"] for e in pos_entries)
        # live data-file set is metadata-scale (already driver-resident);
        # dangling pairs drop via a broadcast semi join, never a collect
        # of the pair files themselves. DV entries fold in through the
        # shared pair reader — consolidation converts them to sorted v2
        # pair files (a legal downgrade: the pairs are the semantics)
        live_paths = [
            e["data_file"]["file_path"]
            for m in prior
            if m.get("content", 0) == 0
            for e in entries_of[m["manifest_path"]]
        ]
        live_df = local_frame(
            self.spark,
            [(p,) for p in live_paths], "file_path string"
        )
        pairs = (
            self._pos_delete_pairs_df(pos_entries, live_paths)
            .join(F.broadcast(live_df), on="file_path", how="left_semi")
            .distinct()
        )
        stage = f"{self.root}/data/{uuid.uuid4().hex}-rewritten-deletes"
        (
            pairs.repartition(max(1, int(target_files)))
            # spec: position deletes sorted by (file_path, pos)
            .sortWithinPartitions("file_path", "pos")
            .write.mode("overwrite")
            .parquet(stage)
        )
        del_files, counts = self._staged_files(stage)
        self._raw_form_deletes.update(p for p, _ in del_files)
        n_after = sum(counts.values())
        sid = _new_snapshot_id()
        replaced = {e["data_file"]["file_path"] for e in pos_entries}
        specs = {s["spec-id"]: s for s in meta["partition-specs"]}
        rows: list[dict] = []
        for m in prior:
            entries = entries_of[m["manifest_path"]]
            live = [e for e in entries if e["data_file"]["file_path"] not in replaced]
            if m.get("content", 0) == 0 or len(live) == len(entries):
                rows.append(m)  # data manifests and pure equality manifests ride through
            elif live:
                # mixed manifest: rewrite the survivors with their
                # effective sequence numbers pinned (EXISTING entries)
                rows.append(
                    self._write_manifest(
                        meta,
                        specs[m.get("partition_spec_id", 0)],
                        [
                            {
                                "status": 0,
                                "snapshot_id": e.get("snapshot_id"),
                                "sequence_number": e["_seq"],
                                "file_sequence_number": e.get("file_sequence_number"),
                                "data_file": e["data_file"],
                            }
                            for e in live
                        ],
                        "deletes",
                    )
                )
        new_files = [
            {
                "content": 1,  # POSITION_DELETES
                "file_path": path,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": counts[path],
                "file_size_in_bytes": size,
            }
            for path, size in del_files
        ]
        if new_files:
            rows.append(self._delete_manifest(meta, new_files, sid))
        else:
            _atomic.delete(self.spark, stage, recursive=True)
        summary = {
            "operation": "replace",
            "rewritten-delete-files": str(len(pos_entries)),
            "added-position-delete-files": str(len(new_files)),
            "added-position-deletes": str(n_after),
            "removed-dangling-position-deletes": str(max(0, n_before - n_after)),
        }

        # the rewritten pair set was computed against the base head: any
        # commit that moved it invalidates the set (the same contract as
        # rewrite_data_files' replace commit)
        def build(meta, seq):
            self._require_head(meta, base)
            return rows, summary, 0

        return self._commit_snapshot(build, sid=sid)

    def overwrite_partitions(self, df: DataFrame) -> int:
        """DYNAMIC PARTITION OVERWRITE: replace exactly the partitions
        the incoming frame touches, atomically, in one snapshot — the
        idempotent-backfill primitive ("recompute day X" never disturbs
        day Y). Files in untouched partitions are CARRIED into the new
        manifest as EXISTING entries pinning their original sequence
        numbers (equality-delete ordering survives); delete manifests
        ride along, so position deletes on the replaced files become
        no-ops and live deletes elsewhere keep applying. On an
        unpartitioned table this is a full overwrite (the one partition
        is the table). Spec-evolved tables must compact first — an old
        era's tuple can't be compared against current-spec partitions."""
        meta = self.metadata()
        spec = self._current_spec(meta)
        entries, _ = self._entries_for_snapshot(meta, None)
        eras = {e["_spec_id"] for e in entries}
        if eras - {spec["spec-id"]}:
            raise IcebergProtocolError(
                "live files span historical partition specs — run "
                "rewrite_data_files() before a dynamic overwrite"
            )
        files = self._prepare_files(df, meta)
        touched = {
            tuple(sorted((f.get("partition") or {}).items())) for f in files
        }
        lineage = bool(meta.get("row-lineage"))
        carried = []
        for e in entries:
            d = e["data_file"]
            part = dict(d.get("partition") or {})
            if tuple(sorted(part.items())) in touched:
                continue
            desc = {
                "path": d["file_path"],
                "size": d["file_size_in_bytes"],
                "partition": part,
                "record_count": d["record_count"],
                "lower_bounds": d.get("lower_bounds"),
                "upper_bounds": d.get("upper_bounds"),
                "status": 0,
                "sequence_number": e["_seq"],
            }
            if lineage:
                # round 11 (was a refusal): carry each untouched file's
                # RESOLVED first_row_id explicitly (field 142 — the
                # rewrite_manifests rule), so the replace changes the id
                # of NOTHING that survives; replaced rows retire their
                # ids and the new files allocate fresh ones
                if e.get("_fri") is None:
                    raise IcebergProtocolError(
                        f"carried file {d['file_path']} predates row "
                        "lineage and its id base is unresolvable — "
                        "re-run enable_row_lineage first"
                    )
                desc["first_row_id"] = int(e["_fri"])
            carried.append(desc)
        return self.append_files(
            carried + files, meta=meta, replace=True, operation="overwrite"
        )

    def _prepare_files(
        self,
        df: DataFrame,
        meta: dict,
        extra_fields: dict | None = None,
        files_per_partition: int | None = None,
    ) -> list[dict]:
        """Stage ``df`` as data files under the current spec and return
        append_files-shaped descriptors (path, size, TYPED partition
        tuple, record count, column bounds). ``extra_fields`` (name →
        (field_id, ice_type)) stages reserved metadata columns WITH
        bounds — the rewrite path's materialized ``_row_id`` needs its
        per-file max in upper_bounds for watermark pruning.
        ``files_per_partition`` (None: ``df``'s own layout) hashes rows
        into at most that many files per partition value, by content, so
        the count does not depend on how ``df`` is partitioned."""
        spec = self._current_spec(meta)
        pf = _spec_part_fields(meta, spec)
        pcols = tuple(p["pname"] for p in pf)
        part_fields = [(p["pname"], p["result_type"]) for p in pf]
        # identity partitioning removes the source column from data files
        # (restored as a constant on read); non-identity transforms keep
        # the source column IN the files — only the derived value is a
        # directory, exactly the spec's storage contract
        identity_sources = {p["source"] for p in pf if p["transform"] == "identity"}
        ice_fields = _current_schema(meta)["fields"]
        fid_of = {f["name"]: f["id"] for f in ice_fields}
        boundable = {
            "int", "long", "float", "double", "string", "boolean",
            "date", "timestamp", "timestamptz",
        }

        def _can_bound(t: str) -> bool:
            # decimals bound via Appendix D's unscaled two's-complement
            # bytes (round 10) — minimal-length, so precision promotion
            # never invalidates them
            return t in boundable or _decimal_params_i(t) is not None

        bound_types = {
            f["name"]: f["type"]
            for f in ice_fields
            if isinstance(f["type"], str)
            and f["name"] not in identity_sources
            and _can_bound(f["type"])
        }
        for name, (fid, itype) in (extra_fields or {}).items():
            fid_of[name] = fid
            if itype in boundable:
                bound_types[name] = itype
        df = self._with_field_ids(df, meta, extra_fields=extra_fields)
        for p in pf:
            if p["transform"] != "identity":
                df = df.withColumn(
                    p["pname"],
                    _transform_expr(p["transform"], p["source"], p["src_type"]),
                )
        if files_per_partition:
            keys = [F.col(c) for c in pcols]
            hashable = [c for c, t in df.dtypes if "map<" not in t]
            if files_per_partition > 1 and hashable:
                salt = F.pmod(F.xxhash64(*hashable), F.lit(files_per_partition))
                keys.append(salt)
            df = (
                df.repartition(self.spark.sparkContext.defaultParallelism, *keys)
                if keys
                else df.repartition(1)
            )
        staged = self._stage_data(df, pcols, bound_types)
        files = []
        for path, size, parts, count, bounds in staged:
            lower, upper = [], []
            for c, (mn, mx) in bounds.items():
                lo_b = _encode_bound(mn, bound_types[c])
                hi_b = _encode_bound(mx, bound_types[c])
                if lo_b is not None:
                    lower.append({"key": fid_of[c], "value": lo_b})
                if hi_b is not None:
                    upper.append({"key": fid_of[c], "value": hi_b})
            files.append(
                {
                    "path": path,
                    "size": size,
                    "partition": {
                        c: self._typed_part(parts.get(c), t) for c, t in part_fields
                    },
                    "record_count": count,
                    "lower_bounds": lower or None,
                    "upper_bounds": upper or None,
                }
            )
        return files

    def append_files(
        self,
        files: list[dict],
        meta: dict | None = None,
        replace: bool = False,
        operation: str = "append",
        branch: str | None = None,
        summary_props: dict | None = None,
        delete_manifests: list[dict] = (),
        sid: int | None = None,
        meta_mutator=None,
    ) -> int:
        """Commit an append snapshot over PRE-EXISTING parquet files — the
        zero-copy path (cross-format converts, in-place migration). Each
        descriptor: {path (absolute), size, partition (TYPED values per
        the current spec), record_count, lower_bounds?, upper_bounds?};
        ``status`` 0 marks a file carried over as EXISTING with its
        original ``sequence_number`` pinned. No data moves; only
        manifests + metadata are written, under the metadata ``meta``
        the files were prepared against: the commit refuses if the
        schema or default spec has evolved since.

        ``replace=True`` commits the new manifest as the ENTIRE data file
        set, over a head that must still be ``meta``'s (a replace's file
        set is stale once another commit lands). Operation ``overwrite``
        keeps the prior delete manifests (dynamic overwrite: position
        deletes on replaced files become no-ops, equality deletes keep
        their seq); any other replace drops them with the data they
        applied to. ``delete_manifests`` (rows from ``_delete_manifest``)
        commit at the same sequence number as the data, e.g. a merge's
        equality delete. ``sid`` pins the snapshot id those manifests
        carry. ``meta_mutator(meta)`` runs inside every commit attempt —
        the seam for declarations that must land in the SAME metadata
        commit as the snapshot (uniform_export's format-version-3 stamp
        on a DV-carrying sync)."""
        if meta is None:
            meta = self.metadata()
        sid = _new_snapshot_id() if sid is None else sid
        carried = [f for f in files if f.get("status", 1) == 0]
        if meta.get("row-lineage") and (replace or carried):
            # no replace may move a surviving row's id: carried files
            # arrive with their RESOLVED first_row_id stamped (field 142 —
            # the rewrite_manifests carry rule), and a rewrite ("replace")
            # materializes every row's _row_id into its new files, whose
            # fresh inherited ids it overrides row for row. Replaced rows
            # retire their ids; added rows allocate from next-row-id.
            unstamped = any(f.get("first_row_id") is None for f in carried)
            unmaterialized = operation == "replace" and any(
                _ROW_ID_FIELD_ID not in {b["key"] for b in f.get("upper_bounds") or []}
                for f in files
                if f.get("status", 1) == 1
            )
            if unstamped or unmaterialized:
                raise IcebergProtocolError(
                    "replace-shaped commits on a row-lineage table would "
                    "reassign carried files' row ids — rewrite_data_files "
                    "materializes _row_id into every rewritten file, and "
                    "carry-through replaces (dynamic overwrite) must "
                    "stamp each carried file's resolved first_row_id "
                    "(field 142)"
                )
        spec = self._current_spec(meta)
        pnames = [p["pname"] for p in _spec_part_fields(meta, spec)]
        entries = [
            {
                "status": f.get("status", 1),
                "snapshot_id": sid,
                # ADDED entries inherit the manifest's seq (spec rule);
                # EXISTING entries pin their ORIGINAL data seq so
                # equality-delete ordering survives the carry-over
                "sequence_number": f.get("sequence_number"),
                "file_sequence_number": None,
                "data_file": {
                    "content": 0,
                    "file_path": f["path"],
                    "file_format": "PARQUET",
                    "partition": {c: f.get("partition", {}).get(c) for c in pnames},
                    "record_count": f["record_count"],
                    "file_size_in_bytes": f["size"],
                    "lower_bounds": f.get("lower_bounds"),
                    "upper_bounds": f.get("upper_bounds"),
                    # explicit id carry (field 142) — carried files
                    # under lineage arrive stamped; ADDED files stay
                    # null and inherit from the manifest base
                    "first_row_id": f.get("first_row_id"),
                },
            }
            for f in files
        ]
        row = self._write_manifest(meta, spec, entries, "data")
        added_rows = row["added_rows_count"]
        summary = {
            "operation": operation,
            "added-data-files": str(len(entries) - len(carried)),
            "added-records": str(added_rows),
            **{str(k): str(v) for k, v in (summary_props or {}).items()},
        }
        base_schema_id = meta["current-schema-id"]
        base = self._head(meta, branch)

        def build(meta, seq):
            if (
                meta["current-schema-id"] != base_schema_id
                or meta["default-spec-id"] != spec["spec-id"]
            ):
                raise IcebergCommitConflict(
                    f"schema/spec evolved under this commit at {self.root} "
                    f"— restage against the new metadata"
                )
            if replace:
                self._require_head(meta, base, branch)
            prior = []
            if not replace or operation == "overwrite":
                prior = self._manifest_list(
                    self._find_snapshot(meta, self._head(meta, branch))
                )
                if replace:
                    prior = [m for m in prior if m.get("content", 0) == 1]
            if meta_mutator is not None:
                meta_mutator(meta)
            return prior + [row] + list(delete_manifests), summary, added_rows

        return self._commit_snapshot(build, sid=sid, branch=branch)

    def expire_snapshots(self, retain: int = 1) -> dict:
        """Retire all but the newest ``retain`` snapshots and delete the
        files only they referenced (data files, manifests, manifest
        lists) — Iceberg's expireSnapshots + orphan cleanup, the storage
        half of table maintenance. Time travel to an expired snapshot id
        then raises at metadata lookup, never silently misreads. Returns
        {"snapshots": n_expired, "files": n_deleted}.

        Concurrency: every attempt rebuilds keep/expire sets from a
        CONSISTENT (version, metadata) pair and commits to exactly
        version+1 — a racing append between read and write surfaces as a
        conflict and the attempt recomputes against the new tip (the
        racer's snapshot is the newest, so it lands in the keep set; a
        stale pair here would silently drop it from the table). File
        deletion happens AFTER the metadata commit: a crash in between
        orphans files (reclaimed by the next run) instead of leaving
        metadata pointing at deleted files."""
        opened: dict[str, set] = {}

        def mutate(meta):
            snaps = meta.get("snapshots", [])
            # every ref target (branch head / tag) survives regardless of age
            ref_ids = {r["snapshot-id"] for r in meta["refs"].values()}
            keep_snaps = [
                s
                for s in snaps
                if s in snaps[-retain:] or s["snapshot-id"] in ref_ids
            ]
            keep_ids = {s["snapshot-id"] for s in keep_snaps}
            expired = [s for s in snaps if s["snapshot-id"] not in keep_ids]
            if not expired:
                raise _Unchanged((0, set()))
            keep_meta, keep_data = self._referenced_files(keep_snaps, opened)
            gone_meta, gone_data = self._referenced_files(expired, opened)
            victims = (gone_meta - keep_meta) | (gone_data - keep_data)
            meta["snapshots"] = keep_snaps
            meta["snapshot-log"] = [
                e for e in meta.get("snapshot-log", []) if e["snapshot-id"] in keep_ids
            ]
            # statistics files track their snapshot (spec: writers must
            # drop entries for expired snapshots — round-10 fix): retire
            # the puffin/parquet stats of every expired snapshot, both
            # the metadata entries and the files themselves; a stale
            # entry would keep answering ndv()/read_quantile_sketch()
            # for a snapshot whose time travel correctly raises
            for key in ("statistics", "partition-statistics"):
                kept_stats = []
                for s in meta.get(key, []):
                    if s["snapshot-id"] in keep_ids:
                        kept_stats.append(s)
                    else:
                        victims.add(s["statistics-path"])
                if key in meta or kept_stats:
                    meta[key] = kept_stats
            return len(expired), victims

        n_expired, victims = self._commit_metadata(mutate)
        deleted = 0
        prefix = self.root.rstrip("/") + "/"
        for p in victims:
            # ownership guard: zero-copy converts (format_convert /
            # convert_parquet) reference FOREIGN files by absolute
            # path — expiring a snapshot must never delete a file this
            # table does not own, or the source table breaks
            if not p.startswith(prefix):
                continue
            try:
                if _atomic.delete(self.spark, p):
                    deleted += 1
            except Exception:
                pass  # already gone
        return {"snapshots": n_expired, "files": deleted}

    def remove_orphan_files(self, older_than_ms: int | None = 3_600_000) -> int:
        """Delete files under ``data/`` that NO snapshot references —
        the leaked output of writers that crashed between staging and
        commit (expire_snapshots can never reach them: it only walks
        files that were once referenced). Iceberg's remove_orphan_files.

        ``older_than_ms`` is the in-flight-writer guard: files younger
        than the horizon are kept (a concurrent writer has staged them
        but not yet committed — deleting them would corrupt its commit).
        Default 1 h, the same defensive posture as the real procedure;
        pass None only when no writer can be active. Scope is strictly
        ``self.root/data`` — foreign files a zero-copy convert references
        live outside it and are never touched. Returns files deleted."""
        _, files = self._referenced_files(self.metadata().get("snapshots", []), {})
        referenced = {_atomic.path_only(p) for p in files}
        now = int(time.time() * 1000)
        deleted = 0
        for path, _size, mtime in _atomic.list_files(self.spark, f"{self.root}/data"):
            p = _atomic.path_only(path)
            if p in referenced:
                continue
            if older_than_ms is not None and mtime > now - older_than_ms:
                continue
            try:
                if _atomic.delete(self.spark, path):
                    deleted += 1
            except Exception:
                pass  # already gone
        return deleted

    def _matching_positions(self, meta: dict, condition: str) -> DataFrame | None:
        """(file_path raw-form, pos) of every live row matching
        ``condition`` — executor-side, the shared front half of both
        delete encodings (v2 position-delete parquet, v3 deletion
        vectors). Live means after the position, DV and equality deletes
        in force, so a delete never re-records a row an earlier one
        removed. None when the table holds no entries."""
        schema = self._spark_schema(meta)
        idcols_by_spec = {
            s["spec-id"]: [
                p["pname"]
                for p in _spec_part_fields(meta, s)
                if p["transform"] == "identity"
            ]
            for s in meta["partition-specs"]
        }
        entries, delete_entries = self._entries_for_snapshot(meta, None)
        if not entries:
            return None
        # only rows no earlier delete removed match; spec: file_path must
        # equal the manifest's raw form
        return (
            self._live_scan(
                meta, schema, idcols_by_spec, entries, delete_entries, with_pos=True
            )
            .filter(condition)
            .select(F.col("__fp").alias("file_path"), F.col("__ri").alias("pos"))
        )

    def _pos_delete_pairs_df(
        self, pos_entries: list[dict], live_paths: list[str]
    ) -> DataFrame:
        """(file_path, pos) pairs from content=1 delete entries — v2
        parquet pair files and v3 puffin deletion vectors, unioned into
        one frame. Parquet pairs stay a scan; DV blobs are read and
        decoded on the driver (each entry's ``referenced_data_file`` /
        ``content_offset`` / size address its blob exactly) and enter
        the plan as one broadcast local frame — deletion_vectors.py's
        rule, O(deleted rows) driver memory."""
        parquet_paths = [
            e["data_file"]["file_path"]
            for e in pos_entries
            if (e["data_file"].get("file_format") or "PARQUET") != "PUFFIN"
        ]
        dv_rows = [
            (
                d["file_path"],
                d["referenced_data_file"],
                int(d["content_offset"]),
                int(d["content_size_in_bytes"]),
            )
            for e in pos_entries
            if (d := e["data_file"]).get("file_format") == "PUFFIN"
        ]
        frames: list[DataFrame] = []
        if parquet_paths:
            # delete files record RAW manifest-form paths (spec) — compared
            # verbatim; only encoded-form legacy rows fall back to a decode.
            # The legacy probe (one Spark job) runs only while some file
            # is not yet known to be raw-form
            probe = not self._raw_form_deletes.issuperset(parquet_paths)
            pairs, legacy = _normalize_stored_delete_paths(
                self.spark,
                self.spark.read.schema("file_path string, pos long").parquet(
                    *parquet_paths
                ),
                live_paths if probe else None,
            )
            if not legacy:
                self._raw_form_deletes.update(parquet_paths)
            frames.append(pairs)
        if dv_rows:
            from projectdatalake_spark.sources.puffin import dv_blob_positions

            # each puffin read once through the seam; every blob sliced
            # and decoded (CRC-checked) on the driver
            by_file: dict[str, set[int]] = {}
            for puffin in sorted({r[0] for r in dv_rows}):
                data = _atomic.read_bytes(self.spark, puffin)
                for p, fp, off, ln in dv_rows:
                    if p == puffin:
                        by_file.setdefault(
                            _atomic.path_only(fp), set()
                        ).update(dv_blob_positions(data[off : off + ln]))
            frames.append(_dv.pairs_frame(self.spark, by_file))
        if not parquet_paths:
            return F.broadcast(frames[0])
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def delete_where(self, condition: str) -> int | None:
        """Merge-on-read DELETE via v2 POSITION DELETE files: matching rows
        are written as (file_path, pos) parquet pairs — computed and
        written entirely on executors, no driver materialization — and a
        content=1 delete manifest joins the manifest list. Zero data files
        rewritten; readers apply the deletes as an anti-join. Returns the
        new snapshot id, or None when nothing matched."""
        meta = self.metadata()
        pairs = self._matching_positions(meta, condition)
        if pairs is None:
            return None
        # spec: position deletes sorted by (file_path, pos) for merge reads
        stage = f"{self.root}/data/{uuid.uuid4().hex}-deletes"
        pairs.repartition(1).sortWithinPartitions("file_path", "pos").write.mode(
            "overwrite"
        ).parquet(stage)
        del_files, counts = self._staged_files(stage)
        n_deleted = sum(counts.values())
        if n_deleted == 0:
            _atomic.delete(self.spark, stage, recursive=True)
            return None
        self._raw_form_deletes.update(p for p, _ in del_files)
        return self._commit_deletes(
            meta,
            [
                {
                    "content": 1,  # POSITION_DELETES
                    "file_path": path,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": counts[path],
                    "file_size_in_bytes": size,
                }
                for path, size in del_files
            ],
            {
                "operation": "delete",
                "added-position-delete-files": str(len(del_files)),
                "added-position-deletes": str(n_deleted),
            },
        )

    def delete_where_dv(self, condition: str) -> int | None:
        """Merge-on-read DELETE via v3 DELETION VECTORS (spec "Deletion
        Vectors" / Puffin ``deletion-vector-v1``): matching row positions
        compress into ONE portable-roaring64 bitmap per masked data file,
        all blobs land in ONE puffin file, and the delete manifest carries
        one content=1 entry PER MASKED FILE with ``referenced_data_file``
        (field 143) + ``content_offset``/``content_size_in_bytes``
        (144/145) addressing its blob. The v3 upgrade over v2 position
        deletes: O(1) delete files per commit instead of per-partition
        parquet, bitmap-compressed positions, and scan planning that knows
        EXACTLY which data file each DV masks without opening it. Blob
        framing: BE length + magic D1D33964 + portable roaring64 + BE
        CRC-32 (puffin.dv_blob_payload; CRC validated on read — a
        truncated vector must never silently resurrect rows).

        DEVIATION (same honesty rule as row lineage, recorded in table
        properties): the v3 spec ties DVs to format-version 3 and one
        CURRENT DV per data file (superseding older DVs at write); this
        writer emits them under a v2 declaration (external v2 readers see
        unknown optional fields) and, like its v2 position deletes,
        ACCUMULATES vectors — readers union all DVs for a file, which is
        semantically equal to the spec's maintained-current-DV.

        Matching positions are grouped per file in the JVM and reach the
        driver as one sorted list per masked file
        (deletion_vectors.positions_by_file), where each becomes a blob
        — O(deleted rows) driver memory, the limit Delta's DV delete has
        too. Returns the new snapshot id, or None when nothing
        matched."""
        from projectdatalake_spark.sources.puffin import (
            DV_BLOB_TYPE,
            dv_blob_payload,
            write_puffin,
        )

        meta = self.metadata()
        pairs = self._matching_positions(meta, condition)
        if pairs is None:
            return None

        blobs = [
            (fp, dv_blob_payload(pos), len(pos))
            for fp, pos in sorted(_dv.positions_by_file(pairs).items())
        ]
        if not blobs:
            return None
        sid = _new_snapshot_id()
        seq_hint = meta["last-sequence-number"] + 1
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
            properties={"created-by": "projectdatalake-spark dv writer"},
        )
        puffin_path = f"{self.root}/data/{uuid.uuid4().hex}-deletes.puffin"
        _atomic.write_bytes(self.spark, puffin_path, puffin_bytes, exclusive=True)
        # recover each blob's offset/length from the written container
        # (write_puffin assigned them) — addressing must match the bytes
        from projectdatalake_spark.sources.puffin import read_puffin

        written, _ = read_puffin(puffin_bytes)
        offsets = {
            b["properties"]["referenced-data-file"]: (b["offset"], b["length"])
            for b, _payload in written
        }
        n_deleted = sum(card for _fp, _payload, card in blobs)
        return self._commit_deletes(
            meta,
            [
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
            ],
            {
                "operation": "delete",
                "added-dvs": str(len(blobs)),
                "added-position-deletes": str(n_deleted),
            },
            sid=sid,
            meta_mutator=_stamp_dv_v2_embedded,
        )

    def delete_equality(
        self, keys: DataFrame, cols: list[str] | None = None
    ) -> int | None:
        """Merge-on-read DELETE via v2 EQUALITY DELETE files (content=2):
        the distinct key tuples are written as a parquet delete file whose
        manifest entry carries ``equality_ids`` (the field ids the values
        match on), and readers drop every data row whose key equals a
        delete row AND whose data sequence number is STRICTLY LESS than
        the delete's — so rows re-appended later with the same key
        survive, the spec's upsert-friendly semantics. O(keys) write cost
        regardless of table size: the 100 TB "delete these ids" that
        touches no data file and doesn't even need to FIND the rows at
        write time (position deletes must scan; equality deletes defer
        matching to read/compaction). Returns the new snapshot id, or
        None for an empty key set."""
        meta = self.metadata()
        eq_files, n_keys = self._stage_equality_keys(keys, list(cols or keys.columns), meta)
        if n_keys == 0:
            return None
        # table-wide equality deletes MUST be global per the Iceberg spec:
        # written under an unpartitioned spec, empty partition tuple — a
        # partitioned-spec all-null tuple would be scoped to the null
        # partition by compliant readers, resurrecting rows elsewhere
        return self._commit_deletes(
            meta,
            eq_files,
            {
                "operation": "delete",
                "added-equality-delete-files": str(len(eq_files)),
                "added-equality-deletes": str(n_keys),
            },
        )

    def _stage_equality_keys(
        self, keys: DataFrame, cols: list[str], meta: dict
    ) -> tuple[list[dict], int]:
        """Stage the distinct key tuples of ``keys[cols]`` as an equality
        delete parquet file; returns (content=2 file dicts, n_keys).
        n_keys == 0 means nothing staged (caller no-ops)."""
        by_name = {f["name"]: f for f in _current_schema(meta)["fields"]}
        missing = [c for c in cols if c not in by_name]
        if missing:
            raise IcebergProtocolError(
                f"equality delete columns not in table schema: {missing}"
            )
        eq_ids = [by_name[c]["id"] for c in cols]
        distinct = keys.select(
            *[
                F.col(c).alias(c, metadata={"parquet.field.id": by_name[c]["id"]})
                for c in cols
            ]
        ).distinct()
        stage = f"{self.root}/data/{uuid.uuid4().hex}-eqdel"
        distinct.repartition(1).write.mode("overwrite").parquet(stage)
        del_files, counts = self._staged_files(stage)
        n_keys = sum(counts.values())
        if n_keys == 0:
            _atomic.delete(self.spark, stage, recursive=True)
            return [], 0
        return (
            [
                {
                    "content": 2,  # EQUALITY_DELETES
                    "file_path": path,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": counts[path],
                    "file_size_in_bytes": size,
                    "equality_ids": eq_ids,
                }
                for path, size in del_files
            ],
            n_keys,
        )

    def merge_upsert(
        self,
        updates: DataFrame,
        keys: list[str],
        txn: tuple[str, int] | None = None,
    ) -> int | None:
        """MERGE (upsert) as ONE Iceberg v2 snapshot: a global equality
        delete on the key columns PLUS the update rows as new data files,
        committed together at the same sequence number. The spec's
        strictly-smaller rule is the whole mechanism — the delete (seq N)
        kills every OLDER generation of the keys (data seq < N) while the
        same-snapshot data files (seq N) survive: the upsert-Iceberg /
        Flink CDC write shape, merge-on-read.

        O(|updates|) write cost regardless of table size: no existing
        data file is read OR rewritten (contrast Delta merge_upsert's
        touched-file rewrite — Iceberg's MOR absorbs the merge and
        ``rewrite_data_files`` amortizes the read cost later). New keys
        insert naturally (their delete rows match nothing). Duplicate
        keys within ``updates`` all land at the same seq and all survive
        — dedup the batch first if last-wins is wanted. Conflicts follow
        append semantics (the staged delete applies by seq ORDERING, not
        by a precomputed file set, so retrying against a newer tip stays
        correct — unlike replace commits).

        ``txn=(app_id, batch_id)`` makes the merge idempotent, as in the
        Delta twin: the snapshot summary records the pair, and a replay
        that finds it in the history returns None without staging."""
        meta = self.metadata()
        props = {}
        if txn is not None:
            if self._txn_committed(meta, *txn):
                return None
            props = {"app-id": txn[0], "batch-id": txn[1]}
        fields = {f["name"] for f in _current_schema(meta)["fields"]}
        missing = [k for k in keys if k not in fields]
        if missing:
            raise IcebergProtocolError(f"merge keys not in table schema: {missing}")
        files = self._prepare_files(updates, meta)
        eq_files, n_keys = self._stage_equality_keys(updates.select(*keys), keys, meta)
        if n_keys == 0:
            return self.append_files(files, meta=meta, summary_props=props)
        sid = _new_snapshot_id()
        return self.append_files(
            files,
            meta=meta,
            operation="overwrite",
            delete_manifests=[self._delete_manifest(meta, eq_files, sid)],
            summary_props={
                **props,
                "added-equality-deletes": n_keys,
                "merge-keys": ",".join(keys),
            },
            sid=sid,
        )

    def _commit_deletes(
        self,
        meta: dict,
        files: list[dict],
        summary: dict,
        sid: int | None = None,
        meta_mutator=None,
    ) -> int:
        """Commit position-, DV- or equality-delete ``files`` as one
        snapshot: a global delete manifest added to the head's manifest
        list. The targets were computed against ``meta``'s head, so only
        appends may land in between — a racer that rewrote or deleted
        data makes them stale, and the commit refuses instead of
        mis-deleting. ``sid`` pins the snapshot id when written artifacts
        carry it (DV puffin blob metadata); ``meta_mutator(meta)`` runs
        inside every commit attempt, as in ``append_files``."""
        sid = _new_snapshot_id() if sid is None else sid
        row = self._delete_manifest(meta, files, sid)
        base = self._head(meta)

        def build(meta, seq):
            head = self._head(meta)
            by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
            ops_since = set()
            walk = head
            while walk is not None and walk != base and walk in by_id:
                ops_since.add(by_id[walk]["summary"].get("operation"))
                walk = by_id[walk].get("parent-snapshot-id")
            if ops_since - {"append"}:
                raise IcebergCommitConflict(
                    f"delete raced {sorted(ops_since)} commit(s) at "
                    f"{self.root} — targets stale, recompute and retry"
                )
            if meta_mutator is not None:
                meta_mutator(meta)
            rows = self._manifest_list(self._find_snapshot(meta, head)) + [row]
            return rows, summary, 0

        return self._commit_snapshot(build, sid=sid)


def append_stream(
    stream_df: DataFrame,
    table: IcebergTable,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Exactly-once streaming sink into an Iceberg table via
    ``foreachBatch`` + ``append_once``: each micro-batch is one
    idempotent snapshot commit whose summary carries (app-id, batch-id),
    so a crash-replayed batch is skipped before any file is staged —
    the same txn mechanism as the txlog/Delta sinks, expressed through
    Iceberg's snapshot summary. Returns the StreamingQuery."""

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        table.append_once(batch_df, checkpoint_dir, batch_id)

    return _start_sink(stream_df, commit_batch, checkpoint_dir, available_now)


def upsert_stream(
    stream_df: DataFrame,
    table: IcebergTable,
    keys: list[str],
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Exactly-once streaming UPSERT sink: each micro-batch lands as ONE
    ``merge_upsert`` snapshot (equality delete + data at the same
    sequence number) whose summary records (checkpoint, batch id), so a
    crash-replayed batch is skipped before any file is staged — the
    Flink-style upsert-Iceberg CDC sink. Across batches, a later batch's
    delete kills the earlier generations of its keys, so the table
    converges to last-write-wins per key; duplicate keys WITHIN a batch
    all survive (pre-aggregate the batch for one row per key). Returns
    the StreamingQuery."""

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        table.merge_upsert(batch_df, keys, txn=(checkpoint_dir, batch_id))

    return _start_sink(stream_df, commit_batch, checkpoint_dir, available_now)


def _start_sink(stream_df: DataFrame, commit_batch, checkpoint_dir: str, available_now: bool):
    """Start the ``foreachBatch`` query every txlog, Delta and Iceberg
    stream sink runs: ``commit_batch`` is the format's idempotent commit,
    ``checkpoint_dir`` the query's checkpoint (and the sinks' app id)."""
    writer = stream_df.writeStream.foreachBatch(commit_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
