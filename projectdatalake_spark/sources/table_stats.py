"""Column statistics shared by the three table formats: one sketch build,
one entry codec and one staleness rule.

Two kinds of statistics exist. ``NDV`` is a theta sketch of a column's
distinct values (``puffin.column_theta_sketches``, one pass over every
requested column); ``KLL`` is a mergeable quantile sketch
(``aggregates.column_kll_sketch``). Each format keeps only where the
result lives:

- Delta: one ``domainMetadata`` domain per kind, a JSON map of column →
  entry (``DeltaTable._write_stats_domain``);
- txlog: the same entries in a metadata-only ``set_stats`` commit, the
  quantile entries under a key prefix no column name can take;
- Iceberg: puffin blobs of a stats file registered under the snapshot's
  ``statistics`` entry (``IcebergTable._register_stats``), the earlier
  blobs of every other (type, column) pair carried forward.

Delta and txlog entries share the JSON codec below (``encode`` /
``decode``): ``ndv`` or ``n``/``exact``, the base64 sketch and the table
``version`` the entry describes. ``answers`` is their staleness rule. The
on-disk names are fixed, so tables written earlier read back unchanged.
"""

from __future__ import annotations

import base64

from projectdatalake_spark.sources import puffin as _puffin

NDV = "ndv"
KLL = "kll"

# Delta domainMetadata domain of each kind
DELTA_DOMAIN = {NDV: "projectdatalake.columnStats", KLL: "graft.quantileStats"}
# txlog set_stats key prefix of each kind
TXLOG_PREFIX = {NDV: "", KLL: "__kll__:"}
# Iceberg puffin blob types of each kind, the preferred reader first: the
# graft KLL blob carries the compactor phase the official layout has no
# slot for; a foreign file with only the official image still answers
KLL_BLOB_TYPE = "graft-kll-v1"
KLL_DS_BLOB_TYPE = "apache-datasketches-kll-v1"
BLOB_TYPES = {NDV: (_puffin.THETA_BLOB_TYPE,), KLL: (KLL_BLOB_TYPE, KLL_DS_BLOB_TYPE)}


def build(df, kind: str, columns, k: int) -> dict:
    """{column: sketch} of ``kind`` over ``df``, in one pass for NDV.
    Raises ValueError naming the first column ``df`` lacks."""
    columns = list(dict.fromkeys(columns))
    for col in columns:
        if col not in df.columns:
            raise ValueError(f"unknown column {col!r}")
    if kind == NDV:
        return _puffin.column_theta_sketches(df, columns, k)
    from projectdatalake_spark.operators.aggregates import column_kll_sketch

    return {col: column_kll_sketch(df, col, k=k) for col in columns}


def encode(kind: str, sketch, version: int) -> dict:
    """The JSON entry Delta and txlog store for one column's sketch."""
    data = base64.b64encode(sketch.to_bytes()).decode("ascii")
    if kind == NDV:
        return {"ndv": int(round(sketch.estimate())), "sketch": data, "version": version}
    return {"n": sketch.n, "exact": sketch.is_exact(), "sketch": data, "version": version}


def entries(df, kind: str, columns, k: int, version: int) -> dict:
    """{column: encoded entry} built over ``df`` at table ``version``."""
    return {
        col: encode(kind, sk, version) for col, sk in build(df, kind, columns, k).items()
    }


def decode(kind: str, entry: dict | None):
    """The sketch of an encoded entry; None for None."""
    if entry is None:
        return None
    if kind == NDV:
        return _puffin.ThetaSketch.from_bytes(base64.b64decode(entry["sketch"]))
    from projectdatalake_spark.operators.aggregates import KLLSketch

    return KLLSketch.from_bytes(base64.b64decode(entry["sketch"]))


def answers(entry: dict, table_version: int, changed) -> bool:
    """The staleness rule: an entry answers only if every version in
    (entry version, ``table_version``] is still in the log and changed no
    data. ``changed(v)`` is True or False, or None when the log no longer
    holds ``v`` (a pruned commit could have changed data, so it cannot be
    proven not to have)."""
    return all(
        changed(v) is False
        for v in range(int(entry["version"]) + 1, table_version + 1)
    )


def ndv(entry: dict | None, table_version: int, changed) -> int | None:
    """The entry's NDV, or None when absent or stale (``answers``) — a
    consumer must not broadcast on a number the table has outgrown."""
    if entry is None or not answers(entry, table_version, changed):
        return None
    return int(entry["ndv"])


def puffin_blobs(
    kind: str, sketches: dict, field_ids: dict, snapshot_id: int, seq: int
) -> list[tuple[dict, bytes]]:
    """Puffin (metadata, payload) pairs of ``sketches`` for one snapshot:
    one theta blob per NDV column, two blobs per KLL column (the graft
    blob and the official DataSketches KllDoublesSketch image)."""
    out = []
    for col, sk in sketches.items():
        common = {
            "fields": [field_ids[col]],
            "snapshot-id": snapshot_id,
            "sequence-number": seq,
        }
        if kind == NDV:
            # `column` rides as a property in the file footer AND the
            # metadata copy, so both resolve names without a schema lookup
            props = {"ndv": str(int(round(sk.estimate()))), "column": col}
            out.append(({"type": _puffin.THETA_BLOB_TYPE, **common, "properties": props},
                        sk.to_bytes()))
            continue
        out.append(({"type": KLL_BLOB_TYPE, **common, "properties": {
            "column": col, "n": str(sk.n), "exact": str(sk.is_exact()).lower(),
        }}, sk.to_bytes()))
        out.append(({"type": KLL_DS_BLOB_TYPE, **common, "properties": {
            "column": col, "item-type": "double", "n": str(sk.n),
        }}, sk.to_datasketches_bytes()))
    return out


def _blob_key(meta: dict) -> tuple:
    return meta.get("type"), meta.get("properties", {}).get("column")


def carry_forward(old: list[tuple[dict, bytes]], new: list[tuple[dict, bytes]]):
    """``new`` after the blobs of ``old`` whose (type, column) pair ``new``
    does not write — a stats write replaces only what it rewrites."""
    written = {_blob_key(m) for m, _ in new}
    kept = [
        ({k: v for k, v in m.items() if k not in ("offset", "length")}, payload)
        for m, payload in old
        if _blob_key(m) not in written
    ]
    return kept + new


def blob_sketch(kind: str, blobs: list[tuple[dict, bytes]], column: str):
    """``column``'s sketch of ``kind`` from puffin blobs, the preferred
    blob type first; None when no blob answers."""
    found = {m.get("type"): p for m, p in blobs if _blob_key(m)[1] == column}
    for typ in BLOB_TYPES[kind]:
        if typ not in found:
            continue
        if typ == _puffin.THETA_BLOB_TYPE:
            return _puffin.ThetaSketch.from_bytes(found[typ])
        from projectdatalake_spark.operators.aggregates import KLLSketch

        if typ == KLL_BLOB_TYPE:
            return KLLSketch.from_bytes(found[typ])
        return KLLSketch.from_datasketches_bytes(found[typ])
    return None
