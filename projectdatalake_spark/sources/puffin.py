"""Puffin statistics files (Iceberg spec: puffin-spec.md) with
apache-datasketches-theta-v1 NDV blobs.

Puffin is Iceberg's container for indexes and statistics blobs; the spec
(public, iceberg.apache.org/puffin-spec) defines the layout re-implemented
here byte-for-byte:

    Magic Blob₁ ... Blobₙ Magic FooterPayload FooterPayloadSize Flags Magic

with ``Magic = 0x50 46 41 31`` ("PFA1"), ``FooterPayload`` a UTF-8 JSON
FileMetadata struct (uncompressed here — flag bit 0 clear), and the two
trailing int32s little-endian. Blob metadata carries ``type``, ``fields``,
``snapshot-id``, ``sequence-number``, ``offset``, ``length`` and a
``properties.ndv`` string — the property engines (Trino, Spark's Iceberg
CBO) actually read for NDV.

The blob payload is a serialized theta sketch in the Apache DataSketches
compact-ordered layout (public memory-layout docs: 8-byte preamble longs —
preamble_longs / ser_ver=3 / family=3(COMPACT) / flags / seed-hash, then
retained-count, then theta for estimation mode, then the sorted retained
hashes), over MurmurHash3 x64-128 (Austin Appleby's public-domain
algorithm) with the DataSketches default seed 9001, keeping
``hash[0] >>> 1`` per their update rule. CAVEAT (documented, sandbox-bound):
byte-compatibility with the reference Java library cannot be
cross-validated here (no datasketches wheel / no jar); the layout follows
the published spec and round-trips through this module's own reader, and
the ``ndv`` property is self-describing either way.

The sketch itself is KMV (k minimum values): keep the k smallest distinct
hashes; theta = the (k+1)-th smallest; estimate = k / (theta / 2^63) —
mergeable (union = KMV of the hash union), error ~ 1/sqrt(k).
"""

from __future__ import annotations

import json
import struct

_MAGIC = b"PFA1"
_SEED = 9001  # DataSketches DEFAULT_UPDATE_SEED
_MAX_THETA = (1 << 63) - 1  # hash space is [1, 2^63)

THETA_BLOB_TYPE = "apache-datasketches-theta-v1"


# --- MurmurHash3 x64-128 (public domain reference algorithm) ---------------

_M = (1 << 64) - 1
_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _M
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _M
    k ^= k >> 33
    return k


def murmur3_x64_128(data: bytes, seed: int = _SEED) -> tuple[int, int]:
    """MurmurHash3 x64 128-bit of ``data`` — the hash DataSketches feeds
    its theta sketches (16-byte blocks, the published tail switch, final
    avalanche)."""
    h1 = h2 = seed & _M
    n = len(data)
    nblocks = n // 16
    for i in range(nblocks):
        k1, k2 = struct.unpack_from("<QQ", data, i * 16)
        k1 = (k1 * _C1) & _M
        k1 = _rotl(k1, 31)
        k1 = (k1 * _C2) & _M
        h1 ^= k1
        h1 = _rotl(h1, 27)
        h1 = (h1 + h2) & _M
        h1 = (h1 * 5 + 0x52DCE729) & _M
        k2 = (k2 * _C2) & _M
        k2 = _rotl(k2, 33)
        k2 = (k2 * _C1) & _M
        h2 ^= k2
        h2 = _rotl(h2, 31)
        h2 = (h2 + h1) & _M
        h2 = (h2 * 5 + 0x38495AB5) & _M
    tail = data[nblocks * 16 :]
    k1 = k2 = 0
    t = len(tail)
    if t > 8:
        k2 = int.from_bytes(tail[8:] + b"\x00" * (16 - t), "little")
        k2 = (k2 * _C2) & _M
        k2 = _rotl(k2, 33)
        k2 = (k2 * _C1) & _M
        h2 ^= k2
    if t > 0:
        k1 = int.from_bytes(tail[:8][: min(t, 8)] + b"\x00" * max(0, 8 - t), "little")
        k1 = (k1 * _C1) & _M
        k1 = _rotl(k1, 31)
        k1 = (k1 * _C2) & _M
        h1 ^= k1
    h1 ^= n
    h2 ^= n
    h1 = (h1 + h2) & _M
    h2 = (h2 + h1) & _M
    h1 = _fmix(h1)
    h2 = _fmix(h2)
    h1 = (h1 + h2) & _M
    h2 = (h2 + h1) & _M
    return h1, h2


def theta_hash(value) -> int:
    """DataSketches update-hash of a scalar: longs/doubles-as-longs use
    their 8-byte little-endian form, strings their UTF-8 bytes; the kept
    value is ``murmur[0] >>> 1`` (always in [0, 2^63))."""
    if isinstance(value, bool):
        data = struct.pack("<q", int(value))
    elif isinstance(value, int):
        data = struct.pack("<q", value)
    elif isinstance(value, float):
        data = struct.pack("<d", value)
    elif isinstance(value, str):
        data = value.encode("utf-8")
    elif isinstance(value, (bytes, bytearray)):
        data = bytes(value)
    else:
        data = str(value).encode("utf-8")
    return murmur3_x64_128(data)[0] >> 1


# --- theta sketch (KMV) ------------------------------------------------------


def _seed_hash(seed: int) -> int:
    """DataSketches seed hash: the low 16 bits of murmur(seed-as-long,
    seed=0) — stored in the preamble so mismatched-seed sketches refuse
    to combine."""
    h = murmur3_x64_128(struct.pack("<q", seed), 0)[0] & 0xFFFF
    return h if h != 0 else 0x1234  # spec: seed hash must not be 0


class ThetaSketch:
    """Compact-ordered theta sketch over distinct hashes (KMV form)."""

    def __init__(self, k: int, hashes: list[int], theta: int = _MAX_THETA):
        self.k = k
        self.theta = theta
        self.hashes = sorted(h for h in set(hashes) if h < theta)
        if len(self.hashes) > k:
            # estimation mode: theta = the (k+1)-th smallest
            self.theta = self.hashes[k]
            self.hashes = self.hashes[:k]

    @classmethod
    def from_hashes(cls, k: int, hashes) -> "ThetaSketch":
        return cls(k, list(hashes))

    def estimate(self) -> float:
        if self.theta >= _MAX_THETA:
            return float(len(self.hashes))
        return len(self.hashes) / (self.theta / float(1 << 63))

    def union(self, other: "ThetaSketch") -> "ThetaSketch":
        theta = min(self.theta, other.theta)
        return ThetaSketch(
            min(self.k, other.k), self.hashes + other.hashes, theta
        )

    def intersect(self, other: "ThetaSketch") -> "ThetaSketch":
        """Theta-sketch set INTERSECTION (the DataSketches a-n-b family's
        other half): theta = min of the two, retained = the common
        hashes below it. In exact mode (both thetas at max) this is an
        exact distinct-set intersection — hash-provable against
        COUNT(DISTINCT ... INTERSECT ...); in estimation mode the usual
        theta estimator |common|/theta applies."""
        theta = min(self.theta, other.theta)
        common = set(self.hashes) & set(other.hashes)
        out = ThetaSketch.__new__(ThetaSketch)
        out.k = min(self.k, other.k)
        out.theta = theta
        out.hashes = sorted(h for h in common if h < theta)
        return out

    def a_not_b(self, other: "ThetaSketch") -> "ThetaSketch":
        """Theta-sketch set DIFFERENCE — DataSketches' actual "A-not-B"
        operation, the third of the set-algebra trio (union/intersect/
        difference): theta = min of the two (the region where BOTH
        sketches are authoritative), retained = A's hashes below it that
        B does not hold. Exact mode ⇒ exact distinct-set difference
        (hash-provable against EXCEPT); estimation mode ⇒ the standard
        |A\\B below theta| / theta estimator."""
        theta = min(self.theta, other.theta)
        drop = set(other.hashes)
        out = ThetaSketch.__new__(ThetaSketch)
        out.k = self.k
        out.theta = theta
        out.hashes = sorted(
            h for h in self.hashes if h < theta and h not in drop
        )
        return out

    # --- serialization (DataSketches compact layout) -----------------------

    def to_bytes(self) -> bytes:
        flags = 0b11010  # READ_ONLY | COMPACT | ORDERED
        sh = _seed_hash(_SEED)
        if not self.hashes and self.theta >= _MAX_THETA:
            return struct.pack("<BBBBBBH", 1, 3, 3, 0, 0, flags | 0b100, sh)
        # bytes 12-15 carry the sampling probability p = 1.0f (this
        # engine never samples) — round 12: writing the real value makes
        # exact-mode images BYTE-IDENTICAL to datasketches-java's
        # compact().toByteArray() for the same inputs (cross-validated
        # in tests/test_accuracy_gates.py::test_theta_datasketches_interop)
        if self.theta >= _MAX_THETA:  # exact mode: 2 preamble longs
            head = struct.pack(
                "<BBBBBBHif", 2, 3, 3, 0, 0, flags, sh, len(self.hashes), 1.0
            )
        else:  # estimation mode: 3 preamble longs (retained, theta)
            head = struct.pack(
                "<BBBBBBHifq",
                3, 3, 3, 0, 0, flags, sh, len(self.hashes), 1.0, self.theta,
            )
        return head + b"".join(struct.pack("<q", h) for h in self.hashes)

    @classmethod
    def from_bytes(cls, data: bytes, k: int = 4096) -> "ThetaSketch":
        pre, ser, fam, _, _, flags, sh = struct.unpack_from("<BBBBBBH", data, 0)
        if ser != 3 or fam != 3:
            raise ValueError(f"not a compact theta sketch (ser={ser}, fam={fam})")
        if sh != _seed_hash(_SEED):
            raise ValueError("theta sketch seed hash mismatch")
        if pre == 1:  # empty
            return cls(k, [])
        retained = struct.unpack_from("<i", data, 8)[0]
        if pre == 2:
            theta = _MAX_THETA
            off = 16
        else:
            theta = struct.unpack_from("<q", data, 16)[0]
            off = 24
        hashes = list(struct.unpack_from(f"<{retained}q", data, off))
        out = cls.__new__(cls)
        out.k, out.theta, out.hashes = k, theta, hashes
        return out


# --- puffin container --------------------------------------------------------


def column_theta_sketch(df, col: str, k: int) -> "ThetaSketch":
    """Distributed KMV/theta sketch of one DataFrame column: each
    partition hashes its DISTINCT values (Arrow-batched; per-unique
    python hash — uniques, not rows, bound the hash count) and keeps its
    k+1 smallest in a BOUNDED max-heap (O(k) memory however many uniques
    the partition holds — a unique-key column must not pin every row's
    hash in Python); a global k+1 top-k merges the partials. Only k+1
    longs reach the driver regardless of table size. Shared by the
    Iceberg puffin writer and txlog's stats commits. (The murmur hash
    itself is spec-forced — MurmurHash3-x64-128 seed 9001 per the
    DataSketches vectors — so hashing stays Python-side.)"""
    import heapq

    import pandas as pd
    from pyspark.sql import functions as F

    def partial(batches):
        cap = k + 1
        heap: list[int] = []  # k+1 smallest, as a max-heap via negation
        members: set[int] = set()  # heap contents, for O(1) dedup
        for pdf in batches:
            for v in pdf[col].dropna().unique():
                if hasattr(v, "item") and not isinstance(v, (str, bytes)):
                    v = v.item()
                h = theta_hash(v)
                if h in members:
                    continue
                if len(heap) < cap:
                    heapq.heappush(heap, -h)
                    members.add(h)
                elif h < -heap[0]:
                    evicted = -heapq.heappushpop(heap, -h)
                    members.discard(evicted)
                    members.add(h)
        yield pd.DataFrame({"h": sorted(members)})

    partials = df.select(col).mapInPandas(partial, schema="h long")
    top = partials.distinct().orderBy("h").limit(k + 1).collect()
    return ThetaSketch(k, [r["h"] for r in top])


def column_theta_sketches(df, cols: list[str], k: int) -> dict:
    """Multi-column KMV/theta sketches in ONE pass: one mapInPandas over
    ``df.select(cols)`` keeps a bounded per-column heap (the exact
    algorithm of ``column_theta_sketch``), and one windowed per-column
    top-(k+1) replaces N separate full scans — the write_stats batching
    of OPTIMIZATION_r13 (guide §1.2: fewer passes). Per column the
    retained hash set is IDENTICAL to the single-column builder (gated
    in tests/test_r13_optimizations.py); returns {col: ThetaSketch}."""
    import heapq

    import pandas as pd
    from pyspark.sql import Window, functions as F

    cols = list(dict.fromkeys(cols))  # a column named twice is sketched once
    if not cols:
        return {}

    def partial(batches):
        cap = k + 1
        heaps: dict[str, list[int]] = {c: [] for c in cols}
        members: dict[str, set[int]] = {c: set() for c in cols}
        for pdf in batches:
            for c in cols:
                heap, mem = heaps[c], members[c]
                for v in pdf[c].dropna().unique():
                    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
                        v = v.item()
                    h = theta_hash(v)
                    if h in mem:
                        continue
                    if len(heap) < cap:
                        heapq.heappush(heap, -h)
                        mem.add(h)
                    elif h < -heap[0]:
                        evicted = -heapq.heappushpop(heap, -h)
                        mem.discard(evicted)
                        mem.add(h)
        frames = [
            pd.DataFrame(
                {
                    "c": pd.array([i] * len(members[c]), dtype="int32"),
                    "h": pd.array(sorted(members[c]), dtype="int64"),
                }
            )
            for i, c in enumerate(cols)
        ]
        yield pd.concat(frames)

    partials = df.select(*cols).mapInPandas(partial, schema="c int, h long")
    w = Window.partitionBy("c").orderBy("h")
    top = (
        partials.dropDuplicates(["c", "h"])
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= k + 1)
        .collect()
    )
    by_idx: dict[int, list[int]] = {i: [] for i in range(len(cols))}
    for r in top:
        by_idx[r["c"]].append(r["h"])
    return {c: ThetaSketch(k, sorted(by_idx[i])) for i, c in enumerate(cols)}


def write_puffin(
    blobs: list[tuple[dict, bytes]], properties: dict | None = None
) -> tuple[bytes, int]:
    """Serialize a puffin file. ``blobs`` is [(metadata_without_offsets,
    payload)]; returns (file bytes, footer size in bytes) — the footer
    size is what table metadata's ``file-footer-size-in-bytes`` records
    (Magic + payload + the 12 trailing bytes)."""
    out = bytearray(_MAGIC)
    metas = []
    for meta, payload in blobs:
        m = dict(meta)
        m["offset"] = len(out)
        m["length"] = len(payload)
        metas.append(m)
        out += payload
    footer_payload = json.dumps(
        {"blobs": metas, "properties": properties or {}}
    ).encode("utf-8")
    footer = (
        _MAGIC
        + footer_payload
        + struct.pack("<i", len(footer_payload))
        + struct.pack("<i", 0)  # flags: payload not compressed
        + _MAGIC
    )
    out += footer
    return bytes(out), len(footer)


def read_puffin(data: bytes) -> tuple[list[tuple[dict, bytes]], dict]:
    """Parse a puffin file → ([(blob metadata, payload)], file properties).
    Validates all three magics and rejects compressed footers (flag bit 0
    — this writer never sets it)."""
    if data[:4] != _MAGIC or data[-4:] != _MAGIC:
        raise ValueError("not a puffin file (magic mismatch)")
    payload_size, flags = struct.unpack_from("<ii", data, len(data) - 12)
    if flags & 1:
        raise ValueError("compressed puffin footer payload not supported")
    payload_start = len(data) - 12 - payload_size
    if data[payload_start - 4 : payload_start] != _MAGIC:
        raise ValueError("puffin footer magic mismatch")
    fm = json.loads(data[payload_start : payload_start + payload_size])
    blobs = [
        (b, data[b["offset"] : b["offset"] + b["length"]])
        for b in fm.get("blobs", [])
    ]
    return blobs, fm.get("properties", {})


# --- deletion-vector blobs (Iceberg v3 "deletion-vector-v1") -----------------

_DV_MAGIC = bytes((0xD1, 0xD3, 0x39, 0x64))
DV_BLOB_TYPE = "deletion-vector-v1"


def dv_blob_payload(positions) -> bytes:
    """Frame a deletion vector per the v3 spec's deletion-vector-v1
    blob: 4-byte big-endian length of (magic + vector), the magic
    ``D1 D3 39 64``, the vector as a PORTABLE 64-bit roaring bitmap
    (roaring.serialize_roaring64_portable), then a big-endian CRC-32 of
    (magic + vector)."""
    import struct as _struct
    import zlib

    from projectdatalake_spark.sources.roaring import (
        serialize_roaring64_portable,
    )

    body = _DV_MAGIC + serialize_roaring64_portable(positions)
    return (
        _struct.pack(">i", len(body))
        + body
        + _struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
    )


def dv_blob_positions(payload: bytes) -> set[int]:
    """Parse a deletion-vector-v1 blob payload → deleted row positions.
    Validates the length prefix, magic, and CRC (a truncated or
    corrupted vector must fail loudly — silently reading fewer deletes
    RESURRECTS rows)."""
    import struct as _struct
    import zlib

    from projectdatalake_spark.sources.roaring import (
        deserialize_roaring64_portable,
    )

    (n,) = _struct.unpack_from(">i", payload, 0)
    body = payload[4 : 4 + n]
    if len(body) != n or body[:4] != _DV_MAGIC:
        raise ValueError("deletion-vector blob: bad length or magic")
    (crc,) = _struct.unpack_from(">I", payload, 4 + n)
    if crc != (zlib.crc32(body) & 0xFFFFFFFF):
        raise ValueError("deletion-vector blob: CRC mismatch")
    return deserialize_roaring64_portable(body, 4)
