"""The table formats' one filesystem seam, and their commit point.

Every byte the table formats (txlog, Delta, Iceberg) read or write
outside a Spark job goes through the functions below: read, write
(exclusive or overwrite), exists, list a directory, list a tree,
rename, mkdirs and delete. Each takes the session and a path. A local
path (no scheme, or ``file:``; ``is_local_path``) is served by ``os``
in the driver process, with no JVM round trip. Any other scheme
(``hdfs://``, ``s3a://``) goes through the Hadoop ``FileSystem`` of the
session's Hadoop configuration, one py4j call per operation step, as
before the seam existed.

Exclusive create is the commit point of every optimistic protocol
here: "create this version file ONLY if it does not exist" is the
mutual exclusion. Hadoop's ``RawLocalFileSystem.create(path,
overwrite=false)`` implements that as check-then-create, a TOCTOU
window in which two racing writers both pass the exists() check and
the later close silently wins (reproduced ~1/12 under six racing
appends in
tests/test_iceberg_interop.py::test_concurrent_appends_no_lost_snapshots).
Locally the seam uses the kernel's ``O_CREAT|O_EXCL`` open, which is
atomic on POSIX: exactly one writer wins and every loser gets
``ExclusiveCreateConflict``. HDFS create is atomic at the NameNode;
object-store semantics are connector-specific, so non-local roots keep
``fs.create``.

Hadoop ``.crc`` sidecars: files written through the local branch carry
none. ``ChecksumFileSystem`` verifies only when a sidecar exists, so
mixed trees stay readable by Spark and by the Hadoop branch. A local
overwrite, rename onto an existing file or delete also removes the
target's sidecar, so no stale checksum outlives the bytes it covered,
and local listings never return ``.crc`` files (Hadoop's listings hide
them too).
"""

from __future__ import annotations

import os
import random
import threading
import time
import uuid


class ExclusiveCreateConflict(FileExistsError):
    """Another writer created the path first."""


# --- jittered retry backoff ------------------------------------------------
#
# The bounded metadata/hint read retries (txlog commit files, Delta commit
# JSON, Iceberg version-hint + metadata JSON) ride out the visible-before-
# written window of exclusive create. Linear lockstep sleeps re-collide
# when several threads observe the same torn file at the same instant —
# "full jitter" (sleep uniform in [floor, min(cap, base·2^attempt)])
# decorrelates them, so contention drains in O(log n) rounds instead of
# repeatedly thundering. RETRY_STATS records the worst attempt depth so
# stress tests can assert the budget is never close to exhausted.

_RETRY_BASE = 0.005
_RETRY_CAP = 0.1
_retry_lock = threading.Lock()
RETRY_STATS = {"sleeps": 0, "max_attempt": 0}


def reset_retry_stats() -> None:
    with _retry_lock:
        RETRY_STATS["sleeps"] = 0
        RETRY_STATS["max_attempt"] = 0


def backoff_sleep(attempt: int) -> float:
    """Sleep with full-jitter exponential backoff; returns the delay.

    ``attempt`` is 0-based. The floor (base/2) guarantees forward progress
    past sub-millisecond torn-write windows even when the jitter draw is
    low; the cap bounds tail latency of a deep retry."""
    hi = min(_RETRY_CAP, _RETRY_BASE * (2 ** attempt))
    d = random.uniform(_RETRY_BASE / 2, max(_RETRY_BASE / 2, hi))
    with _retry_lock:
        RETRY_STATS["sleeps"] += 1
        RETRY_STATS["max_attempt"] = max(RETRY_STATS["max_attempt"], attempt + 1)
    time.sleep(d)
    return d


def is_local_path(p: str) -> bool:
    return "://" not in p or p.startswith("file:")


def strip_file_scheme(p: str) -> str:
    if p.startswith("file://"):
        return p[len("file://") :]
    if p.startswith("file:"):
        return p[len("file:") :]
    return p


def uri_to_path(p: str) -> str:
    """Normalize a Spark ``input_file_name()`` URI to a filesystem path.

    input_file_name returns a PERCENT-ENCODED URI (a hive partition dir
    like ``o_orderpriority=4-NOT SPECIFIED`` comes back as
    ``...4-NOT%20SPECIFIED/...``), while filesystem listings yield raw
    paths. Keying a stats/count map by the encoded form and looking it
    up by the raw form silently misses every file under a partition
    value containing a space/%/# — record counts land as 0 in manifests
    and per-file min/max never attach (found round 6 via the Iceberg
    partitions metadata table over TPC-H's '4-NOT SPECIFIED')."""
    from urllib.parse import unquote

    return unquote(strip_file_scheme(p))


# --- the filesystem seam ---------------------------------------------------


def _hadoop(spark, p: str):
    """(FileSystem, Path) of ``p`` under the session's Hadoop conf."""
    path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(p)
    return path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), path


def _drop_crc(raw: str) -> None:
    """Remove the Hadoop checksum sidecar ``.<name>.crc`` of ``raw``."""
    d, name = os.path.split(raw)
    try:
        os.unlink(os.path.join(d, f".{name}.crc"))
    except FileNotFoundError:
        pass


def path_only(p: str) -> str:
    """``p`` without scheme and authority (``hdfs://nn:8020/a`` → ``/a``,
    ``file:/a`` → ``/a``); the rest verbatim — never URL-parsed, so a
    ``#``, ``?`` or ``%`` in a partition value survives."""
    if p.startswith("file:"):
        return strip_file_scheme(p)
    i = p.find("://")
    if i < 0:
        return p
    j = p.find("/", i + 3)
    return p[j:] if j >= 0 else "/"


def read_bytes(spark, p: str) -> bytes:
    if is_local_path(p):
        with open(strip_file_scheme(p), "rb") as f:
            return f.read()
    fs, path = _hadoop(spark, p)
    try:
        stream = fs.open(path)
    except Exception as exc:  # py4j-wrapped java.io.FileNotFoundException
        if "FileNotFoundException" in str(exc):
            raise FileNotFoundError(p) from exc
        raise
    try:
        return bytes(spark.sparkContext._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def read_text(spark, p: str) -> str:
    return read_bytes(spark, p).decode("utf-8")


def write_bytes(spark, p: str, data: bytes, exclusive: bool) -> None:
    """Write ``data`` to ``p``, creating parent directories.

    ``exclusive``: create only if absent, else ``ExclusiveCreateConflict``
    — exactly one of any number of racing writers succeeds. Otherwise
    overwrite; locally that is a write to a unique temp name plus an
    atomic ``os.replace``, so a reader never sees a torn file."""
    if is_local_path(p):
        raw = strip_file_scheme(p)
        os.makedirs(os.path.dirname(raw), exist_ok=True)
        target = raw if exclusive else f"{raw}.tmp.{uuid.uuid4().hex}"
        try:
            fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError as exc:
            raise ExclusiveCreateConflict(p) from exc
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        if not exclusive:
            os.replace(target, raw)
            _drop_crc(raw)
        return
    fs, path = _hadoop(spark, p)
    try:
        out = fs.create(path, not exclusive)
    except Exception as exc:  # py4j-wrapped FileAlreadyExistsException
        raise ExclusiveCreateConflict(p) from exc
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def write_text(spark, p: str, text: str, exclusive: bool) -> None:
    write_bytes(spark, p, text.encode("utf-8"), exclusive)


def exists(spark, p: str) -> bool:
    if is_local_path(p):
        return os.path.exists(strip_file_scheme(p))
    fs, path = _hadoop(spark, p)
    return bool(fs.exists(path))


def list_dir(spark, p: str) -> list[str]:
    """Sorted child names of directory ``p``; [] when it does not exist."""
    if is_local_path(p):
        try:
            names = os.listdir(strip_file_scheme(p))
        except (FileNotFoundError, NotADirectoryError):
            return []
        return sorted(n for n in names if not n.endswith(".crc"))
    fs, path = _hadoop(spark, p)
    if not fs.exists(path):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(path))


def list_files(
    spark, root: str, suffix: str = ""
) -> list[tuple[str, int, int]]:
    """Recursive listing of the files under ``root`` whose names end with
    ``suffix``: (path, size bytes, mtime millis), path-sorted; [] when
    ``root`` does not exist. Local paths come back raw (no scheme);
    Hadoop ones as ``Path.toString()`` (scheme and authority kept)."""
    out: list[tuple[str, int, int]] = []
    if is_local_path(root):
        stack = [strip_file_scheme(root)]
        while stack:
            d = stack.pop()
            try:
                it = os.scandir(d)
            except FileNotFoundError:
                continue
            with it:
                for e in it:
                    if e.is_dir(follow_symlinks=False):
                        stack.append(e.path)
                    elif e.name.endswith(suffix) and not e.name.endswith(".crc"):
                        st = e.stat()
                        out.append((e.path, st.st_size, st.st_mtime_ns // 1_000_000))
    else:
        fs, path = _hadoop(spark, root)
        if not fs.exists(path):
            return []
        it = fs.listFiles(path, True)
        while it.hasNext():
            st = it.next()
            name = st.getPath().toString()
            if name.endswith(suffix):
                out.append((name, st.getLen(), st.getModificationTime()))
    out.sort()
    return out


def mtime_ms(spark, p: str) -> int:
    if is_local_path(p):
        return os.stat(strip_file_scheme(p)).st_mtime_ns // 1_000_000
    fs, path = _hadoop(spark, p)
    return fs.getFileStatus(path).getModificationTime()


def mkdirs(spark, p: str) -> None:
    if is_local_path(p):
        os.makedirs(strip_file_scheme(p), exist_ok=True)
        return
    fs, path = _hadoop(spark, p)
    fs.mkdirs(path)


def rename(spark, src: str, dst: str) -> bool:
    """Move ``src`` to ``dst``, creating ``dst``'s parent directories.
    Locally an existing ``dst`` is replaced atomically (its sidecar
    dropped); Hadoop's rename refuses an existing destination and returns
    False. Callers either move to fresh names or fall back to an
    overwrite on False (the Iceberg version hint)."""
    if is_local_path(dst):
        raw = strip_file_scheme(dst)
        os.makedirs(os.path.dirname(raw), exist_ok=True)
        try:
            os.replace(strip_file_scheme(src), raw)
        except FileNotFoundError:
            return False
        _drop_crc(raw)
        return True
    fs, s = _hadoop(spark, src)
    d = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(dst)
    fs.mkdirs(d.getParent())
    return bool(fs.rename(s, d))


def delete(spark, p: str, recursive: bool = False) -> bool:
    """Delete file ``p`` (with its sidecar), or the tree under it when
    ``recursive``; False when nothing was there."""
    if is_local_path(p):
        raw = strip_file_scheme(p)
        if recursive and os.path.isdir(raw):
            import shutil

            shutil.rmtree(raw, ignore_errors=True)
            return True
        try:
            os.unlink(raw)
        except FileNotFoundError:
            return False
        _drop_crc(raw)
        return True
    fs, path = _hadoop(spark, p)
    return bool(fs.delete(path, recursive))
