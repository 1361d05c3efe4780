"""Streaming near-duplicate detection: a live corpus deduplicates
against a GROWING MinHash-LSH index, one micro-batch at a time.

The production shape for "dedup the ingest, not the warehouse": each
micro-batch (a) joins its band rows against the frozen index built by
every PRIOR batch (per-batch cost tracks the batch — the
``minhash_lsh_apply_batch`` contract), (b) appends its own band/shingle
rows to the index, and (c) emits the verified near-dup pairs it
introduced. The union of per-batch pair sets EXACTLY equals the one-shot
``minhash_lsh_pairs`` over the whole corpus (banding is deterministic
per doc; gated in tests) — streaming changes WHEN pairs are discovered,
never WHICH.

Idempotence (foreachBatch is at-least-once per batch): every write lands
in a ``batch_id=N`` subdirectory with mode=overwrite, so a replayed
batch overwrites its own partial output byte-for-byte; the index read
filters ``batch_id < current`` so a replay never sees its own crashed
attempt's rows (which would double the shingle join and duplicate
pairs).

Index maintenance (the long-lived-stream story): without compaction the
index grows one directory per batch forever — bucket pruning bounds
BYTES read but every pruned read still lists across all ``batch_id``
dirs, so a month-long stream degrades on listing alone. Every
``compact_every`` batches the index folds all batches below a watermark
W into ONE consolidated base per index (``banded_base/w=W`` partitioned
by ``bq``; ``shingles_base/w=W``) and garbage-collects the folded batch
dirs, so the live file count is bounded by
``buckets + compact_every × per-batch files`` regardless of stream age.
Replay safety is the watermark: a base is visible only once its
``_SUCCESS`` marker exists (a compaction that dies mid-write is
invisible and redone), readers take the newest committed base with
``w <= before_batch`` and then ONLY batch dirs with ``batch_id >= w``,
so a crash between base-write and GC (both dirs present) never
double-counts; a full replay of the compacting batch finds the
committed base and skips straight to GC (idempotent deletes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from projectdatalake_spark.session import local_frame

_BANDED_SCHEMA = "doc_id long, band int, bkey long"
_SH_SCHEMA = "doc_id long, sh array<string>"
# banded-index directory buckets: batch_id=N/bq=M, bq = pmod(xxhash64(
# band, bkey), _N_BUCKETS). A batch's candidate join needs only the
# buckets its own band rows hash into, so the index read partition-prunes
# to those directories — at 100 TB raise the bucket count so each stays
# executor-sized; the pruning mechanics are identical.
_N_BUCKETS = 16


def _bucket_of(band, bkey):
    return F.pmod(F.xxhash64(band, bkey), F.lit(_N_BUCKETS)).cast("int")


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def _base_root(path: str) -> str:
    # sibling of the batch root, so partition discovery over the batch
    # dirs never mixes `batch_id=` and `w=` layouts in one listing
    return path.rstrip("/") + "_base"


def _latest_base(
    spark: SparkSession, base_root: str, max_w: int
) -> tuple[int, str] | None:
    """Newest COMMITTED consolidated base ``(w, dir)`` with ``w <= max_w``,
    or None. Committed = Spark's ``_SUCCESS`` marker present at the base
    dir root — a compaction that crashed mid-write leaves no marker, is
    invisible to every reader, and is simply redone (its sources are only
    deleted AFTER a successful write)."""
    fs, hroot, jvm = _fs(spark, base_root)
    if not fs.exists(hroot):
        return None
    best: tuple[int, str] | None = None
    for st in fs.listStatus(hroot):
        name = st.getPath().getName()
        if not name.startswith("w="):
            continue
        try:
            w = int(name[2:])
        except ValueError:
            continue
        if w > max_w:
            continue
        marker = jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
        if not fs.exists(marker):
            continue
        if best is None or w > best[0]:
            best = (w, str(st.getPath()))
    return best


def _read_indexed(
    spark,
    path: str,
    schema: str,
    before_batch: int,
    buckets: list[int] | None = None,
    base_max_w: int | None = None,
    bucketed: bool | None = None,
) -> DataFrame:
    """Index rows from batches strictly before ``before_batch`` (replay
    safety), or an empty frame when nothing is indexed yet: the newest
    committed consolidated base with ``w <= before_batch`` (it holds
    exactly the rows of batches ``< w``) unioned with the batch dirs in
    ``[w, before_batch)``. The ``batch_id >= w`` fence makes a
    crash-window leftover (batch dirs already folded into the base but
    not yet GC'd) read exactly once. ``buckets`` (banded index only)
    prunes BOTH scans to the given ``bq`` partition directories —
    candidates require (band, bkey) equality, hence equal bucket, so the
    pruning is exact.

    Only a MISSING path means "nothing indexed" — any other read failure
    (corruption, transient IO) must propagate so the micro-batch fails
    and retries; swallowing it would silently drop every cross-batch
    pair this batch owes, and the batch-id watermark means those pairs
    would never be re-derived. ``base_max_w`` (compaction-internal)
    caps which base may serve as source so a compaction never reads the
    very base dir it is about to overwrite.

    ``bucketed`` declares whether the PATH's on-disk layout carries the
    ``bq`` partition directories, independently of whether this read
    prunes on them (``buckets``). Both scans then declare ``bq int``
    explicitly in their read schema and drop it before the union, so the
    union schema is symmetric BY CONSTRUCTION — never assembled from
    partition discovery, which the round-10 crash showed is layout-
    dependent: an empty batch's ``partitionBy`` write creates no ``bq=``
    dirs, so discovery appends the column on one side of the union and
    not the other (NUM_COLUMNS_MISMATCH, stream death)."""
    if bucketed is None:
        bucketed = buckets is not None
    base = _latest_base(
        spark,
        _base_root(path),
        before_batch if base_max_w is None else base_max_w,
    )
    w0 = base[0] if base is not None else 0
    parts: list[DataFrame] = []
    if base is not None:
        read_schema = schema + (", bq int" if bucketed else "")
        bdf = (
            spark.read.option("basePath", base[1])
            .schema(read_schema)
            .parquet(base[1])
        )
        if buckets is not None:
            bdf = bdf.filter(F.col("bq").isin(buckets))
        if bucketed:
            bdf = bdf.drop("bq")
        parts.append(bdf)
    fs, hpath, _ = _fs(spark, path)
    if fs.exists(hpath):
        read_schema = schema + ", batch_id int"
        if bucketed:
            read_schema += ", bq int"
        df = (
            spark.read.option("basePath", path)
            .schema(read_schema)
            .parquet(path)
            .filter(
                (F.col("batch_id") >= w0)
                & (F.col("batch_id") < before_batch)
            )
        )
        if buckets is not None:
            df = df.filter(F.col("bq").isin(buckets))
        if bucketed:
            df = df.drop("bq")
        parts.append(df.drop("batch_id"))
    if not parts:
        return local_frame(spark, [], schema)
    out = parts[0]
    for extra in parts[1:]:
        out = out.unionByName(extra)
    return out


def _gc_below(spark: SparkSession, root: str, prefix: str, below: int) -> None:
    """Delete ``{root}/{prefix}K`` dirs with K < below (idempotent)."""
    fs, hroot, _ = _fs(spark, root)
    if not fs.exists(hroot):
        return
    for st in fs.listStatus(hroot):
        name = st.getPath().getName()
        if not name.startswith(prefix):
            continue
        try:
            k = int(name[len(prefix):])
        except ValueError:
            continue
        if k < below:
            fs.delete(st.getPath(), True)


def _compact_index(
    spark: SparkSession, path: str, schema: str, watermark: int, bucketed: bool
) -> None:
    """Fold every batch dir with ``batch_id < watermark`` (plus the
    previous consolidated base, if any) into one new base stamped
    ``w=watermark``, then garbage-collect the folded inputs. Safe at
    every crash point: the new base is invisible until its ``_SUCCESS``
    lands (sources untouched until then, so a mid-write death redoes
    from intact inputs); once committed, a replayed trigger finds it and
    skips straight to the idempotent GC; a crash between commit and GC
    leaves both base and folded dirs on disk, which readers de-overlap
    via the ``batch_id >= w`` fence.

    100 TB: compaction cost is one read+write of rows already on disk,
    amortized over ``compact_every`` batches; the banded base lands one
    file per ``bq`` bucket (hash-repartitioned, so pruning keeps working
    against the base), the shingle base in ``_N_BUCKETS`` doc-hashed
    files. Raise ``_N_BUCKETS`` with corpus size so each stays
    executor-sized."""
    base_root = _base_root(path)
    target = f"{base_root}/w={watermark}"
    fs, _, jvm = _fs(spark, path)
    committed = fs.exists(jvm.org.apache.hadoop.fs.Path(target, "_SUCCESS"))
    if not committed:
        merged = _read_indexed(
            spark, path, schema, watermark, base_max_w=watermark - 1,
            bucketed=bucketed,
        )
        if merged.isEmpty():
            # Nothing to fold (a quiet window, or an empty batch 0 under
            # this container's racy file-source listing). Committing an
            # empty base here is what killed the round-10 stream: the
            # previous base + its watermark stay authoritative, and the
            # folded-nothing batch dirs stay for the next compaction.
            # Critically, the GC below must NOT run — `w= < watermark`
            # would delete the still-live previous base.
            return
        if bucketed:
            merged = merged.withColumn(
                "bq", _bucket_of(F.col("band"), F.col("bkey"))
            ).repartition(_N_BUCKETS, "bq")
            merged.write.partitionBy("bq").mode("overwrite").parquet(target)
        else:
            merged.repartition(_N_BUCKETS, "doc_id").write.mode(
                "overwrite"
            ).parquet(target)
    _gc_below(spark, path, "batch_id=", watermark)
    _gc_below(spark, base_root, "w=", watermark)


def _stats_should_compact(
    spark: SparkSession,
    banded_root: str,
    small_bytes: int,
    min_files: int,
    exclude_batch: int | None = None,
) -> bool:
    """STATS-DRIVEN compaction decision (round 10): list the LIVE
    banded-index file sizes — a recursive fs LISTING, metadata only,
    bounded because compaction itself bounds the live count — and
    trigger when the MEDIAN file size sits at or below ``small_bytes``
    with at least ``min_files`` live files. Small-file degradation is
    the actual failure mode a schedule can only approximate: a bursty
    stream degrades faster than its batch count, a sparse one slower.

    The median is taken directly from the collected sizes (the round-10
    KLL sketch sized 2× the population was exact-mode machinery with no
    approximation benefit — ADVICE r10; a genuinely streamed fixed-k
    sketch is the upgrade path if the live count ever outgrows driver
    memory, which compaction itself prevents). ``exclude_batch`` skips
    the CURRENT batch's just-written dir so the trigger measures only
    fold-eligible files — compaction folds strictly-prior batches, so
    counting the fresh batch both inflated the signal and could trigger
    a fold of nothing but older empties."""
    fs, hroot, _ = _fs(spark, banded_root)
    if not fs.exists(hroot):
        return False
    skip = f"batch_id={exclude_batch}" if exclude_batch is not None else None
    sizes: list[int] = []
    it = fs.listFiles(hroot, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        if not p.getName().endswith(".parquet"):
            continue
        if skip is not None and f"/{skip}/" in str(p):
            continue
        sizes.append(st.getLen())
    if len(sizes) < min_files:
        return False
    return sorted(sizes)[len(sizes) // 2] <= small_bytes


def minhash_dedup_stream(
    docs_stream: DataFrame,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    available_now: bool = True,
    compact_every: int | None = 16,
    compact_stats: dict | None = None,
):
    """Start the streaming dedup query over a (doc_id, text) stream.
    Pairs land under ``pairs_dir/batch_id=N``; the index accumulates
    under ``index_dir/banded/batch_id=N/bq=M`` (bucketed — see 100 TB
    note) and ``index_dir/shingles/batch_id=N``, and every
    ``compact_every`` batches folds into ``index_dir/banded_base/w=W`` /
    ``index_dir/shingles_base/w=W`` so the live file count stays bounded
    over the stream's whole lifetime (module docstring has the crash
    matrix). ``ordered=False`` apply mode: file sources batch by
    discovery order, not doc id, so a later batch may carry smaller ids
    — both join directions are taken and pairs canonicalize to
    (least, greatest).

    ``compact_stats`` (round 10) switches maintenance from the fixed
    ``compact_every`` schedule to a STATS-DRIVEN policy: each trigger
    lists the live banded file sizes (metadata only, current batch
    excluded) and compacts when the median falls to ``small_bytes``
    with at least ``min_files`` fold-eligible files —
    degradation-triggered, so a bursty stream compacts when it
    actually needs to and a sparse one never pays for a schedule it
    doesn't fill. Keys: ``small_bytes`` (default 1 MiB), ``min_files``
    (default 2×buckets). Empty micro-batches are first-class under
    BOTH policies (round-10 crash): an empty batch writes no ``bq=``
    dirs (index reads don't rely on partition discovery), and a
    compaction window that folds only empties commits nothing — the
    previous base and watermark stay authoritative.

    100 TB: the recurring cost is the batch's band rows joined against
    ONLY the index buckets they hash into — the banded index lives
    bucketed on disk (``batch_id=N/bq=M``, and the consolidated base
    keeps the same ``bq`` dirs) and each micro-batch first derives its
    own band rows, collects the ≤ ``_N_BUCKETS`` touched bucket ids
    (metadata-grain), and partition-prunes the index scan to those
    directories (plan-asserted in tests). The shingle index is read
    unpruned by necessity: verification joins resolve CANDIDATE ids,
    which may live in any bucket. The corpus is never rescanned."""
    from projectdatalake_spark.operators.dedup import (
        minhash_band_index,
        minhash_lsh_apply_batch,
    )

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        b_banded = b_sh = None
        try:
            # batch band rows FIRST: their bucket set drives index pruning
            b_banded, b_sh = minhash_band_index(
                batch_df, num_hashes, bands
            )
            b_banded = b_banded.withColumn(
                "bq", _bucket_of(F.col("band"), F.col("bkey"))
            ).persist()
            b_sh = b_sh.persist()
            touched = sorted(
                r.bq for r in b_banded.select("bq").distinct().collect()
            )
            banded = _read_indexed(
                spark, f"{index_dir}/banded", _BANDED_SCHEMA, batch_id,
                buckets=touched,
            )
            shingles = _read_indexed(
                spark, f"{index_dir}/shingles", _SH_SCHEMA, batch_id
            )
            pairs, _, _ = minhash_lsh_apply_batch(
                banded, shingles, batch_df, threshold,
                num_hashes=num_hashes, bands=bands, ordered=False,
                precomputed=(b_banded.drop("bq"), b_sh),
            )
            # batch-id-stamped overwrites: replays rewrite their own dirs
            pairs.write.mode("overwrite").parquet(
                f"{pairs_dir}/batch_id={batch_id}"
            )
            # hash-repartition on bq before the bucketed write: one file
            # per bucket per batch (otherwise every task writes into
            # every bucket dir and the file count is tasks × buckets)
            b_banded.repartition(_N_BUCKETS, "bq").write.partitionBy(
                "bq"
            ).mode("overwrite").parquet(
                f"{index_dir}/banded/batch_id={batch_id}"
            )
            b_sh.write.mode("overwrite").parquet(
                f"{index_dir}/shingles/batch_id={batch_id}"
            )
            if compact_stats is not None:
                # stats-driven policy REPLACES the schedule: compact when
                # the live banded file-size median degrades (metadata
                # listing — see _stats_should_compact); the current
                # batch's fresh dir is excluded so only fold-eligible
                # files feed the signal
                do_compact = batch_id > 0 and _stats_should_compact(
                    spark,
                    f"{index_dir}/banded",
                    small_bytes=compact_stats.get("small_bytes", 1 << 20),
                    min_files=compact_stats.get(
                        "min_files", 2 * _N_BUCKETS
                    ),
                    exclude_batch=batch_id,
                )
            else:
                do_compact = bool(
                    compact_every
                    and batch_id > 0
                    and batch_id % compact_every == 0
                )
            if do_compact:
                # fold strictly-prior batches; this batch's fresh dirs stay
                _compact_index(
                    spark, f"{index_dir}/banded", _BANDED_SCHEMA,
                    batch_id, bucketed=True,
                )
                _compact_index(
                    spark, f"{index_dir}/shingles", _SH_SCHEMA,
                    batch_id, bucketed=False,
                )
        finally:
            batch_df.unpersist()
            for cached in (b_banded, b_sh):
                if cached is not None:
                    cached.unpersist()

    writer = docs_stream.writeStream.foreachBatch(commit_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
