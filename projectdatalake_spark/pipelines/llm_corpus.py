"""End-to-end LLM training-corpus curation pipeline.

The reference is a two-phase ETL (reference etl.py:176-190: raw → dims →
fact); this module is the training-data analogue a 100 TB corpus runs
before a single GPU spins up, composed from the engine's individually
oracle-checked operators:

    featurize → quality filter → exact dedup → benchmark decontamination
    → train/val/test split → context-window packing

Every stage is deterministic (content-stable hashes, explicit orderings),
so the WHOLE composition is reproducible on any engine, any run, any
partitioning — and oracle-checkable end-to-end (queries.llm_corpus_pipeline).

Scale shape (100 TB / 1000 executors):
- featurize + quality filter: pure projections, fused into the scan.
- exact dedup: one hash shuffle on content_hash (the window's min() has a
  partial aggregate; skew is bounded because identical-content groups are
  duplicate clusters, which dedup exists to keep small).
- decontamination: the held-out side is eval-suite-sized → its distinct
  grams BROADCAST; the corpus side streams map-side through the semi/anti
  join. The corpus never self-joins.
- split: stateless hash projection, no shuffle.
- packing: one window shuffle on (split, lang) — the only stage whose
  parallelism is bounded by shard count, which is why packing keys on the
  shard, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from projectdatalake_spark.operators import text as TX

#: md5-bucket ranges (first 16 bits, mod 100). Buckets ≥ HOLDOUT_LO are the
#: held-out benchmark stand-in; they are excluded from the corpus and their
#: 5-grams define contamination.
HOLDOUT_LO = 97
TRAIN_HI = 80
VAL_HI = 90


#: Frames persisted by curate() that have not been released. curate()
#: drains this on entry, so steady-state session cost is ONE cached
#: prefix regardless of how many times the pipeline runs; callers that
#: want the memory back sooner call release_cache() after their action.
_live_cache: list[DataFrame] = []


def release_cache() -> None:
    """Unpersist every curation prefix still cached by :func:`curate`."""
    while _live_cache:
        _live_cache.pop().unpersist()


def _bucket(id_col: Column) -> Column:
    """Content-stable 0-99 bucket from the doc id (same formula as
    queries.split_assign_hash — recomputable anywhere)."""
    return (
        F.conv(F.substring(F.md5(id_col.cast("string")), 1, 4), 16, 10).cast("int")
        % 100
    )


def _grams5(toks: Column) -> Column:
    """Distinct word 5-grams (same expression as decontam_ngram_overlap)."""
    return F.when(
        F.size(toks) >= 5,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 4),
                lambda i: F.concat_ws(" ", F.slice(toks, i, 5)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def curate(
    docs: DataFrame,
    token_budget: int = 512,
    min_tokens: int = 10,
    min_uniq_ratio: float = 0.3,
    through: str = "pack",
) -> DataFrame:
    """Run the full curation pipeline over a documents table.

    Returns one row per surviving document:
    (doc_id, lang, split, n_tokens, pack_id).

    ``through`` truncates the composition after a stage prefix —
    ``"quality"`` / ``"dedup"`` / ``"decontam"`` / ``"pack"`` (full, the
    default) — returning that stage's frame with its working columns.
    This is the per-stage accounting seam for timing each stage's
    marginal cost; production callers use the default. Early prefixes
    drop the grams column so Catalyst prunes n-gram construction out of
    stages that never consume it.
    """
    if through not in ("quality", "dedup", "decontam", "pack"):
        raise ValueError(f"unknown stage {through!r}")
    toks = TX.tokens(F.col("text"))
    # text is carried (not grams): the 5-gram construction is a
    # higher-order transform(), which Spark evaluates INTERPRETED, and
    # Catalyst freely defers expensive projections past shuffles — so
    # grams are built in an explicit projection placed AFTER the
    # width-pinned repartition below, never in whatever single coalesced
    # partition AQE leaves behind a byte-small exchange.
    base = docs.select(
        "doc_id",
        "lang",
        "text",
        F.size(toks).alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "uniq_ratio"
        ),
        _bucket(F.col("doc_id")).alias("bucket"),
        F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")).alias(
            "content_hash"
        ),
    )

    # 1) quality gate — cheap ratio filters, fused into the scan
    quality = base.filter(
        (F.col("n_tokens") >= min_tokens) & (F.col("uniq_ratio") >= min_uniq_ratio)
    )
    if through == "quality":
        return quality.drop("text")

    # 2) exact dedup — canonical doc = min id per normalized content
    w_hash = Window.partitionBy("content_hash")
    canon = (
        quality.withColumn("keep_id", F.min("doc_id").over(w_hash))
        .filter(F.col("doc_id") == F.col("keep_id"))
        .drop("keep_id")
    )
    if through == "dedup":
        return canon.drop("text")
    # canon feeds three consumers (holdout grams, contamination probe,
    # survivor set); persist so the scan→featurize→filter→dedup prefix runs
    # once, not three times. At full scale the equivalent move is
    # materializing the curated stage to the lake (a two-phase DAG, like
    # pipelines/star_schema.py) — persist() is the in-session form. The
    # previous invocation's prefix (if any) is released first so repeated
    # runs never accumulate cached partitions; release_cache() hands the
    # memory back entirely.
    release_cache()
    # Three scale guards, all caught by a 100×-scale timing of the
    # ``through`` prefixes, all rooted in the same fact: grams are
    # a higher-order transform(), which Spark evaluates INTERPRETED (no
    # codegen), and AQE sizes partitions by BYTES — it cannot see
    # expression cost, so a byte-small exchange upstream of an expensive
    # projection coalesces to ONE partition and serializes minutes of
    # per-row work onto a single core.
    # 1) repartition(defaultParallelism): a width AQE won't coalesce
    #    (user-pinned). On a cluster this is the executor-core count.
    # 2) grams built in an explicit projection ABOVE that repartition
    #    (base carries text), so the interpreted work runs at exactly
    #    that width — never wherever Catalyst defers it.
    # 3) eager count(): Spark runs broadcast subqueries (the
    #    holdout-gram build) BEFORE the main plan — materializing the
    #    cache first means they read cached gram COLUMNS instead of
    #    re-deriving scan→tokenize→grams cold.
    canon = (
        canon.repartition(docs.sparkSession.sparkContext.defaultParallelism)
        .withColumn("grams", _grams5(TX.tokens(F.col("text"))))
        .drop("text")
        .persist()
    )
    _live_cache.append(canon)
    canon.count()

    # 3) benchmark decontamination — any 5-gram shared with the held-out
    #    set disqualifies the training doc
    holdout_grams = (
        canon.filter(F.col("bucket") >= HOLDOUT_LO)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    corpus = canon.filter(F.col("bucket") < HOLDOUT_LO)
    contaminated = (
        corpus.select("doc_id", F.explode("grams").alias("gram"))
        .join(F.broadcast(holdout_grams), "gram")
        .select("doc_id")
        .distinct()
    )
    clean = corpus.join(contaminated, "doc_id", "left_anti")
    if through == "decontam":
        return clean.drop("grams")

    # 4) deterministic split + 5) context-window packing per shard
    split = (
        F.when(F.col("bucket") < TRAIN_HI, "train")
        .when(F.col("bucket") < VAL_HI, "val")
        .otherwise("test")
    )
    staged = clean.select("doc_id", "lang", split.alias("split"), "n_tokens")
    w_pack = (
        Window.partitionBy("split", "lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_tokens").over(w_pack) - F.col("n_tokens")
    return staged.withColumn(
        "pack_id", F.floor(start / float(token_budget)).cast("int")
    )
