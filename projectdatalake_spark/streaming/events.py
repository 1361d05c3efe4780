"""Structured Streaming over the event pipeline.

The reference is batch-only (SURVEY.md §2.7), but its log data is
event-shaped; this module provides the streaming twin of the batch
operators: watermarked tumbling/sliding window aggregation, session
windows, and streaming dedup. The same logical plan runs continuously
against a live source (kafka/files) or to completion with an
``availableNow`` trigger — which is how the batch-equivalence oracle
checks run it (memory sink, SURVEY.md §7 step 9).

Scale notes: watermarks bound state; window aggregations are partial-agg
before the stateful shuffle; ``dropDuplicates`` state is bounded by
watermark when keys include event time (else unbounded — use
``dropDuplicatesWithinWatermark``).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from projectdatalake_spark import schemas
from projectdatalake_spark.session import prepare
from projectdatalake_spark.sources.readers import corpus_schema, table_path


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (explicit schema — required
    by readStream; ts arrives as epoch nanos and is normalized exactly like
    the batch reader)."""
    prepare(spark)
    # file-source streams take a directory; select the one table via glob.
    # event time stays TimestampType (ltz): watermarks require it — window
    # bounds are cast to ntz at output (session TZ is pinned UTC).
    # readStream needs an explicit schema: the footer rule picks it
    # (TIMESTAMP(NANOS) read as long, or TIMESTAMP(MICROS) read as
    # timestamp_ntz); a footer it cannot decide falls back to probing the
    # ts type with an inferred batch read.
    path = table_path(sf_dir, "events")
    schema = corpus_schema(path, "events")
    if schema is None:
        ts_type = dict(spark.read.parquet(path).dtypes).get("ts")
        schema = schemas.EVENTS_RAW if ts_type == "bigint" else schemas.EVENTS_RAW_TS
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .format("parquet")
        .load(sf_dir)
    )
    if schema is schemas.EVENTS_RAW:
        return raw.withColumn("ts_ns", F.col("ts")).withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    ltz = F.col("ts").cast("timestamp")
    return raw.withColumn("ts_ns", F.unix_micros(ltz) * F.lit(1000)).withColumn(
        "ts", ltz
    )


def tumbling_window_agg(
    stream: DataFrame, width: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """Watermarked tumbling-window counts/sums per event type.

    Money accumulates in DECIMAL (same exactness contract as batch).
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(27,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("w_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_window_agg(
    stream: DataFrame,
    width: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked sliding-window event counts (each event lands in
    width/slide overlapping windows)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("w_start"), "n")
    )


def session_window_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of silence.

    Works identically on batch and streaming inputs (F.session_window);
    on streams add ``withWatermark`` upstream and append output mode.
    """
    return (
        events.groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_keys_stream(stream: DataFrame, keys: list[str]) -> DataFrame:
    """Streaming dedup projected to its keys (deterministic output: which
    physical row survives is arbitrary, the key set is not)."""
    return stream.dropDuplicates(keys).select(*keys)


def dedup_within_watermark_stream(
    stream: DataFrame, keys: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """dropDuplicatesWithinWatermark: like streaming dropDuplicates but the
    per-key state expires once the watermark passes it — the bounded-state
    form for unbounded key spaces (SURVEY.md §2.7). Keys seen again after
    expiry re-emit, so exact-once output holds only within the watermark
    horizon; over a bounded replay (availableNow) it equals DISTINCT."""
    return (
        stream.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keys)
        .select(*keys)
    )


def run_available_now(
    result: DataFrame,
    output_mode: str = "complete",
    state_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> DataFrame:
    """Drive a streaming DataFrame to completion over the currently
    available input (availableNow trigger → memory sink) and return the
    final result as a batch DataFrame.

    ``state_partitions`` scopes ``spark.sql.shuffle.partitions`` around
    the stream start: a stateful query creates one state store per
    shuffle partition per stateful operator (a stream-stream join keeps
    FOUR per partition), each paying per-micro-batch delta-file I/O, so
    a bounded replay of a modest backlog wants far fewer partitions than
    a batch shuffle. The partition count is locked into the checkpoint
    at query start; the session conf is restored right after, so batch
    plans are unaffected. Leave None (cluster default) for live
    high-rate streams — there the state I/O amortizes and parallelism
    wins."""
    spark = result.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    prev = None
    saved: dict[str, str | None] = {}
    for k, v in (extra_confs or {}).items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    if state_partitions is not None:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            result.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return spark.table(name)


def stream_stream_interval_join(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join on user within a time interval: each click
    matches the same user's purchases landing in (click_ts, click_ts +
    ``horizon``]. BOTH sides carry watermarks and the join condition
    time-bounds both event times — the two facts Structured Streaming
    needs to know when a buffered row can never match again and evict it;
    without them the join state grows forever. State per side ≈ rows
    inside (watermark + horizon), independent of stream length."""
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        "purchase_value",
    )


def stream_stream_interval_join_left(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the inner form plus the
    unanswered question it cannot ask: which clicks converted to NOTHING
    within the horizon. An unmatched click is emitted (null purchase
    columns) only once the watermark proves no future purchase can still
    match it, which is the semantics that makes outer streaming joins
    state-bounded: the row leaves the state store at emission.

    The bounded-replay contract is therefore REGION-qualified: rows
    whose click_ts lies within (watermark + horizon) of the stream's
    end may still be awaiting a match when the query stops, so equality
    with the batch LEFT JOIN holds exactly on clicks older than that
    tail — callers comparing against batch truth must clip both sides
    (the `stream_left_outer_join` oracle does).

    100 TB: identical state bound to the inner form — per side ≈ rows
    inside (watermark + horizon); the outer semantics add no state,
    only the eviction-time null emission."""
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
        "leftOuter",
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        "purchase_value",
    )


def stream_stream_interval_join_full(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """FULL OUTER stream-stream interval join — both unanswered
    questions at once: clicks that converted to nothing (null purchase
    columns) AND purchases no click preceded within the horizon (null
    click columns). Each unmatched row is emitted only once the
    watermark proves no future partner can match, so state stays
    bounded exactly as the inner/left forms: a row leaves the store at
    emission.

    Bounded-replay contract, BOTH-side region-qualified: equality with
    the batch FULL JOIN holds on rows whose present timestamps are all
    older than the final cutoff (each side's verdict near the stream's
    end is not yet due) — callers clip each side's ts where present
    (`stream_full_outer_join`'s oracle predicate).

    100 TB: same per-side state bound as the inner form — rows inside
    (watermark + horizon); outer semantics add eviction-time emission
    on both sides, not state."""
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
        "fullOuter",
    ).select(
        "click_id",
        "purchase_id",
        # user_id from whichever side is present (full outer: one may be null)
        F.coalesce(F.col("user_id"), F.col("p_user_id")).alias("user_id"),
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        "purchase_value",
    )
