"""Structured Streaming refresh — the idiomatic form of the reference's
scheduler loop.

The reference has no stream processing: Cloud Scheduler re-runs batch
jobs every 6 h, and late edits are handled by a hand-rolled 60-day
lookback MERGE (``fetch_clickup_data.py:1273-1333``; ``deploy.sh:66-76``).
The Spark-native equivalent:

- a file/REST stream of raw entries (``readStream``)
- the reference's refresh window enforced EXPLICITLY per batch
  (``refresh_window_pred`` on the Oslo start date — the same "entries
  outside the window are locked history" rule as the batch path). A
  ``withWatermark`` here would be dead code: watermarks gate STATEFUL
  operators only, and a stateless foreachBatch query drops nothing —
  claiming watermark semantics it doesn't have is worse than stating
  the real filter (review r6).
- ``foreachBatch`` applying the SAME merge_refresh algebra per
  micro-batch, so batch and streaming share one upsert implementation
  (and one test suite)

``trigger(availableNow=True)`` drains whatever is pending and stops —
which is exactly the scheduled-batch cadence, expressed as a stream.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hours_api_clickup_spark import storage
from hours_api_clickup_spark.operators.dedupe import dedupe_latest
from hours_api_clickup_spark.operators.merge import merge_upsert
from hours_api_clickup_spark.operators.transform import transform_time_entries
from hours_api_clickup_spark.pipelines import commit_table, refresh_window_pred
from hours_api_clickup_spark.schemas import RAW_TIME_ENTRY_SCHEMA


def streaming_refresh(
    spark: SparkSession,
    source_dir: str,
    fact_path: str,
    checkpoint_dir: str,
    today_oslo: dt.date,
    days: int = 60,
    lock_wait_s: float = 600.0,
):
    """Stream raw-entry JSON files into the fact table via per-batch
    windowed merge. Returns the StreamingQuery (availableNow trigger).
    ``lock_wait_s``: how long a batch waits for the table lock when it
    collides with the scheduled batch refresh (they run side by side
    by design) before failing the query loudly."""
    raw = (
        spark.readStream.schema(RAW_TIME_ENTRY_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .json(source_dir)
    )
    flat = transform_time_entries(raw)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # watermark-advancing no-data batches must not rewrite the fact
        # table (an O(fact) no-op pass through the commit path)
        if not batch_df.head(1):
            return
        # reject edits outside the refresh window (the reference's
        # MERGE source prefilter, fetch_clickup_data.py:1280-1282 —
        # entries outside the window are locked history)
        staging = dedupe_latest(
            batch_df.filter(refresh_window_pred(today_oslo, days)),
            key="id", ts="at",
        )
        # the batch syncs' leased commit (r9): the documented deployment
        # runs this stream ALONGSIDE the scheduled batch refresh
        # ("deletes reconcile in the scheduled batch refresh"), and an
        # unguarded race between the two read→merge→swap cycles silently
        # erases whichever lands first. The batch WAITS a bounded time
        # for the lock (the common collision is a seconds-long scheduled
        # sync — a stall, not a stream kill); past the deadline it
        # errors loudly and replays from the checkpoint on restart.
        # Upsert WITHOUT the delete branch: a micro-batch is an
        # incremental slice, not a window snapshot (see merge_upsert)
        commit_table(
            fact_path, f"streaming_refresh b{batch_id}", staging,
            lambda fact, st: merge_upsert(fact, st, key="id"),
            lock_wait_s=lock_wait_s,
        )

    return (
        flat.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_hours_by_user_day(events_stream: DataFrame) -> DataFrame:
    """Watermarked windowed aggregate on an event stream: hours per user
    per day with 1-day-late tolerance — the flagship query in streaming
    form (event-time window + watermark instead of scheduled re-runs)."""
    return (
        events_stream.withWatermark("ts", "1 day")
        .groupBy(
            F.window("ts", "1 day").alias("day_window"),
            F.col("user_id"),
        )
        .agg(
            # decimal-exact sum (order-independent) → double once at the
            # end, same as the batch flagship — a bounded availableNow
            # replay therefore equals the batch result bit-for-bit
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "hours"
            ),
            F.count("*").alias("n_entries"),
        )
        .select(
            F.col("day_window.start").alias("day_start"),
            "user_id",
            "hours",
            "n_entries",
        )
    )


def streaming_finalized_buckets(events_stream: DataFrame) -> DataFrame:
    """APPEND-mode watermarked rollup: 6-hour tumbling event-time
    windows per event type, each bucket emitted EXACTLY ONCE when the
    watermark passes its end — the production continuous-aggregate
    shape (complete/update modes re-emit; append emits finalized,
    immutable rows a downstream sink can ingest idempotently).

    Determinism of a bounded availableNow replay: the final watermark is
    max(event time) - 30 min, so exactly the buckets whose window end
    ≤ that mark appear — the oracle reproduces the cutoff with plain
    SQL. State is O(open windows × types), bounded by the horizon.
    """
    return (
        events_stream.withWatermark("ts", "30 minutes")
        .groupBy(
            F.window("ts", "6 hours").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
            F.count("*").alias("n"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "total_value",
            "n",
        )
    )


def streaming_enriched_rollup(
    events_stream: DataFrame, customer_dim: DataFrame
) -> DataFrame:
    """Stream-static join + windowless rollup: each micro-batch of the
    event stream joins the STATIC customer dimension (broadcast — the
    stream side never shuffles for the join) and aggregates per market
    segment. The standard enrichment topology: dims live in the
    warehouse, facts arrive as a stream; Spark re-plans the static side
    per micro-batch, so a dim refresh between batches is picked up
    without restarting the stream. Decimal-exact sums make a bounded
    replay equal the batch join+aggregate bit-for-bit."""
    dim = F.broadcast(
        customer_dim.select(
            F.col("c_custkey").alias("user_id"), F.col("c_mktsegment")
        )
    )
    return (
        events_stream.join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
        )
    )


def streaming_attribution_pairs(events_stream: DataFrame) -> DataFrame:
    """STREAM-STREAM inner join: attribute each purchase to every click
    by the same user within the preceding hour. Both sides branch off
    one source stream (a self-join), each carries its own watermark, and
    the join condition includes the event-time range — which is what
    lets Spark evict join state: a buffered click can only match
    purchases inside [click_ts, click_ts + 1 h], so once the purchase
    watermark passes that horizon the click is dropped. State is
    O(events inside the horizon), never O(stream).

    Inner-join matches emit as they form (no finalization wait), so a
    bounded availableNow replay emits exactly the batch join's pairs —
    the oracle is the plain time-range self-join."""
    clicks = (
        events_stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events_stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("click_id", "purchase_id", "user_id")


def streaming_dedup_events(events_stream: DataFrame) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same event id
    inside the watermark horizon, then a windowless rollup per type.

    The reference re-fetches overlapping refresh windows every run, so
    the same entry arrives many times and is collapsed by the MERGE
    (fetch_clickup_data.py:1273-1333); this is that collapse as a
    stream. ``dropDuplicatesWithinWatermark`` keeps O(ids-in-horizon)
    state keyed by event_id — bounded by the watermark, not the stream's
    lifetime. Duplicate deliveries are bit-identical rows, so the
    surviving row is deterministic and a bounded replay equals the batch
    DISTINCT exactly (decimal sums are order-independent)."""
    deduped = events_stream.withWatermark("ts", "1 day").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return deduped.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


def streaming_continuous_rollup(
    events_stream: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    val: str = "value",
):
    """Continuous-aggregate maintenance (the streaming face of
    ``operators/incremental``): each micro-batch aggregates to its
    algebraic (count, decimal-sum) state and folds into the persisted
    rollup state table — history is never rescanned, and any downstream
    reader sees a complete rollup after every micro-batch commit.

    This is the TimescaleDB continuous-aggregate / Materialize pattern
    on Spark primitives: per-batch work is one map-side-combining agg
    over the batch plus a keyed merge over |groups| rows. Because the
    state merge is order-insensitive (exact decimal arithmetic), the
    final state is identical for ANY micro-batch partitioning of the
    input — the property the batch-equivalence test pins.

    foreachBatch is AT-LEAST-ONCE: a crash between the state write and
    the checkpoint commit re-delivers the batch, and a plain fold would
    double-count it. ``fold_rollup_batch`` therefore stamps the state
    with the highest applied ``batch_id`` and skips any batch at or
    below it — re-delivery becomes a no-op, which upgrades the sink to
    exactly-once (the same idempotence argument merge_upsert makes by
    key). The merged state is written staged and swapped in
    (``storage.replace_table``), so the read-modify-write never scans
    the files it is replacing and a failed write keeps the old state.
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        fold_rollup_batch(
            batch_df.sparkSession, batch_df, state_path, batch_id, keys, val
        )

    return (
        events_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def fold_rollup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    state_path: str,
    batch_id: int,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    val: str = "value",
) -> bool:
    """Fold one micro-batch into the persisted rollup state,
    idempotently: the state carries ``__last_batch_id`` (same value on
    every row); a batch at or below it was already applied and is
    skipped. Returns whether the batch was applied."""
    from hours_api_clickup_spark.operators.incremental import (
        merge_rollup_states,
        partial_rollup,
    )

    delta = partial_rollup(batch_df, list(keys), val)
    # An absent path alone means "first batch". Any OTHER read failure
    # (corrupt footer, permissions, storage hiccup) must propagate —
    # swallowing it would make this batch the entire state and the
    # overwrite would silently destroy the accumulated rollup (the same
    # rule read_fact_or_empty pins; review r6).
    storage.recover_swap(spark, state_path)  # roll back a mid-swap crash
    prev = (
        spark.read.parquet(state_path) if storage.exists(spark, state_path) else None
    )
    if prev is not None:
        applied = prev.agg(F.max("__last_batch_id")).collect()[0][0]
        if applied is not None and batch_id <= applied:
            return False
        merged = merge_rollup_states(prev.drop("__last_batch_id"), delta)
    else:
        merged = delta
    storage.replace_table(
        merged.withColumn("__last_batch_id", F.lit(int(batch_id))),
        state_path,
    )
    return True
