"""Structured Streaming queries (§2.11): watermarked rollups,
session windows, stateful sessionization, stream-stream and
stream-static joins, streaming dedup, continuous-aggregate
maintenance, and the paged-source micro-batch ingest.

Split from plans/registry.py (round 4); registration side-effects
populate the shared QUERIES dict in plans/registry_core.py. See that
module for the determinism rules all oracles follow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hours_api_clickup_spark.plans.registry_core import (
    load_table,
    register,
)

# the paged-source fixture builder lives with its batch twin
from hours_api_clickup_spark.plans.registry_reference import _pyds_fixture

# ---------------------------------------------------------------------------
# Structured Streaming surface (§2.11 idiomatic extension): the flagship
# aggregate as a watermarked event-time stream, replayed bounded via
# availableNow — which must equal the batch answer exactly.
# ---------------------------------------------------------------------------


@register(
    "streaming_hours_by_user_day",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
           user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS hours,
           COUNT(*) AS n_entries
    FROM events
    GROUP BY 1, 2
    """,
    survey_ids="§2.11,streaming",
    doc="Watermarked 1-day event-time window over a file stream of the "
    "events table, availableNow trigger, memory sink. Late data beyond "
    "the watermark is dropped with bounded state; a bounded replay "
    "equals the batch aggregate (decimal-exact sums).",
)
def q_streaming_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile
    import uuid

    from hours_api_clickup_spark.streaming.refresh import (
        streaming_hours_by_user_day,
    )

    stream = _stage_events_stream(spark, sf_dir, "stream_events_")
    out = streaming_hours_by_user_day(stream)
    return _run_bounded_stream(spark, out, f"stream_hours_{uuid.uuid4().hex[:8]}", "complete")


@register(
    "streaming_enriched_rollup",
    """
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
    survey_ids="§2.11,datapipe:streaming-enrichment",
    doc="Stream-static join: each event micro-batch joins the BROADCAST "
    "customer dimension (the stream side never shuffles for the join) "
    "and rolls up per market segment — the standard enrichment "
    "topology; the static side is re-planned per micro-batch so dim "
    "refreshes apply without a stream restart. Bounded replay equals "
    "the batch join+aggregate (decimal-exact sums).",
)
def q_streaming_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile
    import uuid

    from hours_api_clickup_spark.streaming.refresh import (
        streaming_enriched_rollup,
    )

    stream = _stage_events_stream(spark, sf_dir, "stream_enrich_")
    customer = load_table(spark, sf_dir, "customer")
    out = streaming_enriched_rollup(stream, customer)
    return _run_bounded_stream(
        spark, out, f"stream_enrich_{uuid.uuid4().hex[:8]}", "complete"
    )


@register(
    "streaming_attribution_join",
    """
    SELECT a.event_id AS click_id,
           b.event_id AS purchase_id,
           a.user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    """,
    survey_ids="§2.11,datapipe:streaming-join",
    doc="STREAM-STREAM inner self-join: purchases attributed to same-"
    "user clicks within the preceding hour. Watermarks on both sides + "
    "the event-time range in the join condition bound the join state "
    "to the horizon (a click is evicted once the purchase watermark "
    "passes click_ts + 1 h). Inner matches emit as they form, so a "
    "bounded replay equals the batch time-range self-join exactly.",
)
def q_streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile
    import uuid

    from hours_api_clickup_spark.streaming.refresh import (
        streaming_attribution_pairs,
    )

    stream = _stage_events_stream(spark, sf_dir, "stream_attr_")
    out = streaming_attribution_pairs(stream)
    return _run_bounded_stream(
        spark, out, f"stream_attr_{uuid.uuid4().hex[:8]}", "append"
    )


@register(
    "streaming_finalized_buckets",
    """
    WITH mx AS (SELECT max(ts) AS m FROM events),
    agg AS (
        SELECT time_bucket(INTERVAL 6 HOUR, ts) AS bucket_start,
               event_type,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT bucket_start, event_type, total_value, n
    FROM agg, mx
    WHERE bucket_start + INTERVAL 6 HOUR <= m - INTERVAL 30 MINUTE
    """,
    survey_ids="§2.11,datapipe:streaming-append",
    doc="APPEND-mode watermarked 6h-bucket rollup: each bucket emits "
    "EXACTLY ONCE when the watermark (max event time - 30 min) passes "
    "its end — finalized immutable rows a downstream sink ingests "
    "idempotently (complete/update re-emit; this is the production "
    "continuous-aggregate shape). The oracle reproduces the emission "
    "cutoff in plain SQL; buckets still open at end-of-replay are "
    "correctly absent.",
)
def q_streaming_finalized_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile
    import uuid

    from hours_api_clickup_spark.streaming.refresh import (
        streaming_finalized_buckets,
    )

    stream = _stage_events_stream(spark, sf_dir, "stream_buckets_")
    out = streaming_finalized_buckets(stream)
    return _run_bounded_stream(
        spark, out, f"stream_buckets_{uuid.uuid4().hex[:8]}", "append"
    )


def _stage_events_stream(spark: SparkSession, sf_dir: str, prefix: str):
    """Shared readStream staging for the event-stream queries (ONE
    definition — six queries carried drift-prone copies until review
    r6): the file-stream source needs a DIRECTORY, so the read-only
    events table is staged into a fresh tempdir via symlink; the ts
    column is coerced to a session-zoned timestamp whatever physical
    type the round's generator produced (nanos-as-long / TIMESTAMP_NTZ —
    the TESTDATA drift load_table also absorbs)."""
    import os
    import tempfile

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stage_dir = tempfile.mkdtemp(prefix=prefix)
    link = os.path.join(stage_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"), link)
    stream = (
        spark.readStream.schema(raw_schema).format("parquet").load(stage_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)")
        )
    elif dict(stream.dtypes).get("ts") == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _run_bounded_stream(
    spark: SparkSession, out: DataFrame, sink: str, mode: str
) -> DataFrame:
    """Run a bounded (availableNow) stream into a memory sink and return
    the result table. Stateful operators commit one state-store file per
    shuffle partition per micro-batch — at a vanilla session's 200
    partitions that is pure fixed overhead for a bounded replay, so the
    partition count is pinned small for the stream (state partitioning
    is fixed at query start) and the session value restored after. On a
    real cluster this is sized to the executor count; state VOLUME is
    watermark-bounded either way."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            # timeout: a partial memory sink must never be returned as
            # the query answer (it would record as a wrong-hash failure
            # instead of an error), and the orphaned stream must not
            # keep writing behind our back (review r6)
            q.stop()
            raise TimeoutError("availableNow replay exceeded 300s")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(sink)


@register(
    "streaming_session_window",
    """
    WITH g AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > 30 * 60 * 1000
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    s AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) - 1 AS sid
        FROM g
    ),
    sess AS (
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events
        FROM s GROUP BY user_id, sid
    ),
    wm AS (
        -- Spark's watermark: floor-to-ms of max event time minus the
        -- 2h delay, compared in microseconds against session end
        SELECT (epoch_ms(MAX(ts)) - 2 * 3600 * 1000) * 1000 AS w_us
        FROM events
    )
    SELECT user_id, session_start, session_end, CAST(n_events AS BIGINT) AS n_events
    FROM sess, wm
    WHERE epoch_us(session_end) <= w_us
    """,
    survey_ids="§2.11,streaming:session-window",
    doc="Native session_window gap sessionization (30-min gap, 2h "
    "watermark, append mode): the built-in-operator twin of "
    "streaming_event_sessions' applyInPandasWithState form — prefer "
    "this one when per-session logic is pure aggregation (state "
    "merging, eviction, and emission are JVM-side; no Python in the "
    "loop). Append emits only FINALIZED sessions (end ≤ watermark); "
    "the oracle replays batch gap sessions filtered by the same "
    "ms-floored watermark arithmetic — full hash match, and the "
    "emitted window is pinned to [first_ts, last_ts + gap).",
)
def q_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile
    import uuid

    stream = _stage_events_stream(spark, sf_dir, "stream_sesswin_")
    out = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    return _run_bounded_stream(
        spark, out, f"stream_sesswin_{uuid.uuid4().hex[:8]}", "append"
    )


@register(
    "streaming_event_sessions",
    """
    WITH g AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > 30 * 60 * 1000
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    s AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) - 1 AS sid
        FROM g
    )
    SELECT user_id,
           CAST(sid AS BIGINT) AS session_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s
    GROUP BY user_id, sid
    """,
    survey_ids="§2.11,datapipe:sessionize-streaming",
    doc="Custom stateful streaming operator (applyInPandasWithState): "
    "gap-based sessions with O(active-users) state, event-time timeout "
    "flush in production, per-user sentinel flush for the bounded "
    "availableNow replay — which makes the emission deterministic and "
    "equal to the batch sessionizer (DuckDB-oracled).",
)
def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid

    from hours_api_clickup_spark.streaming.sessions import (
        SENTINEL_TYPE,
        streaming_sessionize,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # per-user far-future sentinel: closes every open session at the end
    # of the bounded replay (see streaming/sessions.py docstring)
    max_ts = events.agg(F.max("ts")).head()[0]
    sentinels = (
        events.select("user_id")
        .distinct()
        .select(
            F.lit(-1).cast("long").alias("event_id"),
            (F.lit(max_ts) + F.expr("INTERVAL 10 DAYS")).alias("ts"),
            F.col("user_id"),
            F.lit(SENTINEL_TYPE).alias("event_type"),
            F.lit(0.0).alias("value"),
        )
    )
    stage_dir = tempfile.mkdtemp(prefix="stream_sessions_")
    events.unionByName(sentinels).write.mode("overwrite").parquet(stage_dir)

    stream = (
        spark.readStream.schema(events.schema).format("parquet").load(stage_dir)
    ).withWatermark("ts", "30 minutes")
    out = streaming_sessionize(stream, gap_minutes=30.0)
    return _run_bounded_stream(
        spark, out, f"stream_sessions_{uuid.uuid4().hex[:8]}", "append"
    )


@register(
    "streaming_dedup_exact",
    """
    WITH d AS (SELECT DISTINCT ON (event_id) event_type, value FROM events)
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM d GROUP BY event_type
    """,
    survey_ids="§2.11,datapipe:dedup-streaming",
    doc="Streaming exact dedup (dropDuplicatesWithinWatermark): the "
    "events file is staged TWICE into the stream source, so every row "
    "is re-delivered and the operator must collapse it — state is "
    "O(ids-inside-watermark) keyed by event_id, bounded by the 1-day "
    "horizon, never by stream lifetime. This is the reference's "
    "overlapping-refresh collapse (fetch_clickup_data.py:1273-1333) as "
    "a stream. Bounded replay equals batch DISTINCT, so the oracle is "
    "plain SQL over the single-copy table.",
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile
    import uuid

    from hours_api_clickup_spark.streaming.refresh import streaming_dedup_events

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # stage the table twice: two source files with identical rows → the
    # stream genuinely observes duplicate deliveries of every event
    stage_dir = tempfile.mkdtemp(prefix="stream_dup_events_")
    for copy in ("a", "b"):
        link = os.path.join(stage_dir, f"events_{copy}.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"), link)
    stream = (
        spark.readStream.schema(raw_schema).format("parquet").load(stage_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif dict(stream.dtypes).get("ts") == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    out = streaming_dedup_events(stream)
    return _run_bounded_stream(
        spark, out, f"stream_dedup_{uuid.uuid4().hex[:8]}", "complete"
    )


@register(
    "streaming_continuous_rollup",
    """
    SELECT user_id, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS avg_value
    FROM events GROUP BY user_id, event_type
    """,
    survey_ids="§2.11,scale:continuous-aggregate",
    doc="Continuous-aggregate maintenance: a file stream of the events "
    "table (3 staged files, maxFilesPerTrigger=1 → 3 real micro-"
    "batches) folds each batch's algebraic (count, decimal-sum) state "
    "into a persisted rollup via foreachBatch — the TimescaleDB "
    "continuous-aggregate pattern on Spark primitives. History is "
    "never rescanned; per-batch cost is one map-side agg over the "
    "batch + a keyed merge over |groups| rows. The oracle is the full "
    "batch recompute: exact-decimal state makes the replayed stream "
    "bit-equal to it regardless of how files split into batches.",
)
def q_streaming_continuous_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    from hours_api_clickup_spark.operators.incremental import finalize_rollup
    from hours_api_clickup_spark.streaming.refresh import (
        streaming_continuous_rollup,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    stage_dir = tempfile.mkdtemp(prefix="stream_cagg_src_")
    ev.repartition(3).write.mode("overwrite").parquet(stage_dir)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(stage_dir)
    )
    state_path = tempfile.mkdtemp(prefix="stream_cagg_state_") + "/rollup"
    ckpt = tempfile.mkdtemp(prefix="stream_cagg_ckpt_")
    # pin the per-batch merge's shuffle width for the bounded replay
    # (same rationale as _run_bounded_stream: fixed cost per micro-batch)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = streaming_continuous_rollup(stream, state_path, ckpt)
        if not q.awaitTermination(300):
            # timeout: a partial memory sink must never be returned as
            # the query answer (it would record as a wrong-hash failure
            # instead of an error), and the orphaned stream must not
            # keep writing behind our back (review r6)
            q.stop()
            raise TimeoutError("availableNow replay exceeded 300s")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return finalize_rollup(
        spark.read.parquet(state_path).drop("__last_batch_id"), "value"
    )


@register(
    "streaming_python_datasource",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events GROUP BY event_type
    """,
    survey_ids="§2.11,S1,S2",
    doc="The same paged source as a STREAM: SimpleDataSourceStreamReader "
    "exposes chunk i as micro-batch i with {chunk} offsets, committed "
    "ranges replayable via readBetweenOffsets — the reference's "
    "cron-rerun 'streaming' (deploy.sh:66-136) as a real incremental "
    "source with exactly-once offset accounting. The bounded drain "
    "runs a fast processing-time trigger until the end offset covers "
    "every chunk (the simple reader prefetches one batch per trigger, "
    "so availableNow would under-read); the drained rollup equals the "
    "batch aggregate over the raw parquet, which is the oracle.",
)
def q_streaming_python_datasource(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import uuid

    from hours_api_clickup_spark.sources.pyds import (
        drain_paged_stream,
        read_paged_events_stream,
    )

    # 2 chunks (vs the batch twin's 5): the minimum that still proves a
    # multi-batch offset progression; a micro-batch costs ~1-2 s of
    # fixed planning/state overhead in a loaded session, so the chunk
    # count IS the price of this row — the semantics don't change with
    # it, and the checkpoint-restart path is tested separately
    # (test_python_datasource.py).
    path = _pyds_fixture(spark, sf_dir, n_chunks=2)
    sink = f"pyds_stream_{uuid.uuid4().hex[:8]}"
    out = (
        read_paged_events_stream(spark, path)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
        )
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(processingTime="0 seconds")
            .start()
        )
        drain_paged_stream(q, n_chunks=2)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(sink)


@register(
    "streaming_stateful_ledger",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           COUNT(DISTINCT event_type) AS n_types
    FROM events GROUP BY user_id
    """,
    survey_ids="§2.11,datapipe:stateful-ledger",
    doc="Custom stateful streaming op: a per-user running ledger "
    "(event count, integer-cents sum, distinct-type set) folded "
    "across micro-batches with applyInPandasWithState (runs without "
    "google.protobuf, which transformWithState needs). The events table streams as 3 files, one "
    "micro-batch each; every batch emits the user's cumulative "
    "snapshot, and the final ledger is the max_by(n_events) row per "
    "user — exact because n_events is strictly monotone per user and "
    "every fold is commutative, so the answer is independent of the "
    "batch split. State is O(users); the oracle is the plain batch "
    "GROUP BY the stream must converge to.",
)
def q_streaming_stateful_ledger(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile
    import uuid

    from hours_api_clickup_spark.streaming.ledger import (
        resolve_final_ledger,
        streaming_user_ledger_pandas_state,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    stage = tempfile.mkdtemp(prefix="ledger_stage_")
    # 3 files = 3 micro-batches: the minimum with a MIDDLE batch, so the
    # fold is proven on state that is neither fresh nor final; each
    # micro-batch costs ~1 s of fixed state-store overhead, so the file
    # count is the price of this row, not the semantics.
    ev.repartition(3).write.mode("overwrite").parquet(stage)
    schema = spark.read.parquet(stage).schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(stage)
    )
    out = streaming_user_ledger_pandas_state(stream)
    sink = f"ledger_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            # timeout: a partial memory sink must never be returned as
            # the query answer (it would record as a wrong-hash failure
            # instead of an error), and the orphaned stream must not
            # keep writing behind our back (review r6)
            q.stop()
            raise TimeoutError("availableNow replay exceeded 300s")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return resolve_final_ledger(spark.table(sink))
