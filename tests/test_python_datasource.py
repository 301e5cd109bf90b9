"""Spark 4 Python DataSource (sources/pyds.py): the reference's REST
scan semantics — chunked windows as input partitions, in-partition
pagination under both termination policies, server-side filter
pushdown, per-chunk failure tolerance — plus the streaming twin.

Reference semantics: fetch_clickup_data.py:124-147 (chunk loop,
skip-on-failure), :403-465 (page-until-empty), :516-624
(page-until-short), :96-104 (query-param filters).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hours_api_clickup_spark.plans.registry import load_table
from hours_api_clickup_spark.sources.pyds import (
    drain_paged_stream,
    read_paged_events,
    read_paged_events_stream,
    write_fixture_from_events,
)
from tests.conftest import SF_DIR_SMOKE


@pytest.fixture(scope="module")
def fixture_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pyds") / "fixture")
    write_fixture_from_events(spark, SF_DIR_SMOKE, path, n_chunks=5)
    return path


def _direct(spark):
    return load_table(spark, SF_DIR_SMOKE, "events").select(
        "event_id",
        "user_id",
        F.expr("unix_millis(ts)").alias("ts_ms"),
        "event_type",
        "value",
    )


def test_source_equals_direct_parquet(spark, fixture_dir):
    df = read_paged_events(spark, fixture_dir)
    direct = _direct(spark)
    assert df.count() == direct.count()
    assert df.exceptAll(direct).count() == 0
    assert direct.exceptAll(df).count() == 0


def test_scan_parallelism_is_one_partition_per_chunk(spark, fixture_dir):
    df = read_paged_events(spark, fixture_dir)
    assert df.rdd.getNumPartitions() == 5


def test_both_page_policies_read_everything(spark, fixture_dir):
    n = _direct(spark).count()
    for policy in ("empty_page", "short_page"):
        got = read_paged_events(
            spark, fixture_dir, stop_policy=policy, page_size=37
        ).count()
        assert got == n, policy


def test_server_side_filter_pushdown(spark, fixture_dir):
    want = (
        _direct(spark).filter(F.col("event_type") == "click").count()
    )
    got = read_paged_events(spark, fixture_dir, event_type="click")
    assert got.count() == want
    # the filter ran inside the source (API-side), not as a Spark
    # Filter over the full feed
    assert (
        got.select("event_type").distinct().collect()[0][0] == "click"
    )


def test_failed_chunk_is_skipped_not_fatal(spark, fixture_dir):
    total = _direct(spark).count()
    chunk2 = spark.read.json(os.path.join(fixture_dir, "chunk=2")).count()
    got = read_paged_events(spark, fixture_dir, fail_chunks="2").count()
    assert got == total - chunk2


def test_strict_mode_propagates_chunk_failure(spark, fixture_dir):
    with pytest.raises(Exception, match="simulated fetch failure"):
        read_paged_events(
            spark,
            fixture_dir,
            fail_chunks="1",
            tolerate_failures="false",
        ).count()


def test_stream_drain_equals_batch(spark, fixture_dir):
    out = (
        read_paged_events_stream(spark, fixture_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    q = (
        out.writeStream.format("memory")
        .queryName("pyds_test_stream")
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )
    drain_paged_stream(q, n_chunks=5)
    got = {
        r["event_type"]: r["n"]
        for r in spark.sql("SELECT * FROM pyds_test_stream").collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in _direct(spark)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_stream_offset_replay_is_deterministic(spark, fixture_dir):
    """readBetweenOffsets must reproduce a committed range exactly —
    the contract that makes checkpoint recovery exactly-once."""
    from hours_api_clickup_spark.sources.pyds import (
        PagedEventsStreamReader,
    )

    r = PagedEventsStreamReader({"path": fixture_dir})
    rows_live, end = r.read({"chunk": 0})
    live = sorted(rows_live)
    assert end == {"chunk": 1}
    replay = sorted(r.readBetweenOffsets({"chunk": 0}, {"chunk": 1}))
    assert live == replay
    # past-the-end read is a clean no-op
    empty, same = r.read({"chunk": 99})
    assert list(empty) == [] and same == {"chunk": 99}


def test_stream_checkpoint_restart_no_double_count(spark, fixture_dir, tmp_path):
    """Kill the stream mid-sequence and restart from the same
    checkpoint: committed chunks must not re-aggregate (exactly-once
    through offset tracking), and the final drained result equals the
    batch aggregate."""
    import time

    from pyspark.sql import functions as F2

    ckpt = str(tmp_path / "ckpt")
    sink1 = "pyds_ckpt_a"

    def start(sink):
        out = (
            read_paged_events_stream(spark, fixture_dir)
            .groupBy("event_type")
            .agg(F2.count("*").alias("n"))
        )
        return (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    q = start(sink1)
    # let at least one batch commit, then kill mid-stream
    deadline = time.time() + 60
    while time.time() < deadline:
        p = q.lastProgress
        if p and p["batchId"] >= 1:
            break
        time.sleep(0.1)
    q.stop()
    q.awaitTermination(30)

    q2 = start("pyds_ckpt_b")
    drain_paged_stream(q2, n_chunks=5)
    got = {
        r["event_type"]: r["n"]
        for r in spark.sql("SELECT * FROM pyds_ckpt_b").collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in _direct(spark)
        .groupBy("event_type")
        .agg(F2.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_streaming_refresh_through_paged_source(spark, fixture_dir, tmp_path):
    """The engine-mounted source feeding the PRODUCT merge path: each
    micro-batch folds into a parquet fact via merge_upsert (the
    per-batch streaming merge). A second full re-delivery run (no
    checkpoint — every chunk replays) must leave the fact unchanged:
    at-least-once delivery + keyed upsert = effectively-once content."""
    from hours_api_clickup_spark import storage
    from hours_api_clickup_spark.operators.merge import merge_upsert
    from hours_api_clickup_spark.pipelines import read_fact_or_empty

    fact_path = str(tmp_path / "events_fact")

    def run_once():
        stream = read_paged_events_stream(spark, fixture_dir)

        def apply(batch_df, batch_id):
            cur = read_fact_or_empty(spark, fact_path, batch_df)
            merged = merge_upsert(cur, batch_df, key="event_id")
            storage.replace_table(merged, fact_path)

        q = (
            stream.writeStream.foreachBatch(apply)
            .trigger(processingTime="0 seconds")
            .start()
        )
        drain_paged_stream(q, n_chunks=5)

    run_once()
    direct = _direct(spark)
    fact1 = spark.read.parquet(fact_path)
    assert fact1.count() == direct.count()
    assert fact1.exceptAll(direct).count() == 0

    run_once()  # full re-delivery
    fact2 = spark.read.parquet(fact_path)
    assert fact2.count() == direct.count()
    assert fact2.exceptAll(direct).count() == 0


def test_transient_page_failure_absorbed_by_retry(spark, fixture_dir):
    """A page that 503s on its first attempt must cost a retry, not the
    chunk: per-page requests run under the S8 retry/backoff policy
    inside the source, so the scan still returns every row."""
    n = _direct(spark).count()
    got = read_paged_events(
        spark, fixture_dir, flaky_pages="0,1", page_size=37
    ).count()
    assert got == n


def test_writer_roundtrip_and_commit_protocol(spark, tmp_path):
    """df.write.format('paged_events'): staged *.json.inprogress files
    become visible *.json only at commit; append accumulates; overwrite
    replaces committed data; a read through the source returns exactly
    what was written."""
    import pyspark.sql.functions as F2

    from hours_api_clickup_spark.sources.pyds import register_paged_events

    register_paged_events(spark)
    sink = str(tmp_path / "sink")
    df1 = spark.range(5).select(
        F2.col("id").alias("event_id"),
        (F2.col("id") % 3).alias("user_id"),
        (F2.col("id") * 1000).alias("ts_ms"),
        F2.lit("click").alias("event_type"),
        (F2.col("id") * 1.5).alias("value"),
    )
    df1.write.format("paged_events").option("path", sink).mode(
        "append"
    ).save()
    back = read_paged_events(spark, sink)
    assert back.count() == 5
    assert back.exceptAll(df1).count() == 0

    # append accumulates
    df2 = df1.withColumn("event_id", F2.col("event_id") + 100)
    df2.write.format("paged_events").option("path", sink).mode(
        "append"
    ).save()
    assert read_paged_events(spark, sink).count() == 10

    # overwrite replaces committed rows
    df2.write.format("paged_events").option("path", sink).mode(
        "overwrite"
    ).save()
    back2 = read_paged_events(spark, sink)
    assert back2.count() == 5
    assert back2.exceptAll(df2).count() == 0

    # no in-progress leftovers after commits
    import glob

    assert not glob.glob(f"{sink}/**/*.inprogress", recursive=True)


def test_writer_failed_job_leaves_no_visible_rows(spark, tmp_path):
    """A job that fails mid-write must not publish anything: staged
    in-progress files are invisible to readers and never renamed."""
    import pyspark.sql.functions as F2

    from hours_api_clickup_spark.sources.pyds import register_paged_events

    register_paged_events(spark)
    sink = str(tmp_path / "sink_fail")

    @F2.udf("long")
    def boom(x):
        if x == 3:
            raise ValueError("simulated mid-write failure")
        return x

    df = spark.range(5).repartition(5).select(
        boom(F2.col("id")).alias("event_id"),
        F2.col("id").alias("user_id"),
        (F2.col("id") * 1000).alias("ts_ms"),
        F2.lit("click").alias("event_type"),
        F2.col("id").cast("double").alias("value"),
    )
    with pytest.raises(Exception, match="simulated mid-write failure"):
        df.write.format("paged_events").option("path", sink).mode(
            "append"
        ).save()
    assert read_paged_events(spark, sink).count() == 0
