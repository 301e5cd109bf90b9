"""End-to-end sync pipelines on ClickUp-shaped fixtures: dim builders,
refresh/full_reindex against a parquet fact table, CSV backup, sources
(chunks/pagination/retry), and the streaming refresh."""

from __future__ import annotations

import datetime as dt
import glob
import json

import pytest
from pyspark.sql import functions as F

from hours_api_clickup_spark.operators.hierarchy import (
    build_dim_accounts,
    build_dim_apps,
    build_dim_lists,
    build_dim_tasks,
)
from hours_api_clickup_spark.pipelines import (
    health,
    sync_full_reindex,
    sync_refresh,
)
from hours_api_clickup_spark.schemas import (
    DIM_ACCOUNTS_SCHEMA,
    DIM_APPS_SCHEMA,
    DIM_LISTS_SCHEMA,
    DIM_TASKS_SCHEMA,
    RAW_TASK_SCHEMA,
)
from hours_api_clickup_spark.sources.chunks import window_chunks
from hours_api_clickup_spark.sources.pagination import (
    PagePolicy,
    collect_all_pages,
)
from hours_api_clickup_spark.sources.readers import (
    read_raw_tasks,
    read_raw_time_entries,
)
from hours_api_clickup_spark.sources.rest import (
    RetryableHTTPError,
    RetryPolicy,
    fetch_with_retry,
)
from tests.test_domain_semantics import _entry


def _task(tid, **kw):
    return {
        "id": tid,
        "name": kw.get("name", f"Task {tid}"),
        "status": {"status": kw.get("status", "open"), "type": kw.get("type", "open")},
        "time_estimate": kw.get("time_estimate"),
        "url": f"http://t/{tid}",
        "archived": kw.get("archived", False),
        "custom_item_id": kw.get("custom_item_id", 0),
        "custom_fields": kw.get("custom_fields", []),
        "assignees": kw.get("assignees", []),
        "date_created": kw.get("date_created", "1700000000000"),
        "list_id": kw.get("list_id", "l1"),
        "list_name": "List One",
        "folder_id": kw.get("folder_id"),
        "folder_name": kw.get("folder_name"),
        "space_id": "s1",
        "space_name": "Space",
    }


@pytest.fixture(scope="module")
def raw_tasks(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("fix") / "tasks.json"
    rows = [
        _task("t1", time_estimate=9000000, type="closed", status="done"),
        _task("t2", folder_id="f1", folder_name="Folder", archived=True),
        # an app task with linked accounts + arr + maintenance checkbox
        _task(
            "t3",
            custom_item_id=1005,
            custom_fields=[
                {"id": "arr", "value": "1200.5"},
                {"id": "maintenance", "value": "true"},
                {"id": "last_updated", "value": "1705000000000"},
                {
                    "id": "linked_accounts",
                    "value_links": [{"id": "a1"}, {"id": "a2"}],
                },
            ],
        ),
        # an account task with connected lists CSV + discount + assignees
        _task(
            "t4",
            custom_item_id=1001,
            custom_fields=[
                {"id": "connected_lists", "value": "l1, l2 ,"},
                {"id": "hours_discount", "value": "oops"},
                {"id": "arr", "value": "77"},
            ],
            assignees=[{"username": "ada"}, {"username": "bob"}],
        ),
        # account with NO connected lists → exactly one ''-row
        _task("t5", custom_item_id=1001),
    ]
    with open(p, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return read_raw_tasks(spark, str(p))


def test_dim_lists(raw_tasks):
    dim = build_dim_lists(
        raw_tasks.select(
            "space_id", "space_name", "folder_id", "folder_name", "list_id", "list_name"
        ).distinct()
    )
    assert [f.name for f in dim.schema.fields] == [
        f.name for f in DIM_LISTS_SCHEMA.fields
    ]
    rows = dim.collect()
    assert all(r["folder_id"] is not None for r in rows)  # '' not null


def test_dim_tasks(raw_tasks):
    dim = build_dim_tasks(raw_tasks)
    assert [f.name for f in dim.schema.fields] == [
        f.name for f in DIM_TASKS_SCHEMA.fields
    ]
    rows = {r["task_id"]: r for r in dim.collect()}
    assert rows["t1"]["time_estimate_hrs"] == 2.5
    assert rows["t1"]["closed"] is True
    assert rows["t2"]["archived"] is True
    assert rows["t2"]["folder_id"] == "f1"
    assert rows["t3"]["time_estimate_hrs"] is None
    assert rows["t3"]["folder_id"] == ""  # blank backfill


def test_dim_accounts_bridge(raw_tasks):
    accounts = raw_tasks.filter(F.col("custom_item_id") == 1001)
    dim = build_dim_accounts(accounts)
    assert [f.name for f in dim.schema.fields] == [
        f.name for f in DIM_ACCOUNTS_SCHEMA.fields
    ]
    rows = dim.collect()
    t4 = sorted(r["connected_list_id"] for r in rows if r["account_task_id"] == "t4")
    assert t4 == ["l1", "l2"]  # trimmed, empty-dropped fan-out
    t5 = [r for r in rows if r["account_task_id"] == "t5"]
    assert len(t5) == 1 and t5[0]["connected_list_id"] == ""  # ''-row
    any4 = next(r for r in rows if r["account_task_id"] == "t4")
    assert any4["hours_discount"] == 0.0  # 'oops' → default 0.0
    assert any4["arr"] == 77.0
    assert any4["assignees"] == "ada, bob"


def test_dim_apps(raw_tasks):
    dim = build_dim_apps(raw_tasks)
    assert [f.name for f in dim.schema.fields] == [
        f.name for f in DIM_APPS_SCHEMA.fields
    ]
    rows = dim.collect()
    assert len(rows) == 1  # only custom_item_id == 1005
    app = rows[0]
    assert app["task_id"] == "t3"
    assert app["account_task_ids"] == "a1, a2"
    assert app["arr"] == 1200.5
    assert app["maintenance"] is True
    # last_updated comes from the 'Last Updated' custom field, not the
    # task's date_created (fetch_clickup_data.py:727-735)
    assert app["last_updated"] == dt.datetime(2024, 1, 11, 19, 6, 40)


# ---------------------------------------------------------------------------
# Sync pipelines end-to-end on a parquet fact table
# ---------------------------------------------------------------------------


@pytest.fixture()
def entries_path(tmp_path):
    def write(rows, name):
        p = tmp_path / name
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        return str(p)

    return write


def test_refresh_then_full_reindex(spark, tmp_path, entries_path):
    fact_path = str(tmp_path / "fact")
    today = dt.date(2023, 11, 20)
    # initial full backfill: 3 entries across history
    t0 = 1700000000000  # 2023-11-14T22:13Z → Oslo 2023-11-14 23:13
    old = 1690000000000  # 2023-07-22 (outside a 60-day refresh window)
    p1 = entries_path(
        [
            _entry("a", start_ms=old, at_ms=old),
            _entry("b", start_ms=t0, at_ms=t0),
            _entry("c", start_ms=t0, at_ms=t0),
        ],
        "backfill.json",
    )
    r1 = sync_full_reindex(spark, read_raw_time_entries(spark, p1), fact_path)
    assert r1.rows == 3

    # refresh: 'b' edited, 'c' gone (deleted in window), 'd' new;
    # 'a' is outside the window and must survive untouched
    p2 = entries_path(
        [
            _entry("b", start_ms=t0, at_ms=t0 + 500, duration="3600000"),
            _entry("d", start_ms=t0 + 1000, at_ms=t0 + 1000),
        ],
        "refresh.json",
    )
    r2 = sync_refresh(
        spark,
        read_raw_time_entries(spark, p2),
        fact_path,
        today_oslo=today,
        days=60,
    )
    assert r2.rows == 3  # a (history) + b (updated) + d (new)
    fact = spark.read.parquet(fact_path)
    rows = {r["id"]: r for r in fact.collect()}
    assert set(rows) == {"a", "b", "d"}
    assert rows["b"]["duration_hours"] == 1.0


def test_csv_backup_written(spark, tmp_path, entries_path):
    p = entries_path([_entry("x", start_ms=1700000000000, at_ms=1)], "one.json")
    backup = str(tmp_path / "backup_csv")
    sync_full_reindex(
        spark,
        read_raw_time_entries(spark, p),
        str(tmp_path / "fact2"),
        backup_path=backup,
    )
    files = glob.glob(f"{backup}/*.csv")
    assert len(files) == 1  # single headered file
    with open(files[0]) as f:
        header = f.readline()
    assert header.startswith("id,")


def test_health(spark):
    h = health(spark)
    assert h["status"] == "healthy" and h["spark_version"]


# ---------------------------------------------------------------------------
# Sources: chunk planner, pagination policies, retry
# ---------------------------------------------------------------------------


def test_window_chunks(spark):
    chunks = window_chunks(
        spark,
        dt.datetime(2024, 1, 1),
        dt.datetime(2024, 3, 5),
        chunk_days=30,
    ).collect()
    assert len(chunks) == 3
    assert chunks[0]["chunk_start"] == dt.datetime(2024, 1, 1)
    assert chunks[-1]["chunk_end"] == dt.datetime(2024, 3, 5)  # short tail
    # contiguous, non-overlapping
    for a, b in zip(chunks, chunks[1:]):
        assert a["chunk_end"] == b["chunk_start"]


def test_pagination_policies():
    pages = {0: list(range(100)), 1: list(range(100)), 2: list(range(40)), 3: []}
    fetch = lambda i: pages.get(i, [])
    assert len(collect_all_pages(fetch, PagePolicy.EMPTY_PAGE)) == 240
    # SHORT_PAGE stops after the 40-row page without probing page 3
    calls = []

    def fetch_counting(i):
        calls.append(i)
        return pages.get(i, [])

    assert len(collect_all_pages(fetch_counting, PagePolicy.SHORT_PAGE)) == 240
    assert calls == [0, 1, 2]


def test_retry_backoff():
    sleeps = []
    policy = RetryPolicy(max_retries=3, sleep=sleeps.append)
    attempts = []

    def flaky():
        attempts.append(1)
        if len(attempts) < 3:
            raise RetryableHTTPError(429)
        return {"ok": True}

    assert fetch_with_retry(flaky, policy) == {"ok": True}
    assert sleeps == [1.0, 2.0]  # 2^0, 2^1

    def always_404():
        raise RetryableHTTPError(404)

    with pytest.raises(RetryableHTTPError):
        fetch_with_retry(always_404, policy)  # non-retryable → immediate


# ---------------------------------------------------------------------------
# Streaming refresh
# ---------------------------------------------------------------------------


def test_streaming_refresh(spark, tmp_path, entries_path):
    from hours_api_clickup_spark.streaming.refresh import streaming_refresh

    src = tmp_path / "stream_src"
    src.mkdir()
    fact_path = str(tmp_path / "stream_fact")
    t0 = 1700000000000
    with open(src / "batch1.json", "w") as f:
        for r in [
            _entry("s1", start_ms=t0, at_ms=t0),
            _entry("s2", start_ms=t0, at_ms=t0),
        ]:
            f.write(json.dumps(r) + "\n")

    q = streaming_refresh(
        spark,
        str(src),
        fact_path,
        str(tmp_path / "ckpt"),
        today_oslo=dt.date(2023, 11, 20),
        days=60,
    )
    q.awaitTermination(120)
    ids = {r["id"] for r in spark.read.parquet(fact_path).collect()}
    assert ids == {"s1", "s2"}

    # late file: s2 edited + s3 arrives; restart stream (availableNow)
    with open(src / "batch2.json", "w") as f:
        for r in [
            _entry("s2", start_ms=t0, at_ms=t0 + 99, duration="3600000"),
            _entry("s3", start_ms=t0 + 5, at_ms=t0 + 5),
        ]:
            f.write(json.dumps(r) + "\n")
    q2 = streaming_refresh(
        spark,
        str(src),
        fact_path,
        str(tmp_path / "ckpt"),
        today_oslo=dt.date(2023, 11, 20),
        days=60,
    )
    q2.awaitTermination(120)
    rows = {r["id"]: r for r in spark.read.parquet(fact_path).collect()}
    assert set(rows) == {"s1", "s2", "s3"}
    assert rows["s2"]["duration_hours"] == 1.0


def test_ensure_star_schema(spark):
    from hours_api_clickup_spark.sinks.catalog import ensure_star_schema

    tables = ensure_star_schema(spark, namespace="hours_test")
    assert len(tables) == 6
    cols = [f.name for f in spark.table("hours_test.fact_time_entries").schema]
    assert cols[0] == "id" and "start_date_oslo" in cols
    # idempotent: second call leaves tables in place
    again = ensure_star_schema(spark, namespace="hours_test")
    assert again == tables
    spark.table("hours_test.dim_accounts")  # resolvable


def test_failed_dim_sync_keeps_previous_dim(spark, tmp_path, raw_tasks, monkeypatch):
    """A dimension load that fails mid-job must leave the previous
    dimension readable (WRITE_TRUNCATE is atomic in the reference's
    warehouse): the load is staged and swapped, never an in-place
    overwrite that truncates the live table first."""
    from hours_api_clickup_spark import pipelines

    path = str(tmp_path / "dim_lists")
    first = pipelines.sync_dim("lists", raw_tasks, path)
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert first.rows == len(before) > 0

    real_build = pipelines.build_dim_lists

    def failing_build(df):
        dim = real_build(df)
        return dim.withColumn(
            "list_name",
            F.when(F.lit(True), F.raise_error(F.lit("injected write failure")))
            .otherwise(F.col("list_name")),
        )

    monkeypatch.setattr(pipelines, "build_dim_lists", failing_build)
    with pytest.raises(Exception, match="injected write failure"):
        pipelines.sync_dim("lists", raw_tasks, path)
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert after == before


def test_streaming_sessionize_state_spans_batches(spark, tmp_path):
    """A session whose events straddle a micro-batch boundary must be
    stitched together from state, not split."""
    import os
    import time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hours_api_clickup_spark.streaming.sessions import (
        SENTINEL_TYPE,
        streaming_sessionize,
    )

    t0 = pd.Timestamp("2025-01-01 08:00:00")

    def mk(rows):
        return pa.Table.from_pandas(
            pd.DataFrame(
                {
                    "event_id": pd.Series([r[0] for r in rows], dtype="int64"),
                    "ts": pd.Series(
                        [t0 + pd.Timedelta(minutes=r[1]) for r in rows],
                        dtype="datetime64[us]",
                    ).dt.tz_localize("UTC"),
                    "user_id": pd.Series([r[2] for r in rows], dtype="int64"),
                    "event_type": pd.Series(
                        [r[3] for r in rows], dtype="object"
                    ),
                    "value": pd.Series([0.0] * len(rows), dtype="float64"),
                }
            ),
            preserve_index=False,
        )

    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    # batch 1: user 1 opens a session (2 events, 10 min apart)
    f1 = str(stream_dir / "f1.parquet")
    pq.write_table(mk([(1, 0, 1, "click"), (2, 10, 1, "click")]), f1)
    # batch 2: +20 min extends the SAME session across the boundary;
    # +90 min opens a second one; user 2 appears; sentinels flush all
    f2 = str(stream_dir / "f2.parquet")
    pq.write_table(
        mk(
            [
                (3, 20, 1, "click"),
                (4, 90, 1, "click"),
                (5, 95, 2, "click"),
                (-1, 10000, 1, SENTINEL_TYPE),
                (-1, 10000, 2, SENTINEL_TYPE),
            ]
        ),
        f2,
    )
    now = time.time()
    os.utime(f1, (now - 100, now - 100))
    os.utime(f2, (now, now))

    schema = spark.read.parquet(f1).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(str(stream_dir))
        .withWatermark("ts", "30 minutes")
    )
    q = (
        streaming_sessionize(stream, gap_minutes=30.0)
        .writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_id): (r.session_start, r.session_end, r.n_events)
        for r in spark.table("sess_test").collect()
    }
    assert got == {
        (1, 0): (t0, t0 + pd.Timedelta(minutes=20), 3),
        (1, 1): (
            t0 + pd.Timedelta(minutes=90),
            t0 + pd.Timedelta(minutes=90),
            1,
        ),
        (2, 0): (
            t0 + pd.Timedelta(minutes=95),
            t0 + pd.Timedelta(minutes=95),
            1,
        ),
    }


def test_streaming_dedup_collapses_redeliveries(spark, tmp_path):
    """The same rows delivered in two source files must be counted once:
    dedup state (keyed by event_id) spans micro-batches."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hours_api_clickup_spark.streaming.refresh import streaming_dedup_events

    t0 = pd.Timestamp("2025-01-01 08:00:00")

    def mk(ids):
        return pa.Table.from_pandas(
            pd.DataFrame(
                {
                    "event_id": pd.Series(ids, dtype="int64"),
                    "ts": pd.Series(
                        [t0 + pd.Timedelta(minutes=i) for i in ids],
                        dtype="datetime64[us]",
                    ).dt.tz_localize("UTC"),
                    "user_id": pd.Series([1] * len(ids), dtype="int64"),
                    "event_type": pd.Series(["click"] * len(ids), dtype="object"),
                    "value": pd.Series([2.5] * len(ids), dtype="float64"),
                }
            ),
            preserve_index=False,
        )

    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    pq.write_table(mk([1, 2, 3]), str(stream_dir / "f1.parquet"))
    pq.write_table(mk([2, 3, 4]), str(stream_dir / "f2.parquet"))  # 2,3 redelivered

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)  # force the duplicates into a LATER batch
        .format("parquet")
        .load(str(stream_dir))
    )
    q = (
        streaming_dedup_events(stream)
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    row = spark.table("dedup_test").head()
    assert row.n_events == 4 and abs(row.sum_value - 10.0) < 1e-9


def test_streaming_continuous_rollup_resumes_exactly_once(spark, tmp_path):
    """Continuous-aggregate state survives across stream RUNS: drain two
    staged files, stop, stage a third, drain again with the SAME
    checkpoint — already-committed files must not fold in twice, and the
    final state equals the batch recompute over all three files."""
    from hours_api_clickup_spark.operators.incremental import (
        finalize_rollup,
        partial_rollup,
    )
    from hours_api_clickup_spark.streaming.refresh import (
        streaming_continuous_rollup,
    )

    rows = [(i % 5, "t" + str(i % 3), float(i)) for i in range(300)]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, value double"
    )
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    df.filter(F.col("user_id") < 3).repartition(2).write.mode(
        "overwrite"
    ).parquet(src)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )
    streaming_continuous_rollup(stream, state, ckpt).awaitTermination(120)

    # second run over the same dir + one appended file, same checkpoint
    df.filter(F.col("user_id") >= 3).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream2 = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )
    streaming_continuous_rollup(stream2, state, ckpt).awaitTermination(120)

    got = sorted(
        map(
            tuple,
            finalize_rollup(
                spark.read.parquet(state).drop("__last_batch_id"), "value"
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            finalize_rollup(
                partial_rollup(df, ["user_id", "event_type"], "value"),
                "value",
            ).collect(),
        )
    )
    assert got == want


def test_fold_rollup_batch_redelivery_is_noop(spark, tmp_path):
    """foreachBatch is at-least-once; the fold must make re-delivery
    idempotent. Applying the same batch_id twice changes nothing; the
    next batch_id still folds."""
    from hours_api_clickup_spark.operators.incremental import (
        finalize_rollup,
        partial_rollup,
    )
    from hours_api_clickup_spark.streaming.refresh import fold_rollup_batch

    state = str(tmp_path / "state")
    b1 = spark.createDataFrame(
        [(1, "a", 2.0), (1, "a", 3.0)],
        "user_id long, event_type string, value double",
    )
    b2 = spark.createDataFrame(
        [(1, "a", 5.0)], "user_id long, event_type string, value double"
    )
    assert fold_rollup_batch(spark, b1, state, batch_id=0) is True
    assert fold_rollup_batch(spark, b1, state, batch_id=0) is False  # replay
    assert fold_rollup_batch(spark, b2, state, batch_id=1) is True
    assert fold_rollup_batch(spark, b2, state, batch_id=1) is False  # replay

    [row] = finalize_rollup(
        spark.read.parquet(state).drop("__last_batch_id"), "value"
    ).collect()
    assert (row.n, row.total_value) == (3, 10.0)


def test_streaming_lsh_ingest_equals_batch_index(spark, tmp_path):
    """Vectors drained through the streaming foreachBatch ingest must
    produce an index whose live view (base ∪ log, max-seq resolved)
    equals a one-shot batch build; re-running the stream over the same
    checkpoint must be a no-op (exactly-once), and probes over both
    indexes return identical neighbors."""
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.datapipe.similarity import (
        lsh_index_compact,
        lsh_index_read,
        lsh_index_write,
        lsh_probe_topk,
    )
    from hours_api_clickup_spark.plans.registry import load_table
    from hours_api_clickup_spark.streaming.ann_ingest import streaming_lsh_ingest
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 300)
    # stage as 3 files so the file stream delivers multiple micro-batches
    stage = str(tmp_path / "stage")
    for i in range(3):
        emb.filter(F.col("vec_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(stage)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    q = streaming_lsh_ingest(stream, idx, ckpt, dim=64)
    q.awaitTermination(300)

    batch_idx = str(tmp_path / "batch_idx")
    lsh_index_write(emb, "embedding", "vec_id", batch_idx, dim=64)

    def canon(path):
        from pyspark.sql import Window

        live = lsh_index_read(spark, path)
        w = Window.partitionBy("vid")
        live = (
            live.withColumn("_mx", F.max("seq").over(w))
            .filter(F.col("seq") == F.col("_mx"))
            .dropDuplicates(["vid", "t"])
        )
        return sorted((r["t"], r["sig"], r["vid"]) for r in live.collect())

    assert canon(idx) == canon(batch_idx)

    # restart over the same checkpoint: nothing pending → no new files
    import os

    n_log = len(os.listdir(f"{idx}/log")) if os.path.exists(f"{idx}/log") else 0
    q2 = streaming_lsh_ingest(
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage),
        idx,
        ckpt,
        dim=64,
    )
    q2.awaitTermination(300)
    n_log2 = len(os.listdir(f"{idx}/log")) if os.path.exists(f"{idx}/log") else 0
    assert n_log2 == n_log

    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    a = [r["nbr_id"] for r in lsh_probe_topk(spark, idx, qv, k=5, exclude_id=0).collect()]
    b = [
        r["nbr_id"]
        for r in lsh_probe_topk(spark, batch_idx, qv, k=5, exclude_id=0).collect()
    ]
    assert a == b

    # compaction folds the streamed log; live view unchanged
    lsh_index_compact(spark, idx)
    assert not os.path.exists(f"{idx}/log")
    assert canon(idx) == canon(batch_idx)


def test_streaming_ivf_ingest_equals_batch_index(spark, tmp_path):
    """The IVF twin of the streaming-LSH parity test: vectors drained
    through foreachBatch (assignment against the frozen quantizer,
    seq = batch_id) must produce the same live view as a one-shot
    build, restarting over the same checkpoint must append nothing,
    and probes agree."""
    import os

    from pyspark.sql import functions as F

    import hours_api_clickup_spark.datapipe.similarity as S
    from hours_api_clickup_spark.plans.registry import load_table
    from hours_api_clickup_spark.streaming.ann_ingest import (
        streaming_ivf_ingest,
    )
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 300)
    cents = S.seed_centroids(emb, "embedding", "vec_id", n_clusters=8)
    stage = str(tmp_path / "stage")
    for i in range(3):
        emb.filter(F.col("vec_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(stage)

    def stream():
        return (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )

    idx, ckpt = str(tmp_path / "idx"), str(tmp_path / "ckpt")
    streaming_ivf_ingest(stream(), idx, ckpt, cents).awaitTermination(300)

    batch_idx = str(tmp_path / "batch_idx")
    S.ivf_index_write(emb, "embedding", "vec_id", batch_idx, cents)

    def canon(path):
        from pyspark.sql import Window

        live = S.ivf_index_read(spark, path)
        w = Window.partitionBy("vec_id")
        live = (
            live.withColumn("_mx", F.max("seq").over(w))
            .filter(F.col("seq") == F.col("_mx"))
            .dropDuplicates(["vec_id"])
        )
        return sorted(
            (r["vec_id"], r["cluster_id"]) for r in live.collect()
        )

    assert canon(idx) == canon(batch_idx)

    # exactly-once: a restart over the drained checkpoint appends nothing
    n_log = len(os.listdir(f"{idx}/log"))
    streaming_ivf_ingest(stream(), idx, ckpt, cents).awaitTermination(300)
    assert len(os.listdir(f"{idx}/log")) == n_log

    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    probe = lambda p: [  # noqa: E731
        r["nbr_id"]
        for r in S.ivf_probe_topk(
            spark, p, "embedding", "vec_id", qv, cents, k=5, nprobe=8,
            exclude_id=0,
        ).collect()
    ]
    assert probe(idx) == probe(batch_idx)

    # compaction folds the streamed log; live view unchanged
    S.ivf_index_compact(spark, idx, "vec_id")
    assert not os.path.exists(f"{idx}/log")
    assert canon(idx) == canon(batch_idx)


def test_streaming_ivfpq_ingest_equals_batch_index(spark, tmp_path):
    """The IVFADC twin: each micro-batch commits a vector-log AND a
    code-log file at the same seq; probes (ADC over codes ∪ codes_log,
    re-rank from base ∪ log) must match a one-shot build, and the
    family's compaction — the two-tier rebuild — must consume the
    streamed logs transactionally."""
    import os

    from pyspark.sql import functions as F

    import hours_api_clickup_spark.datapipe.similarity as S
    from hours_api_clickup_spark.plans.registry import load_table
    from hours_api_clickup_spark.streaming.ann_ingest import (
        streaming_ivfpq_ingest,
    )
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 300)
    cents = S.seed_centroids(emb, "embedding", "vec_id", n_clusters=8)
    cb = S.pq_seed_codebooks(
        emb, "embedding", "vec_id", n_subspaces=4, n_codes=16
    )
    stage = str(tmp_path / "stage")
    for i in range(3):
        emb.filter(F.col("vec_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(stage)

    def stream():
        return (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )

    idx, ckpt = str(tmp_path / "idx"), str(tmp_path / "ckpt")
    streaming_ivfpq_ingest(stream(), idx, ckpt, cents, cb).awaitTermination(300)

    batch_idx = str(tmp_path / "batch_idx")
    S.ivfpq_index_write(emb, "embedding", "vec_id", batch_idx, cents, cb)

    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    probe = lambda p: [  # noqa: E731
        tuple(r)
        for r in S.ivfpq_probe_topk(
            spark, p, "embedding", "vec_id", qv, cents, cb, k=5,
            nprobe=8, n_candidates=64, exclude_id=0,
        ).collect()
    ]
    assert probe(idx) == probe(batch_idx)

    # exactly-once: restart appends nothing to either log tier
    n_log = len(os.listdir(f"{idx}/log"))
    n_clog = len(os.listdir(f"{idx}/codes_log"))
    streaming_ivfpq_ingest(stream(), idx, ckpt, cents, cb).awaitTermination(300)
    assert len(os.listdir(f"{idx}/log")) == n_log
    assert len(os.listdir(f"{idx}/codes_log")) == n_clog

    # the family's compaction (= the rebuild) consumes the streamed
    # logs transactionally and preserves the probe
    live = S.ivf_index_read(spark, idx).select("vec_id", "embedding")
    S.ivfpq_index_write(live, "embedding", "vec_id", idx, cents, cb)
    for tier in ("log", "codes_log", "tombstones"):
        assert not os.path.exists(f"{idx}/{tier}"), tier
    assert probe(idx) == probe(batch_idx)


def test_streaming_doc_neardup_equals_one_shot(spark, tmp_path):
    """Documents drained through the streaming near-dup ingest: the
    accumulated pair table must equal the one-shot minhash_lsh_pairs
    over everything ingested (ids AND jaccard values)."""
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.datapipe.dedup import minhash_lsh_pairs
    from hours_api_clickup_spark.plans.registry import load_table
    from hours_api_clickup_spark.streaming.ann_ingest import (
        streaming_doc_neardup_ingest,
    )
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    stage = str(tmp_path / "stage")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(stage)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    idx = str(tmp_path / "idx")
    pairs_path = str(tmp_path / "pairs")
    q = streaming_doc_neardup_ingest(
        stream, idx, pairs_path, str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)

    streamed = {
        (r.id_a, r.id_b): r.jaccard
        for r in spark.read.parquet(pairs_path).collect()
    }
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    assert streamed == full


def test_doc_neardup_pairs_for_ids_matches_one_shot_subset(spark, tmp_path):
    """Recovery path (review r6): pairs recomputed from the index alone
    for a set of already-indexed ids must equal the one-shot pair set
    restricted to pairs touching those ids."""
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.datapipe.dedup import (
        doc_neardup_index_pairs_for_ids,
        doc_neardup_index_write,
        minhash_lsh_pairs,
    )
    from hours_api_clickup_spark.plans.registry import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    path = str(tmp_path / "idx")
    doc_neardup_index_write(docs, "doc_id", "text", path)
    ids = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("did")
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in doc_neardup_index_pairs_for_ids(spark, path, ids).collect()
    }
    idset = {r.did for r in ids.collect()}
    want = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
        if r.id_a in idset or r.id_b in idset
    }
    assert got == want and len(got) > 0


def test_streaming_doc_neardup_full_redelivery_is_noop(spark, tmp_path):
    """Review r6: foreachBatch is at-least-once — replaying the ENTIRE
    stream against the already-populated index (a fresh checkpoint
    redelivers every batch under its own batch number) must leave the
    sig table and the pair table bit-identical: no duplicate sig rows,
    no jaccard-1.0 self-pairs, no double-written pairs."""
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.datapipe.dedup import minhash_lsh_pairs
    from hours_api_clickup_spark.plans.registry import load_table
    from hours_api_clickup_spark.streaming.ann_ingest import (
        streaming_doc_neardup_ingest,
    )
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id") < 1500
    )
    stage = str(tmp_path / "stage")
    for i in range(2):
        docs.filter(F.col("doc_id") % 2 == i).coalesce(1).write.mode(
            "append"
        ).parquet(stage)

    def run(ckpt):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = streaming_doc_neardup_ingest(
            stream, idx, pairs_path, str(tmp_path / ckpt)
        )
        q.awaitTermination(300)

    idx = str(tmp_path / "idx")
    pairs_path = str(tmp_path / "pairs")
    run("ckpt1")
    sig1 = sorted(
        (r.did,) for r in spark.read.parquet(f"{idx}/sig").select("did").collect()
    )
    pairs1 = _pair_rows(spark.read.parquet(pairs_path))
    assert pairs1 == _pair_rows(minhash_lsh_pairs(docs, "doc_id", "text"))

    # full redelivery: the new checkpoint replays every batch
    run("ckpt2")
    sig2 = sorted(
        (r.did,) for r in spark.read.parquet(f"{idx}/sig").select("did").collect()
    )
    pairs2 = _pair_rows(spark.read.parquet(pairs_path))
    assert sig2 == sig1  # no duplicate sig rows
    assert pairs2 == pairs1  # no self-pairs, no double-writes


def _neardup_stream(spark, stage, idx, pairs_path, ckpt, schema):
    """Drain ``stage`` through the streaming near-dup ingest, one file
    per micro-batch, and wait for it."""
    from hours_api_clickup_spark.streaming.ann_ingest import (
        streaming_doc_neardup_ingest,
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    streaming_doc_neardup_ingest(stream, idx, pairs_path, ckpt).awaitTermination(300)


def _pair_rows(df):
    """Pair rows as a sorted list, not a dict: a double-written pair shows."""
    return sorted(tuple(r) for r in df.select("id_a", "id_b", "jaccard").collect())


def _tree(root):
    """Every file under ``root`` with its size: a write shows as a change."""
    import os

    return sorted(
        (os.path.relpath(os.path.join(d, f), root), os.path.getsize(os.path.join(d, f)))
        for d, _, files in os.walk(root)
        for f in files
    )


def test_streaming_doc_neardup_second_checkpoint_collides(spark, tmp_path):
    """One checkpoint drains into an index. A second checkpoint's batch
    0 reuses the first one's ``seq=1``: it must fail loudly and
    overwrite nothing, not be skipped (new docs silently unindexed) or
    replace the first stream's rows."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from hours_api_clickup_spark.plans.registry import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx, pairs_path = str(tmp_path / "idx"), str(tmp_path / "pairs")
    first, second = str(tmp_path / "stage1"), str(tmp_path / "stage2")
    docs.filter(F.col("doc_id") < 50).coalesce(1).write.parquet(first)
    docs.filter(F.col("doc_id").between(100, 149)).coalesce(1).write.parquet(second)
    _neardup_stream(spark, first, idx, pairs_path, str(tmp_path / "ckpt1"), docs.schema)
    before = (_tree(idx), _tree(pairs_path))

    with pytest.raises(StreamingQueryException, match="does not carry"):
        _neardup_stream(
            spark, second, idx, pairs_path, str(tmp_path / "ckpt2"), docs.schema
        )
    assert (_tree(idx), _tree(pairs_path)) == before
    sig = {r.did for r in spark.read.parquet(f"{idx}/sig").select("did").collect()}
    assert sig == set(range(50))


def test_doc_neardup_unpartitioned_index_is_refused(spark, tmp_path):
    """An index or pairs table written before the tiers were partitioned
    by ``seq`` holds its files at the tier roots. Spark reads root files
    beside ``seq=`` directories as one or the other, without an error,
    so every entry point must refuse such a table before it writes
    anything; a rebuild replaces it with the partitioned form."""
    import os
    import shutil

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from hours_api_clickup_spark.datapipe.dedup import (
        doc_neardup_index_append,
        doc_neardup_index_compact,
        doc_neardup_index_pairs_for_ids,
        doc_neardup_index_write,
    )
    from hours_api_clickup_spark.plans.registry import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 200)
    batch = docs.filter(F.col("doc_id").between(200, 249))
    new = str(tmp_path / "new")
    doc_neardup_index_write(corpus, "doc_id", "text", new)
    old = str(tmp_path / "old")  # the same rows, at the tier roots
    for tier in ("sig", "bands"):
        spark.read.parquet(f"{new}/{tier}").drop("seq").write.parquet(f"{old}/{tier}")
    before = _tree(old)

    refused = "outside its seq= partitions"
    with pytest.raises(ValueError, match=refused):
        doc_neardup_index_append(batch, old, "doc_id", "text")
    with pytest.raises(ValueError, match=refused):
        doc_neardup_index_pairs_for_ids(spark, old, corpus.select("doc_id"))
    with pytest.raises(ValueError, match=refused):
        doc_neardup_index_compact(spark, old)
    assert _tree(old) == before

    # root files beside a seq= directory: refused, not half-read
    shutil.copytree(f"{new}/sig/seq=0", f"{old}/sig/seq=3")
    with pytest.raises(ValueError, match=refused):
        doc_neardup_index_append(batch, old, "doc_id", "text")

    # a stream whose pairs table has root files writes nothing at all
    stage, pairs_path = str(tmp_path / "stage"), str(tmp_path / "pairs")
    batch.coalesce(1).write.parquet(stage)
    spark.createDataFrame([(1, 2, 0.9)], "id_a long, id_b long, jaccard double").write.parquet(
        pairs_path
    )
    index_before, pairs_before = _tree(new), _tree(pairs_path)
    with pytest.raises(StreamingQueryException, match=refused):
        _neardup_stream(spark, stage, new, pairs_path, str(tmp_path / "ckpt"), docs.schema)
    assert (_tree(new), _tree(pairs_path)) == (index_before, pairs_before)

    # the rebuild is the way forward
    doc_neardup_index_write(corpus, "doc_id", "text", old)
    assert [n for n in sorted(os.listdir(f"{old}/sig")) if n[0] != "."] == ["_SUCCESS", "seq=0"]
    got = doc_neardup_index_append(batch, old, "doc_id", "text")
    assert {r.id_b for r in got.collect()} <= set(range(200, 250))


@pytest.mark.parametrize("crashed_write", ["bands", "sig", "pairs"])
def test_streaming_doc_neardup_crash_after_each_write_redelivers_clean(
    spark, tmp_path, monkeypatch, crashed_write
):
    """A crash after any one of a batch's three ``seq=N`` writes (bands,
    sig, pairs) redelivers the batch, which overwrites all three: the
    result equals a clean run — one sig row per did and exactly the
    one-shot pair rows, no duplicate (id_a, id_b)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql.readwriter import DataFrameWriter

    from hours_api_clickup_spark.datapipe.dedup import minhash_lsh_pairs
    from hours_api_clickup_spark.plans.registry import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id") < 300
    ).select("doc_id", "text")
    stage = str(tmp_path / "stage")
    for i in range(2):
        docs.filter(F.col("doc_id") % 2 == i).coalesce(1).write.mode("append").parquet(stage)
    idx, pairs_path = str(tmp_path / "idx"), str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")
    target = {
        "bands": f"{idx}/bands/seq=2", "sig": f"{idx}/sig/seq=2", "pairs": f"{pairs_path}/seq=2",
    }[crashed_write]

    real_parquet = DataFrameWriter.parquet
    crashed = []

    def crash_after(self, path, *args, **kwargs):
        real_parquet(self, path, *args, **kwargs)
        if path == target and not crashed:
            crashed.append(path)
            raise RuntimeError(f"injected crash after writing {path}")

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_after)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        _neardup_stream(spark, stage, idx, pairs_path, ckpt, docs.schema)
    assert crashed == [target]
    _neardup_stream(spark, stage, idx, pairs_path, ckpt, docs.schema)  # redelivers batch 1
    monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)

    sig = [r.did for r in spark.read.parquet(f"{idx}/sig").select("did").collect()]
    assert sorted(sig) == sorted(r.doc_id for r in docs.select("doc_id").collect())

    got = _pair_rows(spark.read.parquet(pairs_path))
    assert got == _pair_rows(minhash_lsh_pairs(docs, "doc_id", "text"))
    assert len({(a, b) for a, b, _ in got}) == len(got) > 0


def test_json_quarantine_routes_malformed_lines(spark, tmp_path):
    """Corrupt NDJSON lines land in the quarantine frame with their raw
    text; valid rows parse cleanly; nothing is dropped or fatal."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from hours_api_clickup_spark.sources.readers import (
        read_json_with_quarantine,
    )

    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    p = tmp_path / "in.ndjson"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        '{"id": 2 "name": "missing comma"}\n'
        '{"id": 3, "name": "fine"}\n'
        "not json at all\n"
    )
    valid, quarantine = read_json_with_quarantine(spark, str(p), schema)
    assert sorted(r["id"] for r in valid.collect()) == [1, 3]
    qrows = quarantine.collect()
    assert len(qrows) == 2
    raws = {r["raw_line"] for r in qrows}
    assert any("missing comma" in r for r in raws)
    assert any("not json at all" in r for r in raws)
    assert all(r["source_file"].endswith("in.ndjson") for r in qrows)


def test_streaming_text_index_ingest_equals_one_shot(spark, tmp_path):
    """Documents drained through the streaming inverted-index ingest:
    term probes against the accumulated index must equal probes against
    a one-shot build over everything ingested."""
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.datapipe.textindex import (
        index_term_topk,
        inverted_index_read,
        inverted_index_write,
    )
    from hours_api_clickup_spark.plans.registry import load_table
    from hours_api_clickup_spark.streaming.ann_ingest import (
        streaming_text_index_ingest,
    )
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    stage = str(tmp_path / "stage")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(stage)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    idx = str(tmp_path / "idx")
    q = streaming_text_index_ingest(stream, idx, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    ref = str(tmp_path / "ref")
    inverted_index_write(docs, "text", "doc_id", ref)
    terms = ["merge", "vector"]
    got = sorted(
        tuple(r)
        for r in index_term_topk(
            spark, inverted_index_read(spark, idx), terms, k=10000
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in index_term_topk(
            spark, inverted_index_read(spark, ref), terms, k=10000
        ).collect()
    )
    assert got == want


def test_sync_refresh_with_observed_expectations(spark, tmp_path, entries_path):
    """The expectation suite rides the sync's merge write: a clean run
    returns the observed metrics in SyncResult; a violated suite raises
    before the result is returned — verification DURING the load, no
    second scan (the reference re-queried after, docs/setup.md:93-101)."""
    from hours_api_clickup_spark.operators.validate import (
        expect_not_null,
        expect_range,
    )

    fact_path = str(tmp_path / "fact_obs")
    today = dt.date(2023, 11, 20)
    t0 = 1700000000000
    p = entries_path(
        [
            _entry("a", start_ms=t0, at_ms=t0),
            _entry("b", start_ms=t0, at_ms=t0 + 500),
        ],
        "obs.json",
    )
    suite = [
        expect_not_null("id"),
        expect_range("duration_hours", 0.0, 24.0),
    ]
    r = sync_refresh(
        spark,
        read_raw_time_entries(spark, p),
        fact_path,
        today,
        expectations=suite,
    )
    assert r.rows == 2
    assert r.metrics == {
        "not_null[id]": 0,
        "range[duration_hours]": 0,
    }

    # violated suite → the sync raises with the counts
    bad = [expect_range("duration_hours", -2.0, -1.0)]
    with pytest.raises(AssertionError, match="range\\[duration_hours\\]"):
        sync_refresh(
            spark,
            read_raw_time_entries(spark, p),
            fact_path,
            today,
            expectations=bad,
        )


def test_session_ids_survive_timeout_close():
    """Review r6: a watermark-timeout close must keep the per-user
    session counter in state — removing it restarted ids at 0 and
    emitted duplicate (user_id, session_id) keys."""
    import pandas as pd

    from hours_api_clickup_spark.streaming.sessions import _sessionize_group

    class FakeState:
        def __init__(self):
            self.exists, self._v, self.hasTimedOut = False, None, False

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.exists, self._v = True, tuple(v)

        def remove(self):
            self.exists, self._v = False, None

        def setTimeoutTimestamp(self, ms):
            pass

    gap_us = 30 * 60 * 1_000_000
    state = FakeState()

    def feed(rows, timed_out=False):
        state.hasTimedOut = timed_out
        pdf = pd.DataFrame(
            {
                "ts": [pd.Timestamp(t * 1_000_000_000) for t, _ in rows],
                "event_type": [e for _, e in rows],
                "event_id": list(range(len(rows))),
            }
        )
        out = pd.concat(
            list(_sessionize_group((7,), iter([pdf]), state, gap_us))
        )
        return list(out["session_id"])

    assert feed([(100, "a"), (200, "a")]) == []  # session 0 open
    assert feed([], timed_out=True) == [0]  # watermark closes session 0
    assert state.exists  # counter retained (start_us = -1 sentinel)
    # later events open session 1; the flush sentinel closes it
    got = feed([(99_000, "a"), (99_100, "__flush__")])
    assert got == [1], got  # NOT a duplicate 0


def test_select_raw_lists_normalizes_before_distinct(spark):
    """Review r6: a null-folder and a ''-folder row of the same list
    must collapse to ONE dim row (normalize, then distinct)."""
    from hours_api_clickup_spark.operators.hierarchy import (
        build_dim_lists,
        select_raw_lists,
    )

    raw = spark.createDataFrame(
        [
            ("s1", "Space", None, None, "l1", "List One"),
            ("s1", "Space", "", "", "l1", "List One"),
        ],
        "space_id string, space_name string, folder_id string, "
        "folder_name string, list_id string, list_name string",
    )
    dim = build_dim_lists(select_raw_lists(raw))
    assert dim.count() == 1


def test_read_fact_or_empty_recovers_mid_swap_crash(spark, tmp_path):
    """Review r6: the stage-then-swap overwrite's crash window (live
    dir absent, only __old present) must read as the OLD table, never
    as first-run."""
    import os

    fact = str(tmp_path / "fact")
    spark.range(5).write.parquet(fact)
    os.rename(fact, fact + "__old")  # simulate a crash mid-swap
    from hours_api_clickup_spark.pipelines import read_fact_or_empty

    got = read_fact_or_empty(spark, fact, spark.range(0))
    assert got.count() == 5  # recovered, not treated as first run


def test_read_fact_or_empty_never_reads_a_missing_fact(spark, tmp_path, monkeypatch):
    """A first sync checks that the fact path exists instead of reading
    it: a read of a missing path makes Spark log a whole
    ``FileNotFoundException`` stack trace at WARN before it raises."""
    from pyspark.sql.readwriter import DataFrameReader

    from hours_api_clickup_spark.pipelines import read_fact_or_empty

    fact = str(tmp_path / "fact")
    read = DataFrameReader.parquet
    calls = []

    def spy(self, *paths, **kw):
        calls.append(paths)
        return read(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    staging = spark.range(3).withColumnRenamed("id", "k")
    got = read_fact_or_empty(spark, fact, staging)
    assert calls == []
    assert got.columns == ["k"] and got.count() == 0
    # an existing fact is read
    spark.range(5).write.parquet(fact)
    assert read_fact_or_empty(spark, fact, staging).count() == 5
    assert calls == [(fact,)]


def test_streaming_doc_neardup_steady_state_never_scans_pairs_table(
    spark, tmp_path, monkeypatch
):
    """Advice r6: the prev-pairs anti-join is a recovery-only cost. On a
    clean run (no redelivery) NO batch may read the accumulated pairs
    table — the old unconditional anti-join scanned a table that grows
    without bound, once per steady-state batch."""
    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameReader

    from hours_api_clickup_spark.datapipe.dedup import minhash_lsh_pairs
    from hours_api_clickup_spark.plans.registry import load_table
    from hours_api_clickup_spark.streaming.ann_ingest import (
        streaming_doc_neardup_ingest,
    )
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    stage = str(tmp_path / "stage")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(stage)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    idx = str(tmp_path / "idx")
    pairs_path = str(tmp_path / "pairs")

    reads: list[str] = []
    real_parquet = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        reads.extend(paths)
        return real_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    q = streaming_doc_neardup_ingest(
        stream, idx, pairs_path, str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)
    monkeypatch.setattr(DataFrameReader, "parquet", real_parquet)

    pair_reads = [p for p in reads if str(p).startswith(pairs_path)]
    assert pair_reads == [], pair_reads
    # and the output is still the one-shot pair table (nothing skipped)
    streamed = {
        (r.id_a, r.id_b) for r in spark.read.parquet(pairs_path).collect()
    }
    full = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    assert streamed == full


def test_streaming_doc_neardup_drops_tombstoned_dids_from_batches(
    spark, tmp_path
):
    """Review r7: a takedown issued between a document's publication
    and its arrival must win — the ingest drops tombstoned dids from
    incoming batches while the markers live, so the deleted doc never
    enters sig/bands or the pair table."""
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.datapipe.dedup import (
        doc_neardup_index_delete,
    )
    from hours_api_clickup_spark.plans.registry import load_table
    from hours_api_clickup_spark.streaming.ann_ingest import (
        streaming_doc_neardup_ingest,
    )
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    stage = str(tmp_path / "stage")
    idx = str(tmp_path / "idx")
    pairs_path = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    first = docs.filter(F.col("doc_id") % 3 == 0)
    second = docs.filter(F.col("doc_id") % 3 == 1)
    first.coalesce(1).write.mode("append").parquet(stage)

    def drain():
        q = streaming_doc_neardup_ingest(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage),
            idx, pairs_path, ckpt,
        )
        q.awaitTermination(300)

    drain()  # first slice indexed
    # takedown lands for a doc that is IN the second, not-yet-arrived
    # slice (and one already-indexed doc, exercising both directions)
    doomed_incoming = second.select("doc_id").head()[0]
    doomed_indexed = first.select("doc_id").head()[0]
    doc_neardup_index_delete(
        spark, idx, [doomed_incoming, doomed_indexed]
    )
    second.coalesce(1).write.mode("append").parquet(stage)
    drain()  # second slice arrives after the takedown

    sig_dids = {
        r[0] for r in spark.read.parquet(f"{idx}/sig").select("did").collect()
    }
    assert doomed_incoming not in sig_dids  # never ingested
    assert doomed_indexed in sig_dids  # still physical until compact...
    import os

    if os.path.exists(pairs_path):
        touched = {
            x
            for r in spark.read.parquet(pairs_path).collect()
            for x in (r.id_a, r.id_b)
        }
        # ...but produces no NEW pairs: batch-2 candidates were
        # anti-filtered against the tombstones
        assert doomed_incoming not in touched


def test_streaming_doc_neardup_rejects_changed_text(spark, tmp_path):
    """Review r8: a doc id re-arriving with CHANGED text is an UPDATE,
    not a crash redelivery — the append-only index cannot fold it, so
    the batch must fail loudly (naming the takedown lifecycle) instead
    of silently serving the old signatures. Identical-text redelivery
    keeps working (test_streaming_doc_neardup_full_redelivery_is_noop)."""
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.plans.registry import load_table
    from hours_api_clickup_spark.streaming.ann_ingest import (
        streaming_doc_neardup_ingest,
    )
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id") < 300
    ).select("doc_id", "text")
    stage = str(tmp_path / "stage")
    docs.coalesce(1).write.mode("append").parquet(stage)
    idx = str(tmp_path / "idx")
    pairs_path = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(docs.select("doc_id", "text").schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = streaming_doc_neardup_ingest(stream, idx, pairs_path, ckpt)
        q.awaitTermination(300)
        return q

    run()  # batch 0 indexes everything

    # an UPDATE arrives: same id, different text
    docs.filter(F.col("doc_id") == 7).withColumn(
        "text", F.lit("completely different rewritten body")
    ).coalesce(1).write.mode("append").parquet(stage)
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="CHANGED text"):
        run()
    # the index is untouched by the failed batch: old signature serves
    sig = spark.read.parquet(f"{idx}/sig")
    assert sig.filter(F.col("did") == 7).count() == 1


def test_streaming_doc_neardup_rejects_sub_shingle_update(spark, tmp_path):
    """Review r8 fourth pass: an update whose NEW text is shorter than
    the shingle size produces no recomputed signature row, and the old
    inner-join comparison silently passed exactly that update — it must
    fail the batch like any other changed-text re-ingest."""
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.plans.registry import load_table
    from hours_api_clickup_spark.streaming.ann_ingest import (
        streaming_doc_neardup_ingest,
    )
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id") < 200
    ).select("doc_id", "text")
    stage = str(tmp_path / "stage")
    docs.coalesce(1).write.mode("append").parquet(stage)
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = streaming_doc_neardup_ingest(
            stream, idx, str(tmp_path / "pairs"), ckpt
        )
        q.awaitTermination(300)

    run()
    docs.filter(F.col("doc_id") == 3).withColumn(
        "text", F.lit("hi")  # shorter than the shingle k
    ).coalesce(1).write.mode("append").parquet(stage)
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="CHANGED text"):
        run()
