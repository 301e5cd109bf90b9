"""Reference-domain fidelity tests on ClickUp-shaped fixtures
(FIXTURES.md): flatten/transform semantics, DST dating, null-wins dedup,
''-explode fan-out, merge invariants — the edge cases SURVEY.md §4.2
calls out as non-obvious."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from hours_api_clickup_spark.operators.dedupe import dedupe_latest
from hours_api_clickup_spark.operators.explode import split_explode_with_empty
from hours_api_clickup_spark.operators.merge import merge_full_reindex, merge_refresh
from hours_api_clickup_spark.operators.transform import transform_time_entries
from hours_api_clickup_spark.schemas import (
    FACT_TIME_ENTRIES_SCHEMA,
    RAW_TIME_ENTRY_SCHEMA,
)
from hours_api_clickup_spark.sources.readers import read_raw_time_entries


def _entry(eid, start_ms=None, at_ms=None, **kw):
    base = {
        "id": eid,
        "start": str(start_ms) if start_ms is not None else None,
        "end": None,
        "duration": kw.get("duration"),
        "at": str(at_ms) if at_ms is not None else None,
        "billable": kw.get("billable"),
        "is_locked": kw.get("is_locked"),
        "description": kw.get("description", "d"),
        "source": "api",
        "approval_id": kw.get("approval_id"),
        "task_url": "http://x",
        "task": kw.get(
            "task",
            {
                "id": "t1",
                "name": "Task One",
                "custom_type": None,
                "custom_id": None,
                "status": {
                    "status": "open",
                    "color": "#fff",
                    "type": "open",
                    "orderindex": kw.get("orderindex", "3"),
                },
            },
        ),
        "user": kw.get(
            "user",
            {
                "id": "u1",
                "username": "ada",
                "email": kw.get("email", "ada@example.com"),
                "color": "#123",
                "initials": "AL",
                "profilePicture": None,
            },
        ),
        "task_location": {"list_id": "l1", "folder_id": "f1", "space_id": "s1"},
    }
    return base


@pytest.fixture(scope="module")
def raw_fixture_path(tmp_path_factory):
    """NDJSON fixture with the FIXTURES.md §A1 edge rows."""
    p = tmp_path_factory.mktemp("fixtures") / "raw_entries.json"
    # 2024-03-31 is the Europe/Oslo spring-forward (CET→CEST) date
    rows = [
        # plain row; 2h duration
        _entry("e1", start_ms=1700000000000, at_ms=1700000100000,
               duration="7200000", billable="true", is_locked="0"),
        # UTC 23:30 → Oslo next day (UTC+1 in winter)
        _entry("e2", start_ms=1706311800000, at_ms=1706311800000),  # 2024-01-26T23:30Z
        # DST spring-forward morning: 2024-03-31T00:30Z = 01:30 CET... +1h → 02:30? (gap)
        _entry("e3", start_ms=1711845000000, at_ms=1711845000000),  # 2024-03-31T00:30Z
        # just after spring-forward: 2024-03-31T01:30Z → CEST (+2) 03:30
        _entry("e4", start_ms=1711848600000, at_ms=1711848600000),
        # autumn fall-back 2024-10-27: 00:30Z is 02:30 CEST (before the
        # repeated hour), 01:30Z is 02:30 CET (after) — same civil date
        _entry("e9", start_ms=1729989000000, at_ms=1729989000000),  # 00:30Z
        _entry("e10", start_ms=1729992600000, at_ms=1729992600000),  # 01:30Z
        # 23:30Z on the 26th → 01:30 CEST on the 27th (crosses midnight)
        _entry("e11", start_ms=1729985400000, at_ms=1729985400000),
        # duplicate id: e5 has newer at...
        _entry("e5", start_ms=1700000000000, at_ms=1700005000000, duration="60000"),
        _entry("e5", start_ms=1700000000000, at_ms=1700009000000, duration="120000"),
        # duplicate id where one copy has NULL at → null wins (FIXTURES.md A1 edge 1)
        _entry("e6", start_ms=1700000000000, at_ms=1700009000000, duration="1"),
        _entry("e6", start_ms=1700000000000, at_ms=None, duration="2"),
        # unparseable numerics + empty email → nulls, not failures
        _entry("e7", start_ms=None, at_ms=None, duration="not-a-number",
               email="", orderindex="junk", billable="maybe"),
        # overflow-magnitude epoch + NaN duration: must null, not throw
        # under ANSI mode (CAST_OVERFLOW regression)
        _entry("e12", start_ms="1e20", at_ms=1700000000000, duration="nan"),
        # start == 0 → null timestamp (the `ms > 0` guard)
        _entry("e8", start_ms=0, at_ms=1700000000000, duration="0"),
    ]
    with open(p, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return str(p)


@pytest.fixture(scope="module")
def flat(spark, raw_fixture_path):
    raw = read_raw_time_entries(spark, raw_fixture_path)
    return transform_time_entries(raw)


def test_flat_schema_matches_fact(flat):
    assert [f.name for f in flat.schema.fields] == [
        f.name for f in FACT_TIME_ENTRIES_SCHEMA.fields
    ]
    got = {f.name: f.dataType.simpleString() for f in flat.schema.fields}
    want = {
        f.name: f.dataType.simpleString() for f in FACT_TIME_ENTRIES_SCHEMA.fields
    }
    assert got == want


def test_transform_values(flat):
    rows = {r["id"]: r for r in flat.collect()}
    e1 = rows["e1"]
    assert e1["duration_hours"] == 2.0
    assert e1["billable"] is True
    assert e1["is_locked"] is False
    assert e1["task_status_orderindex"] == 3
    assert e1["user_email_sha256"] is not None and len(e1["user_email_sha256"]) == 64
    # e7: all-garbage row survives with nulls (per-row tolerance P3)
    e7 = rows["e7"]
    assert e7["start_utc"] is None
    assert e7["duration_ms"] is None
    assert e7["duration_hours"] == 0.0  # falsy → 0.0, not null
    assert e7["user_email_sha256"] is None  # empty email → null hash
    assert e7["task_status_orderindex"] is None
    assert e7["billable"] is False
    # e8: epoch 0 → null start (the ms > 0 guard)
    assert rows["e8"]["start_utc"] is None
    assert rows["e8"]["start_date_oslo"] is None
    # e12: 1e20 epoch and NaN duration null out instead of CAST_OVERFLOW
    assert rows["e12"]["start_utc"] is None
    assert rows["e12"]["duration_ms"] is None
    assert rows["e12"]["duration_hours"] == 0.0


def test_oslo_dates_dst(flat):
    rows = {r["id"]: r for r in flat.collect()}
    # winter: UTC 2024-01-26 23:30 → Oslo (CET, +1) 2024-01-27
    assert rows["e2"]["start_date_oslo"] == dt.date(2024, 1, 27)
    # spring-forward day, both sides of the 02:00 CET gap stay 2024-03-31
    assert rows["e3"]["start_date_oslo"] == dt.date(2024, 3, 31)
    assert rows["e4"]["start_date_oslo"] == dt.date(2024, 3, 31)
    # autumn fall-back: both instants of the repeated 02:30 → 2024-10-27
    assert rows["e9"]["start_date_oslo"] == dt.date(2024, 10, 27)
    assert rows["e10"]["start_date_oslo"] == dt.date(2024, 10, 27)
    # late-evening UTC on the 26th lands on the 27th in Oslo (CEST +2)
    assert rows["e11"]["start_date_oslo"] == dt.date(2024, 10, 27)


def test_dedupe_null_wins(flat):
    deduped = dedupe_latest(flat, key="id", ts="at")
    rows = {r["id"]: r for r in deduped.collect()}
    assert len(rows) == flat.select("id").distinct().count()
    # e5: larger `at` wins
    assert rows["e5"]["duration_ms"] == 120000
    # e6: the null-at copy wins (pandas keep='last', na_position='last')
    assert rows["e6"]["at"] is None
    assert rows["e6"]["duration_ms"] == 2


def test_split_explode_empty_semantics(spark):
    df = spark.createDataFrame(
        [("a", "x, y ,,z"), ("b", ""), ("c", None), ("d", " , ")],
        ["k", "csv"],
    )
    out = split_explode_with_empty(df, "csv", "item")
    got = sorted((r["k"], r["item"]) for r in out.collect())
    # a fans out to 3 trimmed tokens; b/c/d each emit exactly one ''-row
    assert got == [
        ("a", "x"), ("a", "y"), ("a", "z"),
        ("b", ""), ("c", ""), ("d", ""),
    ]


# ---------------------------------------------------------------------------
# Merge invariants (SURVEY §4.3 + BUG_FIX_SUMMARY.md regression, automated)
# ---------------------------------------------------------------------------


def _fact_staging(spark):
    mk = lambda i, d, v: (f"id{i}", dt.date(2024, d[0], d[1]), float(v))
    fact = spark.createDataFrame(
        [
            mk(1, (1, 10), 1),   # outside window, untouched
            mk(2, (6, 1), 1),    # inside window, also in staging → updated
            mk(3, (6, 2), 1),    # inside window, NOT in staging → deleted
            mk(4, (1, 11), 1),   # outside window, id also in staging-window? no
            ("id7", None, 1.0),  # NULL date: BETWEEN is not true → kept
            mk(8, (1, 15), 1),   # outside window, re-sent inside it below
        ],
        "id string, start_date_oslo date, v double",
    )
    staging = spark.createDataFrame(
        [
            mk(2, (6, 1), 2),    # update
            mk(5, (6, 3), 9),    # insert (new in window)
            mk(6, (1, 12), 9),   # outside window → ignored by refresh
            mk(8, (6, 5), 9),    # id moved into the window: replaces id8
        ],
        ["id", "start_date_oslo", "v"],
    )
    return fact, staging


def _window_pred():
    return F.col("start_date_oslo").between(
        F.lit(dt.date(2024, 5, 1)), F.lit(dt.date(2024, 6, 30))
    )


def test_merge_refresh_case_analysis(spark):
    fact, staging = _fact_staging(spark)
    rows = merge_refresh(fact, staging, _window_pred(), key="id").collect()
    # a list, not a set: each id appears exactly once (id8 too)
    got = sorted((r["id"], float(r["v"])) for r in rows)
    assert got == sorted([
        ("id1", 1.0),  # history preserved (the BUG_FIX regression)
        ("id4", 1.0),
        ("id2", 2.0),  # updated
        ("id5", 9.0),  # inserted
        ("id7", 1.0),  # NULL-date row survives (delete fires only on TRUE)
        ("id8", 9.0),  # matched table-wide ON T.id = S.id: one row, new value
        # id3 deleted; id6 (staging outside window) not applied
    ])


def test_merge_refresh_idempotent(spark):
    fact, staging = _fact_staging(spark)
    once = merge_refresh(fact, staging, _window_pred(), key="id")
    twice = merge_refresh(once, staging, _window_pred(), key="id")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_merge_full_reindex_is_staging(spark):
    fact, staging = _fact_staging(spark)
    out = merge_full_reindex(fact, staging)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, staging.collect())
    )


def test_merge_full_reindex_schema_guard(spark):
    fact, staging = _fact_staging(spark)
    with pytest.raises(ValueError, match="schemas differ"):
        merge_full_reindex(fact, staging.drop("v"))


def test_fact_expectations_on_fixture(spark, flat):
    from hours_api_clickup_spark.operators.dedupe import dedupe_latest
    from hours_api_clickup_spark.operators.validate import (
        fact_expectations,
        run_expectations,
    )

    deduped = dedupe_latest(flat, key="id", ts="at")
    report = {r["check"]: r for r in run_expectations(deduped, fact_expectations()).collect()}
    assert report["not_null[id]"]["passed"]
    assert report["unique[id]"]["passed"]
    assert report["condition[duration_non_negative]"]["passed"]
    # pre-dedup, id uniqueness must FAIL (fixture has duplicate ids)
    report2 = {r["check"]: r for r in run_expectations(flat, fact_expectations()).collect()}
    assert not report2["unique[id]"]["passed"]
    assert report2["unique[id]"]["n_violations"] == 2


# ---------------------------------------------------------------------------
# SCD Type 2 (operators/scd.py)
# ---------------------------------------------------------------------------


def _scd2_orders(spark):
    from hours_api_clickup_spark.plans.registry import load_table
    from tests.conftest import SF_DIR

    return load_table(spark, SF_DIR, "orders")


def test_scd2_compact_intervals_partition_time(spark):
    """Per key: intervals are contiguous half-open [from, to), exactly
    one current row, and consecutive intervals differ in the attribute
    (minimality — no no-op segments)."""
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.operators.scd import scd2_compact

    hist = scd2_compact(
        _scd2_orders(spark),
        ["o_custkey"],
        ["o_orderpriority"],
        "o_orderdate",
        ["o_orderkey"],
    ).cache()
    per_key = hist.groupBy("o_custkey").agg(
        F.sum(F.col("is_current").cast("int")).alias("n_current"),
        F.count("*").alias("n"),
    )
    assert per_key.filter("n_current <> 1").count() == 0
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("valid_from")
    gaps = hist.withColumn("next_from", F.lead("valid_from").over(w)).filter(
        "valid_to IS DISTINCT FROM next_from"
    )
    assert gaps.count() == 0
    noop = hist.withColumn(
        "next_attr", F.lead("o_orderpriority").over(w)
    ).filter("o_orderpriority = next_attr")
    assert noop.count() == 0
    hist.unpersist()


def test_scd2_apply_equals_batch_rebuild(spark):
    """Fold the log in three forward-only chunks; the incrementally
    maintained history must equal the one-shot compact bit-for-bit —
    including when a chunk's first observation repeats the current
    attributes (no-op change) and when a key first appears mid-stream."""
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.operators.scd import scd2_apply, scd2_compact

    orders = _scd2_orders(spark).filter(F.col("o_custkey") < 200)
    cuts = orders.approxQuantile("o_orderkey", [0.33, 0.66], 0.0)
    c1, c2 = int(cuts[0]), int(cuts[1])
    # forward-only per-key chunks: split by date rank within key so each
    # later chunk is entirely later than the earlier ones per key
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = orders.withColumn(
        "__f", F.ntile(3).over(w)
    ).cache()
    args = (["o_custkey"], ["o_orderpriority"], "o_orderdate", ["o_orderkey"])
    hist = scd2_compact(ranked.filter("__f = 1").drop("__f"), *args)
    for chunk in (2, 3):
        hist = scd2_apply(
            hist, ranked.filter(f"__f = {chunk}").drop("__f"), *args
        ).localCheckpoint()
    full = scd2_compact(ranked.drop("__f"), *args)
    sym_diff = hist.exceptAll(full).count() + full.exceptAll(hist).count()
    assert sym_diff == 0
    ranked.unpersist()


def test_merge_refresh_changelog_classifies_and_is_idempotent(spark):
    """CDC-out merge: the changelog names exactly the keys whose state
    changed (inserted/updated/deleted, window-scoped); re-running the
    same staging yields an EMPTY changelog; and fact' matches the plain
    merge_refresh bit-for-bit."""
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.operators.merge import (
        merge_refresh,
        merge_refresh_with_changelog,
    )

    fact = spark.createDataFrame(
        [
            (1, "2024-01-05", 10.0),   # in window, survives (same in staging)
            (2, "2024-01-06", 20.0),   # in window, updated by staging
            (3, "2024-01-07", 30.0),   # in window, absent from staging -> deleted
            (4, "2023-12-01", 40.0),   # outside window, untouched
            (5, None, 50.0),           # null date: must be preserved + not in changelog
        ],
        "id long, d string, v double",
    )
    staging = spark.createDataFrame(
        [
            (1, "2024-01-05", 10.0),
            (2, "2024-01-06", 21.0),
            (6, "2024-01-08", 60.0),   # new -> inserted
            (7, "2023-11-30", 70.0),   # outside window: ignored entirely
        ],
        "id long, d string, v double",
    )
    pred = F.col("d").between("2024-01-01", "2024-01-31")
    merged, changes = merge_refresh_with_changelog(fact, staging, pred, key="id")
    got = {r["id"]: r["change"] for r in changes.collect()}
    assert got == {2: "updated", 3: "deleted", 6: "inserted"}

    plain = merge_refresh(fact, staging, pred, key="id")
    assert merged.exceptAll(plain).count() == 0
    assert plain.exceptAll(merged).count() == 0

    # idempotence: refresh again with the same staging -> empty changelog
    merged2, changes2 = merge_refresh_with_changelog(
        merged, staging, pred, key="id"
    )
    assert changes2.count() == 0
    assert merged2.exceptAll(merged).count() == 0


def test_merge_changelog_replay_reconstructs_window(spark):
    """A downstream consumer holding only the OLD window slice plus the
    changelog (with row payloads joined from staging for upserts) must
    be able to reconstruct the NEW window slice exactly — the property
    that makes the changelog a sufficient replication feed:
        new_w = (old_w minus deleted/updated keys)
                union staging rows of inserted/updated keys."""
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.operators.merge import (
        merge_refresh_with_changelog,
    )

    fact = spark.createDataFrame(
        [
            (1, "2024-01-05", 10.0),
            (2, "2024-01-06", 20.0),
            (3, "2024-01-07", 30.0),
            (4, "2023-12-01", 40.0),
            (5, None, 50.0),
        ],
        "id long, d string, v double",
    )
    staging = spark.createDataFrame(
        [
            (1, "2024-01-05", 10.0),
            (2, "2024-01-06", 21.0),
            (6, "2024-01-08", 60.0),
            (7, "2023-11-30", 70.0),
        ],
        "id long, d string, v double",
    )
    pred = F.col("d").between("2024-01-01", "2024-01-31")
    merged, changes = merge_refresh_with_changelog(
        fact, staging, pred, key="id"
    )

    old_w = fact.filter(F.coalesce(pred, F.lit(False)))
    stg_w = staging.filter(pred)
    removed = changes.filter(
        F.col("change").isin("deleted", "updated")
    ).select("id")
    upserted = changes.filter(
        F.col("change").isin("inserted", "updated")
    ).select("id")
    replayed = old_w.join(removed, "id", "left_anti").unionByName(
        stg_w.join(upserted, "id", "left_semi")
    )

    new_w = merged.filter(F.coalesce(pred, F.lit(False)))
    assert replayed.exceptAll(new_w).count() == 0
    assert new_w.exceptAll(replayed).count() == 0
    # and history outside the window is bit-identical to the original
    assert (
        merged.filter(~F.coalesce(pred, F.lit(False)))
        .exceptAll(fact.filter(~F.coalesce(pred, F.lit(False))))
        .count()
        == 0
    )


def test_day_bucket_div_matches_duckdb_pre_1970(spark, duck):
    """Registry day bucketing pairs Spark `unix_millis(ts) div 86400000`
    with DuckDB `epoch_ms(ts) // 86400000`. ADVICE r3 flagged this as a
    floor-vs-truncate mismatch for pre-1970 (negative-epoch) rows, but
    DuckDB's `//` on INTEGER operands truncates toward zero exactly
    like Spark's `div` (`-1 // 86400000 = 0`; floor division in DuckDB
    applies to floats only) — so the pair agrees on every input,
    negatives included. This test pins that agreement so a DuckDB
    semantics change or a registry edit to floor would be caught."""
    from pyspark.sql import functions as F

    rows = [
        ("1969-12-31 23:59:59.999",),
        ("1969-12-31 00:00:00",),
        ("1807-03-04 12:00:00",),
        ("1970-01-01 00:00:00",),
        ("1970-01-02 00:00:00.001",),
        ("2024-06-01 13:37:00",),
    ]
    sdf = spark.createDataFrame(rows, "s string").select(
        F.to_timestamp("s").alias("ts")
    )
    got = sorted(
        r["day"]
        for r in sdf.select(
            F.expr("unix_millis(ts) div 86400000").alias("day")
        ).collect()
    )
    vals = ", ".join(f"(TIMESTAMP '{s}')" for (s,) in rows)
    want = sorted(
        r[0]
        for r in duck.sql(
            f"SELECT epoch_ms(ts) // 86400000 FROM (VALUES {vals}) t(ts)"
        ).fetchall()
    )
    assert got == want


def test_merge_changelog_snapshot_under_concurrent_append(spark, tmp_path):
    """Verdict r6 #7: a refresh that planned against a fact snapshot
    must not be corrupted by files APPENDED to the store while it runs —
    the committed (merged, changelog) pair reflects the snapshot
    listing (serializable as refresh-before-append), and the NEXT
    refresh converges: it sees the appended rows and reports the
    in-window strays as deletions."""
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.operators.merge import (
        merge_refresh_with_changelog,
    )

    fact_path = str(tmp_path / "fact")
    spark.createDataFrame(
        [(1, 60, 1.0), (2, 60, 2.0), (3, 10, 3.0)], ["id", "day", "v"]
    ).write.parquet(fact_path)
    stg = spark.createDataFrame([(1, 61, 1.5), (4, 62, 4.0)], ["id", "day", "v"])
    w = F.col("day") >= 50

    # plan against the snapshot (read.parquet pins the file listing)
    snapshot = spark.read.parquet(fact_path)
    merged, changes = merge_refresh_with_changelog(snapshot, stg, w, key="id")

    # concurrent append lands while the refresh is "running": one
    # in-window stray and one out-of-window history row
    spark.createDataFrame(
        [(7, 70, 7.0), (8, 5, 8.0)], ["id", "day", "v"]
    ).write.mode("append").parquet(fact_path)

    got = {(r["id"], r["day"], r["v"]) for r in merged.collect()}
    assert got == {(1, 61, 1.5), (4, 62, 4.0), (3, 10, 3.0)}, got
    assert {(r["id"], r["change"]) for r in changes.collect()} == {
        (1, "updated"),
        (4, "inserted"),
        (2, "deleted"),
    }

    # commit the refresh, then run the NEXT refresh from a FRESH read of
    # the store (snapshot + appended files): convergence — the appended
    # in-window stray id=7 is absent from staging, so it is deleted and
    # reported; the out-of-window id=8 survives untouched
    committed = str(tmp_path / "fact2")
    merged.write.parquet(committed)
    spark.createDataFrame(
        [(7, 70, 7.0), (8, 5, 8.0)], ["id", "day", "v"]
    ).write.mode("append").parquet(committed)
    spark.catalog.refreshByPath(committed)
    merged2, changes2 = merge_refresh_with_changelog(
        spark.read.parquet(committed), stg, w, key="id"
    )
    assert {(r["id"], r["change"]) for r in changes2.collect()} == {
        (7, "deleted")
    }
    got2 = {(r["id"], r["day"], r["v"]) for r in merged2.collect()}
    assert got2 == {(1, 61, 1.5), (4, 62, 4.0), (3, 10, 3.0), (8, 5, 8.0)}
