"""Scheduler analog of the reference's six Cloud Scheduler jobs
(deploy.sh:66-136): cron-subset parsing, Europe/Oslo next-fire incl.
both DST transitions, at-most-once catch-up, and end-to-end dispatch
through the same seam the HTTP routes use."""

from __future__ import annotations

import datetime as dt
import json
from zoneinfo import ZoneInfo

import pytest

from hours_api_clickup_spark import storage
from hours_api_clickup_spark.scheduler import (
    OSLO,
    REFERENCE_JOBS,
    Job,
    SchedulerState,
    due_jobs,
    mark_ran,
    next_fire,
    parse_cron,
    run_pending,
)

UTC = dt.timezone.utc


def oslo(*args) -> dt.datetime:
    return dt.datetime(*args, tzinfo=OSLO)


def fire_local(spec, after):
    got = next_fire(parse_cron(spec), after)
    return got.replace(tzinfo=None)


# ---------------------------------------------------------------------------
# Cron parsing + next-fire for the exact six reference schedules.
# ---------------------------------------------------------------------------


def test_refresh_every_6h_sequence():
    t = oslo(2026, 2, 10, 13, 37)
    seq = []
    for _ in range(4):
        t = next_fire(parse_cron("0 */6 * * *"), t)
        seq.append(t.replace(tzinfo=None))
    assert seq == [
        dt.datetime(2026, 2, 10, 18, 0),
        dt.datetime(2026, 2, 11, 0, 0),
        dt.datetime(2026, 2, 11, 6, 0),
        dt.datetime(2026, 2, 11, 12, 0),
    ]


def test_quarterly_reindex_months():
    spec = parse_cron("0 2 1 */3 *")
    t = oslo(2026, 1, 1, 2, 0)
    months = []
    for _ in range(4):
        t = next_fire(spec, t)
        months.append((t.month, t.day, t.hour))
    assert months == [(4, 1, 2), (7, 1, 2), (10, 1, 2), (1, 1, 2)]


def test_daily_dim_window_ordering():
    after = oslo(2026, 2, 10, 23, 59)
    hours = [
        fire_local(job.schedule, after).hour
        for job in REFERENCE_JOBS
        if job.schedule.endswith("* * *") and job.schedule[0] == "0"
        and "*/" not in job.schedule
    ]
    assert hours == [3, 4, 5, 6]  # lists, tasks, accounts, apps


def test_field_syntax_lists_ranges_steps():
    spec = parse_cron("15,45 8-10 * * 1-5")
    assert spec.minute == frozenset({15, 45})
    assert spec.hour == frozenset({8, 9, 10})
    assert spec.day_of_week == frozenset({1, 2, 3, 4, 5})
    # Saturday 2026-02-14 is skipped; Monday 02-16 08:15 is next
    assert fire_local("15,45 8-10 * * 1-5", oslo(2026, 2, 13, 11, 0)) == (
        dt.datetime(2026, 2, 16, 8, 15)
    )
    # 7 aliases Sunday
    assert parse_cron("0 0 * * 7").day_of_week == frozenset({0})
    with pytest.raises(ValueError):
        parse_cron("0 25 * * *")
    with pytest.raises(ValueError):
        parse_cron("0 0 * *")  # 4 fields


def test_vixie_dom_dow_or_rule():
    # both restricted -> OR: fires on the 13th AND on every Friday
    spec = parse_cron("0 9 13 * 5")
    t = next_fire(spec, oslo(2026, 2, 10, 0, 0))
    assert t.replace(tzinfo=None) == dt.datetime(2026, 2, 13, 9, 0)  # Fri 13th
    t = next_fire(spec, t)
    assert t.replace(tzinfo=None) == dt.datetime(2026, 2, 20, 9, 0)  # next Fri
    # only dom restricted -> dow is not consulted
    spec = parse_cron("0 9 13 * *")
    t = next_fire(spec, oslo(2026, 2, 14, 0, 0))
    assert t.replace(tzinfo=None) == dt.datetime(2026, 3, 13, 9, 0)


# ---------------------------------------------------------------------------
# DST: Europe/Oslo springs forward 2026-03-29 02:00->03:00 and falls
# back 2026-10-25 03:00->02:00.
# ---------------------------------------------------------------------------


def test_spring_forward_gap_is_skipped():
    # 02:30 does not exist on 2026-03-29; the daily job skips to 03-30
    assert fire_local("30 2 * * *", oslo(2026, 3, 28, 23, 0)) == (
        dt.datetime(2026, 3, 30, 2, 30)
    )
    # a 03:00 job still fires that day (03:00 exists; it IS the gap exit)
    assert fire_local("0 3 * * *", oslo(2026, 3, 28, 23, 0)) == (
        dt.datetime(2026, 3, 29, 3, 0)
    )


def test_spring_forward_six_hourly_cadence_in_utc():
    # around the gap the 6h job fires 00:00 CET then 06:00 CEST: the
    # UTC gap is 5h, which is exactly Cloud Scheduler's wall-time rule
    t0 = next_fire(parse_cron("0 */6 * * *"), oslo(2026, 3, 28, 23, 30))
    t1 = next_fire(parse_cron("0 */6 * * *"), t0)
    assert t0.replace(tzinfo=None) == dt.datetime(2026, 3, 29, 0, 0)
    assert t1.replace(tzinfo=None) == dt.datetime(2026, 3, 29, 6, 0)
    assert (t1.astimezone(UTC) - t0.astimezone(UTC)) == dt.timedelta(hours=5)


def test_fall_back_fires_first_occurrence_once():
    spec = parse_cron("30 2 * * *")
    t = next_fire(spec, oslo(2026, 10, 24, 23, 0))
    assert t.replace(tzinfo=None) == dt.datetime(2026, 10, 25, 2, 30)
    assert t.fold == 0  # first occurrence (CEST, +02:00)
    assert t.utcoffset() == dt.timedelta(hours=2)
    # the NEXT fire is the next day, not the second 02:30 occurrence
    t2 = next_fire(spec, t)
    assert t2.replace(tzinfo=None) == dt.datetime(2026, 10, 26, 2, 30)


# ---------------------------------------------------------------------------
# Tick semantics: watermark, at-most-once catch-up, no retroactive run.
# ---------------------------------------------------------------------------


def test_fresh_state_fires_nothing_before_first_boundary():
    state = SchedulerState(started_at=oslo(2026, 2, 10, 12, 1))
    assert due_jobs(state, oslo(2026, 2, 10, 12, 30)) == []


def test_catchup_runs_once_with_latest_fire():
    job = Job("refresh-6h", "0 */6 * * *", "/sync/refresh")
    state = SchedulerState(started_at=oslo(2026, 2, 10, 0, 1))
    due = due_jobs(state, oslo(2026, 2, 10, 13, 5), jobs=(job,))
    assert len(due) == 1  # 06:00 and 12:00 both elapsed -> one run
    assert due[0][1].replace(tzinfo=None) == dt.datetime(2026, 2, 10, 12, 0)
    mark_ran(state, job, due[0][1])
    assert due_jobs(state, oslo(2026, 2, 10, 13, 6), jobs=(job,)) == []
    due = due_jobs(state, oslo(2026, 2, 10, 18, 0), jobs=(job,))
    assert [d[1].replace(tzinfo=None) for d in due] == [
        dt.datetime(2026, 2, 10, 18, 0)
    ]


def test_due_jobs_is_pure_and_now_zone_agnostic():
    state = SchedulerState(started_at=oslo(2026, 2, 10, 0, 1))
    now_utc = oslo(2026, 2, 10, 7, 0).astimezone(UTC)
    a = due_jobs(state, now_utc)
    b = due_jobs(state, oslo(2026, 2, 10, 7, 0))
    assert [(j.name, f) for j, f in a] == [(j.name, f) for j, f in b]
    assert state.last_fire == {}  # untouched


# ---------------------------------------------------------------------------
# End-to-end: a full scheduler day dispatches all six jobs through the
# HTTP routes' seam and actually writes the warehouse tables.
# ---------------------------------------------------------------------------


def test_run_pending_dispatches_reference_day(spark, tmp_path):
    from hours_api_clickup_spark.server import ServerConfig
    from tests.test_domain_semantics import _entry
    from tests.test_pipelines import _task

    t0 = 1700000000000
    entries = tmp_path / "entries.json"
    entries.write_text(
        "\n".join(
            json.dumps(r)
            for r in [_entry("e1", start_ms=t0, at_ms=t0),
                      _entry("e2", start_ms=t0 + 5, at_ms=t0 + 5)]
        )
    )
    tasks = tmp_path / "tasks.json"
    tasks.write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                _task("t1"),
                _task("t2", custom_item_id=1001,
                      custom_fields=[{"id": "connected_lists", "value": "l1"}]),
                _task("t3", custom_item_id=1005),  # an app row for /sync/apps
            ]
        )
    )
    cfg = ServerConfig(
        spark=spark,
        entries_path=str(entries),
        tasks_path=str(tasks),
        warehouse=str(tmp_path / "wh"),
        today_oslo=dt.date(2023, 11, 20),
    )
    state = SchedulerState(started_at=oslo(2026, 1, 1, 1, 0))
    # quarterly job fires at 02:00 Jan 1; by 07:00 all six have fired
    results = run_pending(cfg, state, oslo(2026, 1, 1, 7, 0))
    ran = {r["job"] for r in results}
    assert ran == {j.name for j in REFERENCE_JOBS}
    assert all(r["status"] == "success" for r in results)
    # watermarks advanced: the same tick re-run is a no-op
    assert run_pending(cfg, state, oslo(2026, 1, 1, 7, 0)) == []
    # the dispatches really wrote the warehouse
    wh = tmp_path / "wh"
    for table in ["fact_time_entries", "dim_lists", "dim_tasks",
                  "dim_accounts", "dim_apps"]:
        assert spark.read.parquet(str(wh / table)).count() >= 1


def test_next_fire_unsatisfiable_raises():
    with pytest.raises(ValueError, match="no fire time"):
        next_fire(parse_cron("0 0 30 2 *"), oslo(2026, 1, 1, 0, 0))


def test_dow_range_with_sunday_alias_endpoints():
    """Review r6: '0-7' must mean every day (not Sunday-only) and
    '5-7' must mean Fri+Sat+Sun (not raise) — the 7→0 alias applies
    per expanded value, not to range endpoints."""
    assert parse_cron("0 9 * * 0-7").day_of_week == frozenset(range(7))
    assert parse_cron("0 9 * * 5-7").day_of_week == frozenset({5, 6, 0})
    # Sat 2026-02-14 matches 5-7 (as does Sun 15, Fri 13)
    assert fire_local("0 9 * * 5-7", oslo(2026, 2, 13, 10, 0)) == (
        dt.datetime(2026, 2, 14, 9, 0)
    )
    with pytest.raises(ValueError):
        parse_cron("0 9 * * 8")


def test_run_pending_isolates_job_failures(spark, tmp_path, monkeypatch):
    """Review r6: one failing dispatch must not abort the tick — the
    other due jobs run, only the failed job's watermark stays put."""
    import hours_api_clickup_spark.server as server_mod
    from hours_api_clickup_spark.server import ServerConfig

    real = server_mod.dispatch

    def flaky(cfg, route, body):
        if route == "/sync/refresh":
            raise RuntimeError("injected refresh failure")
        return {"status": "success", "mode": route.rsplit("/", 1)[1], "rows": 0}

    monkeypatch.setattr(server_mod, "dispatch", flaky)
    cfg = ServerConfig(
        spark=spark, entries_path="unused", tasks_path="unused",
        warehouse=str(tmp_path / "wh"),
    )
    state = SchedulerState(started_at=oslo(2026, 1, 1, 1, 0))
    results = run_pending(cfg, state, oslo(2026, 1, 1, 7, 0))
    by_job = {r["job"]: r for r in results}
    assert by_job["refresh-6h"]["status"] == "error"
    assert "injected refresh failure" in by_job["refresh-6h"]["error"]
    ok = {j for j, r in by_job.items() if r["status"] == "success"}
    assert ok == {j.name for j in REFERENCE_JOBS} - {"refresh-6h"}
    # only the failed job is due again at the same instant
    due = [j.name for j, _ in due_jobs(state, oslo(2026, 1, 1, 7, 0))]
    assert due == ["refresh-6h"]
    monkeypatch.setattr(server_mod, "dispatch", real)


def test_step_on_star_fields_count_as_unrestricted():
    """Review r6: Vixie's star flag — '*/2' in dom/dow starts with '*'
    so the dom/dow rule is AND, not OR. '0 0 */2 * 1' fires only on
    Mondays whose day-of-month matches the step."""
    spec = parse_cron("0 0 */2 * 1")
    assert spec.dom_restricted is False and spec.dow_restricted is True
    # 2026-02-10 is a Tuesday with odd dom (11th = odd) — the next fire
    # must be a MONDAY with odd dom: Mon 2026-02-16? dom 16 is even ->
    # not in */2 (odd doms 1,3,...31); Mon 2026-02-23: dom 23 odd -> yes
    t = next_fire(spec, oslo(2026, 2, 10, 0, 0))
    assert t.replace(tzinfo=None) == dt.datetime(2026, 2, 23, 0, 0), t
    # and never a non-Monday, even with matching dom
    assert t.isoweekday() == 1


def test_step_on_bare_number_expands_to_range_top():
    """Advice r6: unix-cron (cronie / Cloud Scheduler) reads 'N/S' as
    N-max/S — '3/6' in the hour field is {3, 9, 15, 21}, not {3}. The
    old expansion to just {N} silently underfired imported cadences."""
    assert parse_cron("0 3/6 * * *").hour == frozenset({3, 9, 15, 21})
    assert parse_cron("10/15 * * * *").minute == frozenset({10, 25, 40, 55})
    # day-of-week: '5/2' is 5-7/2 = {5, 7} with 7 aliased to Sunday
    assert parse_cron("0 0 * * 5/2").day_of_week == frozenset({5, 0})
    # a bare-number step counts as restricted for the dom/dow OR rule
    spec = parse_cron("0 0 1/10 * *")
    assert spec.day_of_month == frozenset({1, 11, 21, 31})
    assert spec.dom_restricted is True
    # fires line up with cronie: after Jan 2 the next dom hit is the 11th
    t = next_fire(spec, oslo(2026, 1, 2, 0, 0))
    assert t.replace(tzinfo=None) == dt.datetime(2026, 1, 11, 0, 0), t


def test_scheduler_multiday_rehearsal_matches_oneshot(
    spark, tmp_path, monkeypatch, capsys
):
    """Verdict r6 #6 — end-to-end cadence rehearsal: drive `--mode
    scheduler` ticks over a simulated multi-day Oslo clock (each tick a
    separate CLI invocation reloading the watermark file = a process
    restart), crossing the quarterly reindex boundary, and assert (a)
    the reference cadence fired exactly as deploy.sh:66-136 specifies,
    (b) watermarks survive the restarts (a same-instant re-tick runs
    nothing), and (c) the warehouse converges to the same state as the
    one-shot syncs — the reference's two-tier consistency design."""
    import json as _json

    import hours_api_clickup_spark.session as session_mod
    from hours_api_clickup_spark import pipelines
    from hours_api_clickup_spark.__main__ import main
    from hours_api_clickup_spark.sources.readers import (
        read_raw_tasks,
        read_raw_time_entries,
    )
    from tests.test_domain_semantics import _entry
    from tests.test_pipelines import _task

    monkeypatch.setattr(session_mod, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)

    t0 = 1_703_030_400_000  # 2023-12-20 00:00 UTC — inside every
    # tick's 60-day lookback window
    entries = tmp_path / "entries.json"
    with open(entries, "w") as f:
        for r in [
            _entry("e1", start_ms=t0, at_ms=t0),
            _entry("e2", start_ms=t0 + 3_600_000, at_ms=t0 + 3_600_000),
            _entry("e3", start_ms=t0 + 7_200_000, at_ms=t0 + 7_200_000),
        ]:
            f.write(_json.dumps(r) + "\n")
    tasks = tmp_path / "tasks.json"
    with open(tasks, "w") as f:
        for r in [
            _task("t1"),
            _task("t2", custom_item_id=1001,
                  custom_fields=[{"id": "connected_lists", "value": "l1"}]),
            _task("t3", custom_item_id=1005, custom_fields=[]),
        ]:
            f.write(_json.dumps(r) + "\n")

    state = str(tmp_path / "state.json")
    wh = str(tmp_path / "wh")

    def tick(now_iso: str, today: str) -> list[dict]:
        rc = main([
            "--mode", "scheduler", "--entries", str(entries),
            "--tasks", str(tasks), "--state", state, "--out", wh,
            "--now", now_iso, "--today-oslo", today,
        ])
        assert rc == 0
        return _json.loads(
            capsys.readouterr().out.strip().splitlines()[-1]
        )["ran"]

    # T1: fresh state — a newly-created scheduler never runs
    # retroactively
    assert tick("2023-12-31T10:30:00+01:00", "2023-12-31") == []
    ran = []
    # T2: 12:00 and 18:00 refreshes elapsed → at-most-once catch-up
    ran += tick("2023-12-31T23:30:00+01:00", "2023-12-31")
    # T3: midnight refresh + the QUARTERLY reindex (Jan 1, 02:00)
    ran += tick("2024-01-01T02:30:00+01:00", "2024-01-01")
    # T4: 06:00 refresh + all four daily dims (03/04/05/06)
    ran += tick("2024-01-01T07:00:00+01:00", "2024-01-01")
    # T5: SAME instant re-tick after "restart" — watermarks held
    assert tick("2024-01-01T07:00:00+01:00", "2024-01-01") == []
    # T6: next day, one catch-up refresh + the four dims
    ran += tick("2024-01-02T09:00:00+01:00", "2024-01-02")

    assert all(r["status"] == "success" for r in ran), ran
    by_job: dict[str, int] = {}
    for r in ran:
        by_job[r["job"]] = by_job.get(r["job"], 0) + 1
    assert by_job == {
        "refresh-6h": 4,           # T2 (18:00), T3 (00:00), T4 (06:00), T6
        "full-reindex-quarterly": 1,  # 2024-01-01 02:00 only
        "lists-sync-daily": 2,     # Jan 1 + Jan 2
        "tasks-sync-daily": 2,
        "accounts-sync-daily": 2,
        "apps-sync-daily": 2,
    }, by_job
    # the persisted watermarks carry every job
    blob = _json.loads(open(state).read())
    assert set(blob["last_fire"]) == set(by_job)
    # quarterly watermark pinned at its cron instant, not the tick time
    assert blob["last_fire"]["full-reindex-quarterly"].startswith(
        "2024-01-01T02:00"
    )

    # two-tier consistency: the cadence-built warehouse equals the
    # one-shot syncs over the same (static) inputs
    raw_e = read_raw_time_entries(spark, str(entries))
    raw_t = read_raw_tasks(spark, str(tasks))
    oneshot = str(tmp_path / "oneshot")
    pipelines.sync_full_reindex(spark, raw_e, f"{oneshot}/fact")
    pipelines.sync_dim("tasks", raw_t, f"{oneshot}/dim_tasks")

    def rows(path):
        return sorted(
            tuple(r) for r in spark.read.parquet(path).collect()
        )

    assert rows(f"{wh}/fact_time_entries") == rows(f"{oneshot}/fact")
    assert rows(f"{wh}/dim_tasks") == rows(f"{oneshot}/dim_tasks")


def test_maintenance_sweep_tick_end_to_end(spark, tmp_path):
    """VERDICT r9 #6: the weekly maintenance job drives
    pipelines.run_maintenance through server.dispatch, the dispatcher
    of the sync routes — including one target DEFERRED because a live
    ingest holds its lease (retried next week's tick, job still
    succeeds) and one compacted for real."""
    import hours_api_clickup_spark.datapipe.similarity as S
    from hours_api_clickup_spark.plans.registry import load_table
    from hours_api_clickup_spark.scheduler import ALL_JOBS, MAINTENANCE_JOB
    from hours_api_clickup_spark.server import ServerConfig
    from tests.conftest import SF_DIR_SMOKE

    emb = load_table(spark, SF_DIR_SMOKE, "embeddings").limit(16)

    # target 1: an LSH index with a pending log file → compact folds it
    ok_idx = str(tmp_path / "lsh_ok")
    S.lsh_index_write(emb, "embedding", "vec_id", ok_idx, dim=64)
    S.lsh_index_append(emb.limit(2), "embedding", "vec_id", ok_idx, dim=64)
    # target 2: an index whose lease a live ingest holds → deferred
    held_idx = str(tmp_path / "lsh_held")
    S.lsh_index_write(emb, "embedding", "vec_id", held_idx, dim=64)
    storage.acquire_lease(spark, held_idx, "live-streaming-ingest")

    cfg = ServerConfig(
        spark=spark,
        entries_path=str(tmp_path / "unused.json"),
        tasks_path=str(tmp_path / "unused.json"),
        warehouse=str(tmp_path / "wh"),
        maintenance_targets=(f"lsh={ok_idx}", f"lsh={held_idx}"),
    )
    try:
        # Sunday 2026-01-04 01:30 Oslo is the first weekly fire; tick at
        # 02:00 the same day so ONLY the maintenance job is due (the
        # dims fire at 03-06, refresh-6h at 00/06 — watermark 01:00
        # skips the 00:00 fire)
        state = SchedulerState(started_at=oslo(2026, 1, 4, 1, 0))
        results = run_pending(
            cfg, state, oslo(2026, 1, 4, 2, 0), jobs=ALL_JOBS
        )
        assert [r["job"] for r in results] == [MAINTENANCE_JOB.name]
        sweep = results[0]
        assert sweep["status"] == "success" and sweep["mode"] == "maintain"
        by_path = {r["path"]: r for r in sweep["results"]}
        assert by_path[ok_idx]["status"] == "ok"
        assert by_path[held_idx]["status"] == "deferred"
        assert "lease" in by_path[held_idx]["reason"]
        # VERDICT r10 #6: the deferred target is visible as a headline
        # count and every row carries its duration
        assert sweep["deferred"] == 1 and sweep["errors"] == 0
        assert all(r["duration_s"] >= 0 for r in sweep["results"])
        # the ok target really compacted: its log tier is gone
        import os

        assert not os.path.exists(f"{ok_idx}/log")
        # watermark advanced: the same tick re-run is a no-op
        assert run_pending(
            cfg, state, oslo(2026, 1, 4, 2, 0), jobs=ALL_JOBS
        ) == []
    finally:
        storage.release_lease(spark, held_idx)
    # lease released (the ingest finished): next week's tick compacts it
    results = run_pending(cfg, state, oslo(2026, 1, 11, 2, 0), jobs=ALL_JOBS)
    sweep = next(r for r in results if r["job"] == MAINTENANCE_JOB.name)
    by_path = {r["path"]: r for r in sweep["results"]}
    assert by_path[held_idx]["status"] == "ok"


def test_maintenance_route_rejects_unknown_family(spark, tmp_path):
    """Malformed targets report per-target errors, never crash the
    sweep (per-target isolation, pipelines.run_maintenance). The
    snapshot and month stores are gone, so ``snapshots=`` and
    ``store=`` targets are unknown families too."""
    from hours_api_clickup_spark.pipelines import run_maintenance

    out = run_maintenance(
        spark,
        [
            "bogus=/nowhere", "lsh", f"snapshots={tmp_path / 'none'}",
            f"store={tmp_path / 'none'}:0",
        ],
    )
    assert [r["status"] for r in out] == ["error"] * 4
    for i in (0, 2, 3):
        assert "unknown maintenance family" in out[i]["error"]


def test_maintenance_non_ok_targets_logged(spark, tmp_path, caplog):
    """VERDICT r10 #6: a deferred/error target must reach the process
    log (the scheduler tick's only always-read channel), so a stuck
    lease deferring the same target every week is visible."""
    import logging

    from hours_api_clickup_spark.pipelines import run_maintenance

    with caplog.at_level(logging.WARNING, "hours_api_clickup_spark.pipelines"):
        out = run_maintenance(spark, ["bogus=/nowhere"])
    assert out[0]["status"] == "error"
    assert any(
        "bogus=/nowhere" in r.getMessage() and "error" in r.getMessage()
        for r in caplog.records
    )


def test_maintenance_target_parse_authority_uri(spark):
    """ADVICE r9: a ':'-suffix on a NO-option family is path, not a
    silently-swallowed option — lsh=hdfs://nn:8020 must keep its port
    (it then fails as unreachable, an error, not a mangled path)."""
    from hours_api_clickup_spark.pipelines import run_maintenance

    out = run_maintenance(spark, ["lsh=hdfs://nn:8020/idx"])
    assert out[0]["path"] == "hdfs://nn:8020/idx"
