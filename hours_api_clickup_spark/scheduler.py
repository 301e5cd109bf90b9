"""Schedule-driven refresh loop — the reference's sixth "operator".

The reference has no long-running scheduler process of its own: cadence
lives in six Cloud Scheduler cron jobs (deploy.sh:66-136) that POST to
the Flask sync routes (main.py:272-279), all evaluated in Europe/Oslo
wall time:

    clickup-refresh-6h               0 */6 * * *   /sync/refresh
    clickup-full-reindex-quarterly   0 2 1 */3 *   /sync/full_reindex
    clickup-lists-sync-daily         0 3 * * *     /sync/lists
    clickup-tasks-sync-daily         0 4 * * *     /sync/tasks
    clickup-accounts-sync-daily      0 5 * * *     /sync/accounts
    clickup-apps-sync-daily          0 6 * * *     /sync/apps

This module re-expresses that contract as a library: a 5-field cron
parser (the POSIX subset Cloud Scheduler documents: ``*``, numbers,
ranges, comma lists, ``*/step``), a timezone-correct ``next_fire``, and
a catch-up ``due_jobs`` tick that a driver loop (or an external cron /
Airflow / ``while true; sleep``) can call. Like Cloud Scheduler, which
only POSTs to the routes, a due job runs its route through
``server.dispatch`` — the one route dispatcher the HTTP façade and the
CLI's sync modes use too; nothing here calls ``pipelines`` directly.
Everything else is pure datetime logic — no Spark session is touched
until a job actually dispatches — so cadence is unit-testable without a
cluster.

Semantics mirrored from Cloud Scheduler's documented behavior:

- day-of-month and day-of-week are OR-ed when BOTH are restricted and
  AND-ed (trivially) when either is ``*`` — classic Vixie cron.
- Wall times that do not exist in the job's timezone (the spring-forward
  gap — e.g. Europe/Oslo 2026-03-29 02:00) are SKIPPED for that day.
- Ambiguous wall times (the fall-back fold) fire once, at the first
  occurrence.
- Missed fires are not replayed one-by-one: a tick observing that one or
  more fire times elapsed since the last tick runs the job ONCE, for the
  most recent elapsed fire (at-most-once catch-up).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from zoneinfo import ZoneInfo

OSLO = ZoneInfo("Europe/Oslo")

_FIELD_RANGES = (
    ("minute", 0, 59),
    ("hour", 0, 23),
    ("day_of_month", 1, 31),
    ("month", 1, 12),
    ("day_of_week", 0, 6),  # 0 = Sunday, Vixie/Cloud Scheduler convention
)


def _parse_field(expr: str, name: str, lo: int, hi: int) -> frozenset[int]:
    """One cron field → the set of matching values. Supports ``*``,
    ``N``, ``A-B``, ``*/S``, ``A-B/S`` and comma lists thereof; 7 is
    accepted as an alias of 0 (Sunday) in the day-of-week field."""
    out: set[int] = set()
    for part in expr.split(","):
        body, _, step_s = part.partition("/")
        step = int(step_s) if step_s else 1
        if step < 1:
            raise ValueError(f"{name}: step must be >= 1 in {part!r}")
        # dow accepts 7 as a Sunday alias; validate the RANGE with the
        # widened bound and remap per expanded VALUE — remapping the
        # endpoints first would turn '0-7' into {0} and reject '5-7'
        # (Fri-Sat-Sun, legal Vixie)
        vhi = 7 if name == "day_of_week" else hi
        if body == "*":
            a, b = lo, hi
        elif "-" in body:
            a_s, b_s = body.split("-", 1)
            a, b = int(a_s), int(b_s)
        elif step_s:
            # unix-cron (cronie / Cloud Scheduler): a step on a bare
            # number means "start here, every S to the top of the range"
            # — '3/6' in the hour field is 3-23/6 = {3, 9, 15, 21}, not
            # {3}. Expanding to just {N} would silently underfire an
            # imported cadence (advice r6).
            a, b = int(body), vhi
        else:
            a = b = int(body)
        if not (lo <= a <= vhi and lo <= b <= vhi and a <= b):
            raise ValueError(f"{name}: {part!r} outside [{lo}, {vhi}]")
        vals = range(a, b + 1, step)
        if name == "day_of_week":
            vals = (0 if v == 7 else v for v in vals)
        out.update(vals)
    return frozenset(out)


@dataclass(frozen=True)
class CronSpec:
    """Parsed 5-field cron expression plus the restriction flags that
    drive Vixie cron's dom/dow OR rule."""

    minute: frozenset[int]
    hour: frozenset[int]
    day_of_month: frozenset[int]
    month: frozenset[int]
    day_of_week: frozenset[int]
    dom_restricted: bool
    dow_restricted: bool

    def matches_day(self, day: dt.date) -> bool:
        if day.month not in self.month:
            return False
        in_dom = day.day in self.day_of_month
        # datetime: Monday=0; cron: Sunday=0
        in_dow = (day.isoweekday() % 7) in self.day_of_week
        if self.dom_restricted and self.dow_restricted:
            return in_dom or in_dow
        return in_dom and in_dow


def parse_cron(expr: str) -> CronSpec:
    parts = expr.split()
    if len(parts) != 5:
        raise ValueError(f"expected 5 cron fields, got {len(parts)}: {expr!r}")
    sets = [
        _parse_field(p, name, lo, hi)
        for p, (name, lo, hi) in zip(parts, _FIELD_RANGES)
    ]
    # Vixie's star flag: a field COUNTS AS unrestricted for the dom/dow
    # OR rule whenever its text starts with '*' — including step-on-star
    # forms like '*/2' (review r6: '0 0 */2 * 1' must fire on Mondays
    # whose dom matches, not on every odd dom OR every Monday).
    return CronSpec(
        *sets,
        dom_restricted=not parts[2].startswith("*"),
        dow_restricted=not parts[4].startswith("*"),
    )


def _exists_in_tz(naive: dt.datetime, tz: ZoneInfo) -> bool:
    """True iff the naive wall time exists in ``tz`` (not inside a DST
    spring-forward gap). A gapped wall time does not survive the
    wall → UTC → wall round trip; real (incl. ambiguous) ones do."""
    local = naive.replace(tzinfo=tz)
    back = local.astimezone(dt.timezone.utc).astimezone(tz)
    return back.replace(tzinfo=None) == naive


def next_fire(
    spec: CronSpec, after: dt.datetime, tz: ZoneInfo = OSLO
) -> dt.datetime:
    """First fire time strictly after ``after`` (aware, any zone),
    evaluated in ``tz`` wall time the way Cloud Scheduler evaluates its
    ``--time-zone``. Returns an aware datetime in ``tz`` (fold=0, so an
    ambiguous fall-back time is its first occurrence). Nonexistent wall
    times are skipped. Scans day-by-day (bounded: any 5-field spec fires
    at least once every 4 years; we cap at 5)."""
    local_after = after.astimezone(tz).replace(tzinfo=None)
    day = local_after.date()
    for _ in range(5 * 366):
        if spec.matches_day(day):
            for hour in sorted(spec.hour):
                for minute in sorted(spec.minute):
                    cand = dt.datetime(day.year, day.month, day.day, hour, minute)
                    if cand <= local_after:
                        continue
                    if not _exists_in_tz(cand, tz):
                        continue  # spring-forward gap: skipped that day
                    return cand.replace(tzinfo=tz, fold=0)
        day += dt.timedelta(days=1)
    raise ValueError("no fire time within 5 years (unsatisfiable spec?)")


@dataclass(frozen=True)
class Job:
    """One scheduler job: a cron cadence bound to a sync route."""

    name: str
    schedule: str
    route: str
    description: str = ""

    @property
    def spec(self) -> CronSpec:
        return parse_cron(self.schedule)


#: The reference's six Cloud Scheduler jobs (deploy.sh:66-136), verbatim
#: cadence. Entries refresh 4x daily with the 60-day lookback window;
#: dimensions daily in the 03-06 Oslo window; quarterly full reindex as
#: the consistency repair for drift the windowed merge can miss.
REFERENCE_JOBS: tuple[Job, ...] = (
    Job("refresh-6h", "0 */6 * * *", "/sync/refresh",
        "time entries every 6 hours (60 days lookback)"),
    Job("full-reindex-quarterly", "0 2 1 */3 *", "/sync/full_reindex",
        "full reindex quarterly at 2 AM on the 1st"),
    Job("lists-sync-daily", "0 3 * * *", "/sync/lists", "lists daily 3 AM"),
    Job("tasks-sync-daily", "0 4 * * *", "/sync/tasks", "tasks daily 4 AM"),
    Job("accounts-sync-daily", "0 5 * * *", "/sync/accounts",
        "accounts daily 5 AM"),
    Job("apps-sync-daily", "0 6 * * *", "/sync/apps", "apps daily 6 AM"),
)

#: The seventh job is OURS, not the reference's (its ops story has no
#: persisted indexes to compact): the weekly compaction/GC sweep over
#: ``ServerConfig.maintenance_targets`` (VERDICT r9 #6 — `--mode
#: maintain` existed but nothing scheduled it). Sunday 01:30 Oslo sits
#: off the dim window (03-06), off the */6 refresh boundaries (00/06/
#: 12/18) and off the quarterly reindex (02:00 on the 1st); per-target
#: defer/error isolation means a sweep colliding with a live ingest
#: lease defers that target to the next week's tick instead of failing
#: the job.
MAINTENANCE_JOB = Job(
    "index-maintenance-weekly",
    "30 1 * * 0",
    "/maintain",
    "compaction/GC sweep over the configured index/store targets",
)

#: REFERENCE_JOBS stays the reference's six verbatim (parity-pinned);
#: deployments that run persisted indexes schedule ALL_JOBS instead.
ALL_JOBS: tuple[Job, ...] = REFERENCE_JOBS + (MAINTENANCE_JOB,)


@dataclass
class SchedulerState:
    """Per-job high-water mark of the last HANDLED fire time. Persisted
    by the caller however it likes (it is a plain dict of aware
    datetimes); a fresh state fires nothing until the first cadence
    boundary after ``started_at`` — matching a newly-created Cloud
    Scheduler job, which does not run retroactively."""

    started_at: dt.datetime
    last_fire: dict[str, dt.datetime] = field(default_factory=dict)

    def watermark(self, job: Job) -> dt.datetime:
        return self.last_fire.get(job.name, self.started_at)


def due_jobs(
    state: SchedulerState,
    now: dt.datetime,
    jobs: tuple[Job, ...] = REFERENCE_JOBS,
    tz: ZoneInfo = OSLO,
) -> list[tuple[Job, dt.datetime]]:
    """One scheduler tick: every job whose next fire after its watermark
    has elapsed, paired with the MOST RECENT elapsed fire (at-most-once
    catch-up — a 13-hour outage yields one refresh run, not two). Pure:
    does not mutate ``state``; callers advance it via ``mark_ran``."""
    out: list[tuple[Job, dt.datetime]] = []
    for job in jobs:
        spec = job.spec
        fire = next_fire(spec, state.watermark(job), tz)
        if fire > now:
            continue
        while True:  # roll forward to the newest elapsed fire
            nxt = next_fire(spec, fire, tz)
            if nxt > now:
                break
            fire = nxt
        out.append((job, fire))
    return out


def mark_ran(state: SchedulerState, job: Job, fire: dt.datetime) -> None:
    state.last_fire[job.name] = fire


def run_pending(
    cfg,
    state: SchedulerState,
    now: dt.datetime,
    jobs: tuple[Job, ...] = REFERENCE_JOBS,
    tz: ZoneInfo = OSLO,
) -> list[dict]:
    """Run every due job's route through ``server.dispatch``, the
    dispatcher the HTTP routes use (reference main.py:22-207). Failure
    isolation matches Cloud Scheduler's: each job is its own unit — a
    failed sync does NOT stop the other due jobs from running, its
    watermark is not advanced (so it alone retries next tick), and the
    failure is reported in the results instead of raised."""
    from hours_api_clickup_spark import server

    results = []
    for job, fire in due_jobs(state, now, jobs, tz):
        try:
            payload = server.dispatch(cfg, job.route, {})
        except Exception as exc:  # noqa: BLE001 — per-job isolation
            results.append(
                {
                    "job": job.name,
                    "fired_at": fire.isoformat(),
                    "status": "error",
                    "error": f"{type(exc).__name__}: {exc}",
                }
            )
            continue
        mark_ran(state, job, fire)
        results.append({"job": job.name, "fired_at": fire.isoformat(), **payload})
    return results
