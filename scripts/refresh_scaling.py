"""Refresh-path scaling curve (VERDICT r7 #5).

History grows x1 -> x10 while the refresh window stays FIXED: the
flagship sync path (transform -> keep-latest dedup -> partitioned
ATOMIC month merge; perfbench's ``warehouse_sync`` times the unit end
to end) must cost O(window), never O(history).
For each scale this script bootstraps a manifest-committed month store
with ``scale * 6`` months of history (fixed rows/month, synthesized
DISTRIBUTEDLY in the raw nested schema so the timed tick includes the
real 31-column transform), then times refresh ticks of a fixed-size
staged batch covering the last 60 days and counts exactly what the
tick touched.

Hard gates (asserts, not prose):
- the tick rewrites exactly the window's months at EVERY scale;
- history months keep their manifest versions (never rewritten);
- the files written per tick are O(window months), constant in history;
- the x10 tick stays within 2.5x of the x1 tick (flat-in-history; the
  headroom is host noise, see bench-workflow notes).

Run:  python scripts/refresh_scaling.py
(writes a markdown table to stdout; paste into COVERAGE.md)
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from hours_api_clickup_spark.operators.merge import (
    merge_refresh_partitioned_atomic,
)
from hours_api_clickup_spark.pipelines import _stage_entries
from hours_api_clickup_spark.session import get_spark
from hours_api_clickup_spark.sinks import versioned as V

SCALES = (1, 2, 5, 10)
MONTHS_PER_SCALE = 6
ROWS_PER_MONTH = 20_000
STAGED_ROWS = 40_000
WINDOW_DAYS = 60
N_TICKS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
TODAY = dt.date(2026, 6, 30)  # fixed anchor: runs are reproducible

_MS_PER_DAY = 86_400_000


def synth_raw_entries(spark, n_rows: int, day_lo: dt.date, day_hi: dt.date,
                      tag: str, update_frac: float = 0.0):
    """Raw nested time entries spread uniformly over [day_lo, day_hi],
    generated executor-side from spark.range — no driver lists, so the
    bootstrap corpus scales without a createDataFrame pickle wall.
    ``update_frac`` of the rows reuse the HISTORY id space (tag 'h') so
    a staged batch exercises the update branch, the rest insert."""
    days = (day_hi - day_lo).days + 1
    base_ms = int(
        dt.datetime.combine(
            day_lo, dt.time(12, 0), tzinfo=dt.timezone.utc
        ).timestamp()
        * 1000
    )
    rid = F.col("id")
    day_off = (rid * 2654435761 % days).cast("long")
    start_ms = F.lit(base_ms) + day_off * F.lit(_MS_PER_DAY)
    is_update = (rid % 1000) < int(update_frac * 1000)
    ent_id = F.when(
        is_update, F.concat(F.lit("h"), rid.cast("string"))
    ).otherwise(F.concat(F.lit(tag), rid.cast("string")))
    s = lambda c: c.cast("string")  # noqa: E731
    return spark.range(n_rows).select(
        ent_id.alias("id"),
        s(start_ms).alias("start"),
        s(start_ms + F.lit(3_600_000)).alias("end"),
        F.lit("3600000").alias("duration"),
        s(start_ms + F.lit(7_200_000)).alias("at"),
        F.lit("true").alias("billable"),
        F.lit("false").alias("is_locked"),
        F.concat(F.lit("entry "), s(rid)).alias("description"),
        F.lit("api").alias("source"),
        F.lit(None).cast("string").alias("approval_id"),
        F.lit("http://x").alias("task_url"),
        F.struct(
            F.concat(F.lit("t"), s(rid % 500)).alias("id"),
            F.lit("Task").alias("name"),
            F.lit(None).cast("string").alias("custom_type"),
            F.lit(None).cast("string").alias("custom_id"),
            F.struct(
                F.lit("open").alias("status"),
                F.lit("#fff").alias("color"),
                F.lit("open").alias("type"),
                F.lit("3").alias("orderindex"),
            ).alias("status"),
        ).alias("task"),
        F.struct(
            F.concat(F.lit("u"), s(rid % 40)).alias("id"),
            F.lit("ada").alias("username"),
            F.lit("ada@example.com").alias("email"),
            F.lit("#123").alias("color"),
            F.lit("AL").alias("initials"),
            F.lit(None).cast("string").alias("profilePicture"),
        ).alias("user"),
        F.struct(
            F.lit("l1").alias("list_id"),
            F.lit("f1").alias("folder_id"),
            F.lit("s1").alias("space_id"),
        ).alias("task_location"),
    )


def month_files(path: str, month: str, version: int) -> int:
    d = os.path.join(path, f"month={month}", f"v={version}")
    if not os.path.isdir(d):
        return 0
    return len([f for f in os.listdir(d) if f.endswith(".parquet")])


def main() -> int:
    spark = get_spark(app_name="refresh-scaling")
    window_lo = TODAY - dt.timedelta(days=WINDOW_DAYS)
    rows = []
    t1_median = None
    for scale in SCALES:
        n_months = MONTHS_PER_SCALE * scale
        hist_lo = TODAY - dt.timedelta(days=30 * n_months - 1)
        hist_rows = ROWS_PER_MONTH * n_months
        work = tempfile.mkdtemp(prefix=f"refresh_x{scale}_")
        fact = os.path.join(work, "fact")

        # untimed bootstrap: one atomic merge whose window spans ALL
        # history publishes every month version
        hist_raw = synth_raw_entries(spark, hist_rows, hist_lo, TODAY, "h")
        merge_refresh_partitioned_atomic(
            spark, fact, _stage_entries(hist_raw), hist_lo, TODAY, key="id"
        )
        manifest0 = V.read_manifest(fact)
        staged_raw = synth_raw_entries(
            spark, STAGED_ROWS, window_lo, TODAY, "s", update_frac=0.5
        )

        # one untimed warm tick: the first tick of a fresh session pays
        # codegen/broadcast warm-up that is not the quantity under test
        merge_refresh_partitioned_atomic(
            spark, fact, _stage_entries(staged_raw), window_lo, TODAY,
            key="id",
        )
        V.prune_months(fact)

        ticks = []
        touched_all: set[str] = set()
        tick_files: list[int] = []
        for _ in range(N_TICKS):
            before = V.read_manifest(fact)
            t0 = time.perf_counter()
            staging = _stage_entries(staged_raw)
            months = merge_refresh_partitioned_atomic(
                spark, fact, staging, window_lo, TODAY, key="id"
            )
            ticks.append(time.perf_counter() - t0)
            after = V.read_manifest(fact)
            changed = {m for m in after if after[m] != before.get(m)}
            touched_all |= changed
            tick_files.append(
                sum(month_files(fact, m, after[m]) for m in changed)
            )
            # GATE: only window months change, history versions persist
            window_months = set(months)
            assert changed <= window_months, (changed, window_months)
            for m, v in before.items():
                if m not in window_months:
                    assert after.get(m) == v, (m, v, after.get(m))
            V.prune_months(fact)  # untimed GC between ticks

        med = statistics.median(ticks)
        if scale == 1:
            t1_median = med
        n_window_months = len(touched_all)
        # GATE: touched months are the window's, independent of history
        assert n_window_months <= (WINDOW_DAYS // 28) + 2, touched_all
        # GATE (review r8): files written per tick are identical across
        # ticks AND bounded by the window's month count — a regression
        # fanning out file counts or rewriting history files fails here,
        # not in prose
        assert len(set(tick_files)) == 1, tick_files
        files_written = tick_files[0]
        assert files_written <= 2 * n_window_months, tick_files
        rows.append(
            (
                scale,
                n_months,
                hist_rows,
                med,
                n_window_months,
                files_written,
                med / STAGED_ROWS * 1e6,
            )
        )
        print(
            f"# x{scale}: {n_months} months history, tick median "
            f"{med:.3f}s, touched {sorted(touched_all)}, "
            f"{files_written} files",
            file=sys.stderr,
        )
        # drop this scale's store before the next (bench-hygiene
        # convention shared with ann_probe/neardup_delete scaling:
        # repeated manual runs must not accumulate dead stores in /tmp)
        shutil.rmtree(work, ignore_errors=True)

    # GATE: flat in history (2.5x headroom for host noise)
    assert rows[-1][3] <= 2.5 * t1_median, (rows[-1][3], t1_median)
    # GATE: files/tick identical at every history scale
    assert len({r[5] for r in rows}) == 1, [r[5] for r in rows]

    print("| scale | history months | history rows | tick median s | "
          "months touched | files/tick | µs per staged row |")
    print("|---|---|---|---|---|---|---|")
    for r in rows:
        print(
            f"| x{r[0]} | {r[1]} | {r[2]:,} | {r[3]:.3f} | {r[4]} "
            f"| {r[5]} | {r[6]:.2f} |"
        )
    print("\nall gates passed: window-proportional touch set, "
          "history versions untouched, flat tick time")
    return 0


if __name__ == "__main__":
    sys.exit(main())
