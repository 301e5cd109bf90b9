"""Data-quality validation — the reference's manual verification SQL
(``docs/setup.md:93-101``, ``docs/DEPLOYMENT_SUCCESS.md:120-128``: row
counts, date ranges, distinct users, checked by hand after each deploy)
turned into declarative, engine-run expectations.

Each check compiles to ONE aggregate expression; ``run_expectations``
evaluates the whole suite in a single pass over the table (one job, one
scan — no per-check scans), returning a tidy report DataFrame.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class Expectation:
    name: str
    # aggregate Column counting VIOLATIONS (0 ⇒ pass)
    violations: Column


def expect_not_null(col: str) -> Expectation:
    return Expectation(
        f"not_null[{col}]", F.count_if(F.col(col).isNull())
    )


def expect_unique(col: str) -> Expectation:
    # n_rows − n_distinct = number of surplus duplicate rows
    return Expectation(
        f"unique[{col}]", F.count(col) - F.countDistinct(col)
    )


def expect_range(col: str, lo, hi) -> Expectation:
    return Expectation(
        f"range[{col}]",
        F.count_if(~F.col(col).between(F.lit(lo), F.lit(hi))),
    )


def expect_in_set(col: str, allowed: list) -> Expectation:
    return Expectation(
        f"in_set[{col}]",
        F.count_if(F.col(col).isNotNull() & ~F.col(col).isin(allowed)),
    )


def expect_condition(name: str, pred: Column) -> Expectation:
    """Violations = rows where ``pred`` is NOT true (null counts as a
    violation — unknowns fail loudly)."""
    return Expectation(
        f"condition[{name}]",
        F.count_if(~F.coalesce(pred, F.lit(False))),
    )


def run_expectations(df: DataFrame, expectations: list[Expectation]) -> DataFrame:
    """One aggregation pass → report(check, n_violations, passed).

    Fully lazy: the suite compiles to a single global aggregate (one scan,
    one job) whose 1-row result is unpivoted into one report row per check
    with ``stack`` — no driver-side collect, so composing the report into a
    larger plan or sink costs exactly one pass over the table.
    """
    agg = df.agg(
        F.count(F.lit(1)).alias("__n_rows"),
        *[e.violations.cast("long").alias(e.name) for e in expectations],
    )
    stack_args = ", ".join(
        f"'{e.name}', `{e.name}`" for e in expectations
    )
    return agg.select(
        F.expr(
            f"stack({len(expectations)}, {stack_args}) AS (check, n_violations)"
        ),
        F.col("__n_rows"),
    ).select(
        "check",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
        F.col("__n_rows").alias("n_rows_scanned"),
    )


def fact_expectations() -> list[Expectation]:
    """The reference's post-sync checklist for the fact table."""
    return [
        expect_not_null("id"),
        expect_unique("id"),
        expect_condition("duration_non_negative", F.col("duration_hours") >= 0),
        expect_condition(
            "end_after_start",
            F.col("end_utc").isNull()
            | F.col("start_utc").isNull()
            | (F.col("end_utc") >= F.col("start_utc")),
        ),
    ]


#: the row count ``observe_expectations`` collects next to the suite
OBSERVED_ROWS = "__rows"


def observe_expectations(
    df: DataFrame, expectations: list[Expectation], name: str | None = None
):
    """Attach the expectation suite to ``df`` as an ``Observation`` so
    the violations are collected DURING the next action on ``df`` —
    zero extra scans, where ``run_expectations`` costs one dedicated
    pass. The observation also counts the rows (``OBSERVED_ROWS``), so
    a write learns how many rows it wrote without reading them back.

    This is the write-path form of the reference's post-load
    verification SQL (docs/setup.md:93-101): instead of loading the
    fact table and then re-querying it to check counts, the sync write
    itself produces the metrics. At 100 TB the saved pass is the whole
    point — validation becomes free.

    Returns ``(df_observed, observation)``; after an action runs on
    ``df_observed``, ``observation.get`` holds the row count and
    {expectation_name: violation_count}, and
    ``assert_observed_clean(observation)`` raises on any non-zero
    violation count. ``name`` defaults to a unique one, so concurrent
    writes in one session never read each other's metrics.

    Engine limitation: observed metrics reject DISTINCT aggregates, so
    ``expect_unique`` suites must keep using ``run_expectations``'s
    dedicated pass (or an approx_count_distinct-based variant).
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias(OBSERVED_ROWS),
        *[e.violations.alias(e.name) for e in expectations],
    )
    return out, obs


def assert_observed_clean(observation) -> dict:
    """Raise if any observed expectation recorded violations; returns
    the {expectation_name: violation_count} dict otherwise. Call only
    after an action has run on the observed DataFrame."""
    metrics = dict(observation.get)
    metrics.pop(OBSERVED_ROWS)
    bad = {k: v for k, v in metrics.items() if v}
    if bad:
        raise AssertionError(f"expectations violated: {bad}")
    return metrics
