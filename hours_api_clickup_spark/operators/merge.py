"""MERGE/upsert algebra (M1/M2) as pure DataFrame operations.

The reference's two BigQuery MERGE statements
(``fetch_clickup_data.py:1273-1333`` windowed refresh, ``:1335-1399``
full reindex) decompose exactly (SURVEY.md §4.3 case analysis) into:

    M1:  fact' = S_w  ∪  fact ⟕̸ S_w (anti on key) filtered to ¬W
    M2:  fact' = staging

where W is the refresh-window predicate and S_w = staging.filter(W).

Scale note: M1 is a full-table merge matched ``ON T.id = S.id``, as
the reference's MERGE is. A staged id whose old fact row lies outside
the window still loses that row, so no date-sliced read of the fact
table can stand in for the whole-table anti-join. S_w is typically tiny
relative to fact (a 60-day window), so Spark/AQE broadcasts it and the
anti-join never shuffles the fact side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def merge_refresh(
    fact: DataFrame,
    staging: DataFrame,
    window_pred: Column,
    key: str = "id",
) -> DataFrame:
    """Windowed-refresh MERGE (M1, fetch_clickup_data.py:1273-1333).

    Makes the window of the fact table identical to staging-in-window;
    history outside the window is untouched. ``window_pred`` must be
    evaluable against both fact and staging rows (same column names),
    e.g. ``F.col("start_date_oslo").between(lo, hi)``. The reference
    anchors the window at CURRENT_DATE('Europe/Oslo') − days; callers
    compute that bound explicitly so runs are deterministic/testable.
    """
    s_w = staging.filter(window_pred)
    kept = (
        # filter-before-anti-join: rows inside W never survive from fact,
        # so pruning them first enables partition pruning on the scan.
        # NULL window predicate (e.g. null start_date_oslo) must KEEP the
        # row: the reference's delete branch fires only when the BETWEEN
        # is true, and NULL BETWEEN is not true — a bare ~window_pred
        # would silently purge null-dated history on every refresh.
        fact.filter(~F.coalesce(window_pred, F.lit(False)))
        .join(s_w.select(key).distinct(), on=key, how="left_anti")
    )
    return s_w.unionByName(kept)


def merge_upsert(fact: DataFrame, staging: DataFrame, key: str = "id") -> DataFrame:
    """Update-or-insert with NO delete branch: fact' = staging ∪ (fact ▷ staging).

    This is the correct per-micro-batch merge for streaming: a
    micro-batch is an incremental slice, not a complete window snapshot,
    so the windowed delete of merge_refresh (which asserts 'anything in
    the window missing from source was deleted upstream') must not run.
    Deletions reconcile on the next scheduled batch refresh / full
    reindex — the same two-tier design as the reference's 6-hourly
    refresh + quarterly reindex (deploy.sh:68-88)."""
    kept = fact.join(staging.select(key).distinct(), on=key, how="left_anti")
    return staging.select(*fact.columns).unionByName(kept)


def merge_full_reindex(fact: DataFrame, staging: DataFrame) -> DataFrame:
    """Full-reindex MERGE (M2, fetch_clickup_data.py:1335-1399).

    Update-matched + insert-new + delete-not-in-source ⇒ the fact table
    becomes an exact copy of staging (SURVEY.md §4.3); the idiomatic
    Spark form is a full overwrite. ``fact`` participates only for schema
    validation.
    """
    if set(fact.columns) != set(staging.columns):
        raise ValueError(
            "merge_full_reindex: fact/staging schemas differ: "
            f"{sorted(set(fact.columns) ^ set(staging.columns))}"
        )
    return staging.select(*fact.columns)


def merge_refresh_with_changelog(
    fact: DataFrame,
    staging: DataFrame,
    window_pred: Column,
    key: str = "id",
    hash_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """``merge_refresh`` plus a CDC-out changelog: returns
    ``(fact', changes)`` where ``changes`` has one row per key whose
    state the refresh altered, ``change`` in {inserted, updated,
    deleted} -- the event stream a downstream cache/index/webhook
    consumer needs, derived IN the same pass contract as the merge
    (window-scoped, so history outside W is provably untouched and
    never scanned for the diff).

    Classification over the window slice only:
      inserted -- key in staging-window, not in fact-window
      deleted  -- key in fact-window, not in staging-window
      updated  -- key in both, row content hash differs (hash over
                  ``hash_cols`` or all non-key columns, null-sentineled)
    Unchanged keys emit nothing -- the common case costs no output.

    Scale: both sides of the diff are the WINDOW slices (each a filtered
    scan; at 100 TB the partition-pruned months), joined full-outer on
    the key they are both hash-partitioned by. The changelog is
    idempotent per refresh: re-running the same staging yields an empty
    changelog, property the tests pin.
    """
    cols = hash_cols or [c for c in fact.columns if c != key]
    row_hash = F.sha2(
        F.concat_ws(
            "\x1f",
            *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in sorted(cols)],
        ),
        256,
    )
    f_w = fact.filter(F.coalesce(window_pred, F.lit(False))).select(
        key, row_hash.alias("__fh")
    )
    s_w = staging.filter(window_pred).select(key, row_hash.alias("__sh"))
    j = f_w.alias("f").join(
        s_w.alias("s"), F.col(f"f.{key}") == F.col(f"s.{key}"), "full_outer"
    )
    change = (
        F.when(F.col("__fh").isNull(), F.lit("inserted"))
        .when(F.col("__sh").isNull(), F.lit("deleted"))
        .when(F.col("__fh") != F.col("__sh"), F.lit("updated"))
    )
    changes = (
        j.select(
            F.coalesce(F.col(f"f.{key}"), F.col(f"s.{key}")).alias(key),
            change.alias("change"),
        )
        .filter(F.col("change").isNotNull())
    )
    return merge_refresh(fact, staging, window_pred, key=key), changes
