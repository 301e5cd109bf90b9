"""MERGE/upsert algebra (M1/M2) as pure DataFrame operations.

The reference's two BigQuery MERGE statements
(``fetch_clickup_data.py:1273-1333`` windowed refresh, ``:1335-1399``
full reindex) decompose exactly (SURVEY.md §4.3 case analysis) into:

    M1:  fact' = S_w  ∪  fact ⟕̸ S_w (anti on key) filtered to ¬W
    M2:  fact' = staging

where W is the refresh-window predicate and S_w = staging.filter(W).

Scale notes:
- The anti-join shuffles both sides on the key; at 100 TB the fact side
  dominates, so the at-scale form (``merge_refresh_partitioned_atomic``)
  keeps the fact table as a manifest-committed month store and reads
  only the window's months BEFORE the join (we filter fact to ¬W first,
  which is equivalent: rows with W(t) are either replaced by staging or
  deleted, never kept).
- S_w is typically tiny relative to fact (a 60-day window) → Spark/AQE
  broadcasts it, making the anti-join shuffle-free on the fact side.
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


def window_months(window_lo, window_hi) -> list[str]:
    """The yyyy-MM partition labels a [lo, hi] date window touches."""
    import datetime as dt

    months = []
    cur = dt.date(window_lo.year, window_lo.month, 1)
    while cur <= window_hi:
        months.append(f"{cur.year:04d}-{cur.month:02d}")
        cur = (
            dt.date(cur.year + 1, 1, 1)
            if cur.month == 12
            else dt.date(cur.year, cur.month + 1, 1)
        )
    return months


def merge_refresh_partitioned_atomic(
    spark,
    fact_path: str,
    staging: DataFrame,
    window_lo,
    window_hi,
    key: str = "id",
    date_col: str = "start_date_oslo",
    _crash_before_publish=None,
) -> list[str]:
    """The 100 TB form of the windowed refresh (VERDICT r5 #4): rewrite
    ONLY the months the window touches, with an atomic commit. The plain
    ``merge_refresh`` rebuilds the whole fact output — fine for a
    correctness oracle, ruinous at scale (every 6-hour refresh would
    rewrite years of parquet). Here the same §4.3 algebra runs inside
    the window months' slice (rows in those months but outside the
    window dates, or with null dates, are preserved); month rewrites
    land in immutable ``month=M/v=N`` dirs and the whole refresh becomes
    visible via ONE manifest pointer swap
    (sinks.versioned.publish_manifest — tmp write + rename).

    Crash analysis (property-tested in tests/test_atomic_merge.py):
    - crash during any month-version write → the manifest still points
      at the old versions; the half-written dir is unreferenced debris
      removed by ``prune_months``; a retry writes fresh v dirs.
    - crash after all writes, before the publish → same: readers see
      the complete OLD state, never a mix.
    - a month the merge emptied just drops out of the new manifest —
      there is no delete step to race with, so it can't resurrect.
    - after the publish, old month versions are garbage, not state;
      ``prune_months`` reclaims them at leisure.

    This is the version-pointer pattern Delta/Iceberg implement with a
    commit log, reduced to a single-writer parquet core; on an object
    store with a managed table format, use ``replaceWhere`` instead.
    Only window months are read (manifest-pruned before any listing)
    and only window months are written; untouched history versions keep
    their files. ``_crash_before_publish`` is a test hook. Returns the
    rewritten month list.
    """
    from pyspark.sql import functions as F2

    from hours_api_clickup_spark import storage
    from hours_api_clickup_spark.sinks import versioned as V

    months = window_months(window_lo, window_hi)
    # the WHOLE read-manifest → write-versions → swap-pointer cycle
    # runs under the store's lease (verdict r8 #8): a second refresh
    # racing this one would derive its new manifest from the same stale
    # read and silently erase these months at publish — lease-guarded,
    # it refuses loudly instead
    with storage.maintenance_lease(spark, fact_path, "merge_refresh_partitioned_atomic"):
        manifest = V.read_manifest(fact_path)
        w = F2.col(date_col).between(F2.lit(window_lo), F2.lit(window_hi))
        s_w = staging.filter(w).withColumn(
            "month", F2.date_format(F2.col(date_col), "yyyy-MM")
        )
        live = [m for m in months if m in manifest]
        if live:
            fact_slice = V.read_months(spark, fact_path, months=live)
            merged_slice = merge_refresh(
                fact_slice, s_w.select(*fact_slice.columns), w, key=key
            )
        else:
            merged_slice = s_w
        merged_slice = merged_slice.localCheckpoint(eager=True)

        out_versions: dict[str, int] = {}
        for m in sorted(
            r["month"]
            for r in merged_slice.select("month").distinct().collect()
        ):
            out_versions[m] = V.write_month_version(
                merged_slice.filter(F2.col("month") == m), fact_path, m
            )
        if _crash_before_publish is not None:
            _crash_before_publish()
        new_manifest = {m: v for m, v in manifest.items() if m not in months}
        new_manifest.update(out_versions)
        V.publish_manifest(fact_path, new_manifest)
    return months


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
