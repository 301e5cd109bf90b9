"""Sinks (S9-S11).

- ``csv_backup``: headered single-file CSV per sync batch
  (``fetch_clickup_data.py:1780-1782`` — ``to_csv(index=False)``).
  coalesce(1) is deliberate and bounded: backups are per-batch
  artifacts, not the analytical store.
- ``write_bucketed``: a bucketed managed table for co-located joins.

The WRITE_TRUNCATE full-replace loads of the fact table and the dims
(``fetch_clickup_data.py:976,1039,1109,1178``) go through
``storage.replace_table`` (stage, then swap). The fact table has one
layout: ``pipelines.commit_table`` commits the whole-table windowed
merge that way too.

The BigQuery side of S10/S11 is fully wired: ``sinks/warehouse.py``
renders the reference's two BigQuery MERGE texts and executes their
portable DELETE+INSERT twin transactionally against DuckDB as the
stand-in warehouse (equivalence-tested row-for-row against
``operators/merge.py``), and ``sinks/bigquery.py`` is the
import-guarded ``google.cloud.bigquery`` client adapter (create_table
→ WRITE_TRUNCATE load_table_from_dataframe → parameterized MERGE
query), unit-tested against a fake client since the package isn't
installable in this sandbox.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def csv_backup(df: DataFrame, path: str) -> None:
    """Single-file headered CSV snapshot (S9)."""
    df.coalesce(1).write.option("header", True).mode("overwrite").csv(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Bucketed managed table for co-located joins/aggregations.

    Two tables bucketed by the same key and count join with ZERO
    exchanges — at 100 TB this turns the fact↔staging merge anti-join
    and repeated fact↔dim joins into shuffle-free map-side joins.
    Bucketing requires the session catalog (saveAsTable)."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table)
