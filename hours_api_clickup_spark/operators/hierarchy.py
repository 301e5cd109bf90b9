"""Hierarchy flattening + dimension builders (E4, P12-P17).

The reference walks space→folder→list trees imperatively and emits one
flat row per leaf (``fetch_clickup_data.py:245-272`` lists,
``:356-394`` tasks), with ``''`` (not null) for the folder level when a
list lives directly under a space. Here the same shape is a declarative
projection over the task feed's hierarchy columns.

Dimension builders take raw nested DataFrames (schemas.RAW_TASK_SCHEMA)
and produce the four dim tables. All pure column expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hours_api_clickup_spark.functions.casts import safe_float
from hours_api_clickup_spark.functions.datetime_fns import epoch_ms_to_ts
from hours_api_clickup_spark.operators.explode import (
    joined_ids_from_links,
    joined_usernames,
    split_tokens_with_empty,
)

APPS_CUSTOM_ITEM_ID = 1005  # fetch_clickup_data.py:703-704
ACCOUNTS_CUSTOM_ITEM_ID = 1001  # the account task type (pipelines.sync_dim)

# custom-field UUIDs probed by the reference (fetch_clickup_data.py:552,561,572,711,728,738,743)
CF_CONNECTED_LISTS = "connected_lists"
CF_HOURS_DISCOUNT = "hours_discount"
CF_ARR = "arr"
CF_MAINTENANCE = "maintenance"
CF_LINKED_ACCOUNTS = "linked_accounts"
CF_LAST_UPDATED = "last_updated"  # fetch_clickup_data.py:728-733


def _blank_if_null(col) -> F.Column:
    return F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))


def custom_field_map(
    value_col: str = "value", fields_col: str = "custom_fields"
) -> F.Column:
    """custom_fields array → map field_id → value (P17). Pure column
    expression — binds to whatever DataFrame it is selected from.

    The reference builds a ``{field['id']: field}`` dict and probes known
    UUIDs (fetch_clickup_data.py:546-549). ``map_from_entries`` is the
    columnar equivalent; probing is ``map[uuid]``.
    """
    return F.map_from_entries(
        F.transform(
            F.coalesce(F.col(fields_col), F.array()),
            lambda f: F.struct(f["id"].alias("key"), f[value_col].alias("value")),
        )
    )


def build_dim_lists(raw_lists: DataFrame) -> DataFrame:
    """Flat list rows with '' folder backfill (fetch_clickup_data.py:245-272)."""
    return raw_lists.select(
        F.col("space_id").cast("string").alias("space_id"),
        F.col("space_name").cast("string").alias("space_name"),
        _blank_if_null("folder_id").alias("folder_id"),
        _blank_if_null("folder_name").alias("folder_name"),
        F.col("list_id").cast("string").alias("list_id"),
        F.col("list_name").cast("string").alias("list_name"),
    )


def select_raw_lists(raw_tasks: DataFrame) -> DataFrame:
    """The lists-dim input from the task feed: the Space → Folder → List
    hierarchy columns, NORMALIZED ('' folder backfill) before distinct —
    normalizing after distinct would keep a null-folder and a ''-folder
    variant of the same list as two rows and fan out every downstream
    list_id join (review r6). ``pipelines.sync_dim`` is its one caller."""
    return raw_tasks.select(
        "space_id",
        "space_name",
        _blank_if_null("folder_id").alias("folder_id"),
        _blank_if_null("folder_name").alias("folder_name"),
        "list_id",
        "list_name",
    ).distinct()


def build_dim_tasks(raw_tasks: DataFrame) -> DataFrame:
    """Task dim incl. estimate-hrs rounding and closed flag
    (fetch_clickup_data.py:431-456, P14/P15)."""
    return raw_tasks.select(
        F.col("space_id").cast("string").alias("space_id"),
        F.col("space_name").cast("string").alias("space_name"),
        _blank_if_null("folder_id").alias("folder_id"),
        _blank_if_null("folder_name").alias("folder_name"),
        F.col("list_id").cast("string").alias("list_id"),
        F.col("list_name").cast("string").alias("list_name"),
        F.col("id").cast("string").alias("task_id"),
        F.col("name").cast("string").alias("task_name"),
        F.col("status.status").cast("string").alias("status"),
        # round(ms/1000/3600, 2), null when absent (fetch_clickup_data.py:432-436)
        F.round(F.col("time_estimate") / F.lit(3_600_000.0), 2).alias(
            "time_estimate_hrs"
        ),
        F.col("url").cast("string").alias("url"),
        # is_closed = status.type == 'closed' (fetch_clickup_data.py:438-440)
        F.coalesce(F.col("status.type") == "closed", F.lit(False)).alias("closed"),
        F.coalesce(F.col("archived"), F.lit(False)).alias("archived"),
    )


def build_dim_accounts(raw_accounts: DataFrame) -> DataFrame:
    """Accounts bridge: one row per connected list id; '' row when none
    (E1 fan-out, fetch_clickup_data.py:552-558,600-611)."""
    cf = custom_field_map()
    base = raw_accounts.select(
        F.col("id").cast("string").alias("account_task_id"),
        F.col("name").cast("string").alias("account_name"),
        cf[CF_CONNECTED_LISTS].alias("_connected_raw"),
        safe_float(cf[CF_HOURS_DISCOUNT], default=0.0).alias("hours_discount"),
        F.col("status.status").cast("string").alias("status"),
        epoch_ms_to_ts("date_created").alias("date_created"),
        joined_usernames("assignees").alias("assignees"),
        safe_float(cf[CF_ARR], default=None).alias("arr"),
    )
    return base.select(
        "account_task_id",
        "account_name",
        F.explode(split_tokens_with_empty("_connected_raw")).alias(
            "connected_list_id"
        ),
        "hours_discount",
        "status",
        "date_created",
        "assignees",
        "arr",
    )


def build_dim_apps(raw_tasks: DataFrame) -> DataFrame:
    """Apps dim: team-wide scan filtered to custom_item_id == 1005, with
    linked-account ids joined to CSV text (fetch_clickup_data.py:677-776)."""
    cf_scalar = custom_field_map()
    cf_links = custom_field_map(value_col="value_links")
    return raw_tasks.filter(
        F.col("custom_item_id") == APPS_CUSTOM_ITEM_ID  # P12
    ).select(
        F.col("id").cast("string").alias("task_id"),
        F.col("name").cast("string").alias("application_name"),
        joined_ids_from_links(cf_links[CF_LINKED_ACCOUNTS]).alias(
            "account_task_ids"
        ),
        safe_float(cf_scalar[CF_ARR], default=None).alias("arr"),
        # sourced from the 'Last Updated' custom field, NOT the task's
        # date_created (fetch_clickup_data.py:727-735)
        epoch_ms_to_ts(cf_scalar[CF_LAST_UPDATED]).alias("last_updated"),
        F.col("status.status").cast("string").alias("status"),
        # checkbox parse: string equality with 'true' (fetch_clickup_data.py:737-740)
        F.coalesce(cf_scalar[CF_MAINTENANCE] == "true", F.lit(False)).alias(
            "maintenance"
        ),
    )
