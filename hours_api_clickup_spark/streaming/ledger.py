"""Per-user running ledger as an ``applyInPandasWithState`` operator.
(Spark 4's transformWithState form would need google.protobuf for its
state-server protocol; this API runs without it.)

Per user, fold a running (event count, integer-cents sum,
distinct-event-type set) across micro-batches and emit the updated
ledger row each batch the user appears in (Update-style emission in
append mode — rows are cumulative snapshots, so the FINAL ledger is the
max_by(n_events) row per user; n_events is strictly monotone per user).
All folds are commutative, so the result is independent of how rows
were split into micro-batches.

Where transformWithState declares typed state variables (ValueState +
MapState), this API carries ONE flat state tuple per key — the distinct
type set rides in it as an array column. State is O(users), each row a
few dozen bytes plus the type set (bounded by the event-type domain).

The reference has no stateful processing (closest: the cron-rerun MERGE,
fetch_clickup_data.py:1273-1333); SURVEY §2.11 idiomatic-extension lane.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id bigint, n_events bigint, sum_cents bigint, n_types bigint"
)
STATE_SCHEMA = "n bigint, cents bigint, types array<string>"


def _ledger_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, cents, types = state.get
        types = set(types)
    else:
        n, cents, types = 0, 0, set()
    for pdf in pdfs:
        n += len(pdf)
        cents += int(pdf["cents"].sum())
        types.update(pdf["event_type"].dropna().unique().tolist())
    state.update((n, cents, sorted(types)))
    yield pd.DataFrame(
        {
            "user_id": pd.Series([user_id], dtype="int64"),
            "n_events": pd.Series([n], dtype="int64"),
            "sum_cents": pd.Series([cents], dtype="int64"),
            "n_types": pd.Series([len(types)], dtype="int64"),
        }
    )


def cents_prepared(events_stream: DataFrame) -> DataFrame:
    """Input projection of the ledger: cents computed JVM-side with the
    repo's pinned rounding rule (floor(x*100+0.5) — NOT F.round, see
    COVERAGE float determinism note), so the Arrow hop carries exactly
    what the fold needs."""
    return events_stream.select(
        "user_id",
        "event_type",
        F.coalesce(
            F.floor(F.col("value") * 100 + 0.5).cast("bigint"), F.lit(0)
        ).alias("cents"),
    )


def streaming_user_ledger_pandas_state(
    events_stream: DataFrame,
) -> DataFrame:
    """Running per-user ledger over a stream with columns
    ``user_id, event_type, value`` (input shaped by cents_prepared)."""
    prepared = cents_prepared(events_stream)
    return prepared.groupBy("user_id").applyInPandasWithState(
        _ledger_group,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def resolve_final_ledger(emissions: DataFrame) -> DataFrame:
    """Collapse cumulative per-batch emissions to the final row per
    user (n_events is strictly monotone per user, so max_by is exact)."""
    return emissions.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("sum_cents", "n_events").alias("sum_cents"),
        F.max_by("n_types", "n_events").alias("n_types"),
    )
