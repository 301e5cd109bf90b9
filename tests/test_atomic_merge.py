"""The windowed refresh commits atomically through ``commit_table``.

The done-bar: a refresh killed before its swap never lets a reader
observe a half-written, mixed or resurrected window — the live table
keeps serving the complete old state, and a retry converges to exactly
the state a non-crashing run produces. The merge is table-wide
(``ON T.id = S.id``), so a staged id whose old row lies in an earlier
month replaces that row instead of adding a second one.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from hours_api_clickup_spark import storage
from hours_api_clickup_spark.operators.merge import merge_refresh
from hours_api_clickup_spark.pipelines import commit_table

LO, HI = dt.date(2024, 5, 15), dt.date(2024, 6, 15)
SCHEMA = "id string, start_date_oslo date, v double"


def _fact(spark):
    rows = [
        ("h1", dt.date(2024, 1, 10), 1.0),  # history month, untouched
        ("m", dt.date(2024, 1, 20), 1.0),  # re-sent with an in-window date
        ("a", dt.date(2024, 5, 20), 1.0),  # in window → replaced
        ("b", dt.date(2024, 5, 25), 1.0),  # in window, not in staging → deleted
        ("edge", dt.date(2024, 5, 5), 1.0),  # window MONTH but before lo → kept
        ("n1", None, 1.0),  # null date: BETWEEN is not true → kept
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _staging(spark):
    rows = [
        ("a", dt.date(2024, 5, 20), 2.0),  # update
        ("m", dt.date(2024, 6, 1), 5.0),  # moves from January into June
        ("c", dt.date(2024, 6, 10), 9.0),  # insert, June
        ("z", dt.date(2024, 3, 1), 9.0),  # outside window → ignored
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _window():
    return F.col("start_date_oslo").between(F.lit(LO), F.lit(HI))


def _seed(spark, path):
    commit_table(path, "seed", _fact(spark))


def _refresh(path, staging):
    return commit_table(
        path, "refresh", staging,
        lambda fact, st: merge_refresh(fact, st, _window(), key="id"),
    )


def _state(spark, path):
    return sorted(
        (r["id"], r["start_date_oslo"], r["v"])
        for r in spark.read.parquet(path).collect()
    )


def _expected(spark):
    return sorted(
        (r["id"], r["start_date_oslo"], r["v"])
        for r in merge_refresh(
            _fact(spark), _staging(spark), _window(), key="id"
        ).collect()
    )


@contextlib.contextmanager
def _killed_before_swap():
    """Kill the commit after the staged table is fully written, right
    before the swap that publishes it."""
    real_swap = storage.swap_dir

    def boom(*_a, **_k):
        raise RuntimeError("killed before swap")

    storage.swap_dir = boom
    try:
        with pytest.raises(RuntimeError, match="killed before swap"):
            yield
    finally:
        storage.swap_dir = real_swap


def test_atomic_merge_equals_plain_merge(spark, tmp_path):
    path = str(tmp_path / "fact")
    _seed(spark, path)
    rows, _ = _refresh(path, _staging(spark))
    got = _state(spark, path)
    assert got == _expected(spark) and rows == len(got)
    # the moved id is kept once, at its new date and value
    assert [r for r in got if r[0] == "m"] == [("m", dt.date(2024, 6, 1), 5.0)]


def test_crash_before_publish_preserves_old_state(spark, tmp_path):
    path = str(tmp_path / "fact")
    _seed(spark, path)
    before = _state(spark, path)
    with _killed_before_swap():
        _refresh(path, _staging(spark))
    # readers see the complete OLD state, and the table lock is released
    assert _state(spark, path) == before
    assert not os.path.exists(f"{path}__lock/{storage.LEASE_FILE}")

    _refresh(path, _staging(spark))  # the retry converges
    assert _state(spark, path) == _expected(spark)


def test_emptied_month_never_resurrects(spark, tmp_path):
    """A window month whose every in-window row the merge deletes keeps
    them all after a crash (the commit never happened), loses them all
    after a successful run, and a re-run does not bring them back."""
    path = str(tmp_path / "fact")
    _seed(spark, path)
    staging = spark.createDataFrame([("c", dt.date(2024, 6, 10), 9.0)], SCHEMA)

    with _killed_before_swap():
        _refresh(path, staging)
    assert {"a", "b", "edge"} <= {r[0] for r in _state(spark, path)}

    for _ in range(2):
        _refresh(path, staging)
        assert {r[0] for r in _state(spark, path)} == {"h1", "m", "edge", "n1", "c"}


def test_first_run_bootstrap_through_merge(spark, tmp_path):
    """Merging into a table that does not exist yet loads the staged
    window (no fact → staging-in-window becomes the state)."""
    path = str(tmp_path / "fact")
    rows, _ = _refresh(path, _staging(spark))
    assert rows == 3
    assert [r[0] for r in _state(spark, path)] == ["a", "c", "m"]


def test_idempotent_reapply(spark, tmp_path):
    path = str(tmp_path / "fact")
    _seed(spark, path)
    _refresh(path, _staging(spark))
    once = _state(spark, path)
    _refresh(path, _staging(spark))
    assert _state(spark, path) == once
