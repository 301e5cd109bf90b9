"""Month-store GC edge cases (review r8) and the store's lease."""

from __future__ import annotations

import datetime as dt

MONTH = "2024-01"
LO, HI = dt.date(2024, 1, 1), dt.date(2024, 1, 31)


def _rows(spark):
    return spark.createDataFrame(
        [(1, dt.date(2024, 1, 5), "a")], "id long, start_date_oslo date, v string"
    )


def _merge(spark, store):
    """One windowed refresh over MONTH: writes its next version and
    publishes the manifest, under the store's lease."""
    from hours_api_clickup_spark.operators.merge import (
        merge_refresh_partitioned_atomic,
    )

    merge_refresh_partitioned_atomic(spark, store, _rows(spark), LO, HI)


def test_prune_paths_survive_numeric_named_files(spark, tmp_path):
    """Review r8 second pass: a stray regular FILE named v=N (or
    month=...) is operator debris, not a version — GC must skip it, not
    crash rmtree/listdir mid-loop."""
    import os

    from hours_api_clickup_spark.sinks import versioned as V

    # merged store: published v=1, debris file v=0 alongside
    store = str(tmp_path / "merged")
    V.bootstrap_months(_rows(spark), store)
    _merge(spark, store)
    mdir = os.path.join(store, f"month={MONTH}")
    os.rename(os.path.join(mdir, "v=0"), os.path.join(mdir, "v=0.realdir"))
    with open(os.path.join(mdir, "v=0"), "w") as f:
        f.write("debris")
    V.prune_months(store)
    assert os.path.exists(os.path.join(mdir, "v=0"))  # file untouched
    assert V.read_manifest(store) == {MONTH: 1}

    # hand-built store: debris file month=X and debris file v=9 in a month
    mstore = str(tmp_path / "months")
    os.makedirs(mstore)
    df = spark.range(3)
    V.write_month_version(df, mstore, "2024-01")
    V.publish_manifest(mstore, {"2024-01": 0})
    with open(os.path.join(mstore, "month=junk"), "w") as f:
        f.write("debris")
    with open(os.path.join(mstore, "month=2024-01", "v=9"), "w") as f:
        f.write("debris")
    removed = V.prune_months(mstore)
    assert removed == []  # nothing referenced was touched, no crash
    # and the debris file does not steal version numbers
    v = V.write_month_version(df, mstore, "2024-01")
    assert v == 1


def test_writers_skip_colliding_version_file_debris(spark, tmp_path):
    """ADVICE r8: the isdir filter in _versions means a regular FILE
    named exactly v=<next> no longer reserves its number — the writer
    must skip past it (the errorifexists parquet write would otherwise
    fail on the debris name), without letting far-off debris inflate
    the sequence."""
    import os

    from hours_api_clickup_spark.sinks import versioned as V

    df = spark.range(3)

    # month store: dirs {v=0}, debris FILE at exactly v=1
    mstore = str(tmp_path / "months")
    os.makedirs(os.path.join(mstore, "month=2024-01"))
    V.write_month_version(df, mstore, "2024-01")
    with open(os.path.join(mstore, "month=2024-01", "v=1"), "w") as f:
        f.write("debris")
    v = V.write_month_version(df, mstore, "2024-01")
    assert v == 2  # skipped the colliding name, took the next free one
    assert df.sparkSession.read.parquet(
        os.path.join(mstore, "month=2024-01", "v=2")
    ).count() == 3

    # the merge's publish path: published v=0, debris FILE at exactly v=1
    store = str(tmp_path / "merged")
    V.bootstrap_months(_rows(spark), store)
    with open(os.path.join(store, f"month={MONTH}", "v=1"), "w") as f:
        f.write("debris")
    _merge(spark, store)
    assert V.read_manifest(store) == {MONTH: 2}


class TestPublishLease:
    """Verdict r8 #8: the store's read-manifest → write → swap cycle
    and its GC assume a single writer; a second maintainer must get a
    loud MaintenanceLeaseHeld (the store holds the one storage lease on
    its root), never a silent lost update."""

    def _hold(self, store):
        import os

        from hours_api_clickup_spark import storage

        os.makedirs(store, exist_ok=True)
        with open(os.path.join(store, storage.LEASE_FILE), "w") as f:
            f.write("other pid=1 t=0")

    def test_snapshot_write_and_prune_refuse_under_held_lease(
        self, spark, tmp_path
    ):
        import os

        import pytest

        from hours_api_clickup_spark import storage
        from hours_api_clickup_spark.sinks import versioned as V

        store = str(tmp_path / "months")
        V.bootstrap_months(_rows(spark), store)
        self._hold(store)
        with pytest.raises(storage.MaintenanceLeaseHeld):
            _merge(spark, store)
        with pytest.raises(storage.MaintenanceLeaseHeld):
            V.prune_months(store)
        assert V.read_manifest(store) == {MONTH: 0}  # store untouched
        os.unlink(os.path.join(store, storage.LEASE_FILE))
        _merge(spark, store)  # released: goes through
        assert V.read_manifest(store) == {MONTH: 1}

    def test_month_cycle_refuses_under_held_lease(self, spark, tmp_path):
        import datetime as dt

        import pytest

        from hours_api_clickup_spark import storage
        from hours_api_clickup_spark.operators.merge import (
            merge_refresh_partitioned_atomic,
        )
        from hours_api_clickup_spark.sinks import versioned as V

        df = spark.createDataFrame(
            [(1, dt.date(2024, 1, 5), "a")], "id long, start_date_oslo date, v string"
        )
        store = str(tmp_path / "months")
        V.bootstrap_months(df, store)
        before = V.read_manifest(store)
        self._hold(store)
        with pytest.raises(storage.MaintenanceLeaseHeld):
            merge_refresh_partitioned_atomic(
                spark, store, df, dt.date(2024, 1, 1), dt.date(2024, 1, 31)
            )
        with pytest.raises(storage.MaintenanceLeaseHeld):
            V.prune_months(store)
        with pytest.raises(storage.MaintenanceLeaseHeld):
            V.bootstrap_months(df, store)
        assert V.read_manifest(store) == before  # nothing moved

    def test_stale_lease_taken_over(self, spark, tmp_path):
        import os

        from hours_api_clickup_spark import storage
        from hours_api_clickup_spark.sinks import versioned as V

        store = str(tmp_path / "months")
        self._hold(store)
        lease = os.path.join(store, storage.LEASE_FILE)
        os.utime(lease, (1, 1))  # ancient mtime: holder presumed dead
        assert V.bootstrap_months(_rows(spark), store) == {MONTH: 0}
        assert not os.path.exists(lease)  # and released afterwards

    def test_failed_cycle_releases_the_lease(self, spark, tmp_path):
        import datetime as dt
        import os

        import pytest

        from hours_api_clickup_spark import storage
        from hours_api_clickup_spark.operators.merge import (
            merge_refresh_partitioned_atomic,
        )
        from hours_api_clickup_spark.sinks import versioned as V

        df = spark.createDataFrame(
            [(1, dt.date(2024, 1, 5), "a")], "id long, start_date_oslo date, v string"
        )
        store = str(tmp_path / "months")

        def boom():
            raise RuntimeError("crash before publish")

        with pytest.raises(RuntimeError, match="crash before publish"):
            merge_refresh_partitioned_atomic(
                spark, store, df, dt.date(2024, 1, 1), dt.date(2024, 1, 31),
                _crash_before_publish=boom,
            )
        assert not os.path.exists(os.path.join(store, storage.LEASE_FILE))
        # the retry (the documented crash-recovery path) goes through
        merge_refresh_partitioned_atomic(
            spark, store, df, dt.date(2024, 1, 1), dt.date(2024, 1, 31)
        )
        assert V.read_months(spark, store).count() == 1

    def test_dead_same_host_holder_taken_over_immediately(
        self, spark, tmp_path
    ):
        """A holder on THIS host whose pid is gone is provably crashed:
        the next maintainer must take over at once instead of blocking
        on the hour-long ttl (a killed publisher must not wedge its own
        restart)."""
        import os
        import socket
        import subprocess

        from hours_api_clickup_spark import storage
        from hours_api_clickup_spark.sinks import versioned as V

        store = str(tmp_path / "months")
        os.makedirs(store)
        proc = subprocess.Popen(["true"])
        proc.wait()
        with open(os.path.join(store, storage.LEASE_FILE), "w") as f:
            f.write(f"crashed host={socket.gethostname()} pid={proc.pid} t=0")
        # mtime is FRESH (inside the ttl) — only the dead pid proves it
        assert V.bootstrap_months(_rows(spark), store) == {MONTH: 0}

    def test_live_same_host_holder_still_refuses(self, spark, tmp_path):
        import os
        import socket

        import pytest

        from hours_api_clickup_spark import storage
        from hours_api_clickup_spark.sinks import versioned as V

        store = str(tmp_path / "months")
        os.makedirs(store)
        with open(os.path.join(store, storage.LEASE_FILE), "w") as f:
            f.write(f"live host={socket.gethostname()} pid={os.getpid()} t=0")
        with pytest.raises(storage.MaintenanceLeaseHeld):
            V.bootstrap_months(_rows(spark), store)

    def test_foreign_host_holder_waits_out_the_ttl(self, spark, tmp_path):
        """pid liveness means nothing across hosts — a fresh lease from
        another machine must refuse even if that pid happens to be dead
        locally."""
        import os
        import subprocess

        import pytest

        from hours_api_clickup_spark import storage
        from hours_api_clickup_spark.sinks import versioned as V

        store = str(tmp_path / "months")
        os.makedirs(store)
        proc = subprocess.Popen(["true"])
        proc.wait()
        with open(os.path.join(store, storage.LEASE_FILE), "w") as f:
            f.write(f"remote host=some-other-host pid={proc.pid} t=0")
        with pytest.raises(storage.MaintenanceLeaseHeld):
            V.bootstrap_months(_rows(spark), store)
