"""Rebuild writers are maintenance (r9, completing VERDICT r8 #2).

The r8 lease covered compacts and streaming-ingest batches; the full
REBUILD writers were the remaining unleased maintainer — a standalone
``lsh_index_write`` racing a streaming ingest silently discarded its
in-flight batches. And independent of racing, a rebuild OVER a live
merge-on-read index was a latent silent wrong answer: the rebuild's
fresh ``seq=0`` rows are outranked by any stale log entry (max-seq
fold) and killed by any existing tombstone (survival requires
``seq > tombstone seq``). Three families (LSH/IVF/text) now refuse
that state loudly — compact first, or build into a fresh path; the
IVFADC family, whose documented compaction IS the two-tier rebuild,
instead CONSUMES the tiers transactionally under a commit marker that
rolls crashes forward.
"""

from __future__ import annotations

import contextlib
import os

import pytest
from pyspark.sql import functions as F

import hours_api_clickup_spark.datapipe.similarity as S
from hours_api_clickup_spark import storage
from hours_api_clickup_spark.datapipe import tiered
from hours_api_clickup_spark.plans.registry import load_table
from tests.conftest import SF_DIR_SMOKE


def _emb(spark):
    return load_table(spark, SF_DIR_SMOKE, "embeddings")


def _docs(spark):
    return load_table(spark, SF_DIR_SMOKE, "documents")


@contextlib.contextmanager
def _crash_after_first_swap():
    """Inject a crash right after the first of a two-tier rebuild's
    swaps: one tier published, the other still staged."""
    real_swap = storage.swap_dir

    def crashing(spark_, live, staged):
        real_swap(spark_, live, staged)
        storage.swap_dir = real_swap
        raise RuntimeError("injected crash between swaps")

    storage.swap_dir = crashing
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            yield
    finally:
        storage.swap_dir = real_swap


class TestRebuildWritersLeaseGuarded:
    """Every full-rebuild writer (and every compaction) refuses while
    another maintainer holds the index lease."""

    def _refuses_then_succeeds(self, spark, path, op):
        storage.acquire_lease(spark, path, "simulated-maintainer")
        try:
            with pytest.raises(storage.MaintenanceLeaseHeld, match="lease"):
                op()
        finally:
            storage.release_lease(spark, path)
        op()  # released: the same call goes through

    def test_lsh_write_and_compact(self, spark, tmp_path):
        emb = _emb(spark)
        p = str(tmp_path / "lsh")
        self._refuses_then_succeeds(
            spark, p,
            lambda: S.lsh_index_write(emb, "embedding", "vec_id", p, dim=64),
        )
        S.lsh_index_append(emb.limit(5), "embedding", "vec_id", p, dim=64)
        self._refuses_then_succeeds(
            spark, p, lambda: S.lsh_index_compact(spark, p)
        )

    def test_ivf_write_and_compact(self, spark, tmp_path):
        emb = _emb(spark)
        cents = S.seed_centroids(emb, "embedding", "vec_id", n_clusters=4)
        p = str(tmp_path / "ivf")
        self._refuses_then_succeeds(
            spark, p,
            lambda: S.ivf_index_write(emb, "embedding", "vec_id", p, cents),
        )
        S.ivf_index_append(emb.limit(5), "embedding", "vec_id", p, cents)
        self._refuses_then_succeeds(
            spark, p, lambda: S.ivf_index_compact(spark, p, "vec_id")
        )

    def test_text_write(self, spark, tmp_path):
        from hours_api_clickup_spark.datapipe.textindex import (
            inverted_index_write,
        )

        docs = _docs(spark)
        p = str(tmp_path / "txt")
        self._refuses_then_succeeds(
            spark, p,
            lambda: inverted_index_write(docs, "text", "doc_id", p),
        )

    def test_doc_neardup_write(self, spark, tmp_path):
        from hours_api_clickup_spark.datapipe.dedup import (
            doc_neardup_index_write,
        )

        docs = _docs(spark)
        p = str(tmp_path / "nd")
        self._refuses_then_succeeds(
            spark, p,
            lambda: doc_neardup_index_write(docs, "doc_id", "text", p),
        )


class TestRebuildRefusesStaleMorTiers:
    """LSH/IVF/text rebuilds refuse while a log or tombstone tier
    exists: the seq=0 rebuild would be outranked/killed silently.
    After the family's compact consumes the tiers, the same rebuild
    goes through."""

    def test_lsh(self, spark, tmp_path):
        emb = _emb(spark)
        p = str(tmp_path / "lsh")
        S.lsh_index_write(emb, "embedding", "vec_id", p, dim=64)
        S.lsh_index_append(emb.limit(3), "embedding", "vec_id", p, dim=64)
        with pytest.raises(ValueError, match="merge-on-read"):
            S.lsh_index_write(emb, "embedding", "vec_id", p, dim=64)
        S.lsh_index_compact(spark, p)
        S.lsh_index_delete(spark, p, [0])
        with pytest.raises(ValueError, match="tombstones"):
            S.lsh_index_write(emb, "embedding", "vec_id", p, dim=64)
        S.lsh_index_compact(spark, p)
        S.lsh_index_write(emb, "embedding", "vec_id", p, dim=64)

    def test_ivf(self, spark, tmp_path):
        emb = _emb(spark)
        cents = S.seed_centroids(emb, "embedding", "vec_id", n_clusters=4)
        p = str(tmp_path / "ivf")
        S.ivf_index_write(emb, "embedding", "vec_id", p, cents)
        S.ivf_index_append(emb.limit(3), "embedding", "vec_id", p, cents)
        with pytest.raises(ValueError, match="merge-on-read"):
            S.ivf_index_write(emb, "embedding", "vec_id", p, cents)
        S.ivf_index_compact(spark, p, "vec_id")
        S.ivf_index_write(emb, "embedding", "vec_id", p, cents)

    def test_text(self, spark, tmp_path):
        from hours_api_clickup_spark.datapipe.textindex import (
            inverted_index_append,
            inverted_index_compact,
            inverted_index_write,
        )

        docs = _docs(spark)
        p = str(tmp_path / "txt")
        inverted_index_write(docs, "text", "doc_id", p)
        inverted_index_append(docs.limit(3), "text", "doc_id", p)
        with pytest.raises(ValueError, match="merge-on-read"):
            inverted_index_write(docs, "text", "doc_id", p)
        inverted_index_compact(spark, p)
        inverted_index_write(docs, "text", "doc_id", p)


class TestIvfpqRebuildConsumesTiers:
    """The IVFADC rebuild (= the family's compaction) consumes the
    merge-on-read tiers transactionally. Previously it left them in
    place: a stale log row outranked the rebuild's fresh value in the
    max-seq fold, and an old tombstone silently killed a re-included
    key — the exact silent-wrong-answer the takedown soak could not
    see because its rebuild corpus happened to agree with the log."""

    def _fixtures(self, spark):
        emb = _emb(spark)
        cents = S.seed_centroids(emb, "embedding", "vec_id", n_clusters=4)
        cb = S.pq_seed_codebooks(
            emb, "embedding", "vec_id", n_subspaces=4, n_codes=16
        )
        qv = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 1).head()["embedding"]
        ]
        return emb, cents, cb, qv

    def _probe(self, spark, path, qv, cents, cb):
        return [
            tuple(r)
            for r in S.ivfpq_probe_topk(
                spark, path, "embedding", "vec_id", qv, cents, cb,
                k=10, nprobe=4, n_candidates=64, exclude_id=1,
            ).collect()
        ]

    def _lifecycle(self, spark, tmp_path, crash_between_swaps=False):
        """build(A) → append(B) → delete(X⊂A) → rebuild(C) where C
        re-includes X and CHANGES B's vectors — both divergence modes
        at once. Returns (rebuilt path, fresh-twin path, C)."""
        emb, cents, cb, qv = self._fixtures(spark)
        a = emb.filter(F.col("vec_id") % 3 != 0)
        b = emb.filter(F.col("vec_id") % 3 == 0)
        doomed = [
            r[0]
            for r in a.select("vec_id").orderBy("vec_id").limit(3).collect()
        ]
        # C: everything, with B's vectors NEGATED (changes every cosine
        # rank involving them) and the deleted ids re-included
        flipped = b.withColumn(
            "embedding", F.expr("transform(embedding, v -> -v)")
        )
        c = a.unionByName(flipped)

        p = str(tmp_path / "ivfpq")
        S.ivfpq_index_write(a, "embedding", "vec_id", p, cents, cb)
        S.ivfpq_index_append(b, "embedding", "vec_id", p, cents, cb)
        S.ivf_index_delete(spark, p, "vec_id", doomed)

        if crash_between_swaps:
            with _crash_after_first_swap():
                S.ivfpq_index_write(c, "embedding", "vec_id", p, cents, cb)
            import os

            assert os.path.exists(f"{p}/{tiered.REBUILD_MARKER}")
            # in-process failure released the lease; the marker stays
            # for the roll-forward
            assert not os.path.exists(f"{p}/{storage.LEASE_FILE}")
        else:
            S.ivfpq_index_write(c, "embedding", "vec_id", p, cents, cb)

        fresh = str(tmp_path / "twin")
        S.ivfpq_index_write(c, "embedding", "vec_id", fresh, cents, cb)
        return p, fresh, c, cents, cb, qv, doomed

    def test_rebuild_equals_fresh_twin(self, spark, tmp_path):
        import os

        p, fresh, c, cents, cb, qv, doomed = self._lifecycle(spark, tmp_path)
        # tiers consumed: nothing left to outrank or kill the rebuild
        for tier in ("log", "codes_log", "tombstones"):
            assert not os.path.exists(f"{p}/{tier}"), tier
        assert not os.path.exists(f"{p}/{tiered.REBUILD_MARKER}")
        # the read view IS the rebuild corpus: re-included deleted ids
        # are back, changed vectors serve their NEW values
        view = S.ivf_index_read(spark, p)
        assert view.count() == c.count()
        assert not set(doomed) - {
            r[0] for r in view.select("vec_id").collect()
        }
        assert self._probe(spark, p, qv, cents, cb) == self._probe(
            spark, fresh, qv, cents, cb
        )

    def test_tier_entries_after_snapshot_survive(self, spark, tmp_path):
        """A tombstone landing between the rebuild's snapshot and its
        drops is NOT consumed — takedown-wins (the consumed-snapshot
        contract every compactor shares)."""
        emb, cents, cb, qv = self._fixtures(spark)
        p = str(tmp_path / "ivfpq")
        S.ivfpq_index_write(emb, "embedding", "vec_id", p, cents, cb)
        S.ivfpq_index_append(
            emb.limit(3), "embedding", "vec_id", p, cents, cb
        )

        real_swap = storage.swap_dir

        def late_tombstone_then_swap(spark_, live, staged):
            # fires inside the rebuild, after the snapshot was taken
            storage.swap_dir = real_swap
            S.ivf_index_delete(spark_, p, "vec_id", [2], seq=99)
            real_swap(spark_, live, staged)

        storage.swap_dir = late_tombstone_then_swap
        try:
            S.ivfpq_index_write(emb, "embedding", "vec_id", p, cents, cb)
        finally:
            storage.swap_dir = real_swap
        import os

        assert os.path.exists(f"{p}/tombstones")  # survived the drops
        view_ids = {r[0] for r in S.ivf_index_read(spark, p).select("vec_id").collect()}
        assert 2 not in view_ids


def _ivfpq_crash_rolls_forward(spark, tmp_path):
    case = TestIvfpqRebuildConsumesTiers()
    p, fresh, c, cents, cb, qv, doomed = case._lifecycle(
        spark, tmp_path, crash_between_swaps=True
    )
    # first family entry point after the crash finishes the job:
    # remaining swap + consumed-tier drops + marker delete
    got = case._probe(spark, p, qv, cents, cb)
    assert not os.path.exists(f"{p}/{tiered.REBUILD_MARKER}")
    for tier in ("log", "codes_log", "tombstones"):
        assert not os.path.exists(f"{p}/{tier}"), tier
    assert got == case._probe(spark, fresh, qv, cents, cb)


def _doc_neardup_crash_rolls_forward(spark, tmp_path):
    import hours_api_clickup_spark.datapipe.dedup as D

    docs = _docs(spark)
    gen_a = docs.filter(F.col("doc_id") % 10 < 8)
    # gen B REMOVES docs: mixed tiers would break "did in sig ⇒
    # complete index entry", the invariant the streaming ingest keys on
    gen_b = gen_a.filter(F.col("doc_id") % 7 != 1)
    batch = docs.filter(F.col("doc_id") % 10 >= 8)
    b_ids = {r[0] for r in gen_b.select("doc_id").collect()}
    removed = {r[0] for r in gen_a.select("doc_id").collect()} - b_ids
    assert removed  # the rebuild must actually drop docs

    path = str(tmp_path / "didx")
    D.doc_neardup_index_write(gen_a, "doc_id", "text", path)
    with _crash_after_first_swap():
        D.doc_neardup_index_write(gen_b, "doc_id", "text", path)

    # new bands, OLD sig, and the marker that rolls it forward
    assert os.path.exists(f"{path}/{tiered.REBUILD_MARKER}")
    sig_dids = {
        r[0] for r in spark.read.parquet(f"{path}/sig").select("did").collect()
    }
    assert removed <= sig_dids  # sig is still generation A

    # any entry point recovers: generations align, marker + staged gone
    D.doc_neardup_index_recover(spark, path)
    assert not os.path.exists(f"{path}/{tiered.REBUILD_MARKER}")
    assert not os.path.exists(f"{path}/sig__staged")
    assert not os.path.exists(f"{path}/bands__staged")
    sig_dids = {
        r[0] for r in spark.read.parquet(f"{path}/sig").select("did").collect()
    }
    band_dids = {
        r[0] for r in spark.read.parquet(f"{path}/bands").select("did").collect()
    }
    assert sig_dids == b_ids
    assert band_dids <= b_ids

    # and the recovered index behaves: incremental append ≡ one-shot
    # over (gen B ∪ batch) restricted to pairs touching the batch
    got = {
        (r.id_a, r.id_b)
        for r in D.doc_neardup_index_append(batch, path, "doc_id", "text").collect()
    }
    batch_ids = {r[0] for r in batch.select("doc_id").collect()}
    want = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(
            gen_b.unionByName(batch), "doc_id", "text"
        ).collect()
        if r.id_a in batch_ids or r.id_b in batch_ids
    }
    assert got == want


@pytest.mark.parametrize(
    "roll_forward",
    [_ivfpq_crash_rolls_forward, _doc_neardup_crash_rolls_forward],
    ids=["ivfpq", "doc_neardup"],
)
def test_crash_between_swaps_rolls_forward(spark, tmp_path, roll_forward):
    """Both two-tier families publish a rebuild through one commit
    marker (``storage.commit_tiers``). A crash between the two tier
    swaps is rolled FORWARD by the next entry point (the one
    ``tiered.recover_joint``), so readers only ever observe whole
    generations and the consumed tiers are dropped exactly once."""
    roll_forward(spark, tmp_path)


class TestLeaseHeartbeat:
    """Staleness is mtime-based, so without a refresh a LEGITIMATE
    maintenance pass outlasting the ttl (an O(corpus) compact at real
    scale) had its lease silently stolen mid-run. The heartbeat thread
    re-touches the lease every ttl/4 while the section runs."""

    def test_long_section_is_not_stolen(self, spark, tmp_path):
        import time

        p = str(tmp_path / "idx")
        with storage.maintenance_lease(spark, p, "long-compact", ttl_sec=1):
            # hold well past the ttl; a racer must refuse the WHOLE time
            deadline = time.time() + 3.0
            while time.time() < deadline:
                with pytest.raises(storage.MaintenanceLeaseHeld):
                    storage.acquire_lease(spark, p, "racer", ttl_sec=1)
                time.sleep(0.4)
        # released: the racer acquires immediately
        storage.acquire_lease(spark, p, "racer", ttl_sec=1)
        storage.release_lease(spark, p)

    def test_publish_lease_heartbeat(self, spark, tmp_path):
        """An index root's lease is held across a publish outlasting the
        ttl: it is not stolen while its heartbeat runs, a tiered compact
        refuses meanwhile, and goes through once released."""
        import time

        p = str(tmp_path / "lsh")
        S.lsh_index_write(_emb(spark), "embedding", "vec_id", p, dim=64)
        S.lsh_index_delete(spark, p, [0])
        with storage.maintenance_lease(spark, p, "long-publish", ttl_sec=1):
            deadline = time.time() + 3.0
            while time.time() < deadline:
                with pytest.raises(storage.MaintenanceLeaseHeld):
                    storage.acquire_lease(spark, p, "racer", ttl_sec=1)
                time.sleep(0.4)
            with pytest.raises(storage.MaintenanceLeaseHeld):
                S.lsh_index_compact(spark, p)
        S.lsh_index_compact(spark, p)
        assert not os.path.exists(f"{p}/tombstones")  # folded
        assert not os.path.exists(f"{p}/{storage.LEASE_FILE}")


def test_only_storage_owns_leases_and_hadoop_commits():
    """One commit protocol: no module outside storage.py names a lease
    file or calls Hadoop ``FileSystem.rename``/``create`` — a second
    lease or a hand-rolled swap is how the forks this layer replaced
    (a store-private lease, in-place overwrites) came about."""
    import pathlib
    import re

    pkg = pathlib.Path(storage.__file__).parent
    lease_name = re.compile(r"""["'][\w.-]*_lease["']""")
    hadoop_commit = re.compile(r"(?<!\bos)\.(rename|create)\(")
    offenders = []
    for f in sorted(pkg.rglob("*.py")):
        if f == pathlib.Path(storage.__file__):
            continue
        for n, line in enumerate(f.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if lease_name.search(code) or hadoop_commit.search(code):
                offenders.append(f"{f.relative_to(pkg)}:{n}: {line.strip()}")
    assert not offenders, offenders


def test_only_storage_builds_hadoop_paths():
    """Filesystem access goes through storage.py: a module building its
    own Hadoop ``Path`` or reading ``hadoopConfiguration()`` keeps
    markers and existence probes that the storage layer's commit and
    recovery rules never see."""
    import pathlib
    import re

    pkg = pathlib.Path(storage.__file__).parent
    hadoop_fs = re.compile(r"hadoop\.fs\.Path|hadoopConfiguration\(\)")
    offenders = [
        f"{f.relative_to(pkg)}:{n}: {line.strip()}"
        for f in sorted(pkg.rglob("*.py"))
        if f != pathlib.Path(storage.__file__)
        for n, line in enumerate(f.read_text().splitlines(), 1)
        if hadoop_fs.search(line)
    ]
    assert not offenders, offenders


def test_one_route_dispatcher():
    """The CLI and the scheduler reach the sync and maintenance code
    only through ``server.dispatch``, the dispatcher the HTTP routes
    use: a second copy of the route → pipelines map is how the CLI came
    to drop the lock flags, write the fact table elsewhere and alone
    write backups."""
    import pathlib
    import re

    pkg = pathlib.Path(storage.__file__).parent
    # any mention: a call, an import, or a getattr-built sync name
    direct = re.compile(r"\b(sync_\w+|run_maintenance)\b|getattr\(pipelines")
    offenders = []
    for name in ("__main__.py", "scheduler.py"):
        for n, line in enumerate((pkg / name).read_text().splitlines(), 1):
            if direct.search(line.split("#", 1)[0]):
                offenders.append(f"{name}:{n}: {line.strip()}")
    assert not offenders, offenders


class TestFactTableLock:
    """The fact-table read→merge→overwrite cycles (batch syncs AND the
    streaming refresh's foreachBatch) share a single-writer lease in a
    ``{path}__lock`` sibling: two of them racing one table both read
    the same old fact and the loser's merged rows were silently erased
    by the winner's swap — now the loser refuses loudly."""

    def _raw(self, spark, tmp_path, rows, name):
        import json

        from hours_api_clickup_spark.sources.readers import (
            read_raw_time_entries,
        )
        from tests.test_domain_semantics import _entry

        p = tmp_path / name
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(_entry(**r)) + "\n")
        return read_raw_time_entries(spark, str(p))

    def test_syncs_refuse_under_held_lock(self, spark, tmp_path):
        import datetime as dt

        from hours_api_clickup_spark import pipelines

        t0 = 1700000000000
        raw = self._raw(
            spark, tmp_path,
            [dict(eid="e1", start_ms=t0, at_ms=t0)], "a.json",
        )
        fact = str(tmp_path / "fact")
        today = dt.date(2023, 11, 20)
        r = pipelines.sync_refresh(spark, raw, fact, today)
        assert r.rows == 1

        storage.acquire_lease(spark, f"{fact}__lock", "simulated-writer")
        try:
            with pytest.raises(storage.MaintenanceLeaseHeld, match="lease"):
                pipelines.sync_refresh(spark, raw, fact, today)
            with pytest.raises(storage.MaintenanceLeaseHeld, match="lease"):
                pipelines.sync_full_reindex(spark, raw, fact)
        finally:
            storage.release_lease(spark, f"{fact}__lock")
        # released: both cycles run again
        assert pipelines.sync_refresh(spark, raw, fact, today).rows == 1
        assert pipelines.sync_full_reindex(spark, raw, fact).rows == 1

    def test_streaming_batch_refuses_under_held_lock(self, spark, tmp_path):
        import datetime as dt
        import json

        from hours_api_clickup_spark.streaming.refresh import (
            streaming_refresh,
        )
        from tests.test_domain_semantics import _entry

        t0 = 1700000000000
        src = tmp_path / "src"
        src.mkdir()
        with open(src / "a.json", "w") as f:
            f.write(json.dumps(_entry("e1", start_ms=t0, at_ms=t0)) + "\n")
        fact = str(tmp_path / "fact")
        storage.acquire_lease(spark, f"{fact}__lock", "scheduled-refresh")
        try:
            # lock_wait_s=0: immediate loud refusal (the bounded-wait
            # default is exercised in the stall test below)
            q = streaming_refresh(
                spark, str(src), fact, str(tmp_path / "ckpt"),
                dt.date(2023, 11, 20), lock_wait_s=0,
            )
            with pytest.raises(Exception, match="[Ll]ease"):
                q.awaitTermination(300)
                if q.exception() is not None:
                    raise q.exception()
            import os

            assert not os.path.exists(fact)  # nothing half-written
        finally:
            storage.release_lease(spark, f"{fact}__lock")
        # released: a fresh stream (same checkpoint) lands the batch
        q2 = streaming_refresh(
            spark, str(src), fact, str(tmp_path / "ckpt"),
            dt.date(2023, 11, 20),
        )
        q2.awaitTermination(300)
        assert spark.read.parquet(fact).count() == 1

    def test_streaming_batch_waits_out_a_short_hold(self, spark, tmp_path):
        """The common collision — a seconds-long scheduled sync holding
        the table lock — stalls the streaming batch (bounded poll)
        instead of killing the query: the batch lands once the hold
        releases."""
        import datetime as dt
        import json
        import threading

        from hours_api_clickup_spark.streaming.refresh import (
            streaming_refresh,
        )
        from tests.test_domain_semantics import _entry

        t0 = 1700000000000
        src = tmp_path / "src"
        src.mkdir()
        with open(src / "a.json", "w") as f:
            f.write(json.dumps(_entry("e1", start_ms=t0, at_ms=t0)) + "\n")
        fact = str(tmp_path / "fact")
        storage.acquire_lease(spark, f"{fact}__lock", "scheduled-refresh")
        releaser = threading.Timer(
            3.0, lambda: storage.release_lease(spark, f"{fact}__lock")
        )
        releaser.start()
        try:
            q = streaming_refresh(
                spark, str(src), fact, str(tmp_path / "ckpt"),
                dt.date(2023, 11, 20), lock_wait_s=60,
            )
            assert q.awaitTermination(300)
            assert q.exception() is None
        finally:
            releaser.cancel()
        assert spark.read.parquet(fact).count() == 1


class TestCompactSmallFilesSafety:
    """The generic layout compactor swaps the WHOLE directory, so —
    unlike the index compactors, whose consumed-snapshot protocol lets
    a racing append's file survive for the next compact — a file
    appended during its rewrite used to be silently erased by the
    swap. Now: snapshot-exact read + pre-swap drift check (loud abort,
    live table untouched) + maintainer lease in a sibling lock dir."""

    def test_concurrent_append_aborts_without_losing_it(
        self, spark, tmp_path
    ):
        import os

        from hours_api_clickup_spark.operators.compaction import (
            compact_small_files,
        )

        docs = _docs(spark).limit(50)
        path = str(tmp_path / "tbl")
        docs.repartition(8).write.parquet(path)

        def inject():
            docs.limit(1).write.mode("append").parquet(path)

        with pytest.raises(RuntimeError, match="changed during"):
            compact_small_files(
                spark, path, target_bytes=10**9,
                _inject_before_drift_check=inject,
            )
        # live table intact INCLUDING the racing append; staged dropped
        assert spark.read.parquet(path).count() == 51
        assert not os.path.exists(path + "__staged")
        assert not os.path.exists(f"{path}__lock/{storage.LEASE_FILE}")
        # writers quiescent: the retry compacts everything
        assert compact_small_files(spark, path, target_bytes=10**9) == 1
        assert spark.read.parquet(path).count() == 51

    def test_lease_guarded(self, spark, tmp_path):
        from hours_api_clickup_spark.operators.compaction import (
            compact_small_files,
        )

        docs = _docs(spark).limit(20)
        path = str(tmp_path / "tbl")
        docs.repartition(8).write.parquet(path)
        storage.acquire_lease(spark, f"{path}__lock", "simulated-maintainer")
        try:
            with pytest.raises(storage.MaintenanceLeaseHeld, match="lease"):
                compact_small_files(spark, path, target_bytes=10**9)
        finally:
            storage.release_lease(spark, f"{path}__lock")
        assert compact_small_files(spark, path, target_bytes=10**9) == 1


class TestLeaseFencing:
    """Claim-token fencing (VERDICT r9 #2): ownership is re-verified at
    the two moments it matters — release, and the commit-point swap —
    so a holder paused past the ttl and superseded by a taker refuses
    its swap and never deletes the successor's lease."""

    def test_paused_holder_takeover(self, spark, tmp_path):
        """The verdict's exact scenario: freeze past the ttl (no
        heartbeat — a paused process doesn't heartbeat), let a taker
        claim, resume at the commit point."""
        import os
        import time

        p = str(tmp_path / "idx")
        staged = f"{p}/base__staged"
        os.makedirs(staged)
        old_token = storage.acquire_lease(spark, p, "old-holder", ttl_sec=1)
        storage.held_leases()[p] = old_token
        try:
            time.sleep(1.2)  # the stall: lease goes stale by mtime
            taker_token = storage.acquire_lease(spark, p, "taker", ttl_sec=1)
            # old holder resumes at its commit point: the swap re-reads
            # the lease, sees the successor's token, refuses loudly
            with pytest.raises(storage.MaintenanceLeaseLost, match="successor"):
                storage.swap_dir(spark, f"{p}/base", staged)
            assert os.path.exists(staged)  # nothing was clobbered
            # ...and the old holder's release spares the taker's lease
            storage.release_lease(spark, p, old_token)
            assert os.path.exists(f"{p}/{storage.LEASE_FILE}")
            assert storage.read_lease_token(spark, p) == taker_token
        finally:
            storage.held_leases().pop(p, None)
            storage.release_lease(spark, p)

    def test_maintenance_section_fences_its_swap(self, spark, tmp_path):
        """End-to-end through the contextmanager: a takeover mid-section
        makes the section's own swap refuse, and exit leaves the
        successor's lease intact."""
        import os

        p = str(tmp_path / "idx")
        staged = f"{p}/base__staged"
        os.makedirs(staged)
        with storage.maintenance_lease(spark, p, "old-holder"):
            # simulate a successful takeover after a stall the way a
            # real taker does it: delete the stale lease + re-claim
            # (a Python-side file rewrite would desync Hadoop's local
            # .crc sidecar and read as unreadable, which also refuses —
            # but the assertion below wants the successor's token)
            storage.delete(spark, f"{p}/{storage.LEASE_FILE}")
            succ_token = storage.acquire_lease(spark, p, "taker")
            with pytest.raises(storage.MaintenanceLeaseLost, match="successor"):
                storage.swap_dir(spark, f"{p}/base", staged)
        # the finally-release saw a foreign token and left it alone
        assert storage.read_lease_token(spark, p) == succ_token
        storage.release_lease(spark, p)  # cleanup

    def test_matching_token_swaps_normally(self, spark, tmp_path):
        import os

        p = str(tmp_path / "idx")
        staged = f"{p}/base__staged"
        os.makedirs(staged)
        with open(f"{staged}/data.txt", "w") as f:
            f.write("x")
        with storage.maintenance_lease(spark, p, "holder"):
            storage.swap_dir(spark, f"{p}/base", staged)
        assert os.path.exists(f"{p}/base/data.txt")
        assert not os.path.exists(f"{p}/{storage.LEASE_FILE}")  # released

    def test_publish_lease_takeover(self, spark, tmp_path):
        """A commit that swaps no directory is fenced by the same lease:
        the file-stats publish re-verifies the claim token, and release
        spares the successor's lease."""
        from hours_api_clickup_spark.operators.zorder import (
            publish_file_stats,
            read_file_stats,
        )

        p = str(tmp_path / "layout")
        stats = {"part-0.parquet": {"x": [0, 9]}}
        lease = os.path.join(p, storage.LEASE_FILE)
        with storage.maintenance_lease(spark, p, "old-holder"):
            with open(lease, "w") as f:
                f.write("taker host=elsewhere pid=1 t=0 token=succtok")
            with pytest.raises(storage.MaintenanceLeaseLost, match="successor"):
                publish_file_stats(p, stats)
            assert read_file_stats(p) is None
        assert storage.read_lease_token(spark, p) == "succtok"  # spared
        os.unlink(lease)
        # unfenced again: the same publish goes through
        publish_file_stats(p, stats)
        assert read_file_stats(p) == stats

    def test_failed_cycle_releases_the_lease(self, spark, tmp_path):
        """A section that fails in-process (not a crash) releases its
        lease on the way out, so the retry claims it at once."""
        p = str(tmp_path / "idx")
        with pytest.raises(RuntimeError, match="failed before commit"):
            with storage.maintenance_lease(spark, p, "cycle"):
                raise RuntimeError("failed before commit")
        assert not os.path.exists(f"{p}/{storage.LEASE_FILE}")
        assert p not in storage.held_leases()
        with storage.maintenance_lease(spark, p, "retry"):
            assert os.path.exists(f"{p}/{storage.LEASE_FILE}")

    def test_unleased_callers_are_not_fenced(self, spark, tmp_path):
        """The lease is opt-in: a bare storage.swap_dir with no held lease
        (recovery roll-forwards run this way pre-claim) still works."""
        import os

        p = str(tmp_path / "idx")
        staged = f"{p}/base__staged"
        os.makedirs(staged)
        storage.swap_dir(spark, f"{p}/base", staged)
        assert os.path.exists(f"{p}/base")


class TestRecoveryIsLeased:
    """Recovery roll-forward is maintenance (ADVICE r9 high): the
    rebuild commit marker exists during every LIVE rebuild's commit
    window, so an unleased probe must not roll it forward concurrently
    with the holder's own commit sequence. Recovery defers to a live
    lease and claims it otherwise."""

    def test_ivfpq_recover_defers_to_live_maintainer(self, spark, tmp_path):
        import os

        p = str(tmp_path / "ivfpq")
        os.makedirs(p)
        marker = f"{p}/{tiered.REBUILD_MARKER}"
        storage.write_file_atomic(spark, marker, "{}")
        storage.acquire_lease(spark, p, "live-maintainer")  # our pid: live
        try:
            S.ivfpq_index_recover(spark, p)  # skips: the holder owns this
            assert os.path.exists(marker)
        finally:
            storage.release_lease(spark, p)
        S.ivfpq_index_recover(spark, p)  # no lease: claims, rolls forward
        assert not os.path.exists(marker)
        assert not os.path.exists(f"{p}/{storage.LEASE_FILE}")  # released

    def test_doc_index_recover_defers_to_live_maintainer(
        self, spark, tmp_path
    ):
        import os

        import hours_api_clickup_spark.datapipe.dedup as D

        p = str(tmp_path / "neardup")
        os.makedirs(p)
        marker = f"{p}/{tiered.REBUILD_MARKER}"
        storage.write_file_atomic(spark, marker, "")  # an empty marker
        storage.acquire_lease(spark, p, "live-maintainer")
        try:
            D.doc_neardup_index_recover(spark, p)
            assert os.path.exists(marker)
        finally:
            storage.release_lease(spark, p)
        D.doc_neardup_index_recover(spark, p)
        assert not os.path.exists(marker)
        assert not os.path.exists(f"{p}/{storage.LEASE_FILE}")


class TestRecoveryVerdictCache:
    """VERDICT r10 #3: after one full clean probe, the session caches
    the 'no recovery pending' verdict per (SparkSession, path) — one
    exists() round per session per clean index — and any lease claim
    on the path voids it so the full check re-runs after maintenance."""

    def _count_exists(self, monkeypatch):
        calls = {"n": 0}
        real = storage.exists

        def counting(spark, p):
            calls["n"] += 1
            return real(spark, p)

        monkeypatch.setattr(storage, "exists", counting)
        return calls

    def test_clean_verdict_cached_then_voided_by_lease(
        self, spark, tmp_path, monkeypatch
    ):
        import os

        p = str(tmp_path / "ivfpq")
        os.makedirs(p)
        calls = self._count_exists(monkeypatch)
        S.ivfpq_index_recover(spark, p)  # full probe, proves clean
        first = calls["n"]
        assert first >= 3
        S.ivfpq_index_recover(spark, p)  # cached: zero fs rounds
        assert calls["n"] == first
        # a lease claim (any maintenance) voids the verdict
        storage.release_lease(spark, p, storage.acquire_lease(spark, p, "compact"))
        S.ivfpq_index_recover(spark, p)
        assert calls["n"] > first

    def test_pending_recovery_is_never_cached(self, spark, tmp_path):
        import os

        p = str(tmp_path / "ivfpq")
        os.makedirs(p)
        marker = f"{p}/{tiered.REBUILD_MARKER}"
        storage.write_file_atomic(spark, marker, "{}")
        S.ivfpq_index_recover(spark, p)  # claims, rolls forward
        assert not os.path.exists(marker)
        # the roll-forward's own lease claim voided any verdict; a new
        # marker (fresh crash) must be seen by the next probe
        storage.write_file_atomic(spark, marker, "{}")
        S.ivfpq_index_recover(spark, p)
        assert not os.path.exists(marker)

    def test_doc_index_verdict_cached(self, spark, tmp_path, monkeypatch):
        import os

        import hours_api_clickup_spark.datapipe.dedup as D

        p = str(tmp_path / "neardup")
        os.makedirs(p)
        calls = self._count_exists(monkeypatch)
        D.doc_neardup_index_recover(spark, p)
        first = calls["n"]
        assert first >= 3
        D.doc_neardup_index_recover(spark, p)
        assert calls["n"] == first

    def test_ivfpq_probe_self_heals_past_cached_verdict(
        self, spark, tmp_path
    ):
        """ADVICE r11 (medium): the self-heal wrap must cover the BASE
        tier too, not only codes — a foreign maintainer's mid-swap
        crash on base after this session cached 'clean' must not leave
        every probe throwing persistent path-not-found."""
        import os

        emb = _emb(spark)
        cents = S.seed_centroids(emb, "embedding", "vec_id", n_clusters=4)
        cb = S.pq_seed_codebooks(
            emb, "embedding", "vec_id", n_subspaces=4, n_codes=16
        )
        qv = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 1).head()["embedding"]
        ]
        p = str(tmp_path / "ivfpq")
        S.ivfpq_index_write(emb, "embedding", "vec_id", p, cents, cb)

        def probe():
            return [
                tuple(r)
                for r in S.ivfpq_probe_topk(
                    spark, p, "embedding", "vec_id", qv, cents, cb,
                    k=5, nprobe=4, exclude_id=1,
                ).collect()
            ]

        want = probe()  # proves clean and caches the verdict
        assert storage.recovery_verdict_cached(spark, p)
        os.rename(f"{p}/base", f"{p}/base__old")  # foreign crash
        assert probe() == want  # self-heals: read fails → recover → retry
        assert os.path.isdir(f"{p}/base")
        assert not os.path.exists(f"{p}/base__old")

    def test_mark_clean_refused_after_concurrent_invalidation(
        self, spark, tmp_path
    ):
        """ADVICE r11 (low, TOCTOU): a lease claim landing BETWEEN a
        thread's clean exists() probes and its mark_clean must void
        that mark — the generation snapshot taken before the probes
        refuses a stale 'clean' verdict."""
        import os

        p = str(tmp_path / "ivfpq")
        os.makedirs(p)
        gen = storage.recovery_gen(p)
        # simulate: another thread claims (and releases) the lease
        # while this thread is mid-probe
        storage.release_lease(spark, p, storage.acquire_lease(spark, p, "compact"))
        storage.recovery_mark_clean(spark, p, gen)  # stale gen: refused
        assert not storage.recovery_verdict_cached(spark, p)
        # with the CURRENT gen the mark lands
        storage.recovery_mark_clean(spark, p, storage.recovery_gen(p))
        assert storage.recovery_verdict_cached(spark, p)

    def test_doc_probe_self_heals_past_cached_verdict(self, spark, tmp_path):
        """The cache's foreign-crash trade (review r11): a probe that
        cached 'clean' must still SELF-HEAL when a foreign maintainer's
        mid-swap crash lands afterwards — the live-tier read failure
        voids the verdict and recovers, it never becomes a persistent
        path-not-found."""
        import os

        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe.dedup import (
            doc_neardup_index_pairs_for_ids,
            doc_neardup_index_write,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        docs = load_table(spark, SF_DIR, "documents").limit(200)
        path = str(tmp_path / "didx")
        doc_neardup_index_write(docs, "doc_id", "text", path)
        ids = docs.select(F.col("doc_id").alias("did")).limit(20)
        want = {
            (r.id_a, r.id_b)
            for r in doc_neardup_index_pairs_for_ids(spark, path, ids).collect()
        }  # this probe proved clean and CACHED the verdict
        assert storage.recovery_verdict_cached(spark, path)
        os.rename(f"{path}/sig", f"{path}/sig__old")  # foreign crash
        got = {
            (r.id_a, r.id_b)
            for r in doc_neardup_index_pairs_for_ids(spark, path, ids).collect()
        }
        assert got == want
        assert os.path.isdir(f"{path}/sig")
        assert not os.path.exists(f"{path}/sig__old")

    def test_doc_append_self_heals_past_cached_verdict(self, spark, tmp_path):
        """The append finds its corpus by listing the tiers' ``seq``
        directories. A bands tier missing after a foreign mid-swap crash,
        behind a cached clean verdict, must be recovered like a failed
        read, not taken for an empty corpus (pairs silently lost)."""
        import hours_api_clickup_spark.datapipe.dedup as D

        docs = _docs(spark).filter(F.col("doc_id") < 300)
        corpus, batch = docs.filter(F.col("doc_id") % 5 != 0), docs.filter(F.col("doc_id") % 5 == 0)
        path, twin = str(tmp_path / "didx"), str(tmp_path / "twin")
        for p in (path, twin):
            D.doc_neardup_index_write(corpus, "doc_id", "text", p)
        D.doc_neardup_index_pairs_for_ids(spark, path, corpus.select("doc_id").limit(5)).collect()
        assert storage.recovery_verdict_cached(spark, path)
        os.rename(f"{path}/bands", f"{path}/bands__old")  # foreign crash

        def pairs(p):
            return sorted((r.id_a, r.id_b) for r in D.doc_neardup_index_append(batch, p, "doc_id", "text").collect())

        want = pairs(twin)
        # a pair with a corpus member shows the corpus was read
        assert pairs(path) == want and any(a % 5 or b % 5 for a, b in want)
        assert os.path.isdir(f"{path}/bands") and not os.path.exists(f"{path}/bands__old")


class TestAppendBootstrapLeased:
    """The append APIs' bootstrap rebuild takes the maintenance lease
    for bare (non-streaming) callers (ADVICE r9): two racing
    first-batch writers must not rebuild both tiers unprotected."""

    def _refuses_bootstrap(self, spark, path, op):
        storage.acquire_lease(spark, path, "simulated-maintainer")
        try:
            with pytest.raises(storage.MaintenanceLeaseHeld, match="lease"):
                op()
        finally:
            storage.release_lease(spark, path)
        op()  # released: the same bootstrap goes through

    def test_lsh_append_bootstrap(self, spark, tmp_path):
        emb = _emb(spark).limit(8)
        p = str(tmp_path / "lsh")
        self._refuses_bootstrap(
            spark, p,
            lambda: S.lsh_index_append(
                emb, "embedding", "vec_id", p, dim=64
            ),
        )

    def test_ivf_append_bootstrap(self, spark, tmp_path):
        emb = _emb(spark).limit(8)
        cents = S.seed_centroids(emb, "embedding", "vec_id", n_clusters=2)
        p = str(tmp_path / "ivf")
        self._refuses_bootstrap(
            spark, p,
            lambda: S.ivf_index_append(emb, "embedding", "vec_id", p, cents),
        )

    def test_ivfpq_append_bootstrap(self, spark, tmp_path):
        emb = _emb(spark).limit(8)
        cents = S.seed_centroids(emb, "embedding", "vec_id", n_clusters=2)
        cb = S.pq_seed_codebooks(
            emb, "embedding", "vec_id", n_subspaces=4, n_codes=4
        )
        p = str(tmp_path / "ivfpq")
        self._refuses_bootstrap(
            spark, p,
            lambda: S.ivfpq_index_append(
                emb, "embedding", "vec_id", p, cents, cb
            ),
        )

    def test_text_append_bootstrap(self, spark, tmp_path):
        from hours_api_clickup_spark.datapipe.textindex import (
            inverted_index_append,
        )

        docs = _docs(spark).limit(8)
        p = str(tmp_path / "text")
        self._refuses_bootstrap(
            spark, p,
            lambda: inverted_index_append(docs, "text", "doc_id", p),
        )
