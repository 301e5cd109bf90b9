"""The tiered (LSM-shaped) index core behind the five persisted index
families: LSH, IVF and IVFPQ (datapipe/similarity.py), the inverted
text index (datapipe/textindex.py) and the document near-dup index
(datapipe/dedup.py).

On disk an index at ``path`` is

- ``base/``: the partitioned bulk, written staged (``base__staged``)
  and swapped in, its directories dealt evenly over the write tasks;
- ``log/``: one small unpartitioned file per appended batch, rows
  stamped with a monotonically increasing ``seq``;
- ``tombstones/``: (key, seq) delete markers. A row survives iff its
  ``seq`` is newer than its key's newest tombstone.

Reads are base ∪ log minus a broadcast tombstone filter, resolved
max-``seq`` per key (merge-on-read). A compaction folds that view
into a new base and drops exactly the log and tombstone files it
read. Two-tier families (IVFPQ's vectors + codes, near-dup's
signatures + bands) publish a rebuild through one commit marker and
recover by rolling it forward.

A family supplies a ``Layout`` (row key, directory columns, sort
order, column normalizer) and its row builder and scorer; the
operations here are the rest.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hours_api_clickup_spark import storage

#: commit marker of a two-tier rebuild (``storage.commit_tiers``)
REBUILD_MARKER = "__rebuild_commit"


@dataclass(frozen=True)
class Layout:
    #: row identity: the max-seq fold keeps each key's newest version
    key: str
    #: directory columns of ``base``, outermost first
    parts: tuple = ()
    #: order of rows inside one directory's file (row-group pruning)
    sort: tuple = ()
    #: with ``key``, the columns a folded row is unique on
    fold: tuple = ()
    #: tier frame → view columns and types (base and log must union)
    norm: Callable[[DataFrame], DataFrame] = lambda df: df


# ---------------------------------------------------------------------------
# The balanced writer: directories dealt evenly over the write tasks
# ---------------------------------------------------------------------------


def mmh3_int(x: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32 hash of an IntegerType value, exactly
    ``F.hash(int32)``, so a key→partition mapping can be planned on the
    driver with no data pass (pinned against the JVM by a test)."""

    def rotl(v: int, r: int) -> int:
        return ((v << r) | (v >> (32 - r))) & 0xFFFFFFFF

    k1 = (x & 0xFFFFFFFF) * 0xCC9E2D51 & 0xFFFFFFFF
    k1 = (rotl(k1, 15) * 0x1B873593) & 0xFFFFFFFF
    h1 = (seed & 0xFFFFFFFF) ^ k1
    h1 = (rotl(h1, 13) * 5 + 0xE6546B64) & 0xFFFFFFFF
    h1 ^= 4  # length in bytes
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


_SALT_CACHE: dict[int, list[int]] = {}


def partition_salts(n: int) -> list[int]:
    """For each partition p∈[0,n) an int salt with
    ``pmod(murmur3(salt), n) == p``: an injective pid→partition map for
    ``repartition(n, salt)``. About n·ln n driver-side hashes, once per n."""
    cached = _SALT_CACHE.get(n)
    if cached is not None:
        return cached
    salts: list[int | None] = [None] * n
    remaining, x = n, 0
    while remaining:
        p = mmh3_int(x) % n  # Python % is pmod for signed ints
        if salts[p] is None:
            salts[p] = x
            remaining -= 1
        x += 1
    _SALT_CACHE[n] = salts  # type: ignore[assignment]
    return salts  # type: ignore[return-value]


def write_tasks(spark, n_dirs: int) -> int:
    """Write tasks for ``n_dirs`` directories: one per core, at most one
    per directory. More tasks than cores only adds per-task commits."""
    return min(n_dirs, spark.sparkContext.defaultParallelism)


def balanced_salt(pid: Column, n_dirs: int, n_tasks: int) -> Column:
    """The salt that sends directory ``pid``∈[0,n_dirs) to task
    ``pid mod n_tasks``, so every task holds the same number of
    directories (±1). An out-of-range pid fails the task instead of
    silently landing every such row on one partition; the check is part
    of the same expression, no extra job."""
    pid = pid.cast("int")
    return F.when(
        (pid < 0) | (pid >= n_dirs),
        F.raise_error(
            F.concat(F.lit(f"partition id out of range [0, {n_dirs}): "), pid.cast("string"))
        ),
    ).otherwise(F.element_at(F.lit(partition_salts(n_tasks)), F.pmod(pid, F.lit(n_tasks)) + 1))


def balanced_repartition(df: DataFrame, pid: Column, n_dirs: int, n_tasks: int) -> DataFrame:
    """Directories dealt evenly over ``n_tasks`` shuffle partitions.
    Hashing a few dozen directory keys into the shuffle partitions
    collides ~1/e of them, and AQE then coalesces the rest onto uneven
    tasks, so a few stragglers write several directories serially.
    Salting through ``partition_salts`` places them exactly, with
    deterministic row placement (retry-safe)."""
    return df.repartition(n_tasks, balanced_salt(pid, n_dirs, n_tasks))


def write_partitioned(
    df: DataFrame, out: str, layout: Layout, radices: tuple | None
) -> None:
    """Overwrite ``out`` with ``df`` partitioned by ``layout.parts``, one
    file per directory. ``radices`` bounds each directory column, the
    directory id being their mixed-radix number; None means ``df`` is
    already balanced by the caller. Rows are sorted by directory, then
    ``layout.sort``, which is the order the partitioned writer needs
    when one task writes several directories."""
    if radices is not None:
        pid = F.lit(0)
        for col, radix in zip(layout.parts, radices):
            pid = pid * radix + F.col(col).cast("int")
        n_dirs = math.prod(radices)
        df = balanced_repartition(df, pid, n_dirs, write_tasks(df.sparkSession, n_dirs))
    df.sortWithinPartitions(*layout.parts, *layout.sort).write.mode("overwrite").partitionBy(
        *layout.parts
    ).parquet(out)


def write_base(
    df: DataFrame, path: str, layout: Layout, radices: tuple | None
) -> None:
    """The balanced write of ``{path}/base``, staged and swapped in: a
    crash mid-write never leaves a half-written directory where the live
    base was."""
    spark = df.sparkSession
    storage.recover_swap(spark, f"{path}/base")
    write_partitioned(df, f"{path}/base__staged", layout, radices)
    storage.swap_dir(spark, f"{path}/base", f"{path}/base__staged")


def base_committed(spark, path: str) -> bool:
    """True only when ``{path}/base`` holds a COMMITTED write (the
    committer's ``_SUCCESS``). Gating on bare existence would append to
    an interrupted build's partial base and serve an index missing the
    corpus."""
    storage.recover_swap(spark, f"{path}/base")
    return storage.exists(spark, f"{path}/base/_SUCCESS")


def refuse_stale_tiers(spark, path: str, owner: str) -> None:
    """A rebuild writes its corpus at ``seq=0``, so a surviving log row
    would outrank it in the max-seq fold and an old tombstone would kill
    every re-ingested key. Rebuilds therefore refuse while a log or
    tombstone tier exists."""
    stale = [t for t in ("log", "tombstones") if storage.exists(spark, f"{path}/{t}")]
    if stale:
        raise ValueError(
            f"{owner}: refusing to rebuild {path} while merge-on-read "
            f"tier(s) {stale} exist — the rebuild's seq=0 rows would be "
            f"outranked by stale log entries and killed by old "
            f"tombstones (silent data loss). Run the family's compact "
            f"first, or build into a fresh path and swap pointers."
        )


# ---------------------------------------------------------------------------
# Read view
# ---------------------------------------------------------------------------


def tiers(spark, path: str, layout: Layout, base: str = "base", log: str = "log") -> DataFrame:
    """``base`` ∪ ``log`` (absent log → base alone), normalized."""
    storage.recover_swap(spark, f"{path}/{base}")
    view = layout.norm(spark.read.parquet(f"{path}/{base}"))
    if storage.exists(spark, f"{path}/{log}"):
        view = view.unionByName(layout.norm(spark.read.parquet(f"{path}/{log}")))
    return view


def read(spark, path: str, layout: Layout) -> DataFrame:
    """The live view: ``tiers`` minus tombstoned keys. The base keeps
    its partition pruning — the tombstone join is a broadcast above the
    pruned scan — and the log is a bounded full scan, its size capped
    by the compaction cadence."""
    return apply_tombstones(spark, tiers(spark, path, layout), f"{path}/tombstones")


def read_tier(spark, path: str, tier: str, recover) -> DataFrame:
    """One live tier of a two-tier family, read through
    ``storage.read_with_recovery`` with the family's joint ``recover``."""
    return storage.read_with_recovery(
        spark, path, lambda: spark.read.parquet(f"{path}/{tier}"), recover
    )


def newest(view: DataFrame, *keys: str) -> DataFrame:
    """Merge-on-read resolution: keep each key's rows at its newest
    ``seq`` (a key appended more than once keeps only its latest
    version). One window max per key — the fold and every probe resolve
    through this one expression."""
    return (
        view.withColumn("_mx", F.max("seq").over(Window.partitionBy(*keys)))
        .filter(F.col("seq") == F.col("_mx"))
        .drop("_mx")
    )


def apply_tombstones(spark, view: DataFrame, tomb_path: str) -> DataFrame:
    """Keep a row iff its ``seq`` is newer than its key's newest
    tombstone: a delete kills every current version, and a LATER
    re-ingest (higher seq) resurrects the key."""
    if not storage.exists(spark, tomb_path):
        return view
    raw = spark.read.parquet(tomb_path)
    # the marker file names its own key column (vid / doc_id / vec_id)
    key = next(c for c in raw.columns if c != "seq")
    tomb = raw.groupBy(key).agg(F.max("seq").alias("__tseq"))
    return (
        view.join(F.broadcast(tomb), key, "left")
        .filter(F.col("__tseq").isNull() | (F.col("seq") > F.col("__tseq")))
        .drop("__tseq")
    )


# ---------------------------------------------------------------------------
# Append (or bootstrap), delete
# ---------------------------------------------------------------------------


def next_seq(spark, path: str, reader) -> int:
    """max(live rows' seq, tombstones' seq) + 1. The tombstone side
    matters: after a delete at seq N every surviving row has seq < N,
    and a re-ingest reusing N would tie the tombstone instead of
    out-ranking it."""
    max_seq = reader(spark, path).agg(F.max("seq")).head()[0]
    hi = max_seq if max_seq is not None else -1
    if storage.exists(spark, f"{path}/tombstones"):
        t = spark.read.parquet(f"{path}/tombstones").agg(F.max("seq")).head()[0]
        if t is not None:
            hi = max(hi, t)
    return hi + 1


def append(
    df: DataFrame,
    path: str,
    owner: str,
    bootstrap: Callable[[DataFrame], None],
    write_log: Callable[[DataFrame, int], None],
    reader,
    seq: int | None = None,
    key: str | None = None,
) -> None:
    """Append-or-bootstrap. With ``key``, the batch is deduplicated on
    it and an empty batch is a no-op. Without a committed base the batch
    IS the index: ``bootstrap`` builds it, under the lease — a streaming
    ingest already holds it, a bare caller gets it here, and the gate is
    re-checked under it (the loser of a bootstrap race appends).
    Otherwise ``write_log(batch, seq)`` commits the log file(s); ``seq``
    defaults to ``next_seq`` (a stats read — a deployment passes its
    manifest's seq and skips it)."""
    spark = df.sparkSession
    if key is not None:
        df = df.dropDuplicates([key])
        if not df.head(1):
            return
    if not base_committed(spark, path):
        if storage.lease_held_by_this_thread(path):
            bootstrap(df)
            return
        with storage.maintenance_lease(spark, path, f"{owner} bootstrap"):
            if not base_committed(spark, path):
                bootstrap(df)
                return
        # lost the bootstrap race: base is committed now — append below
    if seq is None:
        seq = next_seq(spark, path, reader)
    write_log(df, int(seq))


def write_log_file(rows: DataFrame, path: str, layout: Layout, tier: str = "log") -> None:
    """One sorted file per batch under ``{path}/{tier}``: repartition(1),
    NOT coalesce(1) — coalesce would fold the upstream partitions (Python
    GEMM or tokenizer tasks) into one serial task; the shuffle moves only
    the batch's rows."""
    rows.repartition(1).sortWithinPartitions(*layout.parts, *layout.sort).write.mode(
        "append"
    ).parquet(f"{path}/{tier}")


def delete(spark, path: str, key: str, keys, seq: int | None, reader=None) -> None:
    """Tombstone delete: one small (key, seq) marker batch appended under
    ``{path}/tombstones``; no base file is read or rewritten. ``keys`` is
    an iterable (empty → no-op) or a DataFrame of keys, written
    distributed with no driver collect. ``seq`` defaults to the max LIVE
    seq: high enough to kill every visible version, and never a number
    a future append could use (a stream's next batch id), which would
    leave a legitimate re-ingest tied with the tombstone."""
    if not isinstance(keys, DataFrame):
        keys = list(keys)
        if not keys:
            return
    if seq is None:
        max_seq = reader(spark, path).agg(F.max("seq")).head()[0]
        seq = int(max_seq) if max_seq is not None else -1
    tomb_path = f"{path}/tombstones"
    if isinstance(keys, DataFrame):
        if key in keys.columns:
            col = key
        elif len(keys.columns) == 1:
            col = keys.columns[0]
        else:
            raise ValueError(
                f"tombstone DataFrame must have a {key!r} column or a "
                f"single column; got {keys.columns}"
            )
        tomb = (
            keys.select(F.col(col).alias(key))
            .dropDuplicates()
            .withColumn("seq", F.lit(int(seq)).cast("long"))
            # ONE evaluation for the emptiness probe and the write
            .localCheckpoint(eager=True)
        )
        if tomb.head(1):  # an empty marker dir would defeat the fast path
            tomb.write.mode("append").parquet(tomb_path)
        return
    # Arrow-path createDataFrame: the pickled-row path costs seconds of
    # per-row serialization even for a 1k-key batch
    pdf = pd.DataFrame({key: keys})
    pdf["seq"] = np.int64(seq)
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(tomb_path)


# ---------------------------------------------------------------------------
# Compaction, joint recovery
# ---------------------------------------------------------------------------


def compact(spark, path: str, layout: Layout, owner: str) -> None:
    """Fold the log and tombstones into a new base, under the lease:
    snapshot both tiers' files, keep each key's newest version of the
    live view, write it through the balanced writer, swap, then drop
    exactly the snapshot. A file landing during the fold is neither
    folded nor deleted; the next compaction picks it up. The fold reads
    ``base`` while writing ``base__staged``, so it needs no checkpoint.

    The directory-column bounds for the balanced writer come from the
    tiers themselves (one aggregate over the directory columns), so a
    compaction needs no layout parameters from its caller."""
    with storage.maintenance_lease(spark, path, owner):
        consumed = {t: storage.snapshot_files(spark, f"{path}/{t}") for t in ("log", "tombstones")}
        both = tiers(spark, path, layout)
        view = apply_tombstones(spark, both, f"{path}/tombstones")
        folded = newest(view, layout.key).dropDuplicates([layout.key, *layout.fold])
        bounds = both.agg(*[F.max(c) for c in layout.parts]).head()
        radices = tuple(1 + (b if b is not None else 0) for b in bounds)
        write_base(folded, path, layout, radices)
        for tier, files in consumed.items():
            storage.drop_consumed(spark, f"{path}/{tier}", files)


def recover_joint(spark, path: str, tier_names: tuple) -> None:
    """Crash recovery for a two-tier family, called by every entry point
    before it touches the index: per-tier mid-swap rollback, then roll
    a surviving ``REBUILD_MARKER`` forward (``storage.roll_forward``).

    Recovery is itself maintenance: the marker also exists during every
    LIVE rebuild's commit window, so an unleased reader rolling it
    forward would interleave renames with the live holder's. A thread
    holding the lease recovers directly; otherwise, when work is
    pending, the lease is claimed non-blocking and recovery SKIPPED on
    refusal. A clean probe is cached for the session. Stated trade:
    after a FOREIGN-host crash the lease looks live until its ttl, so
    probes can fail loudly for up to the ttl before recovery runs."""
    if storage.lease_held_by_this_thread(path):
        storage.roll_forward(spark, path, REBUILD_MARKER, tier_names)
        return
    if storage.recovery_verdict_cached(spark, path):
        return
    gen = storage.recovery_gen(path)  # snapshot BEFORE the probes
    pending = [f"{path}/{t}__old" for t in tier_names] + [f"{path}/{REBUILD_MARKER}"]
    if not any(storage.exists(spark, p) for p in pending):
        storage.recovery_mark_clean(spark, path, gen)
        return
    try:
        with storage.maintenance_lease(spark, path, "index recover"):
            storage.roll_forward(spark, path, REBUILD_MARKER, tier_names)
    except storage.MaintenanceLeaseHeld:
        return  # a live maintainer owns this path's commit/recovery
