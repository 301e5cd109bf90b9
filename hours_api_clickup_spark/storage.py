"""Storage primitives every persisted table and index commits through.

Three layers, one module, so there is one place to read the rules and
one place to monkeypatch them in tests:

- **Filesystem** (Hadoop FileSystem via the JVM, so local, HDFS and
  object-store paths behave alike): ``exists``, ``delete``,
  ``read_file``, ``write_file_atomic``, and the stage-then-swap commit
  ``swap_dir`` with its crash rollback ``recover_swap``.
  ``replace_table`` is the one whole-table replace built from them
  (fact refresh and reindex, the dimension loads, the streaming refresh
  and the rollup state). A merge-on-read tier is consumed with
  ``snapshot_files`` before a fold and ``drop_consumed`` after it, so a
  file landing mid-fold survives. ``partition_values`` lists a
  partitioned table's directories without a Spark job.
- **Maintenance lease**: ``maintenance_lease`` is the single-maintainer
  marker file (``__maintenance_lease``) with a heartbeat, an exclusive
  claim, a claim token, dead-pid takeover and a fenced release. Index
  maintenance and the table locks hold it. ``verify_swap_ownership``
  re-reads the token at each commit point, so a holder whose lease was
  taken over after a stall refuses to publish.
- **Recovery verdict cache**: per session, the paths whose recovery
  probe came back clean. Any lease claim on a path voids its verdict;
  ``read_with_recovery`` voids it on a failed read and retries once.
"""

from __future__ import annotations

import json
import os
import socket
import threading
import time
import uuid
import weakref
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# Filesystem
# ---------------------------------------------------------------------------


def filesystem(spark, path: str):
    """(FileSystem, Path) for ``path``, resolved from the path's own
    scheme, not the cluster default."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def exists(spark, path: str) -> bool:
    fs, p = filesystem(spark, path)
    return fs.exists(p)


def delete(spark, path: str, recursive: bool = False) -> None:
    """Delete a file (or a directory with ``recursive``); absent is a no-op."""
    fs, p = filesystem(spark, path)
    if fs.exists(p):
        fs.delete(p, recursive)


def read_file(spark, path: str) -> str:
    fs, p = filesystem(spark, path)
    stream = fs.open(p)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_file_atomic(spark, path: str, content: str) -> None:
    """Write a small file through ``.tmp`` + rename: it is either absent
    or complete, never truncated. Commit markers whose content drives
    crash recovery need this."""
    fs, dst = filesystem(spark, path)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    out = fs.create(tmp, True)
    out.write(bytearray(content.encode()))
    out.close()
    if fs.exists(dst):
        fs.delete(dst, False)
    # Hadoop rename reports failure by returning False, not by throwing
    if not fs.rename(tmp, dst):
        raise IOError(f"atomic marker rename {path}.tmp -> {path} failed")


def snapshot_files(spark, dir_path: str) -> list[str]:
    """The data files (non-underscore names) of a directory, as path
    strings; ``[]`` when it is absent. A compaction folds and then drops
    exactly this list, so a file committed during the fold is never
    erased unfolded."""
    fs, p = filesystem(spark, dir_path)
    if not fs.exists(p):
        return []
    return [
        str(st.getPath())
        for st in fs.listStatus(p)
        if st.isFile() and not st.getPath().getName().startswith("_")
    ]


def partition_values(spark, dir_path: str, col: str) -> list[str]:
    """The values of ``dir_path``'s ``{col}=value`` subdirectories;
    ``[]`` when it is absent. Data files at its root are refused: Spark
    reads a directory holding root files and partitions as one or the
    other and drops the rest without an error."""
    fs, p = filesystem(spark, dir_path)
    if not fs.exists(p):
        return []
    values, stray = [], []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(f"{col}="):
            values.append(name[len(col) + 1 :])
        elif st.isFile() and not name.startswith(("_", ".")):
            stray.append(name)
    if stray:
        raise ValueError(
            f"{dir_path} holds {len(stray)} data file(s) at its root, outside "
            f"its {col}= partitions (e.g. {stray[0]}): it was written before "
            f"the table was partitioned by {col}. Rebuild it, or move those "
            f"files into {dir_path}/{col}=0/"
        )
    return values


def drop_consumed(spark, dir_path: str, files: list[str]) -> None:
    """Delete exactly ``files`` (missing ones are already-done work of a
    crashed run), then the underscore debris, then the directory itself
    with a NON-recursive delete that refuses a non-empty directory: a
    file committed after the snapshot survives for the next fold."""
    fs, dp = filesystem(spark, dir_path)
    for f in files:
        fs.delete(spark._jvm.org.apache.hadoop.fs.Path(f), False)
    if not fs.exists(dp):
        return
    for st in fs.listStatus(dp):
        if st.isFile() and st.getPath().getName().startswith("_"):
            fs.delete(st.getPath(), False)
    try:
        fs.delete(dp, False)
    except Exception:
        pass  # a new file landed after the snapshot — keep it


def swap_dir(spark, live: str, staged: str) -> None:
    """Replace directory ``live`` with ``staged`` by two renames, the
    closest a directory swap gets to an atomic pointer flip (the
    z-order file-stats manifest, one file, publishes through
    ``os.replace`` instead, which is atomic).

    Between the renames only ``live__old`` exists; ``recover_swap``,
    called by every reader and writer first, rolls it back, so a crash
    there loses the update (retryable), never the table. When the
    calling thread holds a lease covering ``live``, ownership is
    re-checked right before the destructive rename."""
    verify_swap_ownership(spark, live)
    fs, live_p = filesystem(spark, live)
    path_cls = spark._jvm.org.apache.hadoop.fs.Path
    staged_p, old_p = path_cls(staged), path_cls(live + "__old")
    if fs.exists(old_p):
        fs.delete(old_p, True)
    # each rename's return value must be checked: a failed forward
    # rename falling through to the delete would destroy the only copy
    if fs.exists(live_p) and not fs.rename(live_p, old_p):
        raise IOError(f"rename {live} -> {live}__old failed")
    if not fs.rename(staged_p, live_p):
        if fs.exists(old_p):
            fs.rename(old_p, live_p)  # keep the pre-swap state live
        raise IOError(f"rename {staged} -> {live} failed")
    fs.delete(old_p, True)


def recover_swap(spark, live: str) -> None:
    """Roll back a crashed ``swap_dir``: ``live`` missing but
    ``live__old`` present means the crash hit between the renames, so
    the old directory goes back. A ``live__old`` next to a live dir is
    garbage the next swap deletes."""
    fs, live_p = filesystem(spark, live)
    old_p = spark._jvm.org.apache.hadoop.fs.Path(live + "__old")
    if not fs.exists(live_p) and fs.exists(old_p):
        fs.rename(old_p, live_p)


def replace_table(df, path: str) -> None:
    """Replace the table at ``path`` with ``df``: roll back a crashed
    swap, write ``{path}__staged``, swap it in. A plain
    ``mode("overwrite")`` truncates the live directory at job start, so
    a failed or killed write loses the table; here the old table stays
    readable until the swap's last rename. ``df`` may read ``path``
    itself (a merge over the live table): the write goes to another
    directory, so it needs no lineage cut. ``swap_dir`` fences the
    commit when the caller holds a lease covering ``path``."""
    spark = df.sparkSession
    recover_swap(spark, path)
    staged = f"{path}__staged"
    df.write.mode("overwrite").parquet(staged)
    swap_dir(spark, path, staged)


def commit_tiers(spark, path: str, marker: str, tiers: tuple, consumed: dict) -> None:
    """Publish several staged tiers as ONE transaction. Call once every
    ``{path}/{tier}__staged`` in ``tiers`` is completely written: the
    marker (listing the ``consumed`` tier files, ``{dir: [file]}``) is the
    commit point, then the tiers are swapped in order, the consumed
    files dropped and the marker deleted. ``roll_forward`` finishes the
    same steps after a crash anywhere past the marker."""
    write_file_atomic(spark, f"{path}/{marker}", json.dumps(consumed))
    _finish_commit(spark, path, tiers, consumed)
    delete(spark, f"{path}/{marker}")


def _finish_commit(spark, path: str, tiers: tuple, consumed: dict) -> None:
    for tier in tiers:
        staged = f"{path}/{tier}__staged"
        if exists(spark, staged):
            swap_dir(spark, f"{path}/{tier}", staged)
    for tier_dir, files in consumed.items():
        drop_consumed(spark, tier_dir, files)


def roll_forward(spark, path: str, marker: str, tiers: tuple) -> None:
    """Crash recovery for ``commit_tiers``, run by the thread that owns
    maintenance on ``path``: roll back any mid-swap tier, then, if the
    marker survives, finish the commit it records. Staged tiers without
    a marker are an abandoned write, left for the next one to overwrite."""
    for tier in tiers:
        recover_swap(spark, f"{path}/{tier}")
    m = f"{path}/{marker}"
    if not exists(spark, m):
        return
    try:
        content = read_file(spark, m)
    except Exception:
        # vanished between exists() and read: its holder just finished
        if not exists(spark, m):
            return
        raise
    # an empty marker (touch-written) consumed nothing
    _finish_commit(spark, path, tiers, json.loads(content or "{}"))
    delete(spark, m)


# ---------------------------------------------------------------------------
# Maintenance lease
# ---------------------------------------------------------------------------


class MaintenanceLeaseHeld(RuntimeError):
    """Another maintainer holds this path's maintenance lease."""


class MaintenanceLeaseLost(RuntimeError):
    """This maintainer's lease was taken over mid-run (a >ttl stall let
    a successor claim it) and the loss was detected at a commit point:
    the commit is refused so the resumed holder never clobbers the
    successor's published state."""


LEASE_FILE = "__maintenance_lease"
LEASE_TTL_SEC = 3600

#: Sentinel returned when a lease file EXISTS but cannot be read. It
#: never equals a real token, so a commit-point check refuses (the safe
#: direction) and a fenced release skips its delete; the stopped
#: heartbeat then lets the ttl expire the orphan.
LEASE_UNREADABLE = "__unreadable__"

# Per-thread {lease_path: claim_token}. A lease is acquired, used and
# released on ONE thread (a foreachBatch body, a scheduler job, a CLI
# sweep); the registry lets the commit primitives re-verify ownership
# without threading a token through every unlocked core.
_HELD_LEASES = threading.local()


def held_leases() -> dict:
    d = getattr(_HELD_LEASES, "by_path", None)
    if d is None:
        d = {}
        _HELD_LEASES.by_path = d
    return d


def lease_held_by_this_thread(path: str) -> bool:
    return path in held_leases()


def covering_held_lease(target: str):
    """The (lease_path, token) this thread holds that covers ``target``:
    the lease root itself, a path under it, or the sibling
    ``{target}__lock`` form (a lease INSIDE a swapped dir would ride out
    with the swap). None when no held lease covers it."""
    for lease_path, token in held_leases().items():
        root = lease_path[: -len("__lock")] if lease_path.endswith("__lock") else lease_path
        if target == root or target.startswith(root.rstrip("/") + "/"):
            return lease_path, token
    return None


def parse_lease_fields(content: str) -> dict:
    """``k=v`` fields of a lease file body — the one parser for the
    lease wire format."""
    return dict(kv.split("=", 1) for kv in content.split() if "=" in kv)


def read_lease_token(spark, path: str) -> str | None:
    """The ``token=`` field of the live lease; None when it is ABSENT;
    ``LEASE_UNREADABLE`` when it exists but cannot be read. A transient
    I/O failure is retried, so one hiccup at a commit point does not
    discard a whole maintenance pass as a phantom takeover."""
    lease = f"{path}/{LEASE_FILE}"
    content = None
    for attempt in range(3):
        try:
            content = read_file(spark, lease)
            break
        except Exception:
            try:
                if not exists(spark, lease):
                    return None  # genuinely absent (released/taken)
            except Exception:
                pass  # even the probe failed: retry, then give up
            if attempt == 2:
                return LEASE_UNREADABLE
            time.sleep(0.1)
    return parse_lease_fields(content).get("token")


def acquire_lease(spark, path: str, owner: str, ttl_sec: int = LEASE_TTL_SEC) -> str:
    """Claim the single-maintainer lease on ``path``: a marker file at
    ``{path}/__maintenance_lease`` stamped with owner, host, pid and a
    claim token, which is returned. A racing maintainer gets a loud
    ``MaintenanceLeaseHeld`` instead of a silent wrong answer.

    Staleness is two-tier: a holder on THIS host whose pid is gone is
    presumed crashed at once (a killed ingest must not block its own
    restart for the whole ttl); anything else waits out ``ttl_sec`` by
    mtime. The claim is an exclusive create (``_claim``), so takers
    racing for a free lease resolve to one winner. Best-effort by
    design: it turns an operator mistake into an error; it is not a
    distributed lock."""
    fs, lease = filesystem(spark, f"{path}/{LEASE_FILE}")
    host = socket.gethostname()
    if fs.exists(lease):
        try:
            age = time.time() - fs.getFileStatus(lease).getModificationTime() / 1000.0
        except Exception:
            age = 0.0  # raced a concurrent claim: treat as live
        if age <= ttl_sec and not _lease_holder_known_dead(spark, path, host):
            raise MaintenanceLeaseHeld(
                f"maintenance lease at {path}/{LEASE_FILE} is live "
                f"(age {age:.0f}s <= ttl {ttl_sec}s) — another compact, "
                f"ingest, sync or store publish is running; {owner!r} "
                f"must wait or the holder must release/crash past the ttl"
            )
        fs.delete(lease, False)  # stale: holder presumed crashed
    token = uuid.uuid4().hex
    body = f"{owner} host={host} pid={os.getpid()} t={int(time.time())} token={token}"
    try:
        _claim(fs, lease, body.encode())
    except Exception as exc:
        raise MaintenanceLeaseHeld(
            f"lost the lease race at {path}/{LEASE_FILE}: {exc}"
        ) from None
    # maintenance is about to mutate this path: cached "no recovery
    # pending" verdicts are void until a full probe proves clean again
    recovery_invalidate(path)
    return token


def _claim(fs, lease, body: bytes) -> None:
    """Create the lease file only if it is absent, in one atomic step,
    and write ``body``. Hadoop's local filesystem implements
    ``create(overwrite=False)`` as exists-then-create, which lets
    several racing takers all win; a ``file:`` lease is therefore
    claimed with an ``O_EXCL`` open. Elsewhere ``create(overwrite=False)``
    is kept: HDFS makes it atomic."""
    if fs.getUri().getScheme() == "file":
        local = fs.makeQualified(lease).toUri().getPath()
        os.makedirs(os.path.dirname(local), exist_ok=True)
        with os.fdopen(os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY), "wb") as f:
            f.write(body)
        return
    out = fs.create(lease, False)
    try:
        out.write(bytearray(body))
    finally:
        out.close()


def _lease_holder_known_dead(spark, path: str, host: str) -> bool:
    """True only when the lease names THIS host and its pid is gone —
    the one case staleness is provable without waiting out the ttl."""
    try:
        fields = parse_lease_fields(read_file(spark, f"{path}/{LEASE_FILE}"))
        if fields.get("host") != host:
            return False
        pid = int(fields["pid"])
    except Exception:
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return True
    except PermissionError:
        return False  # alive under another uid
    return False


def release_lease(spark, path: str, token: str | None = None) -> None:
    """Delete the lease — with a ``token``, only while the lease still
    carries it: after a takeover the file belongs to the successor."""
    if token is not None and read_lease_token(spark, path) != token:
        return
    delete(spark, f"{path}/{LEASE_FILE}")


def acquire_lease_with_retry(
    spark,
    path: str,
    owner: str,
    ttl_sec: int = LEASE_TTL_SEC,
    wait_s: float = 0.0,
    poll_s: float = 5.0,
) -> str:
    """``acquire_lease`` retried every ``poll_s`` until ``wait_s`` has
    passed, then re-raised. A streaming batch colliding with a scheduled
    compact stalls briefly instead of failing the whole query."""
    deadline = time.monotonic() + max(wait_s, 0.0)
    while True:
        try:
            return acquire_lease(spark, path, owner, ttl_sec)
        except MaintenanceLeaseHeld:
            remaining = deadline - time.monotonic()
            if remaining <= 0:
                raise
            time.sleep(min(poll_s, remaining))


@contextmanager
def maintenance_lease(
    spark,
    path: str,
    owner: str,
    ttl_sec: int = LEASE_TTL_SEC,
    wait_s: float = 0.0,
):
    """``with maintenance_lease(spark, path, "lsh_index_compact"): ...``
    — held around every mutating maintenance section and released on
    any exit, so a failed compact never wedges the path.

    Deliberately NOT re-entrant: a compact fired from a scheduler thread
    while a streaming batch holds the lease in the same driver is the
    race this exists to refuse. Sections that legitimately nest (an
    append's bootstrap build) call the unlocked cores instead.

    A heartbeat re-touches the lease every ttl/4, so a legitimate pass
    outlasting the ttl is not stolen mid-run; it stops quietly once the
    lease file is gone."""
    token = acquire_lease_with_retry(spark, path, owner, ttl_sec, wait_s=wait_s)
    held_leases()[path] = token
    stop = threading.Event()

    def _heartbeat() -> None:
        fs, lease = filesystem(spark, f"{path}/{LEASE_FILE}")
        while not stop.wait(max(ttl_sec / 4.0, 0.05)):
            try:
                fs.setTimes(lease, int(time.time() * 1000), -1)
            except Exception:
                return  # lease gone: stop quietly

    threading.Thread(target=_heartbeat, daemon=True, name=f"lease-heartbeat {owner}").start()
    try:
        yield
    finally:
        stop.set()
        held_leases().pop(path, None)
        release_lease(spark, path, token)


def verify_swap_ownership(spark, target: str) -> None:
    """The commit-point ownership fence: when the calling thread holds a
    lease covering ``target``, re-read it and raise
    ``MaintenanceLeaseLost`` on a token mismatch. ``swap_dir`` calls it
    before its destructive rename; a commit that swaps no directory
    (``operators.zorder.publish_file_stats``) calls it directly.
    Unleased callers are not fenced."""
    held = covering_held_lease(target)
    if held is None:
        return
    lease_path, token = held
    if read_lease_token(spark, lease_path) != token:
        held_leases().pop(lease_path, None)  # lost: stop fencing it
        raise MaintenanceLeaseLost(
            f"maintenance lease at {lease_path}/{LEASE_FILE} no "
            f"longer carries this holder's claim token — a "
            f"successor took over after a >ttl stall; refusing to "
            f"publish {target} over its work"
        )


# ---------------------------------------------------------------------------
# Recovery verdict cache
# ---------------------------------------------------------------------------

# Per live SparkSession, the index paths whose recovery probe came back
# clean: the probe costs a few exists() rounds per probe/append, pure
# overhead once a path is known clean. Every lease claim invalidates the
# path (``acquire_lease`` is the chokepoint for all maintenance), so the
# full check re-runs after any maintenance. A FOREIGN process crashing
# mid-swap is not seen by the cached verdict, but it surfaces as a
# missing live dir, and ``read_with_recovery`` voids the verdict and
# self-heals on that read failure.
_RECOVERY_CLEAN: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_RECOVERY_LOCK = threading.Lock()
#: Per-path invalidation generation: a lease claim landing between a
#: thread's clean probes and its mark_clean bumps it, and the stale mark
#: is refused.
_RECOVERY_GEN: dict = {}


def recovery_gen(path: str) -> int:
    with _RECOVERY_LOCK:
        return _RECOVERY_GEN.get(path, 0)


def recovery_verdict_cached(spark, path: str) -> bool:
    paths = _RECOVERY_CLEAN.get(spark)
    return paths is not None and path in paths


def recovery_mark_clean(spark, path: str, gen: int | None = None) -> None:
    with _RECOVERY_LOCK:
        if gen is not None and _RECOVERY_GEN.get(path, 0) != gen:
            return  # invalidated since the caller's probes: stale verdict
        _RECOVERY_CLEAN.setdefault(spark, set()).add(path)


def recovery_invalidate(path: str) -> None:
    # every session's verdict for this path drops — claims are rare
    # next to probes, so this beats plumbing the session through
    with _RECOVERY_LOCK:
        _RECOVERY_GEN[path] = _RECOVERY_GEN.get(path, 0) + 1
        for paths in _RECOVERY_CLEAN.values():
            paths.discard(path)


def read_with_recovery(spark, index_path: str, read_fn, recover):
    """Run ``read_fn`` (an eager index read); on failure void the cached
    verdict, run the family's full ``recover`` and retry once. Free on
    the clean path; heals a foreign maintainer's mid-swap crash that
    the optimistic cache did not see."""
    try:
        return read_fn()
    except Exception:
        recovery_invalidate(index_path)
        recover(spark, index_path)
        return read_fn()
