"""Small-files compaction for parquet table directories.

Long-lived tables accumulate small files (streaming micro-batches,
frequent small appends, over-parallel writes); at scale the cost is
real — every file is a task, a footer read, an object-store request.
Compaction rewrites a directory into ~target-sized files. The ANN index
log (`datapipe/similarity.py::lsh_index_compact`) is the special case
with merge semantics; this operator is the generic layout-only form:
row content is preserved exactly, only the file layout changes.
"""

from __future__ import annotations

import math

from hours_api_clickup_spark import storage


def dir_file_stats(spark, path: str) -> tuple[int, int]:
    """(n_files, total_bytes) of the parquet data files under ``path``."""
    fs, p = storage.filesystem(spark, path)
    n, total = 0, 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.endswith(".parquet"):
            n += 1
            total += st.getLen()
    return n, total


def compact_small_files(
    spark,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    _inject_before_drift_check=None,
) -> int:
    """Rewrite the (non-partitioned) parquet directory at ``path`` into
    ``ceil(total_bytes / target_bytes)`` files; returns the new file
    count. Content-preserving: same rows, new layout.

    The rewrite stages into ``{path}__staged`` and commits via the
    index family's two-rename swap (live → ``__old``, staged → live,
    drop ``__old``; rename returns checked), with crash recovery rolled
    in before the stats read — a kill at any point leaves either the
    old or the new layout recoverable, never a missing table (review
    r6: the previous delete-then-rename lost the table if the process
    died between the two calls). Row order within files is not
    preserved — parquet tables carry no order contract; pair with an
    explicit sort column upstream (e.g. zorder_write) when layout
    locality matters.

    Lost-append protection (r9): unlike the index compactors, this
    generic form swaps the WHOLE directory, so a file appended during
    the O(table) rewrite cannot simply be left for the next compact —
    the swap would erase it. Three layers: (1) the rewrite reads
    EXACTLY the files listed at start, never "whatever is there at
    read time"; (2) maintainers exclude each other via the shared
    lease, held in a ``{path}__lock`` SIBLING (a lease inside the dir
    would ride out with the swap); (3) immediately before the swap the
    listing is re-checked and any drift aborts loudly — staged output
    dropped, live table untouched, caller retries. The residual window
    is the re-list → swap gap (milliseconds, vs the whole rewrite
    before); plain ``df.write.mode("append")`` writers are not leased,
    so quiescing them remains the deployment's contract — the drift
    check turns a violation into an error, not a lost file."""
    storage.recover_swap(spark, path)
    with storage.maintenance_lease(spark, f"{path}__lock", "compact_small_files"):
        n_files, total = dir_file_stats(spark, path)
        n_out = max(1, math.ceil(total / target_bytes))
        if n_files <= n_out:
            return n_files

        before = set(storage.snapshot_files(spark, path))
        staged = f"{path}__staged"
        # read EXACTLY the snapshot: a file landing mid-rewrite is
        # neither folded nor silently dropped — it trips the drift
        # check below instead
        df = spark.read.parquet(*sorted(before))
        # coalesce, not repartition: layout-only rewrite should not
        # shuffle — each output task concatenates a set of input files.
        # (coalesce's serial-read behavior is fine here: inputs are
        # plain file scans, not Python stages.)
        df.coalesce(n_out).write.mode("overwrite").parquet(staged)
        if _inject_before_drift_check is not None:
            _inject_before_drift_check()
        if set(storage.snapshot_files(spark, path)) != before:
            storage.delete(spark, staged, recursive=True)
            raise RuntimeError(
                f"compact_small_files: directory {path} changed during "
                f"the rewrite (concurrent append?) — aborted without "
                f"touching the live table; retry when writes quiesce"
            )
        storage.swap_dir(spark, path, staged)
    return dir_file_stats(spark, path)[0]
