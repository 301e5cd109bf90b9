"""Z-order (Morton) clustering: multi-dimensional data locality for
file/row-group skipping.

A table sorted by one column prunes scans filtered on THAT column only;
a 2-D box query on (x, y) over an x-sorted layout still reads every
file for the y predicate. Interleaving the bits of bucketized x and y
into a single z-value and range-partitioning + sorting the write on it
bounds BOTH columns' min/max per file, so parquet footer stats skip
files/row groups for predicates on either dimension — the technique
behind Delta/Iceberg Z-ORDER table layout (public docs; same math as
the classic Morton curve).

The bit interleave is plain integer arithmetic (``(x div 2^i) % 2``
spelled per engine), so the z-values themselves are engine-portable and
the registry query ``zorder_cell_stats`` carries a full DuckDB
hash-match oracle. All Catalyst-side expressions are codegen'd — no
UDFs anywhere.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hours_api_clickup_spark import storage


def z_value_sql(x: str, y: str, bits: int = 8, intdiv: str = "div") -> str:
    """SQL text computing the Morton interleave of two bucketized
    non-negative ints in [0, 2^bits): bit i of x lands at position 2i,
    bit i of y at 2i+1. ``intdiv`` is the engine's integer-division
    operator (Spark ``div``, DuckDB ``//``); the rest is shared."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x}) {intdiv} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({y}) {intdiv} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


def z_value(x: Column | str, y: Column | str, bits: int = 8) -> Column:
    """Column form of ``z_value_sql`` (codegen'd shift/mask sum)."""
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftright(xc.cast("long"), i).bitwiseAND(F.lit(1)) * F.lit(
            1 << (2 * i)
        )
        z = z + F.shiftright(yc.cast("long"), i).bitwiseAND(F.lit(1)) * F.lit(
            1 << (2 * i + 1)
        )
    return z


def zorder_write(
    df: DataFrame,
    x: Column,
    y: Column,
    path: str,
    bits: int = 8,
    n_files: int | None = None,
) -> None:
    """Write ``df`` z-ordered on the two bucketized dimensions: range-
    partition on the z-value (balanced files along the curve — Spark
    samples split points) and sort within each partition so parquet
    row-group min/max stats are tight on z, and therefore bounded on
    BOTH x and y (each z-range is a small set of Morton quadrants).

    Scale shape: one range exchange of the z column + the payload;
    no global sort into a single task, no skew (the curve spreads
    hot spots of either single dimension across quadrants)."""
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    # collision-safe temp name: withColumn REPLACES an existing column,
    # so a user table already carrying "__z" would lose it through the
    # final drop (review r8)
    zcol = "__z"
    while zcol in df.columns:
        zcol = "_" + zcol
    out = df.withColumn(zcol, z_value(x, y, bits))
    out.repartitionByRange(n, F.col(zcol)).sortWithinPartitions(
        zcol
    ).drop(zcol).write.mode("overwrite").parquet(path)


def collect_file_stats(
    spark, path: str, stat_cols: dict[str, Column | str]
) -> dict[str, dict[str, list]]:
    """One distributed pass over a freshly-written layout: per-FILE
    min/max of each stat column, keyed by bare file name (the manifest
    survives a directory move). The driver-side result is one tiny row
    per file — bounded by the file count, never the row count."""
    df = spark.read.parquet(path)
    aggs = []
    for name, col in stat_cols.items():
        c = F.col(col) if isinstance(col, str) else col
        aggs.append(F.min(c).alias(f"__min_{name}"))
        aggs.append(F.max(c).alias(f"__max_{name}"))
    rows = df.groupBy(F.input_file_name().alias("__f")).agg(*aggs).collect()
    return {
        r["__f"].rsplit("/", 1)[-1]: {
            name: [
                _stat_value(r[f"__min_{name}"], "min"),
                _stat_value(r[f"__max_{name}"], "max"),
            ]
            for name in stat_cols
        }
        for r in rows
    }


def _stat_value(v, side: str):
    """JSON-native, ORDER-PRESERVING stat encoding (review r8 — a
    str() fallback encoded Decimal('11') as "11" < "9" and datetimes
    with a space that sorts before ISO-T bounds, so pruning dropped
    files containing matching rows). int/float/bool/str/None pass
    through; date/datetime → isoformat (ISO-T strings order like the
    instants — pass isoformat() bounds to read_pruned); Decimal →
    float widened one ulp OUTWARD on its side so rounding can never
    shrink a file's [min, max]. Unknown types refuse loudly: a silently
    wrong-ordering encoding is data loss at read time."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    import decimal
    import math

    if isinstance(v, decimal.Decimal):
        f = float(v)
        return math.nextafter(f, -math.inf if side == "min" else math.inf)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    raise TypeError(
        f"no order-preserving JSON encoding for stat type "
        f"{type(v).__name__}; cast the stat column first"
    )


def _session() -> SparkSession:
    """The session the file-stats publish fences through (the publish
    takes no DataFrame, so it takes no session either)."""
    return SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()


def _replace(spark: SparkSession, path: str, name: str, content: str) -> None:
    """Publish ``{path}/{name}`` by tmp write + ``os.replace`` (an
    atomic replace, unlike ``storage.write_file_atomic``'s
    delete-then-rename), fenced against a lost lease."""
    tmp = os.path.join(path, name + ".tmp")
    with open(tmp, "w") as f:
        f.write(content)
    storage.verify_swap_ownership(spark, path)  # fence: re-check before swap
    os.replace(tmp, os.path.join(path, name))


_FILE_STATS = "_file_stats.json"


def publish_file_stats(path: str, stats: dict[str, dict[str, list]]) -> None:
    """Publish per-file column min/max stats for a layout directory —
    ``{file_name: {col: [min, max]}}`` — the manifest a table format
    (Delta/Iceberg) keeps so scans can skip whole FILES at split
    planning. Vanilla Spark's footer-stats pruning only skips row
    groups INSIDE files the planner already scheduled; this layer
    closes that gap without the dependency. Atomic
    tmp + ``os.replace`` publish; the underscore name keeps Spark's
    parquet reader from treating it as data."""
    # ORDER-PRESERVING encoding is collect_file_stats' job
    # (``_stat_value`` — isoformat for temporals, outward-widened
    # floats for Decimals); default=str here is only the backstop that
    # keeps a direct caller's exotic type from crashing the publish
    # AFTER a successful O(corpus) write. A str() fallback does NOT
    # promise lexicographic order — do not prune on a column that
    # reached it.
    content = json.dumps(dict(sorted(stats.items())), sort_keys=True, default=str)
    _replace(_session(), path, _FILE_STATS, content)


def read_file_stats(path: str) -> dict[str, dict[str, list]] | None:
    """The published per-file stats manifest, or None when the layout
    was written without one (readers must then scan every file)."""
    p = os.path.join(path, _FILE_STATS)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def zorder_write_manifested(
    df: DataFrame,
    x: Column,
    y: Column,
    path: str,
    x_name: str,
    y_name: str,
    bits: int = 8,
    n_files: int | None = None,
    stat_cols: dict[str, Column | str] | None = None,
) -> None:
    """``zorder_write`` + a published per-file min/max manifest for the
    two z-dimensions (``publish_file_stats``).
    ``x_name``/``y_name`` name the manifest entries and, by default,
    the stored columns whose ranges are recorded; when the clustered
    values aren't stored columns, pass ``stat_cols`` mapping those
    names to expressions over the WRITTEN table that reproduce them
    (review r8 — the names-only signature made that documented workflow
    unreachable). ``read_pruned`` then skips whole files at split
    planning — the Delta/Iceberg-grade layer on top of the row-group
    pruning the layout already buys."""
    zorder_write(df, x, y, path, bits=bits, n_files=n_files)
    stats = collect_file_stats(
        df.sparkSession,
        path,
        stat_cols if stat_cols is not None else {x_name: x_name, y_name: y_name},
    )
    publish_file_stats(path, stats)


def read_pruned(
    spark, path: str, ranges: dict[str, tuple]
) -> DataFrame:
    """Manifest-pruned parquet read: drop files whose recorded
    ``[min, max]`` cannot intersect the query's closed intervals
    (``{col: (lo, hi)}``, None = unbounded on that side), then read
    only the survivors — whole-FILE skipping at split planning, which
    vanilla Spark cannot do from parquet footers alone (see
    ``scan_stats``). Correctness never depends on the manifest: callers
    still apply the real predicate on the returned frame; the manifest
    only shrinks the file list. Interval semantics are SQL BETWEEN's —
    null-rejecting, so an all-null file (stats ``[null, null]``) is
    safely skipped for any CONSTRAINED column (a fully-unbounded
    ``(None, None)`` range constrains nothing and keeps it). Files the
    manifest doesn't know (e.g. appended after publish) are always
    KEPT; with no manifest at all this degrades to the plain full read.
    Bound types must match the manifest's encoding (``_stat_value``):
    plain numbers for numeric columns, ``isoformat()`` strings for
    date/timestamp columns, floats for Decimal columns."""
    stats = read_file_stats(path)
    if stats is None:
        return spark.read.parquet(path)

    def survives(cols: dict[str, list]) -> bool:
        for name, bounds in ranges.items():
            if name not in cols:
                continue  # unknown column: cannot prune on it
            lo, hi = bounds
            if lo is None and hi is None:
                continue  # fully unbounded: no predicate, no pruning —
                # an all-null file must stay visible (review r8)
            mn, mx = cols[name]
            if mn is None or mx is None:
                return False  # all-null file; BETWEEN rejects nulls
            if lo is not None and mx < lo:
                return False
            if hi is not None and mn > hi:
                return False
        return True

    # recursive walk (review r8): a nested/partitioned layout's files
    # live below subdirectories — a top-level-only listing would find
    # nothing and silently return an empty frame, violating the
    # "unknown files are always KEPT" invariant. Manifest keys are bare
    # file names (unique: Spark part files carry a UUID).
    data_files = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")) and f.endswith(".parquet"):
                data_files.append(os.path.join(root, f))
    keep = [
        p
        for p in data_files
        if os.path.basename(p) not in stats
        or survives(stats[os.path.basename(p)])
    ]
    if not keep:
        # every file pruned: an empty frame with the table's schema
        return spark.read.parquet(path).where(F.lit(False))
    # basePath keeps Hive partition columns in the schema when reading
    # explicit leaf files — without it a partitioned layout's pruned
    # read would silently lose its partition columns while the
    # no-manifest and all-pruned branches kept them (review r8)
    return spark.read.option("basePath", path).parquet(*keep)


def scan_stats(df) -> tuple[int, int]:
    """(files, rows) the LAST materialization of ``df`` actually pulled
    through its parquet scan node. In vanilla Spark (no table-format
    metadata layer) footer stats cannot skip files at SPLIT planning —
    every file becomes a task and ``numFiles`` stays constant; the
    pruning a clustered layout buys happens at ROW-GROUP level inside
    the reader (pushed predicates vs row-group min/max), which shows up
    as the scan's ``number of output rows``. A Delta/Iceberg manifest
    would additionally skip whole files up front; this helper measures
    the engine-native effect so tests assert the payoff end-to-end."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()

    def walk(node):
        try:
            metrics = node.metrics()
            found = {}
            it = metrics.iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() in ("numFiles", "numOutputRows"):
                    found[kv._1()] = int(kv._2().value())
            if "numFiles" in found:
                return found["numFiles"], found.get("numOutputRows", -1)
        except Exception:
            pass
        # the AQE root wraps the real tree and reports no children —
        # descend into the executed subtree it finalized
        if "AdaptiveSparkPlan" in node.getClass().getSimpleName():
            return walk(node.executedPlan())
        n = node.children().size() if hasattr(node, "children") else 0
        for i in range(n):
            got = walk(node.children().apply(i))
            if got is not None:
                return got
        return None

    got = walk(plan)
    if got is None:
        raise ValueError("no FileScan metrics in the executed plan")
    return got
