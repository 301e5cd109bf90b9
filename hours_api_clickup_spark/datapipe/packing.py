"""Sequence packing: global token offsets + context-window chunk spans.

GPT-style training pipelines concatenate the whole curated corpus into
one token stream and slice it into fixed-length context windows; the
data-engineering half of that is assigning every document its offset
range [start_offset, end_offset) in the global stream and the chunk ids
its bytes land in (documents straddle chunk boundaries by design —
packing never pads per document).

The core primitive is a GLOBAL prefix sum in a deterministic order —
the classic scale trap: a naive ``Window.orderBy(id)`` with no
partition key collapses the whole table into ONE partition. This
implementation is the textbook two-phase distributed scan (Blelloch,
"Prefix sums and their applications", CMU-CS-90-190):

  1. ``repartitionByRange(id)`` — ascending id ranges map to ascending
     physical partitions (sampled range exchange + local sort; no
     global sort).
  2. Per-partition running sum, keyed by ``spark_partition_id()`` —
     local work only — materialized once; each partition's total rides
     that same job as an ``Observation``.
  3. The driver turns the P totals into exclusive prefix offsets and
     each row looks its partition's offset up in a literal map — no
     join, no broadcast job.

With a ``group_col`` (the corpus build's ``split``) every group gets its
own stream starting at 0, all in the SAME pass: the range exchange is
keyed by ``(group, id)``, so a group's rows occupy a run of consecutive
partitions and a partition may straddle two groups; the totals are per
``(partition, group)`` and the prefix runs within each group. One range
exchange serves every split, where a pass per split paid its own
count, sample, exchange and write jobs. ``write_training_shards`` with
``splits`` likewise writes every split's shards in one job and swaps
each split's directory into place.

Wall-clock scales as one range exchange + one local pass, independent
of total size per executor; the only driver-side data is P totals
(P × groups with a ``group_col``).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from hours_api_clickup_spark import storage


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def global_prefix_offsets(
    df: DataFrame,
    id_col: str,
    size_col: str,
    num_partitions: int | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """Add ``start_offset``/``end_offset``: the half-open range each row
    occupies in the stream formed by concatenating rows in ``id_col``
    order — one stream per ``group_col`` value when given, each starting
    at 0. Two-phase distributed prefix sum — see module docstring.

    Preconditions: ``id_col`` values must be unique (within a group)
    (ties make the within-partition order — and therefore the offsets —
    nondeterministic) and ``size_col`` may be any sign (per-partition
    totals are computed with SUM, which is correct for negative sizes
    too; max(running sum) would not be)."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    groups = [group_col] if group_col is not None else []
    keys = ["__pid", *groups]
    w_order = Window.partitionBy(*keys).orderBy(_c(id_col))
    w_local = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # The per-row running sums and the per-(partition, group) totals
    # must come from ONE range exchange: two exchanges each sample their
    # own range boundaries (ReuseExchange is an optimization, not a
    # guarantee — observed to split under a struct sort key) and would
    # disagree on which rows live in which __pid → silently corrupt
    # offsets. So the running sums are materialized once (eager
    # localCheckpoint — same hazard and fix as operators/quantiles.py),
    # and the totals ride that same job as an Observation: each
    # (partition, group)'s last row reports its running sum, so the
    # driver sees P totals per group and no job of their own.
    obs = Observation()
    local = (
        df.repartitionByRange(n, *groups, _c(id_col))
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__local_cum", F.sum(_c(size_col)).over(w_local))
        # the same window spec as the running sum: one Window operator
        .withColumn("__last", F.lead(F.lit(1)).over(w_order).isNull())
    )
    local = (
        local.observe(
            obs,
            F.collect_list(
                F.when(F.col("__last"), F.struct(*keys, "__local_cum"))
            ).alias("totals"),
        )
        .drop("__last")
        .localCheckpoint()
    )
    # exclusive prefix of the totals in partition order, per group; a
    # SUM ignores NULL sizes, and so does this
    cum_type = local.schema["__local_cum"].dataType
    offsets: dict = {}
    running: dict = {}
    for *key, total in sorted(obs.get["totals"], key=lambda r: r[0]):
        g = tuple(key[1:])
        offsets[tuple(key)] = running.get(g, 0)
        running[g] = running.get(g, 0) + (total or 0)
    # look each row's offset up in a literal map keyed by (partition,
    # group): a join would cost a broadcast job for P rows per group
    def key(cols):
        return F.struct(*[c.alias(f"k{i}") for i, c in enumerate(cols)])

    offset = F.lit(0).cast(cum_type)  # no rows: nothing to look up
    if offsets:
        table = F.create_map(
            *[x for k, off in offsets.items()
              for x in (key(map(F.lit, k)), F.lit(off).cast(cum_type))]
        )
        offset = table[key(map(F.col, keys))]
    return (
        local.withColumn("end_offset", F.col("__local_cum") + offset)
        .withColumn("start_offset", F.col("end_offset") - _c(size_col))
        .drop("__pid", "__local_cum")
    )


def pack_into_chunks(
    df: DataFrame,
    id_col: str,
    size_col: str,
    chunk_size: int,
    num_partitions: int | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """Assign each row its global offsets and the fixed-size chunk span
    [start_chunk, end_chunk] it occupies — within its ``group_col``
    value's own stream when given. Rows with size 0 are dropped (they
    occupy no chunk). A downstream shard writer groups by
    ``start_chunk div chunks_per_shard`` to emit training shards."""
    sized = df.filter(_c(size_col) > 0)
    with_offsets = global_prefix_offsets(
        sized, id_col, size_col, num_partitions, group_col
    )
    return with_offsets.select(
        *df.columns,
        "start_offset",
        "end_offset",
        F.expr(f"start_offset div {int(chunk_size)}").alias("start_chunk"),
        F.expr(f"(end_offset - 1) div {int(chunk_size)}").alias("end_chunk"),
    )


def write_training_shards(
    packed: DataFrame,
    out_dir: str,
    chunks_per_shard: int,
    splits: Sequence[str] | None = None,
) -> None:
    """Materialize a packed corpus as training shards: one directory per
    ``shard_id = start_chunk div chunks_per_shard``, each written by a
    single task (repartition on the shard key) so a shard's contents are
    deterministic and a trainer streams shard files independently.

    With ``splits`` (rows packed per value of their ``split`` column, see
    ``pack_into_chunks(group_col="split")``) every listed split lands in
    ``{out_dir}/{split}/shard_id=N`` — the column stays in the files —
    from ONE write: the rows go to ``{out_dir}/__staged`` partitioned by
    the split's index, then each split's directory is swapped into
    place (``storage.swap_dir``). A listed split with no rows gets an
    empty directory, as its own write would have left.

    Shard size is bounded by construction (chunks_per_shard × chunk_size
    units), so one-task-per-shard is load-balanced by design — pick
    chunks_per_shard so a shard is a few hundred MB: large enough to
    amortize file overhead, small enough that loss of one task's work on
    retry is cheap.
    """
    keys = ["shard_id"]
    target = out_dir
    if splits is not None:
        names = list(splits)
        keys = ["__split", "shard_id"]
        target = f"{out_dir}/__staged"
        packed = packed.filter(F.col("split").isin(names)).withColumn(
            "__split", F.array_position(F.array(*map(F.lit, names)), F.col("split"))
        )
    with_shard = packed.withColumn(
        "shard_id", F.expr(f"start_chunk div {int(chunks_per_shard)}")
    )
    (
        with_shard.repartition(*keys)
        # sort inside each shard task: repartition alone delivers rows
        # in shuffle-fetch order, which varies run to run — the
        # docstring's determinism claim needs a total order, and
        # start_offset is unique per row (within a split) (review r8)
        .sortWithinPartitions(*keys, "start_offset")
        .write.mode("overwrite")
        .partitionBy(*keys)
        .parquet(target)
    )
    if splits is None:
        return
    spark = packed.sparkSession
    for i, name in enumerate(names, start=1):
        staged = f"{target}/__split={i}"
        # the marker a per-split write leaves; creates the empty
        # directory of a split without shards
        storage.write_file_atomic(spark, f"{staged}/_SUCCESS", "")
        storage.swap_dir(spark, f"{out_dir}/{name}", staged)
    storage.delete(spark, target, recursive=True)
