"""Similarity search over embedding columns (array<float>).

ANN structures follow the published formulations: random-hyperplane
LSH for cosine (Charikar, STOC 2002) with multiprobe (Lv et al.,
"Multi-probe LSH", VLDB 2007), and IVF coarse quantization (the
inverted-file stage of Jégou et al., "Product quantization for nearest
neighbor search", TPAMI 2011).

- ``brute_force_topk``: exact cosine top-k. Distributed TakeOrdered —
  each partition keeps its local top-k, the driver merges k·p rows.
  The correctness baseline at any scale where a full scan is acceptable.
- ``lsh_bucketed_topk``: random-hyperplane LSH scale path. Signatures
  come from deterministic pseudo-random hyperplanes (hash-derived ±1
  components), candidates share the query's bucket under ≥1 of several
  signature tables; exact cosine re-ranks candidates.
- ``embedding_near_dup_pairs``: all-pairs cosine ≥ threshold (bounded
  O(n²) verifier; pairs at scale should go through the LSH buckets).

Vector math is higher-order Catalyst (zip_with + aggregate over doubles)
— JVM-side, no Python in the hot path.
"""

from __future__ import annotations

import dataclasses
import functools

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from hours_api_clickup_spark import storage
from hours_api_clickup_spark.datapipe import tiered

DEFAULT_PLANES = 8  # bits per signature table
DEFAULT_TABLES = 6  # signature tables (OR across tables)
DEFAULT_PROBE_RADIUS = 1  # accept buckets within this hamming of the query


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_sim(a: Column, b: Column) -> Column:
    """NULL (not NaN) when either vector has zero norm: 0/0 in Spark
    doubles is NaN, and Spark orders NaN ABOVE every real double, so a
    single zero-norm corpus vector (a failed embedding-service row)
    would silently take rank 1 of every desc top-k (review r8). NULL
    sorts last under desc and fails every >= threshold — the
    quarantine-style degradation callers want."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0, dot(a, b) / denom)


def brute_force_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
    exclude_id=None,
    vectorized: bool = True,
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.

    Scoring is an Arrow-batched pandas UDF by default — one numpy
    matrix-vector product per batch, the right shape for a full-corpus
    scan (the pure-expression path evaluates array lambdas interpreted,
    per element). orderBy+limit compiles to TakeOrderedAndProject:
    per-partition heap top-k then a k·num_partitions driver merge — no
    global sort shuffle.
    """
    if vectorized:
        qv = np.asarray([float(x) for x in query_vec], dtype=np.float64)
        qn = float(np.linalg.norm(qv))

        @pandas_udf("double")
        def _score(v: pd.Series) -> pd.Series:
            m = np.stack([np.asarray(x, dtype=np.float64) for x in v.values])
            denom = np.linalg.norm(m, axis=1) * qn
            with np.errstate(divide="ignore", invalid="ignore"):
                s = (m @ qv) / denom
            # zero-norm rows score -inf (rank last), never NaN — Spark
            # sorts NaN above every real double, so one zero vector
            # would take rank 1 of every top-k (review r8)
            s[~np.isfinite(s)] = -np.inf
            return pd.Series(s)

        from hours_api_clickup_spark.datapipe.dedup import spread

        scored = spread(df).select(
            _c(id_col).alias("nbr_id"), _score(_c(vec_col)).alias("score")
        )
    else:
        q = F.array(*[F.lit(float(x)) for x in query_vec])
        scored = df.select(
            _c(id_col).alias("nbr_id"),
            cosine_sim(_c(vec_col), q).alias("score"),
        )
    if exclude_id is not None:
        scored = scored.filter(F.col("nbr_id") != exclude_id)
    return scored.orderBy(F.col("score").desc(), F.col("nbr_id").asc()).limit(k)


M31 = 2**31
HALF31 = 2**30
M32 = 2**32
KNUTH_A = 2654435761  # ⌊2^32/φ⌋ — same multiplier as datapipe.sampling
PLANE_SALT = 0x517CC1B7


def _plane_constants(planes: int, tables: int) -> list[tuple[int, int]]:
    """One (a, b) affine pair per (table, plane), row-major — the same
    LCG-literal scheme as the MinHash permutations (dedup.affine_constants).
    Independent multipliers are what make the signature TABLES
    independent: a single multiplicative sequence evaluated at shifted
    offsets (the earlier design) is linear, so every table saw nearly
    the same hamming distance for a given vector pair and extra tables
    bought no recall."""
    from hours_api_clickup_spark.datapipe.dedup import affine_constants

    return affine_constants(tables * planes, PLANE_SALT)


def hyperplanes(dim: int, planes: int = DEFAULT_PLANES, tables: int = DEFAULT_TABLES) -> np.ndarray:
    """Deterministic ±1 hyperplanes, shape (tables, planes, dim).

    Component (t, p, d) is the parity of an affine pure-int64 hash:
    +1 ⇔ (a_{t,p}·d + b_{t,p}) mod 2³¹ < 2³⁰, with per-plane (a, b)
    literals from ``_plane_constants``. No RNG state at all — the same
    formula is evaluated identically on the driver (query signatures),
    every executor (corpus signatures), and inside the DuckDB oracle
    (``lsh_plane_sign_sql``), so there is no stored model and nothing
    engine-specific. Products stay inside int64 (a < 2³¹, d ≤ dim).
    """
    consts = _plane_constants(planes, tables)
    a = np.array([c[0] for c in consts], dtype=np.int64).reshape(
        tables, planes, 1
    )
    b = np.array([c[1] for c in consts], dtype=np.int64).reshape(
        tables, planes, 1
    )
    d = np.arange(dim, dtype=np.int64)[None, None, :]
    h = (a * d + b) % M31
    return np.where(h < HALF31, 1.0, -1.0)


def lsh_plane_sign_sql(
    t: int, p: int, d_expr: str, planes: int = DEFAULT_PLANES
) -> str:
    """DuckDB twin of one hyperplane component: ±1.0 from the same
    affine parity hash as ``hyperplanes``. ``planes`` must match the
    Spark-side plane count — it indexes the shared constant stream."""
    a, b = _plane_constants(planes, t + 1)[t * planes + p]
    return f"(CASE WHEN ({a} * {d_expr} + {b}) % {M31} < {HALF31} THEN 1.0 ELSE -1.0 END)"


def signature_of(vec, planes_mat: np.ndarray) -> list[int]:
    """Signatures of one vector for every table — pure numpy, used
    driver-side for query vectors (no Spark job)."""
    v = np.asarray(vec, dtype=np.float64)
    sigs = []
    weights = 1 << np.arange(planes_mat.shape[1])
    for t in range(planes_mat.shape[0]):
        bits = (planes_mat[t] @ v) >= 0
        sigs.append(int((bits * weights).sum()))
    return sigs


def lsh_topk_oracle_sql(
    dim: int,
    k: int = 10,
    planes: int = DEFAULT_PLANES,
    tables: int = DEFAULT_TABLES,
    probe_radius: int = DEFAULT_PROBE_RADIUS,
    query_id: int = 0,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_pred: str | None = None,
) -> str:
    """DuckDB SQL reproducing ``lsh_bucketed_topk``: the hyperplane signs
    come from the same integer parity hash, the per-table signature
    hamming test is expanded to per-bit comparisons (no 64-bit packing
    needed), and candidates re-rank by exact cosine. Generated, so the
    plane constants can't drift from the numpy implementation.
    ``exclude_pred`` (a SQL predicate over ``vid``) models index
    tombstones: deleted vids leave the candidate pool entirely."""

    def bit(t: int, p: int, vec: str) -> str:
        comp = lsh_plane_sign_sql(t, p, "d", planes=planes)
        return (
            f"(list_sum(list_transform(range(0, {dim}),"
            f" d -> {comp} * {vec}[d+1])) >= 0)"
        )

    table_conds = []
    for t in range(tables):
        terms = " + ".join(
            f"(CASE WHEN {bit(t, p, 'e.v')} <> {bit(t, p, 'q.qv')} THEN 1 ELSE 0 END)"
            for p in range(planes)
        )
        table_conds.append(f"(({terms}) <= {probe_radius})")
    cond = "\n           OR ".join(table_conds)
    not_deleted = (
        f"      AND NOT ({exclude_pred})\n" if exclude_pred else ""
    )
    return f"""
    WITH q AS (SELECT {vec_col}::DOUBLE[] AS qv FROM {table} WHERE {id_col} = {query_id}),
    e AS (SELECT {id_col} AS vid, {vec_col}::DOUBLE[] AS v FROM {table})
    SELECT vid AS nbr_id
    FROM e, q
    WHERE vid <> {query_id}
{not_deleted}      AND ({cond})
    ORDER BY list_cosine_similarity(e.v, q.qv) DESC, vid
    LIMIT {k}
    """


def add_lsh_signatures(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    planes: int = DEFAULT_PLANES,
    tables: int = DEFAULT_TABLES,
    dim: int | None = None,
) -> DataFrame:
    """Append one signature column per table (sig_0 .. sig_{T-1}).

    One Arrow-batched mapInPandas pass: signature bits for a whole batch
    are a single GEMM against the deterministic hyperplane tensor
    (executors rebuild it from seeds — nothing is shipped). At 100 TB,
    persist signatures with the corpus (computed once at ingest) and
    bucket/partition the table by sig_0 so queries become point lookups.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    from hours_api_clickup_spark.datapipe.dedup import spread

    if dim is None:
        probe = df.select(F.size(_c(vec_col)).alias("d")).head()
        if probe is None:  # empty input: nothing to infer from
            raise ValueError(
                "cannot infer vector dim from an empty DataFrame — "
                "pass dim= explicitly (review r6)"
            )
        dim = int(probe["d"])
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(f"sig_{t}", LongType()) for t in range(tables)]
    )
    n_planes, n_tables, vdim = planes, tables, dim

    def sign_batches(batches):
        pl = hyperplanes(vdim, n_planes, n_tables)
        weights = 1 << np.arange(n_planes)
        for pdf in batches:
            m = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col].values]
            )
            for t in range(n_tables):
                bits = (m @ pl[t].T) >= 0  # (n, planes)
                pdf[f"sig_{t}"] = (bits * weights).sum(axis=1).astype("int64")
            yield pdf

    return spread(df).mapInPandas(sign_batches, schema=out_schema)


def lsh_bucketed_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
    planes: int = DEFAULT_PLANES,
    tables: int = DEFAULT_TABLES,
    probe_radius: int = DEFAULT_PROBE_RADIUS,
    exclude_id=None,
) -> DataFrame:
    """Approximate top-k: candidates fall in a bucket within
    ``probe_radius`` hamming bits of the query's bucket in ≥1 signature
    table (multiprobe LSH); exact cosine re-ranks the candidates.

    Scale shape: signatures are cheap plan-literal expressions persisted
    at ingest; multiprobe enumerates planes+1 bucket keys per table
    (radius 1), so with the corpus bucketed by signature this is a
    handful of point lookups, not a scan. The popcount filter below is
    the same predicate in scan form.
    """
    dim = len(query_vec)
    sigs = add_lsh_signatures(df, vec_col, id_col, planes, tables, dim=dim)
    q_sigs = signature_of(query_vec, hyperplanes(dim, planes, tables))
    cond = F.lit(False)
    for t in range(tables):
        cond = cond | (
            F.bit_count(F.col(f"sig_{t}").bitwiseXOR(F.lit(q_sigs[t])))
            <= probe_radius
        )
    cand = sigs.filter(cond)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = cand.select(
        _c(id_col).alias("nbr_id"),
        cosine_sim(_c(vec_col), q).alias("score"),
    )
    if exclude_id is not None:
        scored = scored.filter(F.col("nbr_id") != exclude_id)
    return scored.orderBy(F.col("score").desc(), F.col("nbr_id").asc()).limit(k)


# Signatures per coarse partition directory: the index partitions on
# (t, sig div COARSE) — tables·2^planes/COARSE directories — and prunes
# to the exact sig inside each via parquet row-group min/max stats on
# the sorted sig column. Pure directory-per-sig (COARSE=1) multiplies
# tiny directories (and their per-file commit cost) ×COARSE for no
# additional pruning power.
LSH_COARSE = 16

# Signatures are the ``sig`` data column; ``(t, sb)`` the directories.
# The vector rides on the table-0 row only (``v`` is null on t ≥ 1):
# nulling it here too makes an index written with a vector on every
# table's row read like one written without, and its next compaction
# drops the copies.
LSH_LAYOUT = tiered.Layout(
    key="vid",
    parts=("t", "sb"),
    sort=("sig",),
    fold=("t",),  # one row per (vid, table) of the newest version
    norm=lambda df: df.select(
        "vid",
        F.when(F.col("t") == 0, F.col("v")).alias("v"),
        F.col("t").cast("int").alias("t"),
        F.col("sig").cast("long").alias("sig"),
        F.col("sb").cast("long").alias("sb"),
        F.col("seq").cast("long").alias("seq"),
    ),
)


def _signature_rows(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    planes: int,
    tables: int,
    dim: int | None,
) -> DataFrame:
    """(vid, v, t, sig, sb) rows for every table — ONE mapInPandas GEMM
    pass, fanned out to the ``tables`` rows per vector with an explode.
    Only the t = 0 row carries the vector; the other ``tables - 1`` rows
    hold ``v = NULL``, so each vector is stored once, not once per table.
    (The previous union-of-``tables``-selects duplicated the GEMM
    subtree per table: 6× the Python tasks for identical output.)"""
    sigs = add_lsh_signatures(df, vec_col, id_col, planes, tables, dim=dim)
    return (
        sigs.select(
            _c(id_col).alias("vid"),
            _c(vec_col).alias("v"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("t"),
                            F.col(f"sig_{t}").alias("sig"),
                        )
                        for t in range(tables)
                    ]
                )
            ).alias("ts"),
        )
        .select(
            "vid",
            F.when(F.col("ts.t") == 0, F.col("v")).alias("v"),
            F.col("ts.t").alias("t"),
            F.col("ts.sig").alias("sig"),
        )
        .withColumn("sb", (F.col("sig") / F.lit(LSH_COARSE)).cast("long"))
    )


def lsh_index_write(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    planes: int = DEFAULT_PLANES,
    tables: int = DEFAULT_TABLES,
    dim: int | None = None,
) -> None:
    """Materialize the LSH index at ingest: one row per (table, vector),
    written ``partitionBy(t, sb)`` with ``sb = sig div LSH_COARSE`` and
    the exact ``sig`` kept as a data column, sorted within each file —
    the persisted-signature form of ``lsh_bucketed_topk``.

    Signatures are computed ONCE when the corpus lands (one mapInPandas
    GEMM pass), and every later query is a partition-pruned read of a
    handful of directories plus a row-group-pruned sig filter inside
    them — never a full-corpus scan-and-sign. The vector is stored once,
    on the vector's table-0 row (``v`` is null on the other tables'
    rows), so the index holds one copy of the corpus, not ``tables``;
    the exact re-rank reads the candidates' vectors from those t = 0
    rows of the same index (``lsh_probe_topk``), with no join back to
    the corpus.

    The index is a ``datapipe.tiered`` index: ``base`` written here,
    ``log`` by ``lsh_index_append``, ``tombstones`` by
    ``lsh_index_delete``, all folded by ``lsh_index_compact``. A rebuild
    runs under the maintenance lease and refuses while a log or
    tombstone tier exists (``tiered.refuse_stale_tiers``)."""
    with storage.maintenance_lease(df.sparkSession, path, "lsh_index_write"):
        _lsh_index_write_unlocked(df, vec_col, id_col, path, planes, tables, dim)


def _lsh_index_write_unlocked(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    planes: int = DEFAULT_PLANES,
    tables: int = DEFAULT_TABLES,
    dim: int | None = None,
) -> None:
    """``lsh_index_write`` body for callers already holding the lease
    (an append's bootstrap under a streaming batch's lease)."""
    tiered.refuse_stale_tiers(df.sparkSession, path, "lsh_index_write")
    rows = _signature_rows(df, vec_col, id_col, planes, tables, dim).withColumn(
        "seq", F.lit(0).cast("long")
    )
    n_sb = max(1, -(-(1 << planes) // LSH_COARSE))
    tiered.write_base(rows, path, LSH_LAYOUT, (tables, n_sb))


def lsh_index_read(spark, path: str) -> DataFrame:
    """The live index view, base ∪ log minus tombstoned vids
    (``tiered.read``). Probes filter it: the base side keeps its
    (t, sb) partition pruning under the broadcast tombstone join
    (plan-gated)."""
    return tiered.read(spark, path, LSH_LAYOUT)


def lsh_index_delete(
    spark, path: str, vids: "list | DataFrame", seq: int | None = None
) -> None:
    """Tombstone delete: one tiny (vid, seq) file under
    ``{path}/tombstones``; no base partition is read or rewritten
    (plan-gated). Probes filter at read time, ``lsh_index_compact``
    makes it physical. ``vids`` is an id list or a DataFrame of ids
    (distributed marker write, no driver collect)."""
    tiered.delete(spark, path, "vid", vids, seq, lsh_index_read)


def lsh_index_append(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    planes: int = DEFAULT_PLANES,
    tables: int = DEFAULT_TABLES,
    dim: int | None = None,
    seq: int | None = None,
) -> None:
    """Append-only (merge-on-read) ingest — the incremental path: sign
    the batch (one mapInPandas GEMM, O(batch)) and commit it as ONE
    sorted file under ``{path}/log`` at a monotonically increasing
    ``seq``. Nothing is read back or rewritten; the commit is a single
    file, not one per touched bucket. Bootstraps the index when no base
    is committed (``tiered.append``).

    Probes score every candidate with its newest (max-``seq``) vector.
    Consistency bound: if a RE-INGESTED vector's new value changes a
    signature, the stale row in its old bucket can still make the vid a
    candidate for probes that hit only that bucket, scored with its
    newest vector, until ``lsh_index_compact`` folds the log. Appending
    NEW ids is exact immediately."""
    tiered.append(
        df,
        path,
        "lsh_index_append",
        bootstrap=lambda b: _lsh_index_write_unlocked(
            b, vec_col, id_col, path, planes, tables, dim
        ),
        write_log=lambda b, s: tiered.write_log_file(
            _signature_rows(b, vec_col, id_col, planes, tables, dim).withColumn(
                "seq", F.lit(s).cast("long")
            ),
            path,
            LSH_LAYOUT,
        ),
        reader=lsh_index_read,
        seq=seq,
        key=id_col,
    )


def lsh_index_compact(spark, path: str) -> None:
    """Fold log and tombstones into the base: each vid's newest version
    (all ``tables`` rows of it, wherever they hashed) is rewritten through
    the balanced writer, stale bucket rows and deleted vids drop out
    (``tiered.compact``). O(corpus), run on the compaction cadence; the
    maintenance lease makes a racing compact or ingest fail loudly."""
    tiered.compact(spark, path, LSH_LAYOUT, "lsh_index_compact")


def lsh_probe_topk(
    spark,
    index_path: str | DataFrame,
    query_vec: list[float],
    k: int = 10,
    planes: int = DEFAULT_PLANES,
    tables: int = DEFAULT_TABLES,
    probe_radius: int = DEFAULT_PROBE_RADIUS,
    exclude_id=None,
) -> DataFrame:
    """Top-k against a persisted LSH index (``lsh_index_write``).

    Multiprobe enumerates the radius-≤1 hamming ball of the query's
    bucket per table — (planes+1)·tables explicit (t, sig) keys — so the
    filter is an IN-list over the partition columns and the scan is
    partition-pruned (plan-gated in tests/test_plan_shapes.py). The
    candidate set is identical to the scan-form popcount filter of
    ``lsh_bucketed_topk``, so the same DuckDB oracle verifies both.

    ``index_path`` may be an already-read DataFrame of the index: a
    fresh ``spark.read.parquet`` must LIST all tables·2^planes partition
    directories driver-side before pruning can even run, which dominates
    probe latency when issuing many queries. Passing the cached reader
    amortizes that discovery (the in-session analog of a metastore's
    partition catalog); pruning still happens per query at planning.

    The candidate scan yields vids only. Their vectors come from the
    t = 0 rows of the same view (the one table that stores them),
    semi-joined to the broadcast candidate vids and resolved to each
    vid's newest version, so tombstones apply on both sides and a
    candidate surfaced by a stale bucket row of a re-ingested vid is
    scored with its newest vector."""
    if probe_radius > 1:
        raise ValueError("probe enumeration implemented for radius <= 1")
    dim = len(query_vec)
    q_sigs = signature_of(query_vec, hyperplanes(dim, planes, tables))
    cond = F.lit(False)
    for t, qs in enumerate(q_sigs):
        buckets = [qs] + (
            [qs ^ (1 << p) for p in range(planes)] if probe_radius >= 1 else []
        )
        # partition pruning on (t, sb) + row-group-pruned exact-sig
        # filter inside the coarse directories
        coarse = sorted({b // LSH_COARSE for b in buckets})
        cond = cond | (
            (F.col("t") == t)
            & F.col("sb").isin(coarse)
            & F.col("sig").isin(buckets)
        )
    reader = (
        index_path
        if isinstance(index_path, DataFrame)
        else lsh_index_read(spark, index_path)
    )
    cand_vids = reader.filter(cond).select("vid")
    vecs = reader.filter(F.col("t") == 0).join(
        F.broadcast(cand_vids), "vid", "left_semi"
    )
    if "seq" in vecs.columns:
        # merge-on-read resolution among the candidates' vector rows
        # (the candidate set is bucket-pruned and tiny, so the window is
        # a few rows, not a corpus pass)
        vecs = tiered.newest(vecs, "vid")
    cand = vecs.select("vid", "v").dropDuplicates(["vid"])
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = cand.select(
        F.col("vid").alias("nbr_id"), cosine_sim(F.col("v"), q).alias("score")
    )
    if exclude_id is not None:
        scored = scored.filter(F.col("nbr_id") != exclude_id)
    return scored.orderBy(F.col("score").desc(), F.col("nbr_id").asc()).limit(k)


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.45,
    n_blocks: int = 8,
) -> DataFrame:
    """All-pairs cosine ≥ threshold (id_a < id_b) via blocked GEMM.

    ``id_col`` must be numeric (ids are cast to long for the ordered
    pair convention; under ANSI mode a non-numeric id fails fast at the
    cast rather than silently nulling).

    A row-level self-join would ship both vectors per pair (O(n²·d)
    bytes through the shuffle) and evaluate cosine per pair in
    interpreted expressions. Instead:

      1. L2-normalize JVM-side (projection) and hash-assign each vector
         to one of n_blocks blocks (skewless for any id distribution)
      2. collect_list each block into one row
      3. join block rows pairwise with blk_a ≤ blk_b — B(B+1)/2 pairs,
         shuffling each block B/2 times instead of each vector n/2 times
      4. mapInPandas: one numpy matrix multiply per block pair, emit
         only the pairs above threshold

    This is the standard dense-scoring layout (vectorized C inner loop,
    Arrow-batched transfer); at corpus scale an LSH/IVF prefilter bounds
    which block pairs are scored at all — see lsh_bucketed_topk.

    r13 transport rewrite (guide §4.2): the collect_list(struct(did, v))
    packing shipped each block pair to Python as ONE nested cell, and
    the scorer then paid per-ROW Python to unpack it (iterrows +
    np.asarray per item — profiled at ~23 s task time for a 0.9 s-wall
    stage at sf0.1, i.e. the whole stage was deserialization, not GEMM).
    The block-pair memberships are now exploded JVM-side into FLAT
    (pa, pb, is_a, did, v) rows — same bytes through the shuffle, each
    unordered pair still scored exactly once — and the grouped Arrow
    scorer reads its matrices straight off the list-array buffers
    (reshape of the values buffer; zero per-row Python). Normalization
    stays JVM-side and bit-identical; the input is spread() first so
    the interpreted HOF normalize isn't serialized on the single scan
    partition.
    """
    from hours_api_clickup_spark.datapipe.dedup import spread

    base = spread(df.select(
        _c(id_col).cast("long").alias("did"),
        _c(vec_col).cast("array<double>").alias("v"),
    )).withColumn("n", l2_norm(F.col("v")))
    normed = base.select(
        "did",
        F.transform("v", lambda x: x / F.col("n")).alias("v"),
        F.pmod(F.xxhash64("did"), F.lit(n_blocks)).alias("blk"),
    )

    # block b's vectors are side A of pairs (b, q≥b) and side B of
    # pairs (p≤b, b) — (b, b) gets them on both sides, as the packed
    # join's items_a/items_b did
    memberships = F.array(*[
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("pa"), F.lit(q).alias("pb"),
                    F.lit(True).alias("is_a"),
                )
                for q in range(b, n_blocks)
            ],
            *[
                F.struct(
                    F.lit(p).alias("pa"), F.lit(b).alias("pb"),
                    F.lit(False).alias("is_a"),
                )
                for p in range(b + 1)
            ],
        )
        for b in range(n_blocks)
    ])
    sides = normed.select(
        "did",
        "v",
        F.explode(F.element_at(memberships, F.col("blk").cast("int") + 1)).alias("m"),
    ).select("did", "v", F.col("m.pa").alias("pa"), F.col("m.pb").alias("pb"), F.col("m.is_a").alias("is_a"))

    thr = float(threshold)

    def score(tbl):
        import numpy as np
        import pyarrow as pa

        ids = tbl.column("did").to_numpy()
        is_a = tbl.column("is_a").to_numpy()
        v = tbl.column("v").combine_chunks()
        flat = v.flatten().to_numpy()
        mat = flat.reshape(len(ids), -1)  # uniform dim, same contract np.stack had
        ia, ma = ids[is_a], mat[is_a]
        ib, mb = ids[~is_a], mat[~is_a]
        if not len(ia) or not len(ib):
            return pa.table(
                {"id_a": pa.array([], "int64"), "id_b": pa.array([], "int64")}
            )
        sims = ma @ mb.T
        ii, jj = np.nonzero(sims >= thr)
        x, y = ia[ii], ib[jj]
        same = tbl.column("pa")[0].as_py() == tbl.column("pb")[0].as_py()
        # same-block pairs appear twice (both sides hold the block):
        # keep x < y; cross-block ids can never collide (blk is a
        # function of did), so only order-normalize
        keep = (x < y) if same else (x != y)
        x, y = x[keep], y[keep]
        return pa.table(
            {"id_a": np.minimum(x, y), "id_b": np.maximum(x, y)}
        )

    # each unordered pair is scored in exactly one block-pair group, so
    # no dedup shuffle is needed afterwards
    return sides.groupBy("pa", "pb").applyInArrow(
        score, schema="id_a long, id_b long"
    )


def lsh_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.45,
    planes: int = DEFAULT_PLANES,
    tables: int = DEFAULT_TABLES,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ threshold, id_a < id_b) with an
    LSH candidate prefilter — the 100 TB shape of
    ``embedding_near_dup_pairs``, which scores every block pair.

    Candidates are pairs whose signatures lie within hamming ≤ 1 in at
    least one of the ``tables`` signature tables (the pairwise analog of
    radius-1 multiprobe): side A explodes the radius-1 ball of each
    signature, side B keeps the exact signature, and the join keys on
    (table, bucket) — a hash shuffle on the bucket, cost Σ bucket², never
    the corpus n². Survivors are verified with exact cosine, so precision
    is 1.0 by construction; recall follows the hyperplane S-curve
    1-(1-P(ham≤1))^tables with P(agree/plane) = 1 - θ/π. The signatures
    are the same deterministic hyperplane family as ``lsh_bucketed_topk``
    (persist them at ingest via ``lsh_index_write`` and this becomes a
    read of the index, not a recompute).

    ``lsh_near_dup_oracle_sql`` reproduces the full pipeline in DuckDB:
    same integer-parity plane signs, same hamming-≤1 candidate rule, same
    exact-cosine verification.
    """
    sigs = add_lsh_signatures(
        df.select(
            _c(id_col).cast("long").alias("did"),
            _c(vec_col).cast("array<double>").alias("v"),
        ),
        "v",
        "did",
        planes,
        tables,
        dim=dim,
    ).localCheckpoint(eager=False)

    ball = [
        F.struct(F.lit(t).alias("t"), key.alias("key"))
        for t in range(tables)
        for key in (
            [F.col(f"sig_{t}")]
            + [
                F.col(f"sig_{t}").bitwiseXOR(F.lit(1 << p))
                for p in range(planes)
            ]
        )
    ]
    exact = [
        F.struct(F.lit(t).alias("t"), F.col(f"sig_{t}").alias("key"))
        for t in range(tables)
    ]
    probe_side = sigs.select(
        "did", F.explode(F.array(*ball)).alias("pk")
    ).select("did", F.col("pk.t").alias("t"), F.col("pk.key").alias("key"))
    exact_side = sigs.select(
        "did", F.explode(F.array(*exact)).alias("pk")
    ).select("did", F.col("pk.t").alias("t"), F.col("pk.key").alias("key"))
    a = probe_side.alias("a")
    b = exact_side.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.did") < F.col("b.did")),
        )
        .select(F.col("a.did").alias("id_a"), F.col("b.did").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

    vecs = sigs.select("did", "v")
    # verification is Arrow-batched numpy (row-wise dot over the joined
    # pair vectors): the candidate set is O(Σ bucket²) and interpreted
    # array-HOF cosine over it dominated the query (~5× slower here).
    # r13: mapInArrow instead of the pandas_udf — the pandas hop turned
    # each vector cell into its own numpy object and np.stack-ed them
    # per row (profiled: the verify stage's task time was the
    # conversion); the matrices now come straight off the list-array
    # values buffers. Same float64 einsum/norm arithmetic on the same
    # values, so every similarity (and the pair set) is bit-identical.
    thr = float(threshold)

    def verify(batches):
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            tbl = pa.table(
                {name: rb.column(i) for i, name in enumerate(rb.schema.names)}
            )
            va = tbl.column("v_a").combine_chunks()
            vb = tbl.column("v_b").combine_chunks()
            a = va.flatten().to_numpy().reshape(n, -1)
            b = vb.flatten().to_numpy().reshape(n, -1)
            num = np.einsum("ij,ij->i", a, b)
            den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
            sim = num / np.maximum(den, 1e-300)
            keep = sim >= thr
            yield pa.RecordBatch.from_pydict(
                {
                    "id_a": tbl.column("id_a").combine_chunks().filter(
                        pa.array(keep)
                    ),
                    "id_b": tbl.column("id_b").combine_chunks().filter(
                        pa.array(keep)
                    ),
                }
            )

    return (
        cand.join(
            vecs.select(F.col("did").alias("id_a"), F.col("v").alias("v_a")),
            "id_a",
        )
        .join(
            vecs.select(F.col("did").alias("id_b"), F.col("v").alias("v_b")),
            "id_b",
        )
        .select("id_a", "id_b", "v_a", "v_b")
        .mapInArrow(verify, schema="id_a long, id_b long")
    )


def lsh_near_dup_oracle_sql(
    dim: int,
    threshold: float = 0.45,
    planes: int = DEFAULT_PLANES,
    tables: int = DEFAULT_TABLES,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB SQL reproducing ``lsh_near_dup_pairs``: per-table signature
    ints from the same integer-parity plane signs, candidates by
    bit_count(xor) ≤ 1 in ≥1 table, exact-cosine verification. Generated
    so the plane constants can't drift from the numpy implementation."""

    def bit(t: int, p: int) -> str:
        comp = lsh_plane_sign_sql(t, p, "d", planes=planes)
        return (
            f"(list_sum(list_transform(range(0, {dim}),"
            f" d -> {comp} * v[d+1])) >= 0)"
        )

    sig_exprs = ",\n           ".join(
        "("
        + " + ".join(
            f"(CASE WHEN {bit(t, p)} THEN {1 << p} ELSE 0 END)"
            for p in range(planes)
        )
        + f") AS s{t}"
        for t in range(tables)
    )
    ham_cond = "\n              OR ".join(
        f"bit_count(xor(a.s{t}, b.s{t})) <= 1" for t in range(tables)
    )
    return f"""
    WITH e AS (SELECT {id_col} AS did, {vec_col}::DOUBLE[] AS v FROM {table}),
    sg AS (
        SELECT did, v,
           {sig_exprs}
        FROM e
    ),
    cand AS (
        SELECT a.did AS id_a, b.did AS id_b, a.v AS va, b.v AS vb
        FROM sg a JOIN sg b ON a.did < b.did
        WHERE {ham_cond}
    )
    SELECT id_a, id_b
    FROM cand
    WHERE list_cosine_similarity(va, vb) >= {threshold}
    """


def batch_knn(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries: DataFrame,
    q_vec_col: str,
    q_id_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k for a BATCH of query vectors in one corpus
    pass — the serving shape (per-query ``brute_force_topk`` calls scan
    the corpus |Q| times; this scans it once).

    The query set is collected (bounded — a serving batch, not a
    corpus) and closed over by an Arrow-batched pandas UDF: one
    (batch × Q) GEMM per corpus batch emits |Q| scores per corpus row;
    posexplode fans them out and a per-query top-k window compiles to
    WindowGroupLimit, so each partition forwards at most k rows per
    query — the shuffle carries O(|Q|·k·partitions), never the scored
    cross product. Ties break toward the smaller corpus id.

    Returns (q_id, nbr_id, rank), rank 1-based. Self-matches (same id
    in corpus and query set) are excluded.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    from hours_api_clickup_spark.datapipe.dedup import spread

    q_rows = queries.select(
        _c(q_id_col).alias("qid"), _c(q_vec_col).alias("qv")
    ).collect()
    q_ids = [int(r["qid"]) for r in q_rows]
    qm = np.stack([np.asarray(r["qv"], dtype=np.float64) for r in q_rows])
    qm = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)

    @pandas_udf("array<double>")
    def _scores(v: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(x, dtype=np.float64) for x in v.values])
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        s = m @ qm.T  # (batch, |Q|)
        return pd.Series(list(s))

    scored = spread(df).select(
        _c(id_col).alias("nbr_id"), _scores(_c(vec_col)).alias("ss")
    ).select(
        "nbr_id", F.posexplode("ss").alias("q_pos", "score")
    )
    qid_map = F.array(*[F.lit(q) for q in q_ids])
    scored = scored.withColumn(
        "q_id", F.element_at(qid_map, F.col("q_pos") + 1)
    ).filter(F.col("nbr_id") != F.col("q_id"))
    w = Window.partitionBy("q_id").orderBy(
        F.col("score").desc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "nbr_id", "rank")
    )


def batch_knn_oracle_sql(
    k: int = 10,
    n_queries: int = 8,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of ``batch_knn`` with the query batch defined as the
    ``n_queries`` vectors of smallest Knuth-hash(id) (the same
    deterministic sample rule as ``seed_centroids``)."""
    hash_order = f"(({id_col} % {M31}) * {KNUTH_A}) % {M32}, {id_col}"
    return f"""
    WITH q AS (
        SELECT {id_col} AS q_id, {vec_col}::DOUBLE[] AS qv
        FROM {table} ORDER BY {hash_order} LIMIT {n_queries}
    )
    SELECT q_id, nbr_id, rank FROM (
        SELECT q.q_id, e.{id_col} AS nbr_id,
               CAST(row_number() OVER (
                   PARTITION BY q.q_id
                   ORDER BY list_cosine_similarity(e.{vec_col}::DOUBLE[], q.qv) DESC,
                            e.{id_col}
               ) AS BIGINT) AS rank
        FROM {table} e CROSS JOIN q
        WHERE e.{id_col} <> q.q_id
    ) WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means quantizer + cluster-pruned
# exact re-rank — the other standard scale path besides LSH.
# ---------------------------------------------------------------------------


def train_ivf_centroids(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_clusters: int = 16,
    sample_size: int = 2048,
    iters: int = 8,
) -> np.ndarray:
    """Train the coarse quantizer on a deterministic sample.

    Standard IVF practice: the quantizer trains on a bounded sample
    (driver-side numpy Lloyd iterations on ≤ sample_size vectors), then
    assignment streams over the full corpus. Sampling is ordered by
    xxhash64(id) so it is reproducible and unbiased by storage order.
    Vectors are L2-normalized so euclidean k-means clusters by cosine.
    """
    rows = (
        df.select(_c(id_col).alias("i"), _c(vec_col).alias("v"))
        .orderBy(F.xxhash64("i"))
        .limit(sample_size)
        .collect()
    )
    x = np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    # epsilon guard like every other normalization here: one all-zero
    # embedding in the sample would otherwise yield a NaN row that
    # propagates through the Lloyd means into the centroids (review r6)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    return _lloyd(x, n_clusters, iters)


def _lloyd(x: np.ndarray, n_clusters: int, iters: int) -> np.ndarray:
    if not len(x):
        raise ValueError("cannot train a quantizer on an empty sample")
    # clamp like seed_centroids: a corpus smaller than n_clusters gets
    # one centroid per row instead of rs.choice(replace=False) raising
    # 'larger sample than population' (review r8)
    n_clusters = min(n_clusters, len(x))
    rs = np.random.RandomState(42)
    centroids = x[rs.choice(len(x), size=n_clusters, replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ centroids.T, axis=1)
        for c in range(n_clusters):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                centroids[c] = m / max(np.linalg.norm(m), 1e-12)
    return centroids


def ivf_assign(
    df: DataFrame, vec_col: str, centroids: np.ndarray
) -> DataFrame:
    """Append ``cluster_id`` = argmax cosine to the centroids — one GEMM
    per Arrow batch. At 100 TB the corpus is then written partitioned /
    bucketed by cluster_id, making probes partition-pruned scans."""
    from pyspark.sql.types import LongType, StructField, StructType

    from hours_api_clickup_spark.datapipe.dedup import spread

    cents = centroids  # captured; ~n_clusters·dim floats, trivially small
    out_schema = StructType(
        list(df.schema.fields) + [StructField("cluster_id", LongType())]
    )

    def assign(batches):
        for pdf in batches:
            m = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col].values]
            )
            m = m / np.maximum(
                np.linalg.norm(m, axis=1, keepdims=True), 1e-12
            )
            pdf["cluster_id"] = np.argmax(m @ cents.T, axis=1).astype("int64")
            yield pdf

    return spread(df).mapInPandas(assign, schema=out_schema)


def ivf_assign_encode(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
) -> DataFrame:
    """``ivf_assign`` + ``pq_encode`` fused into ONE Arrow pass: append
    both ``cluster_id`` and the PQ ``codes`` column. The IVFADC write
    and query paths previously ran two separate mapInPandas passes over
    the same vectors (assignment, then encode) plus a join to re-attach
    cluster_id to the codes — one pass moves the vector bytes across
    the Python boundary once and needs no re-attach join. Assignment
    math (normalized argmax) and encode math (raw-coordinate
    ``_seq_sq_dist`` argmin, first-min tie-break) are byte-for-byte the
    two originals'."""
    from pyspark.sql.types import (
        ArrayType,
        ByteType,
        LongType,
        ShortType,
        StructField,
        StructType,
    )

    from hours_api_clickup_spark.datapipe.dedup import spread

    M, J, sub = codebooks.shape
    if J > 32767:
        raise ValueError(f"n_codes {J} exceeds smallint code range")
    code_np, code_t = (
        (np.int8, ByteType()) if J <= 127 else (np.int16, ShortType())
    )
    cents, cb = centroids, codebooks
    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("cluster_id", LongType()),
            StructField("codes", ArrayType(code_t)),
        ]
    )

    def assign_encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col].values]
            )
            normed = m / np.maximum(
                np.linalg.norm(m, axis=1, keepdims=True), 1e-12
            )
            pdf["cluster_id"] = np.argmax(normed @ cents.T, axis=1).astype(
                "int64"
            )
            codes = np.empty((len(pdf), M), dtype=code_np)
            for mi in range(M):
                xb = m[:, mi * sub : (mi + 1) * sub]
                dists = np.stack(
                    [_seq_sq_dist(xb, cb[mi, j]) for j in range(J)], axis=1
                )
                codes[:, mi] = np.argmin(dists, axis=1)
            pdf["codes"] = list(codes)
            yield pdf

    return spread(df).mapInPandas(assign_encode, schema=out_schema)


def _seed_rows(
    df: DataFrame, vec_col: str, id_col: str, n: int
) -> np.ndarray:
    """The deterministic Knuth-hash-ordered seed sample shared by the
    IVF coarse quantizer and the PQ codebooks — ONE bounded driver
    collect of the first ``n`` hash-ordered raw rows."""
    bucket = F.pmod(
        F.pmod(_c(id_col).cast("long"), F.lit(M31)) * F.lit(KNUTH_A), F.lit(M32)
    )
    rows = (
        df.select(_c(id_col).alias("i"), _c(vec_col).alias("v"))
        .orderBy(bucket, F.col("i"))
        .limit(n)
        .collect()
    )
    return np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])


def seed_quantizers(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_clusters: int,
    n_codes: int,
    n_subspaces: int,
) -> tuple[np.ndarray, np.ndarray]:
    """(centroids, codebooks) from ONE seed collect: both quantizers
    sample the same hash-ordered prefix (``seed_centroids`` normalizes
    its n_clusters rows, ``pq_seed_codebooks`` slices its n_codes raw
    rows), so collecting max(n) rows once replaces two identical driver
    jobs in ``ivfpq_topk``. Bit-identical to calling the two public
    functions."""
    x = _seed_rows(df, vec_col, id_col, max(n_clusters, n_codes))
    cents = x[:n_clusters] / np.maximum(
        np.linalg.norm(x[:n_clusters], axis=1, keepdims=True), 1e-12
    )
    xc = x[:n_codes]
    dim = xc.shape[1]
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces} subspaces")
    sub = dim // n_subspaces
    cb = np.ascontiguousarray(
        xc.reshape(n_codes, n_subspaces, sub).transpose(1, 0, 2)
    )
    return cents, cb


def seed_centroids(
    df: DataFrame, vec_col: str, id_col: str, n_clusters: int = 16
) -> np.ndarray:
    """Deterministic, engine-portable coarse quantizer: the corpus
    vectors whose Knuth multiplicative hash of id is smallest (a uniform
    reproducible sample — the same family as datapipe.sampling), taken
    in hash order and L2-normalized. Sampled-point centroids are the
    classic IVF baseline (k-means via ``train_ivf_centroids`` improves
    balance but its iterations aren't expressible in an SQL oracle);
    the seed set is reproducible in DuckDB as
    ``ORDER BY ((id % 2³¹)·KNUTH_A) % 2³², id LIMIT n``.
    Bounded driver collect of n_clusters rows."""
    bucket = F.pmod(
        F.pmod(_c(id_col).cast("long"), F.lit(M31)) * F.lit(KNUTH_A), F.lit(M32)
    )
    rows = (
        df.select(_c(id_col).alias("i"), _c(vec_col).alias("v"))
        .orderBy(bucket, F.col("i"))
        .limit(n_clusters)
        .collect()
    )
    x = np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    return x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    centroids: np.ndarray | None = None,
    quantizer: str = "kmeans",
    exclude_id=None,
) -> DataFrame:
    """Approximate top-k: score only the ``nprobe`` clusters nearest the
    query, exact cosine re-rank inside them. Recall/latency trades on
    nprobe; nprobe = n_clusters degenerates to exact brute force.

    ``quantizer='seeds'`` uses the deterministic hash-sampled centroids
    (oracle-reproducible, see ``ivf_topk_oracle_sql``); ``'kmeans'``
    trains Lloyd iterations on a bounded sample (better balance, not
    SQL-expressible). Ties in cluster assignment and probe selection
    break toward the lowest cluster index in both paths (np.argmax /
    stable argsort ↔ the oracle's ORDER BY ... , cid)."""
    if centroids is None:
        if quantizer == "seeds":
            centroids = seed_centroids(df, vec_col, id_col, n_clusters)
        else:
            centroids = train_ivf_centroids(df, vec_col, id_col, n_clusters)
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probes = np.argsort(-(centroids @ qn), kind="stable")[:nprobe].tolist()
    assigned = ivf_assign(df, vec_col, centroids)
    cand = assigned.filter(F.col("cluster_id").isin([int(p) for p in probes]))
    return brute_force_topk(
        cand, vec_col, id_col, query_vec, k=k, exclude_id=exclude_id
    )


#: IVF tiers: rows carry every input column plus ``cluster_id`` (the
#: directory) and ``seq``; the row key is the caller's id column.
IVF_LAYOUT = tiered.Layout(
    key="vec_id",
    parts=("cluster_id",),
    norm=lambda df: df.select(
        *[c for c in df.columns if c not in ("cluster_id", "seq")],
        F.col("cluster_id").cast("int").alias("cluster_id"),
        F.col("seq").cast("long").alias("seq"),
    ),
)


def ivf_index_write(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    centroids: np.ndarray,
) -> None:
    """Materialize the IVF index at ingest: cluster assignment once
    (mapInPandas GEMM), written ``partitionBy(cluster_id)`` one file per
    cluster. Probes then read only the nprobe matching partitions — the
    persisted form of ``ivf_topk``, scan cost nprobe/n_clusters of the
    corpus. Same tiered layout and lease/stale-tier contract as
    ``lsh_index_write``."""
    with storage.maintenance_lease(df.sparkSession, path, "ivf_index_write"):
        _ivf_index_write_unlocked(df, vec_col, id_col, path, centroids)


def _ivf_index_write_unlocked(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    centroids: np.ndarray,
) -> None:
    """``ivf_index_write`` body for callers already holding the lease."""
    tiered.refuse_stale_tiers(df.sparkSession, path, "ivf_index_write")
    assigned = ivf_assign(df, vec_col, centroids).withColumn(
        "seq", F.lit(0).cast("long")
    )
    tiered.write_base(assigned, path, IVF_LAYOUT, (len(centroids),))


def ivf_index_read(spark, path: str) -> DataFrame:
    """Live IVF index view: base ∪ log minus tombstoned ids
    (``tiered.read``; base keeps cluster_id partition pruning)."""
    return tiered.read(spark, path, IVF_LAYOUT)


def ivf_index_delete(
    spark, path: str, id_col: str, ids: "list | DataFrame", seq: int | None = None
) -> None:
    """Tombstone delete for the persisted IVF index — same contract as
    ``lsh_index_delete``."""
    tiered.delete(spark, path, id_col, ids, seq, ivf_index_read)


def ivf_index_append(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    centroids: np.ndarray,
    seq: int | None = None,
) -> None:
    """Append-only IVF ingest: assign the batch against the FROZEN
    quantizer (one mapInPandas GEMM, O(batch)) and commit ONE file under
    ``{path}/log``. Same contract as ``lsh_index_append`` (a re-ingested
    vector that moves clusters can serve stale from its old cluster
    until compaction); appending NEW ids is exact immediately."""
    tiered.append(
        df,
        path,
        "ivf_index_append",
        bootstrap=lambda b: _ivf_index_write_unlocked(b, vec_col, id_col, path, centroids),
        write_log=lambda b, s: tiered.write_log_file(
            ivf_assign(b, vec_col, centroids).withColumn("seq", F.lit(s).cast("long")),
            path,
            IVF_LAYOUT,
        ),
        reader=ivf_index_read,
        seq=seq,
        key=id_col,
    )


def ivf_index_compact(spark, path: str, id_col: str) -> None:
    """Fold the IVF log and tombstones: the newest version per id wins
    (its single assigned cluster row), stale rows in old clusters drop
    (``tiered.compact``, see ``lsh_index_compact``)."""
    tiered.compact(
        spark, path, dataclasses.replace(IVF_LAYOUT, key=id_col), "ivf_index_compact"
    )


def ivf_probe_topk(
    spark,
    index_path: str,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    exclude_id=None,
) -> DataFrame:
    """Top-k against a persisted IVF index (``ivf_index_write``): pick
    the nprobe nearest centroids driver-side, filter cluster_id IN
    probes (partition-pruned base scan ∪ bounded log scan, plan-gated),
    resolve max-seq per id (merge-on-read), exact cosine re-rank.
    Candidates are identical to ``ivf_topk`` with the same centroids."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probes = np.argsort(-(centroids @ qn), kind="stable")[:nprobe].tolist()
    cand = ivf_index_read(spark, index_path).filter(
        F.col("cluster_id").isin([int(p) for p in probes])
    )
    cand = tiered.newest(cand, id_col)
    return brute_force_topk(
        cand, vec_col, id_col, query_vec, k=k, exclude_id=exclude_id
    )


def ivf_topk_oracle_sql(
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    query_id: int = 0,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_pred: str | None = None,
) -> str:
    """DuckDB SQL reproducing ``ivf_topk(quantizer='seeds')``: the same
    hash-ordered seed centroids, argmax-cosine assignment with
    lowest-index tie-break, nprobe probe selection, and exact cosine
    re-rank. (Cosine of a vector against a *normalized* seed orders
    identically to the normalized-dot the numpy path computes.)
    ``exclude_pred`` (SQL over ``e.{id_col}``) models index tombstones:
    deleted ids leave the candidate pool (NOT the seed set — the
    quantizer is frozen at build time, so seeds stay as built)."""
    hash_order = f"(({id_col} % {M31}) * {KNUTH_A}) % {M32}, {id_col}"
    not_deleted = (
        f"      AND NOT ({exclude_pred})\n" if exclude_pred else ""
    )
    return f"""
    WITH q AS (SELECT {vec_col}::DOUBLE[] AS qv FROM {table} WHERE {id_col} = {query_id}),
    seeds AS (
        SELECT row_number() OVER (ORDER BY {hash_order}) - 1 AS cid,
               {vec_col}::DOUBLE[] AS sv
        FROM {table}
        ORDER BY {hash_order}
        LIMIT {n_clusters}
    ),
    assign AS (
        SELECT vid, cid FROM (
            SELECT e.{id_col} AS vid, s.cid,
                   row_number() OVER (
                       PARTITION BY e.{id_col}
                       ORDER BY list_cosine_similarity(e.{vec_col}::DOUBLE[], s.sv) DESC, s.cid
                   ) AS rn
            FROM {table} e CROSS JOIN seeds s
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT cid FROM seeds, q
        ORDER BY list_cosine_similarity(seeds.sv, q.qv) DESC, cid
        LIMIT {nprobe}
    )
    SELECT e.{id_col} AS nbr_id
    FROM {table} e
    JOIN assign a ON a.vid = e.{id_col}
    JOIN probes p ON p.cid = a.cid, q
    WHERE e.{id_col} <> {query_id}
{not_deleted}    ORDER BY list_cosine_similarity(e.{vec_col}::DOUBLE[], q.qv) DESC, e.{id_col}
    LIMIT {k}
    """


PROJ_SALT = 0x2545F491


def projection_signs(dim: int, out_dim: int) -> np.ndarray:
    """Deterministic ±1 Johnson-Lindenstrauss projection matrix, shape
    (out_dim, dim) — Achlioptas (2003) database-friendly projections:
    ±1 entries preserve pairwise distances in expectation exactly like
    Gaussian entries. Entry (j, d) is the parity of the same affine
    int-hash family as ``hyperplanes`` (no RNG state; reproducible on
    driver, executors, and inside the DuckDB oracle)."""
    from hours_api_clickup_spark.datapipe.dedup import affine_constants

    consts = affine_constants(out_dim, PROJ_SALT)
    a = np.array([c[0] for c in consts], dtype=np.int64).reshape(out_dim, 1)
    b = np.array([c[1] for c in consts], dtype=np.int64).reshape(out_dim, 1)
    d = np.arange(dim, dtype=np.int64)[None, :]
    h = (a * d + b) % M31
    return np.where(h < HALF31, 1.0, -1.0)


def random_project(
    df: DataFrame, vec_col: str, id_col: str, out_dim: int = 16
) -> DataFrame:
    """Dimensionality reduction before ANN/storage: project each
    embedding to ``out_dim`` dims with the deterministic ±1 JL matrix,
    scaled 1/sqrt(out_dim). The at-scale path: one Arrow-batched
    mapInPandas GEMM over the corpus (same shape as signature
    computation), zero shuffles. The bit-exact oracled twin is
    ``random_project_fold`` (sequential fold — identical left-to-right
    addition order as the DuckDB oracle; GEMM's pairwise summation
    differs in the last ulp, so the GEMM path is equality-tested to
    1e-9 in pytest rather than hash-matched)."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    out_schema = StructType(
        [
            df.schema[id_col],
            StructField("projection", ArrayType(DoubleType())),
        ]
    )
    vc, ic, od = vec_col, id_col, out_dim

    def project(batches):
        p = None
        scale = 1.0 / np.sqrt(od)
        for pdf in batches:
            m = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vc].values])
            if p is None:
                p = projection_signs(m.shape[1], od)
            out = (m @ p.T) * scale
            yield pd.DataFrame({ic: pdf[ic].values, "projection": list(out)})

    from hours_api_clickup_spark.datapipe.dedup import spread

    return spread(df).mapInPandas(project, schema=out_schema)


def random_project_fold(
    df: DataFrame, vec_col: str, id_col: str, out_dim: int = 16,
    dim: int | None = None,
) -> DataFrame:
    """Oracle-exact form of ``random_project``: each output dim is a
    SEQUENTIAL left fold of sign-weighted components (the same
    evaluation order as the DuckDB oracle's list_reduce), so doubles
    round identically and the driver's value-hash matches. out_dim=16
    makes the 1/sqrt scale exactly 0.25 — no irrational literal to
    round differently per engine.

    When ``dim`` (the input vector length, constant across rows) is
    given, the ±1 signs — which depend only on (row index, output dim),
    never on the data — are baked in as literal arrays and applied with
    one ``zip_with`` multiply per output dim, instead of re-deriving
    each sign per element per row through a pmod/when expression chain
    (r12: 16×64 modular hashes per row → 0; multiplying by a literal
    ±1.0 is exact, so the fold order and every double are unchanged).
    """
    from hours_api_clickup_spark.datapipe.dedup import affine_constants

    v = _c(vec_col)
    cols = [_c(id_col).alias(id_col)]
    scale = 1.0 / np.sqrt(out_dim)
    if dim is not None:
        signs = projection_signs(dim, out_dim)
        for j in range(out_dim):
            sgn = F.array(*[F.lit(float(s)) for s in signs[j]])
            signed = F.zip_with(
                v, sgn, lambda x, s: x.cast("double") * s
            )
            acc = F.aggregate(
                signed, F.lit(0.0).cast("double"), lambda acc, x: acc + x
            )
            cols.append((acc * F.lit(scale)).alias(f"p{j}"))
        return df.select(*cols)
    consts = affine_constants(out_dim, PROJ_SALT)
    def _signed_term(a: int, b: int):
        # long literals: a < 2^31 times i would overflow int32 under ANSI
        return lambda i: F.element_at(v, i).cast("double") * F.when(
            F.pmod(
                F.lit(a).cast("long") * (i - 1).cast("long") + F.lit(b).cast("long"),
                F.lit(M31).cast("long"),
            )
            < F.lit(HALF31),
            F.lit(1.0),
        ).otherwise(F.lit(-1.0))

    for j, (a, b) in enumerate(consts):
        signed = F.transform(F.sequence(F.lit(1), F.size(v)), _signed_term(a, b))
        acc = F.aggregate(
            signed, F.lit(0.0).cast("double"), lambda acc, x: acc + x
        )
        cols.append((acc * F.lit(scale)).alias(f"p{j}"))
    return df.select(*cols)


def random_project_oracle_sql(
    out_dim: int = 16,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of ``random_project_fold``: same sign hash, same
    sequential left-fold addition order (list_reduce over a prepended
    0.0 — DuckDB 1.0.0's list_reduce has no init argument)."""
    from hours_api_clickup_spark.datapipe.dedup import affine_constants

    consts = affine_constants(out_dim, PROJ_SALT)
    scale = 1.0 / np.sqrt(out_dim)
    cols = [id_col]
    for j, (a, b) in enumerate(consts):
        signed = (
            f"list_transform(range(1, len(v) + 1), i -> v[i] * "
            f"(CASE WHEN ({a} * (i - 1) + {b}) % {M31} < {HALF31} "
            f"THEN 1.0 ELSE -1.0 END))"
        )
        cols.append(
            f"list_reduce(list_prepend(0.0, {signed}), (acc, x) -> acc + x)"
            f" * {scale!r} AS p{j}"
        )
    sel = ",\n           ".join(cols)
    return f"""
    WITH e AS (SELECT {id_col}, {vec_col}::DOUBLE[] AS v FROM {table})
    SELECT {sel}
    FROM e
    """


def quantize_embeddings_int8(
    df: DataFrame, vec_col: str, id_col: str
) -> DataFrame:
    """Symmetric int8 quantization summary per vector: scale each
    embedding by 127/max|x| and round-half-up to integers — the
    standard storage/IO reduction before ANN serving (4× smaller than
    float32; recall loss is negligible for cosine).

    Output carries integer-exact checksums (sum and L1 of the quantized
    vector) plus the exact max-abs scale denominator, so the operator is
    fully hash-match verifiable without shipping an array column
    (integer sums are order-independent; round-half-up via floor(x+0.5)
    is bit-identical across engines, unlike banker's rounding).

    Pure projection — zero shuffles at any corpus size. Two interpreted-
    HOF costs are deliberately avoided: ``max_abs`` lands behind a
    projection boundary as a plain column (inlining the array_max into
    the per-element lambda re-evaluates it 64× per row — measured 3×
    slower), and both checksums fold in ONE aggregate with a struct
    accumulator instead of two passes over the quantized array.
    """
    v = _c(vec_col).cast("array<double>")
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    pre = df.select(
        _c(id_col).alias(id_col), v.alias("__v"), max_abs.alias("max_abs")
    )
    q = F.transform(
        "__v", lambda x: F.floor(x * 127.0 / F.col("max_abs") + 0.5).cast("long")
    )
    acc = F.aggregate(
        q,
        F.struct(
            F.lit(0).cast("long").alias("s"), F.lit(0).cast("long").alias("l")
        ),
        lambda a, x: F.struct(
            (a.s + x).alias("s"), (a.l + F.abs(x)).alias("l")
        ),
    )
    return pre.select(
        id_col, "max_abs", acc.s.alias("q_sum"), acc.l.alias("q_l1")
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-scoped semantic deduplication
# ---------------------------------------------------------------------------


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_clusters: int = 16,
    threshold: float = 0.4,
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023): cluster the
    embedding space coarsely, then compare pairs ONLY within a cluster —
    a document is a semantic duplicate if some lower-id cluster-mate
    sits within cosine ``threshold`` (min-id survivor, the same
    convention as every dedup family here).

    Output: one row per vector — ``cluster_id`` and ``semantic_dup``.

    Scale shape: this is the paper's own answer to O(n²) — pairwise
    work is Σ|cluster|² instead of n², controlled by ``n_clusters``
    (the paper uses k=50k on 1.3B embeddings, ~25k-row clusters). The
    quantizer is the deterministic hash-sampled seed set shared with
    ``ivf_topk`` (bounded driver collect, oracle-reproducible);
    assignment is one Arrow-batched GEMM pass; then ONE shuffle keyed
    on cluster_id feeds a per-cluster ``applyInPandas`` that scores the
    whole cluster in a single m @ m.T GEMM — never a materialized
    O(pairs) row stream. Memory per task is |cluster|² doubles, the
    paper's own sizing constraint: pick ``n_clusters`` so the largest
    cluster's similarity block fits an executor, and salt/split
    mega-clusters before raising memory. No all-pairs stage anywhere.
    """
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StructField,
        StructType,
    )

    cents = seed_centroids(df, vec_col, id_col, n_clusters)
    assigned = ivf_assign(
        df.select(_c(id_col).alias("vid"), _c(vec_col).alias("v")), "v", cents
    )
    out_schema = StructType(
        [
            StructField("vid", LongType()),
            StructField("cluster_id", LongType()),
            StructField("semantic_dup", BooleanType()),
        ]
    )

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vid").reset_index(drop=True)
        m = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["v"].values])
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
        sims = m @ m.T
        # dup[i] ⇔ some j < i (vid-sorted ⇒ lower id) with cos ≥ θ
        dup = (np.tril(sims >= threshold, k=-1)).any(axis=1)
        return pd.DataFrame(
            {
                "vid": pdf["vid"].values,
                "cluster_id": pdf["cluster_id"].values,
                "semantic_dup": dup,
            }
        )

    return (
        assigned.groupBy("cluster_id")
        .applyInPandas(prune, schema=out_schema)
        .select(
            F.col("vid").alias(id_col), "cluster_id", "semantic_dup"
        )
    )


def semantic_dedup_oracle_sql(
    n_clusters: int = 16,
    threshold: float = 0.4,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of ``semantic_dedup``: same seed quantizer (hash
    order), same argmax-cosine assignment with lowest-cid tie-break,
    same within-cluster lower-id pair rule."""
    hash_order = f"(({id_col} % {M31}) * {KNUTH_A}) % {M32}, {id_col}"
    return f"""
    WITH seeds AS (
        SELECT row_number() OVER (ORDER BY {hash_order}) - 1 AS cid,
               {vec_col}::DOUBLE[] AS sv
        FROM {table}
        ORDER BY {hash_order}
        LIMIT {n_clusters}
    ),
    assign AS (
        SELECT vid, cid FROM (
            SELECT e.{id_col} AS vid, s.cid,
                   row_number() OVER (
                       PARTITION BY e.{id_col}
                       ORDER BY list_cosine_similarity(e.{vec_col}::DOUBLE[], s.sv) DESC, s.cid
                   ) AS rn
            FROM {table} e CROSS JOIN seeds s
        ) WHERE rn = 1
    ),
    e AS (SELECT {id_col} AS vid, {vec_col}::DOUBLE[] AS v FROM {table}),
    dup AS (
        SELECT DISTINCT a.vid
        FROM assign a
        JOIN assign b ON a.cid = b.cid AND b.vid < a.vid
        JOIN e ea ON ea.vid = a.vid
        JOIN e eb ON eb.vid = b.vid
        WHERE list_cosine_similarity(ea.v, eb.v) >= {threshold}
    )
    SELECT a.vid AS {id_col}, a.cid AS cluster_id,
           (d.vid IS NOT NULL) AS semantic_dup
    FROM assign a LEFT JOIN dup d ON d.vid = a.vid
    """


# ---------------------------------------------------------------------------
# Product quantization (PQ) + ADC scan — Jégou, Douze & Schmid (2011),
# "Product Quantization for Nearest Neighbor Search" (IEEE TPAMI).
# The billion-scale memory story: each vector is stored as n_subspaces
# one-byte codes (8 B here vs 256 B of float32·64 — 32×), and the
# candidate scan reads ONLY the code table plus a broadcast
# (n_subspaces × n_codes) distance table — asymmetric distance
# computation (ADC). Exact re-rank then touches just the top-C rows.
# ---------------------------------------------------------------------------


def pq_seed_codebooks(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_subspaces: int = 8,
    n_codes: int = 16,
) -> np.ndarray:
    """Per-subspace codebooks, shape (n_subspaces, n_codes, sub_dim):
    the m-th subvector of the j-th hash-ordered seed row is code j of
    subspace m. The same deterministic Knuth-hash sample rule as
    ``seed_centroids`` (uniform, storage-order-independent, and — the
    point — reproducible inside the DuckDB oracle as
    ``ORDER BY ((id % 2³¹)·KNUTH_A) % 2³², id LIMIT n_codes``), but the
    rows are NOT normalized: PQ quantizes raw coordinates, and the
    oracle slices the same raw ``::DOUBLE[]`` values. Per-subspace
    Lloyd refinement (classic PQ training) drops in by replacing this
    sample; the seed form is the SQL-expressible baseline, exactly like
    the IVF seed quantizer. Bounded driver collect of n_codes rows."""
    bucket = F.pmod(
        F.pmod(_c(id_col).cast("long"), F.lit(M31)) * F.lit(KNUTH_A), F.lit(M32)
    )
    rows = (
        df.select(_c(id_col).alias("i"), _c(vec_col).alias("v"))
        .orderBy(bucket, F.col("i"))
        .limit(n_codes)
        .collect()
    )
    x = np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    dim = x.shape[1]
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces} subspaces")
    sub = dim // n_subspaces
    return np.ascontiguousarray(
        x.reshape(n_codes, n_subspaces, sub).transpose(1, 0, 2)
    )


def _seq_sq_dist(xb: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Squared L2 of each row of ``xb`` (rows, sub) to ``c`` (sub,),
    accumulated dimension-by-dimension so every element's sum tree is
    the left-associated ((t₀²+t₁²)+t₂²)+… — bit-identical to the
    left-associated unrolled ``(a[1]-b[1])*(a[1]-b[1]) + …`` the DuckDB
    oracle evaluates (IEEE doubles: same inputs + same op order = same
    bits; only the op ORDER is at risk, so it is pinned)."""
    t = xb[:, 0] - c[0]
    d = t * t
    for i in range(1, len(c)):
        t = xb[:, i] - c[i]
        d = d + t * t
    return d


def pq_encode(
    df: DataFrame, vec_col: str, id_col: str, codebooks: np.ndarray
) -> DataFrame:
    """(vid, codes) — one Arrow-batched mapInPandas pass; the element
    type adapts to the codebook: tinyint through n_codes ≤ 127 (the
    8-B/vector storage contract at the default 16 codes), smallint
    above — classic PQ's 256 codes silently wrapped negative in int8
    and element_at then indexed the ADC table from the END (review r8).
    per subspace a (batch × n_codes) distance block built by sequential
    per-dimension accumulation (see ``_seq_sq_dist``) and an argmin
    whose first-occurrence rule IS the smallest-code tie-break the
    oracle's ``ORDER BY dist, j`` replays. At 100 TB this projection is
    the ingest pass that materializes the code table next to the IVF
    partition layout; probes then never read the vector column."""
    M, J, sub = codebooks.shape
    if J > 32767:
        raise ValueError(f"n_codes {J} exceeds smallint code range")
    code_np, code_sql = (
        (np.int8, "tinyint") if J <= 127 else (np.int16, "smallint")
    )
    cb = codebooks
    vec, vid = vec_col, id_col

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            xm = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec]])
            codes = np.empty((len(pdf), M), dtype=code_np)
            for m in range(M):
                xb = xm[:, m * sub : (m + 1) * sub]
                dists = np.stack(
                    [_seq_sq_dist(xb, cb[m, j]) for j in range(J)], axis=1
                )
                codes[:, m] = np.argmin(dists, axis=1)
            yield pd.DataFrame(
                {"vid": pdf[vid].astype("int64"), "codes": list(codes)}
            )

    from hours_api_clickup_spark.datapipe.dedup import spread

    return spread(df.select(_c(id_col).alias(vid), _c(vec_col).alias(vec))).mapInPandas(
        enc, f"vid long, codes array<{code_sql}>"
    )


def pq_adc_table(query_vec, codebooks: np.ndarray) -> list[list[float]]:
    """Distance table d[m][j] = ‖q_m − c_{m,j}‖² as plain Python floats
    (IEEE doubles), accumulated left-associatively per entry — the same
    op order as the oracle's unrolled SQL, so both engines rank ADC
    sums over bit-identical values. n_subspaces·n_codes doubles total:
    broadcast-trivial at any corpus size."""
    M, J, sub = codebooks.shape
    q = [float(v) for v in query_vec]
    dt: list[list[float]] = []
    for m in range(M):
        row = []
        for j in range(J):
            c = codebooks[m, j]
            t = q[m * sub] - float(c[0])
            d = t * t
            for i in range(1, sub):
                t = q[m * sub + i] - float(c[i])
                d = d + t * t
            row.append(d)
        dt.append(row)
    return dt


def _adc_col(dt) -> Column:
    """Left-associated ADC sum — element_at(dt_m, code_m + 1) chained
    in subspace order — shared by pq_adc_topk and ivfpq_probe_topk so
    the lookup (and any fix to it) cannot drift between them
    (review r8)."""
    adc: Column | None = None
    for m, row in enumerate(dt):
        term = F.element_at(
            F.array(*[F.lit(d) for d in row]),
            F.col("codes").getItem(m).cast("int") + F.lit(1),
        )
        adc = term if adc is None else adc + term
    return adc


def pq_adc_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec,
    k: int = 10,
    n_subspaces: int = 8,
    n_codes: int = 16,
    n_candidates: int = 64,
    codebooks: np.ndarray | None = None,
    codes: DataFrame | None = None,
    exclude_id=None,
) -> DataFrame:
    """PQ-ADC approximate top-k: encode (or accept a pre-materialized
    code table), score every code row as a left-associated chain of
    ``element_at(dt_m, code_m + 1)`` lookups — pure whole-stage-codegen
    arithmetic over an 8-byte row, no vector column touched — take the
    top ``n_candidates`` by (adc asc, id asc) via TakeOrderedAndProject,
    then exact-cosine re-rank ONLY those rows (broadcast candidate ids
    → semi-join back to the vectors). The scan cost at scale is the
    code table (32× smaller than the vectors) + C full rows; compose
    with the IVF partition layout to prune the code scan itself.

    Returns the same (nbr_id, score-ordered) shape as
    ``brute_force_topk``; ties break toward the smaller id everywhere.
    """
    if codebooks is None:
        codebooks = pq_seed_codebooks(
            df, vec_col, id_col, n_subspaces=n_subspaces, n_codes=n_codes
        )
    if codes is None:
        codes = pq_encode(df, vec_col, id_col, codebooks)
    dt = pq_adc_table(query_vec, codebooks)
    cand = codes.select(F.col("vid"), _adc_col(dt).alias("adc"))
    if exclude_id is not None:
        cand = cand.filter(F.col("vid") != exclude_id)
    cand_ids = (
        cand.orderBy(F.col("adc").asc(), F.col("vid").asc())
        .limit(n_candidates)
        .select(F.col("vid").alias("__pq_cand_id"))
    )
    pruned = df.join(
        F.broadcast(cand_ids), _c(id_col) == F.col("__pq_cand_id")
    ).drop("__pq_cand_id")
    # expression-path re-rank: pruned is ≤ n_candidates rows by
    # construction at ANY scale, so the spread + Arrow round-trip of the
    # vectorized scorer is pure fixed cost here (a 32-task Python stage
    # for ≤64 rows); interpreted cosine over ≤64 rows is microseconds.
    # Ordering is identical: degenerate rows score NULL here vs -inf
    # there — both sort after every real score, ties by id.
    return brute_force_topk(
        pruned,
        vec_col,
        id_col,
        query_vec,
        k=k,
        exclude_id=exclude_id,
        vectorized=False,
    )


def _pq_sq_dist_sql(a: str, b: str, m_expr: str, sub: int) -> str:
    """Unrolled left-associated squared-L2 between subvectors ``m`` of
    two DOUBLE[] lists (1-based DuckDB indexing)."""
    terms = [
        f"(({a}[{m_expr}*{sub}+{i}] - {b}[{m_expr}*{sub}+{i}]) * "
        f"({a}[{m_expr}*{sub}+{i}] - {b}[{m_expr}*{sub}+{i}]))"
        for i in range(1, sub + 1)
    ]
    return " + ".join(terms)


def pq_adc_oracle_sql(
    k: int = 10,
    n_subspaces: int = 8,
    n_codes: int = 16,
    n_candidates: int = 64,
    dim: int = 64,
    query_id: int = 0,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of ``pq_adc_topk`` over the seed codebooks: same
    hash-ordered seed rows sliced into per-subspace codebooks, same
    argmin encode (ORDER BY dist, j replays numpy's first-min), same
    left-associated ADC sum over the same distance-table doubles, same
    (adc, id) candidate cut and exact-cosine re-rank."""
    sub = dim // n_subspaces
    hash_order = f"(({id_col} % {M31}) * {KNUTH_A}) % {M32}, {id_col}"
    m_values = ", ".join(f"({m})" for m in range(n_subspaces))
    code_cols = ", ".join(
        f"max(CASE WHEN m = {m} THEN j END) AS c{m}" for m in range(n_subspaces)
    )
    dt_joins = "\n        ".join(
        f"JOIN dt d{m} ON d{m}.m = {m} AND d{m}.j = codes.c{m}"
        for m in range(n_subspaces)
    )
    adc_sum = " + ".join(f"d{m}.d" for m in range(n_subspaces))
    return f"""
    WITH q AS (SELECT {vec_col}::DOUBLE[] AS qv FROM {table} WHERE {id_col} = {query_id}),
    seeds AS (
        SELECT row_number() OVER (ORDER BY {hash_order}) - 1 AS j,
               {vec_col}::DOUBLE[] AS sv
        FROM {table}
        ORDER BY {hash_order}
        LIMIT {n_codes}
    ),
    m AS (SELECT * FROM (VALUES {m_values}) AS t(m)),
    enc AS (
        SELECT vid, m, j FROM (
            SELECT e.vid, m.m, s.j,
                   row_number() OVER (
                       PARTITION BY e.vid, m.m
                       ORDER BY {_pq_sq_dist_sql('e.ev', 's.sv', 'm.m', sub)}, s.j
                   ) AS rn
            FROM (SELECT {id_col} AS vid, {vec_col}::DOUBLE[] AS ev FROM {table}) e
            CROSS JOIN m
            CROSS JOIN seeds s
        ) WHERE rn = 1
    ),
    dt AS (
        SELECT m.m, s.j, {_pq_sq_dist_sql('q.qv', 's.sv', 'm.m', sub)} AS d
        FROM m CROSS JOIN seeds s, q
    ),
    codes AS (SELECT vid, {code_cols} FROM enc GROUP BY vid),
    adc AS (
        SELECT codes.vid, {adc_sum} AS adc
        FROM codes
        {dt_joins}
    ),
    cand AS (
        SELECT vid FROM adc WHERE vid <> {query_id}
        ORDER BY adc, vid LIMIT {n_candidates}
    )
    SELECT e.{id_col} AS nbr_id
    FROM {table} e JOIN cand ON cand.vid = e.{id_col}, q
    ORDER BY list_cosine_similarity(e.{vec_col}::DOUBLE[], q.qv) DESC, e.{id_col}
    LIMIT {k}
    """


def ivfpq_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec,
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    n_candidates: int = 64,
    exclude_id=None,
) -> DataFrame:
    """IVFADC (Jégou et al. 2011 §V): coarse quantizer prunes the scan
    to ``nprobe`` clusters, PQ-ADC scores only those clusters' byte
    codes, exact re-rank touches only the top ``n_candidates``. The
    three-tier cost model the billion-scale systems (FAISS IVF-PQ) run:
    partition pruning (nprobe/n_clusters of the corpus) × code-table
    bytes (1/32 of vector bytes) × C full rows. Both quantizers are the
    deterministic hash-ordered seed rows — the same sample serves as
    coarse centroids (normalized, cosine role) and PQ codebook slices
    (raw, L2 role) — so the whole structure is reproducible in the
    DuckDB oracle (``ivfpq_oracle_sql``) with zero stored model state.

    At 100 TB: persist via ``ivf_index_write`` partitionBy(cluster_id)
    with the code table alongside (``pq_encode`` at ingest); the probe
    is then a partition-pruned scan of 8-byte rows."""
    # one seed collect feeds both quantizers (identical hash-ordered
    # prefix), and one fused Arrow pass computes assignment + codes —
    # the earlier shape paid two collects and two mapInPandas passes
    # over the same vectors
    cents, cb = seed_quantizers(
        df, vec_col, id_col, n_clusters, n_codes, n_subspaces
    )
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probes = np.argsort(-(cents @ qn), kind="stable")[:nprobe].tolist()
    fused = ivf_assign_encode(df, vec_col, id_col, cents, cb)
    pruned = fused.filter(
        F.col("cluster_id").isin([int(p) for p in probes])
    ).drop("cluster_id")
    return pq_adc_topk(
        pruned.drop("codes"),
        vec_col,
        id_col,
        query_vec,
        k=k,
        n_subspaces=n_subspaces,
        n_codes=n_codes,
        n_candidates=n_candidates,
        codebooks=cb,
        codes=pruned.select(
            _c(id_col).cast("long").alias("vid"), "codes"
        ),
        exclude_id=exclude_id,
    )


def ivfpq_oracle_sql(
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    n_candidates: int = 64,
    dim: int = 64,
    query_id: int = 0,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of ``ivfpq_topk``: the IVF oracle's assign/probe CTEs
    composed with the PQ oracle's enc/dt/adc CTEs, encode restricted to
    the probed clusters' rows."""
    sub = dim // n_subspaces
    hash_order = f"(({id_col} % {M31}) * {KNUTH_A}) % {M32}, {id_col}"
    m_values = ", ".join(f"({m})" for m in range(n_subspaces))
    code_cols = ", ".join(
        f"max(CASE WHEN m = {m} THEN j END) AS c{m}" for m in range(n_subspaces)
    )
    dt_joins = "\n        ".join(
        f"JOIN dt d{m} ON d{m}.m = {m} AND d{m}.j = codes.c{m}"
        for m in range(n_subspaces)
    )
    adc_sum = " + ".join(f"d{m}.d" for m in range(n_subspaces))
    return f"""
    WITH q AS (SELECT {vec_col}::DOUBLE[] AS qv FROM {table} WHERE {id_col} = {query_id}),
    seeds AS (
        SELECT row_number() OVER (ORDER BY {hash_order}) - 1 AS j,
               {vec_col}::DOUBLE[] AS sv
        FROM {table}
        ORDER BY {hash_order}
        LIMIT {max(n_codes, n_clusters)}
    ),
    m AS (SELECT * FROM (VALUES {m_values}) AS t(m)),
    assign AS (
        SELECT vid, cid FROM (
            SELECT e.{id_col} AS vid, s.j AS cid,
                   row_number() OVER (
                       PARTITION BY e.{id_col}
                       ORDER BY list_cosine_similarity(e.{vec_col}::DOUBLE[], s.sv) DESC, s.j
                   ) AS rn
            FROM {table} e CROSS JOIN seeds s
            WHERE s.j < {n_clusters}
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT j AS cid FROM seeds, q
        WHERE j < {n_clusters}
        ORDER BY list_cosine_similarity(seeds.sv, q.qv) DESC, j
        LIMIT {nprobe}
    ),
    sub AS (
        SELECT e.vid, e.ev
        FROM (SELECT {id_col} AS vid, {vec_col}::DOUBLE[] AS ev FROM {table}) e
        JOIN assign a ON a.vid = e.vid
        JOIN probes p ON p.cid = a.cid
    ),
    enc AS (
        SELECT vid, m, j FROM (
            SELECT e.vid, m.m, s.j,
                   row_number() OVER (
                       PARTITION BY e.vid, m.m
                       ORDER BY {_pq_sq_dist_sql('e.ev', 's.sv', 'm.m', sub)}, s.j
                   ) AS rn
            FROM sub e
            CROSS JOIN m
            CROSS JOIN seeds s
            WHERE s.j < {n_codes}
        ) WHERE rn = 1
    ),
    dt AS (
        SELECT m.m, s.j, {_pq_sq_dist_sql('q.qv', 's.sv', 'm.m', sub)} AS d
        FROM m CROSS JOIN seeds s, q
        WHERE s.j < {n_codes}
    ),
    codes AS (SELECT vid, {code_cols} FROM enc GROUP BY vid),
    adc AS (
        SELECT codes.vid, {adc_sum} AS adc
        FROM codes
        {dt_joins}
    ),
    cand AS (
        SELECT vid FROM adc WHERE vid <> {query_id}
        ORDER BY adc, vid LIMIT {n_candidates}
    )
    SELECT e.{id_col} AS nbr_id
    FROM {table} e JOIN cand ON cand.vid = e.{id_col}, q
    ORDER BY list_cosine_similarity(e.{vec_col}::DOUBLE[], q.qv) DESC, e.{id_col}
    LIMIT {k}
    """


# ---------------------------------------------------------------------------
# Persisted IVFPQ index: the production IVFADC layout — vectors
# partitioned by coarse cluster with an 8-byte PQ-code SIDECAR per
# cluster. A probe reads (a) the code sidecar of nprobe partitions
# (pruned, 1/32 the bytes of the vectors), ADC-scores it, and (b)
# fetches ONLY the top-C candidate vectors for the exact re-rank.
# ---------------------------------------------------------------------------


#: the IVFADC tiers in commit order: codes first — a crash between the
#: swaps leaves new codes over the old base, whose unresolvable
#: candidates simply drop out, never old codes ranking new geometry
_IVFPQ_TIERS = ("codes", "base")
_CODES_LAYOUT = tiered.Layout(
    key="vid",
    parts=("cluster_id",),
    norm=lambda df: df.select(
        "vid",
        "codes",
        F.col("cluster_id").cast("int").alias("cluster_id"),
        F.col("seq").cast("long").alias("seq"),
    ),
)
ivfpq_index_recover = functools.partial(tiered.recover_joint, tier_names=_IVFPQ_TIERS)


def _codes_rows(assigned: DataFrame, id_col: str) -> DataFrame:
    return assigned.select(
        _c(id_col).cast("long").alias("vid"), "codes", "cluster_id", "seq"
    )


def ivfpq_index_write(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
) -> None:
    """Materialize the IVFADC index: one fused assign+encode pass;
    ``{path}/base`` holds the vectors partitioned by cluster_id (the
    ``ivf_index_write`` layout), ``{path}/codes`` holds (vid, codes)
    partitioned the same way. Probes scan the codes; the re-rank fetches
    C rows from the base.

    This rebuild IS the family's compaction (the codes tier cannot fold
    incrementally), so instead of refusing existing merge-on-read tiers
    it CONSUMES them: ``df`` re-ingests the whole corpus, and the log,
    codes_log and tombstone files present at the start are dropped in
    the same commit as the two tier swaps (``storage.commit_tiers``).
    A crash anywhere past the commit marker is rolled forward by the
    joint recovery every family entry point runs first; tier files
    landing after the snapshot survive. Runs under the lease."""
    with storage.maintenance_lease(df.sparkSession, path, "ivfpq_index_write"):
        _ivfpq_index_write_unlocked(df, vec_col, id_col, path, centroids, codebooks)


def _ivfpq_index_write_unlocked(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
) -> None:
    """``ivfpq_index_write`` body for callers already holding the lease
    (the streaming ingest's bootstrap via ``ivfpq_index_append``)."""
    # ONE fused assign+encode pass feeds both tier writes
    assigned = ivf_assign_encode(
        df, vec_col, id_col, centroids, codebooks
    ).withColumn("seq", F.lit(0).cast("long")).localCheckpoint()
    spark = df.sparkSession
    ivfpq_index_recover(spark, path)
    consumed = {}
    for tier in ("log", "codes_log", "tombstones"):
        files = storage.snapshot_files(spark, f"{path}/{tier}")
        if files:
            consumed[f"{path}/{tier}"] = files
    n = (len(centroids),)
    tiered.write_partitioned(assigned.drop("codes"), f"{path}/base__staged", IVF_LAYOUT, n)
    tiered.write_partitioned(
        _codes_rows(assigned, id_col), f"{path}/codes__staged", _CODES_LAYOUT, n
    )
    storage.commit_tiers(spark, path, tiered.REBUILD_MARKER, _IVFPQ_TIERS, consumed)


def ivfpq_index_append(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    seq: int | None = None,
) -> None:
    """O(batch) merge-on-read ingest for the IVFADC index: ONE fused
    assignment + encode pass over the batch, committed as one vector-log
    file (``{path}/log``, the ``ivf_index_append`` contract) and one
    code-log file (``{path}/codes_log``) at the same ``seq``. Probes
    resolve max-seq per vid on BOTH tiers; compaction is the rebuild."""
    # a crashed rebuild must finish consuming its tiers before any new
    # log entry lands, or its drop could erase the new entry
    ivfpq_index_recover(df.sparkSession, path)

    def write_log(batch: DataFrame, seq: int) -> None:
        assigned = ivf_assign_encode(
            batch, vec_col, id_col, centroids, codebooks
        ).withColumn("seq", F.lit(seq).cast("long")).localCheckpoint()
        tiered.write_log_file(assigned.drop("codes"), path, IVF_LAYOUT)
        tiered.write_log_file(_codes_rows(assigned, id_col), path, _CODES_LAYOUT, "codes_log")

    tiered.append(
        df,
        path,
        "ivfpq_index_append",
        bootstrap=lambda b: _ivfpq_index_write_unlocked(
            b, vec_col, id_col, path, centroids, codebooks
        ),
        write_log=write_log,
        reader=ivf_index_read,
        seq=seq,
        key=id_col,
    )


def ivfpq_probe_topk(
    spark,
    index_path: str,
    vec_col: str,
    id_col: str,
    query_vec,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    n_candidates: int = 64,
    exclude_id=None,
) -> DataFrame:
    """Probe the persisted IVFADC index: nprobe partitions of the CODE
    sidecar are scanned (partition-pruned, 8 B/row), ADC-scored against
    the broadcast distance table, cut to ``n_candidates`` by (adc, id)
    — and only those ids are fetched from the vector base (again
    partition-pruned to the probed clusters) for the exact cosine
    re-rank. Candidates are identical to ``ivfpq_topk`` with the same
    quantizers; scan bytes are nprobe/n_clusters × (codes + C vectors).
    """
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probes = [int(p) for p in np.argsort(-(centroids @ qn), kind="stable")[:nprobe]]
    # joint recovery first: it also rolls a crashed rebuild's commit
    # forward, so fresh base rows never rank against the stale tiers the
    # rebuild consumed. Each tier read retries through it once more when
    # a foreign maintainer's crash surfaces after this session cached a
    # clean verdict (a missing live dir, or a log the rebuild dropped).
    ivfpq_index_recover(spark, index_path)
    codes = storage.read_with_recovery(
        spark,
        index_path,
        lambda: tiered.tiers(spark, index_path, _CODES_LAYOUT, "codes", "codes_log"),
        ivfpq_index_recover,
    ).filter(F.col("cluster_id").isin(probes))
    # tombstones filter the CODES tier too: a deleted vid that still
    # ADC-scores would take an n_candidates slot and then vanish at the
    # base fetch, returning fewer than k rows
    codes = tiered.apply_tombstones(
        spark,
        codes.withColumnRenamed("vid", id_col),
        f"{index_path}/tombstones",
    ).withColumnRenamed(id_col, "vid")
    codes = tiered.newest(codes, "vid")
    dt = pq_adc_table(query_vec, codebooks)
    cand = codes.select(F.col("vid"), _adc_col(dt).alias("adc"))
    if exclude_id is not None:
        cand = cand.filter(F.col("vid") != exclude_id)
    cand_ids = (
        cand.orderBy(F.col("adc").asc(), F.col("vid").asc())
        .limit(n_candidates)
        .select(F.col("vid").alias("__pq_cand_id"))
    )
    base = storage.read_with_recovery(
        spark,
        index_path,
        lambda: ivf_index_read(spark, index_path),
        ivfpq_index_recover,
    ).filter(F.col("cluster_id").isin(probes))
    base = tiered.newest(base, id_col)
    pruned = base.join(
        F.broadcast(cand_ids), _c(id_col) == F.col("__pq_cand_id")
    ).drop("__pq_cand_id")
    # expression-path re-rank over ≤ n_candidates rows — see pq_adc_topk
    return brute_force_topk(
        pruned,
        vec_col,
        id_col,
        query_vec,
        k=k,
        exclude_id=exclude_id,
        vectorized=False,
    )
