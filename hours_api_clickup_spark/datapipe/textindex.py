"""Persisted inverted text index: token-hash-bucketed postings with
partition-pruned probes — the lexical counterpart of the persisted ANN
index family (datapipe/similarity.py).

The scan-form retrieval queries (``text_search_topk``,
``phrase_search_topk``) re-tokenize the corpus per query. At 100 TB a
search service cannot: tokenization is materialized ONCE at ingest into
a postings table

    {path}/base/tb=<bucket>/part-*.parquet
    (token string, doc_id long, tf long, positions array<long>)

partitioned by ``tb = pmod(xxhash64(token), n_buckets)``, with each
bucket's files sorted by token so the probe's ``token IN (...)``
predicate also prunes parquet row groups via min/max stats. A probe
enumerates its query terms' buckets (|terms| rows of driver-side work,
bounded by the query) and reads ONLY those partitions — cost scales
with the postings of the queried terms, never the corpus.

``positions`` are 1-based offsets into the document's full split array
(empty tokens from leading/repeated delimiters occupy a slot but are
never stored), so phrase adjacency is ``pos_b == pos_a + 1`` — the same
convention the scan-form phrase query and its DuckDB oracle use, which
is what lets the index probe hash-match the scan form's oracle.

Standard IR postings design (Manning/Raghavan/Schütze, Introduction to
Information Retrieval ch. 1-2); the reference engine has no text index
— its filtering is row-at-a-time Python (fetch_clickup_data.py) — so
this is part of the beyond-reference scale surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hours_api_clickup_spark import storage
from hours_api_clickup_spark.datapipe import tiered

TOKEN_SPLIT_RE = r"[^a-z0-9]+"
DEFAULT_TEXT_BUCKETS = 64

_POSTING_COLS = ("token", "doc_id", "tf", "positions", "seq", "tb")
TEXT_LAYOUT = tiered.Layout(
    key="doc_id",
    parts=("tb",),
    sort=("token", "doc_id"),
    fold=("token",),  # one posting per (doc, token) of the newest version
    norm=lambda df: df.select(*_POSTING_COLS),
)


def tokenize(text_col: str = "text"):
    """The engine-wide tokenizer: lower → trim → split on non-alnum.
    Kept in one place so index build, scan-form queries, and oracles
    cannot drift apart."""
    return F.split(F.lower(F.trim(F.col(text_col))), TOKEN_SPLIT_RE)


def _posting_rows(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int,
    seq: int,
    balanced: bool = False,
) -> DataFrame:
    """One posting row per (token, doc) with tf and sorted positions.

    Build path (``balanced``) — one shuffle total: the per-occurrence
    rows are dealt evenly over the write tasks by bucket
    (``tiered.balanced_salt``) BEFORE the aggregation, and the salt
    leads the groupBy keys (it is a pure function of ``tb``, so the
    groups are unchanged), so the existing partitioning satisfies the
    aggregation's clustering and no second exchange is planned.
    Aggregating first and then repartitioning on tb paid two full
    shuffles of the postings; the per-occurrence rows cost about the
    same shuffle bytes as the aggregated ones, since the positions
    arrays carry every occurrence either way (measured on a 90k-doc
    corpus: 9.0s → 5.3s build median).

    Append path: aggregated in parallel, then collapsed to one file by
    ``tiered.write_log_file`` — pre-collapsing would serialize the
    whole batch's aggregation into one task.
    """
    toks = tokenize(text_col)
    occ = (
        docs.select(F.col(id_col).alias("doc_id"), F.posexplode(toks))
        .filter(F.col("col") != "")
        .select(
            "doc_id",
            F.col("col").alias("token"),
            (F.col("pos") + 1).cast("long").alias("position"),
        )
        .withColumn(
            "tb", F.pmod(F.xxhash64("token"), F.lit(n_buckets)).cast("int")
        )
    )
    group_keys = ["tb", "token", "doc_id"]
    if balanced:
        n_tasks = tiered.write_tasks(docs.sparkSession, n_buckets)
        occ = occ.withColumn(
            "__p", tiered.balanced_salt(F.col("tb"), n_buckets, n_tasks)
        ).repartition(n_tasks, F.col("__p"))
        group_keys = ["__p", *group_keys]
    return (
        occ.groupBy(*group_keys)
        .agg(
            F.count("*").cast("long").alias("tf"),
            F.sort_array(F.collect_list("position")).alias("positions"),
        )
        .withColumn("seq", F.lit(int(seq)).cast("long"))
        .select(*_POSTING_COLS)
    )


def inverted_index_write(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    n_buckets: int = DEFAULT_TEXT_BUCKETS,
) -> None:
    """Materialize the postings table. One posting row per (token, doc)
    with term frequency and the sorted 1-based position list.

    Scale shape: posexplode → one shuffle, bucket directories dealt
    evenly over the write tasks; the aggregation key includes doc_id, so
    no reducer sees more than one document's occurrences of a zipf-heavy
    term. Sorting by token gives row-group locality for the probe's
    token IN-list pushdown.

    A ``datapipe.tiered`` index: staged + swapped base, a rebuild is
    maintenance (lease) and refuses while a log or tombstone tier exists
    (``tiered.refuse_stale_tiers``)."""
    with storage.maintenance_lease(docs.sparkSession, path, "inverted_index_write"):
        _inverted_index_write_unlocked(docs, text_col, id_col, path, n_buckets)


def _inverted_index_write_unlocked(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    n_buckets: int = DEFAULT_TEXT_BUCKETS,
) -> None:
    """``inverted_index_write`` body for callers already holding the
    lease (the streaming text ingest's bootstrap)."""
    tiered.refuse_stale_tiers(docs.sparkSession, path, "inverted_index_write")
    postings = _posting_rows(docs, text_col, id_col, n_buckets, seq=0, balanced=True)
    tiered.write_base(postings, path, TEXT_LAYOUT, radices=None)


def inverted_index_append(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    n_buckets: int = DEFAULT_TEXT_BUCKETS,
    seq: int | None = None,
) -> None:
    """Append-only (merge-on-read) document ingest for a growing corpus:
    tokenize ONLY the batch and commit it as one sorted file under
    ``{path}/log`` (``tiered.append``; bootstraps a missing index).
    Write cost is O(batch).

    Probes keep, per (token, doc), the max-``seq`` posting among the
    PRUNED rows. Bounded staleness: if a re-ingested document's new
    version DROPPED a token, the old posting survives until
    ``inverted_index_compact`` folds the log. Appending NEW documents is
    exact immediately."""
    tiered.append(
        docs,
        path,
        "inverted_index_append",
        bootstrap=lambda b: _inverted_index_write_unlocked(
            b, text_col, id_col, path, n_buckets
        ),
        write_log=lambda b, s: tiered.write_log_file(
            _posting_rows(b, text_col, id_col, n_buckets, seq=s), path, TEXT_LAYOUT
        ),
        reader=inverted_index_read,
        seq=seq,
    )


def inverted_index_compact(spark: SparkSession, path: str) -> None:
    """Fold log and tombstones into the base: per document keep only its
    newest version (max ``seq`` across ALL its postings, so a token the
    new version dropped disappears), rewritten through the balanced
    writer (``tiered.compact``). O(corpus), compaction cadence,
    single-maintainer lease."""
    tiered.compact(spark, path, TEXT_LAYOUT, "inverted_index_compact")


def inverted_index_read(spark: SparkSession, path: str) -> DataFrame:
    """Base ∪ log minus tombstoned documents (``tiered.read``);
    duplicates resolve at probe time by max-seq per (token, doc) — see
    ``term_postings``. The probes' tb/token predicates still push below
    the broadcast tombstone join to the partitioned scan."""
    return tiered.read(spark, path, TEXT_LAYOUT)


def inverted_index_delete(
    spark: SparkSession,
    path: str,
    doc_ids: "list | DataFrame",
    seq: int | None = None,
) -> None:
    """Tombstone delete: one tiny (doc_id, seq) file under
    ``{path}/tombstones``; no posting is read or rewritten (plan-gated).
    Probes filter at read time; ``inverted_index_compact`` makes it
    physical. ``doc_ids`` is an id list or a DataFrame of ids."""
    tiered.delete(spark, path, "doc_id", doc_ids, seq, inverted_index_read)


def _term_buckets(
    spark: SparkSession, terms: list[str], n_buckets: int
) -> list[int]:
    """Bucket ids for the query terms, computed WITH Spark's own
    xxhash64 so probe-side bucketing can never drift from build-side.
    Driver-side cost is |terms| rows — bounded by the query."""
    rows = (
        spark.createDataFrame([(t,) for t in terms], "token string")
        .select(F.pmod(F.xxhash64("token"), F.lit(n_buckets)).cast("int").alias("tb"))
        .collect()
    )
    return sorted({r["tb"] for r in rows})


def term_postings(
    spark: SparkSession,
    index: DataFrame,
    terms: list[str],
    n_buckets: int = DEFAULT_TEXT_BUCKETS,
) -> DataFrame:
    """Postings rows for ``terms``: partition-pruned to the terms'
    buckets (tb IN ...) with the token IN-list pushed to the parquet
    reader (row-group pruning via the sorted token column). Merge-on-
    read resolution: keep the max-``seq`` row per (token, doc) among
    the pruned slice — O(pruned postings), never the corpus."""
    buckets = _term_buckets(spark, terms, n_buckets)
    pruned = index.filter(
        F.col("tb").isin(buckets) & F.col("token").isin(terms)
    )
    return tiered.newest(pruned, "token", "doc_id").dropDuplicates(["token", "doc_id"])


def index_term_topk(
    spark: SparkSession,
    index: DataFrame,
    terms: list[str],
    k: int = 10,
    n_buckets: int = DEFAULT_TEXT_BUCKETS,
) -> DataFrame:
    """Multi-term tf-sum retrieval from the persisted index: score(doc)
    = Σ_t tf(t, doc) over the query terms, top-k by (score, doc_id).
    One map-side-combining groupBy over the pruned postings slice, then
    TakeOrderedAndProject."""
    p = term_postings(spark, index, terms, n_buckets)
    return (
        p.groupBy("doc_id")
        .agg(F.sum("tf").cast("bigint").alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def index_phrase_topk(
    spark: SparkSession,
    index: DataFrame,
    first: str,
    second: str,
    k: int = 10,
    n_buckets: int = DEFAULT_TEXT_BUCKETS,
) -> DataFrame:
    """Adjacency-exact two-token phrase retrieval from the persisted
    index: join the two terms' postings on doc_id and count positions
    where ``second`` directly follows ``first``. The join inputs are
    the pruned postings of exactly two tokens — at any corpus scale the
    work is proportional to those two postings lists. Emits the same
    (doc_id, n_hits) surface as the scan-form phrase query, so the same
    oracle hash-matches both."""
    p = term_postings(spark, index, [first, second], n_buckets)
    a = p.filter(F.col("token") == first).select(
        "doc_id", F.col("positions").alias("pa")
    )
    b = p.filter(F.col("token") == second).select(
        "doc_id", F.col("positions").alias("pb")
    )
    hits = (
        a.join(b, "doc_id")
        .select(
            "doc_id",
            F.size(
                F.array_intersect(
                    F.transform("pa", lambda x: x + 1), F.col("pb")
                )
            )
            .cast("bigint")
            .alias("n_hits"),
        )
        .filter(F.col("n_hits") > 0)
    )
    return hits.orderBy(F.col("n_hits").desc(), F.col("doc_id").asc()).limit(k)
