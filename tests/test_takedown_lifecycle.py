"""End-to-end takedown lifecycle soak across all five index families
(verdict r8 #6): per-family delete/compact behaviors were each tested
in isolation; this drives the FULL maintenance cadence a live index
sees — build → ingest batch → takedown delete → probe → compact →
re-ingest → probe — and asserts the post-lifecycle probe is identical
to a from-scratch build on exactly the corpus the lifecycle should
have converged to (initial ∪ batches − deleted ∪ re-ingested).

The composition matters: delete-then-compact-then-append exercises the
seq bookkeeping across a compaction boundary (the r6 resurrect bug and
the r8 delete-seq collision both lived exactly at these seams), and the
from-scratch twin is the only oracle that catches a divergence any
single-step test would miss.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hours_api_clickup_spark import storage
from hours_api_clickup_spark.plans.registry import load_table
from tests.conftest import SF_DIR

# lifecycle slices over the 500-row sf0.01 tables: initial corpus,
# first ingest batch, and the re-ingest batch are disjoint mod-5
# classes; takedowns hit ids PRESENT at delete time (classes 0-3)
_INITIAL = lambda c: F.pmod(c, F.lit(5)) < 3
_BATCH1 = lambda c: F.pmod(c, F.lit(5)) == 3
_BATCH2 = lambda c: F.pmod(c, F.lit(5)) == 4
_DOOMED = lambda c: (F.pmod(c, F.lit(5)) < 4) & (F.pmod(c, F.lit(7)) == 0)


def _slices(df, id_col):
    c = F.col(id_col)
    final_live = df.filter(
        ((F.pmod(c, F.lit(5)) < 4) & ~_DOOMED(c)) | _BATCH2(c)
    )
    return (
        df.filter(_INITIAL(c)),
        df.filter(_BATCH1(c)),
        df.filter(_BATCH2(c)),
        [r[0] for r in df.filter(_DOOMED(c)).select(id_col).collect()],
        final_live,
    )


class TestTakedownLifecycleSoak:
    def test_lsh_lifecycle_equals_fresh_build(self, spark, tmp_path):
        import hours_api_clickup_spark.datapipe.similarity as S

        emb = load_table(spark, SF_DIR, "embeddings")
        initial, b1, b2, doomed, final_live = _slices(emb, "vec_id")
        qv = [float(x) for x in emb.filter(F.col("vec_id") == 1).head()["embedding"]]

        p = str(tmp_path / "lsh")
        S.lsh_index_write(initial, "embedding", "vec_id", p, dim=64)
        S.lsh_index_append(b1, "embedding", "vec_id", p, dim=64)
        S.lsh_index_delete(spark, p, doomed)
        mid = S.lsh_probe_topk(spark, p, qv, k=10, exclude_id=1).collect()
        assert not {r["nbr_id"] for r in mid} & set(doomed)
        S.lsh_index_compact(spark, p)
        S.lsh_index_append(b2, "embedding", "vec_id", p, dim=64)
        got = [tuple(r) for r in S.lsh_probe_topk(spark, p, qv, k=10, exclude_id=1).collect()]

        fresh = str(tmp_path / "lsh_fresh")
        S.lsh_index_write(final_live, "embedding", "vec_id", fresh, dim=64)
        want = [tuple(r) for r in S.lsh_probe_topk(spark, fresh, qv, k=10, exclude_id=1).collect()]
        assert got == want and len(got) == 10

    def test_ivf_lifecycle_equals_fresh_build(self, spark, tmp_path):
        import hours_api_clickup_spark.datapipe.similarity as S

        emb = load_table(spark, SF_DIR, "embeddings")
        initial, b1, b2, doomed, final_live = _slices(emb, "vec_id")
        cents = S.seed_centroids(emb, "embedding", "vec_id", n_clusters=8)
        qv = [float(x) for x in emb.filter(F.col("vec_id") == 1).head()["embedding"]]

        p = str(tmp_path / "ivf")
        S.ivf_index_write(initial, "embedding", "vec_id", p, cents)
        S.ivf_index_append(b1, "embedding", "vec_id", p, cents)
        S.ivf_index_delete(spark, p, "vec_id", doomed)
        mid = S.ivf_probe_topk(
            spark, p, "embedding", "vec_id", qv, cents, k=10, nprobe=8,
            exclude_id=1,
        ).collect()
        assert not {r["nbr_id"] for r in mid} & set(doomed)
        S.ivf_index_compact(spark, p, "vec_id")
        S.ivf_index_append(b2, "embedding", "vec_id", p, cents)
        got = [
            tuple(r)
            for r in S.ivf_probe_topk(
                spark, p, "embedding", "vec_id", qv, cents, k=10, nprobe=8,
                exclude_id=1,
            ).collect()
        ]

        fresh = str(tmp_path / "ivf_fresh")
        S.ivf_index_write(final_live, "embedding", "vec_id", fresh, cents)
        want = [
            tuple(r)
            for r in S.ivf_probe_topk(
                spark, fresh, "embedding", "vec_id", qv, cents, k=10,
                nprobe=8, exclude_id=1,
            ).collect()
        ]
        assert got == want and len(got) == 10

    def test_ivfpq_lifecycle_equals_fresh_build(self, spark, tmp_path):
        """IVFPQ's compaction IS the two-tier rebuild (its codes tier
        cannot fold incrementally), run here on the live view the
        lifecycle has at that point — then the re-ingest appends on
        top, so the final index is rebuild+append vs the twin's pure
        build: the append-equals-write property composed across a
        delete."""
        import hours_api_clickup_spark.datapipe.similarity as S

        emb = load_table(spark, SF_DIR, "embeddings")
        initial, b1, b2, doomed, final_live = _slices(emb, "vec_id")
        cents = S.seed_centroids(emb, "embedding", "vec_id", n_clusters=8)
        cb = S.pq_seed_codebooks(emb, "embedding", "vec_id")
        qv = [float(x) for x in emb.filter(F.col("vec_id") == 1).head()["embedding"]]

        def probe(path):
            return [
                tuple(r)
                for r in S.ivfpq_probe_topk(
                    spark, path, "embedding", "vec_id", qv, cents, cb,
                    k=10, nprobe=8, n_candidates=64, exclude_id=1,
                ).collect()
            ]

        p = str(tmp_path / "ivfpq")
        S.ivfpq_index_write(initial, "embedding", "vec_id", p, cents, cb)
        S.ivfpq_index_append(b1, "embedding", "vec_id", p, cents, cb)
        S.ivf_index_delete(spark, p, "vec_id", doomed)
        assert not {r[0] for r in probe(p)} & set(doomed)
        live_mid = initial.unionByName(b1).filter(
            ~F.col("vec_id").isin(doomed)
        )
        S.ivfpq_index_write(live_mid, "embedding", "vec_id", p, cents, cb)
        S.ivfpq_index_append(b2, "embedding", "vec_id", p, cents, cb)
        got = probe(p)

        fresh = str(tmp_path / "ivfpq_fresh")
        S.ivfpq_index_write(final_live, "embedding", "vec_id", fresh, cents, cb)
        assert got == probe(fresh) and len(got) == 10

    def test_text_index_lifecycle_equals_fresh_build(self, spark, tmp_path):
        from hours_api_clickup_spark.datapipe.textindex import (
            index_term_topk,
            inverted_index_append,
            inverted_index_compact,
            inverted_index_delete,
            inverted_index_read,
            inverted_index_write,
        )

        docs = load_table(spark, SF_DIR, "documents")
        initial, b1, b2, doomed, final_live = _slices(docs, "doc_id")
        terms = ["merge", "vector"]

        p = str(tmp_path / "txt")
        inverted_index_write(initial, "text", "doc_id", p)
        inverted_index_append(b1, "text", "doc_id", p)
        inverted_index_delete(spark, p, doomed)
        mid = index_term_topk(
            spark, inverted_index_read(spark, p), terms, k=10
        ).collect()
        assert not {r["doc_id"] for r in mid} & set(doomed)
        inverted_index_compact(spark, p)
        inverted_index_append(b2, "text", "doc_id", p)
        got = [
            tuple(r)
            for r in index_term_topk(
                spark, inverted_index_read(spark, p), terms, k=10
            ).collect()
        ]

        fresh = str(tmp_path / "txt_fresh")
        inverted_index_write(final_live, "text", "doc_id", fresh)
        want = [
            tuple(r)
            for r in index_term_topk(
                spark, inverted_index_read(spark, fresh), terms, k=10
            ).collect()
        ]
        assert got == want and len(got) == 10

    def test_doc_neardup_lifecycle_equals_fresh_build(self, spark, tmp_path):
        from hours_api_clickup_spark.datapipe.dedup import (
            doc_neardup_index_append,
            doc_neardup_index_compact,
            doc_neardup_index_delete,
            doc_neardup_index_pairs_for_ids,
            doc_neardup_index_write,
        )

        docs = load_table(spark, SF_DIR, "documents")
        initial, b1, b2, doomed, final_live = _slices(docs, "doc_id")
        probe_ids = final_live.select("doc_id").limit(200)

        def pairs(path):
            return sorted(
                (r["id_a"], r["id_b"], round(float(r["jaccard"]), 6))
                for r in doc_neardup_index_pairs_for_ids(
                    spark, path, probe_ids
                ).collect()
            )

        p = str(tmp_path / "nd")
        doc_neardup_index_write(initial, "doc_id", "text", p)
        doc_neardup_index_append(b1, p, "doc_id", "text").count()
        doc_neardup_index_delete(spark, p, doomed)
        for a, b, _ in pairs(p):
            assert a not in doomed and b not in doomed
        doc_neardup_index_compact(spark, p)
        doc_neardup_index_append(b2, p, "doc_id", "text").count()
        got = pairs(p)

        fresh = str(tmp_path / "nd_fresh")
        doc_neardup_index_write(final_live, "doc_id", "text", fresh)
        assert got == pairs(fresh)
        assert len(got) > 0, "probe must exercise real near-dup pairs"


def test_streaming_ivfpq_lifecycle_equals_fresh_build(spark, tmp_path):
    """The IVFADC lifecycle driven through the STREAMING ingest (r9's
    new wrapper) instead of batch appends: stream initial+batch1 →
    takedown → rebuild-compact (consumes the streamed logs AND the
    tombstones transactionally) → stream batch2 over a fresh
    checkpoint → probe equals a from-scratch build on the converged
    corpus. Pins seq bookkeeping when seqs come from streaming
    batch_ids rather than _next_seq."""
    import pytest
    from pyspark.sql import functions as F

    import hours_api_clickup_spark.datapipe.similarity as S
    from hours_api_clickup_spark.plans.registry import load_table
    from hours_api_clickup_spark.streaming.ann_ingest import (
        streaming_ivfpq_ingest,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    initial, b1, b2, doomed, final_live = _slices(emb, "vec_id")
    cents = S.seed_centroids(emb, "embedding", "vec_id", n_clusters=8)
    cb = S.pq_seed_codebooks(emb, "embedding", "vec_id")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 1).head()["embedding"]]

    def probe(path):
        return [
            tuple(r)
            for r in S.ivfpq_probe_topk(
                spark, path, "embedding", "vec_id", qv, cents, cb,
                k=10, nprobe=8, n_candidates=64, exclude_id=1,
            ).collect()
        ]

    def drain(df, stage_name, ckpt_name, idx):
        stage = str(tmp_path / stage_name)
        df.coalesce(1).write.parquet(stage)
        q = streaming_ivfpq_ingest(
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage),
            idx,
            str(tmp_path / ckpt_name),
            cents,
            cb,
        )
        q.awaitTermination(300)

    p = str(tmp_path / "ivfpq")
    drain(initial, "s0", "c0", p)  # batch 0 bootstraps via the write core
    drain(b1, "s1", "c1", p)
    S.ivf_index_delete(spark, p, "vec_id", doomed)
    assert not {r[0] for r in probe(p)} & set(doomed)

    # the family's compaction: rebuild on the live view — under the
    # lease, consuming the streamed log/codes_log and the tombstones
    live_mid = initial.unionByName(b1).filter(~F.col("vec_id").isin(doomed))
    S.ivfpq_index_write(live_mid, "embedding", "vec_id", p, cents, cb)
    import os

    for tier in ("log", "codes_log", "tombstones"):
        assert not os.path.exists(f"{p}/{tier}"), tier

    drain(b2, "s2", "c2", p)  # re-ingest via a fresh stream
    got = probe(p)

    fresh = str(tmp_path / "fresh")
    S.ivfpq_index_write(final_live, "embedding", "vec_id", fresh, cents, cb)
    assert got == probe(fresh) and len(got) == 10

    # and a compact racing a live streamed batch refuses loudly: the
    # lease the wrapper holds per batch is the same one the rebuild takes
    storage.acquire_lease(spark, p, "simulated-streaming-batch")
    try:
        with pytest.raises(storage.MaintenanceLeaseHeld, match="lease"):
            S.ivfpq_index_write(final_live, "embedding", "vec_id", p, cents, cb)
    finally:
        storage.release_lease(spark, p)


def test_streaming_lsh_lifecycle_equals_fresh_build(spark, tmp_path):
    """The LSH lifecycle driven through the streaming ingest: stream
    initial+batch1 (seq = batch_id) → takedown → compact (folds the
    streamed log, consumes the tombstones) → stream batch2 over a
    fresh checkpoint → probe equals a from-scratch build. The delete
    seq interacts with streaming batch ids here, not _next_seq — the
    seam where the r8 delete-seq collision lived."""
    from pyspark.sql import functions as F

    import hours_api_clickup_spark.datapipe.similarity as S
    from hours_api_clickup_spark.plans.registry import load_table
    from hours_api_clickup_spark.streaming.ann_ingest import (
        streaming_lsh_ingest,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    initial, b1, b2, doomed, final_live = _slices(emb, "vec_id")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 1).head()["embedding"]]

    def probe(path):
        return [
            tuple(r)
            for r in S.lsh_probe_topk(
                spark, path, qv, k=10, exclude_id=1
            ).collect()
        ]

    def drain(df, stage_name, ckpt_name, idx):
        stage = str(tmp_path / stage_name)
        df.coalesce(1).write.parquet(stage)
        q = streaming_lsh_ingest(
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage),
            idx,
            str(tmp_path / ckpt_name),
            dim=64,
        )
        q.awaitTermination(300)

    p = str(tmp_path / "lsh")
    drain(initial, "s0", "c0", p)  # batch 0 bootstraps the base
    drain(b1, "s1", "c1", p)
    S.lsh_index_delete(spark, p, doomed)
    assert not {r[0] for r in probe(p)} & set(doomed)
    S.lsh_index_compact(spark, p)
    import os

    assert not os.path.exists(f"{p}/log")
    assert not os.path.exists(f"{p}/tombstones")
    drain(b2, "s2", "c2", p)
    got = probe(p)

    fresh = str(tmp_path / "fresh")
    S.lsh_index_write(final_live, "embedding", "vec_id", fresh, dim=64)
    assert got == probe(fresh) and len(got) == 10
