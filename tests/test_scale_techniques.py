"""Scale-technique verification: salted aggregation equals plain
aggregation (and actually spreads the hot key), and bucketed tables join
with zero exchanges."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from hours_api_clickup_spark import storage
from hours_api_clickup_spark.datapipe import tiered
from hours_api_clickup_spark.operators.skew import salted_agg, with_salt
from hours_api_clickup_spark.plans.registry import load_table
from hours_api_clickup_spark.sinks.writers import write_bucketed
from tests.conftest import SF_DIR


def _rounded(v):
    """An index row's vector for comparison: None stays None (only a
    vector's table-0 row stores it)."""
    return None if v is None else tuple(round(float(x), 6) for x in v)


def _skewed_df(spark):
    # 90% of rows share one hot key
    return spark.range(0, 20_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 100).cast("string"))
        ).alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
    )


def test_salted_agg_matches_plain(spark):
    df = _skewed_df(spark)
    plain = df.groupBy("k").agg(
        F.sum("v").alias("total"), F.count("*").alias("n")
    )
    salted = salted_agg(
        df,
        ["k"],
        {
            "total": (F.sum("v"), F.sum("total")),
            "n": (F.count("*"), F.sum("n")),
        },
        n_salts=8,
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_salt_spreads_hot_key(spark):
    df = _skewed_df(spark)
    per_salt = (
        with_salt(df, 8)
        .filter(F.col("k") == "hot")
        .groupBy("__salt")
        .count()
        .collect()
    )
    assert len(per_salt) == 8  # the hot key now occupies 8 reducers
    counts = [r["count"] for r in per_salt]
    assert max(counts) < sum(counts)  # genuinely spread, not one bucket


def test_bucketed_join_no_shuffle(spark):
    orders = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    write_bucketed(orders, "b_orders", "o_orderkey", 8)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        "o_orderkey",
        8,
    )
    joined = (
        spark.table("b_lineitem")
        .hint("merge")  # force SMJ so the exchange absence is meaningful
        .join(spark.table("b_orders"), "o_orderkey")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain()
    plan = buf.getvalue()
    # co-located bucketed join: sort-merge with NO shuffle on either side
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert joined.count() == li.count()


def test_distributed_chunk_fetch(spark):
    import datetime as dt

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from hours_api_clickup_spark.sources.chunks import window_chunks
    from hours_api_clickup_spark.sources.distributed_fetch import (
        fetch_chunks_distributed,
    )

    chunks = window_chunks(
        spark, dt.datetime(2024, 1, 1), dt.datetime(2024, 7, 1), chunk_days=30
    )
    schema = StructType(
        [
            StructField("id", StringType()),
            StructField("fetched_at", TimestampType()),
            StructField("n", LongType()),
        ]
    )

    def fake_fetch(start, end):
        if start.month == 3:  # a failing chunk must be skipped, not fatal
            raise RuntimeError("boom")
        return [
            {"id": f"{start:%Y%m%d}-{i}", "fetched_at": start, "n": i}
            for i in range(5)
        ]

    out = fetch_chunks_distributed(chunks, fake_fetch, schema).collect()
    months = {r["fetched_at"].month for r in out}
    assert 3 not in months  # failing chunks skipped, not fatal
    n_ok = sum(1 for c in chunks.collect() if c["chunk_start"].month != 3)
    assert len(out) == n_ok * 5


class TestExactQuantiles:
    """Distributed exact quantiles (two-phase global rank) must agree
    with Spark's single-buffer exact percentile on every shape of input."""

    def _check(self, spark, values, qs):
        from pyspark.sql import functions as F

        from hours_api_clickup_spark.operators.quantiles import exact_quantiles

        df = spark.createDataFrame([(v,) for v in values], "v double")
        got = exact_quantiles(df, "v", qs).collect()[0]
        exp = df.agg(F.percentile("v", F.lit(qs)).alias("p")).collect()[0]["p"]
        for g, e in zip(got, exp):
            if e is None:
                assert g is None
            else:
                assert abs(g - e) < 1e-12, (g, e)

    def test_random_with_ties(self, spark):
        import random

        rng = random.Random(7)
        vals = [round(rng.uniform(0, 100), 1) for _ in range(997)]  # many ties
        self._check(spark, vals, [0.0, 0.25, 0.5, 0.9, 0.99, 1.0])

    def test_single_row(self, spark):
        self._check(spark, [42.0], [0.25, 0.5, 0.99])

    def test_two_rows(self, spark):
        self._check(spark, [1.0, 2.0], [0.25, 0.5, 0.75])

    def test_nulls_ignored(self, spark):
        from pyspark.sql import functions as F

        from hours_api_clickup_spark.operators.quantiles import exact_quantiles

        df = spark.createDataFrame(
            [(1.0,), (None,), (2.0,), (None,), (3.0,)], "v double"
        )
        got = exact_quantiles(df, "v", [0.5]).collect()[0][0]
        assert abs(got - 2.0) < 1e-12

    def test_empty_all_null_row(self, spark):
        from hours_api_clickup_spark.operators.quantiles import exact_quantiles

        df = spark.createDataFrame([], "v double")
        rows = exact_quantiles(df, "v", [0.5, 0.9]).collect()
        assert len(rows) == 1 and rows[0][0] is None and rows[0][1] is None


class TestLshIndexUpsert:
    """Incremental ANN index maintenance: upserting a batch (re-ingest
    by id through append + compact, the one incremental path) must
    equal rebuilding the index from scratch on the combined corpus."""

    def test_upsert_equals_rebuild(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe.similarity import (
            lsh_index_append,
            lsh_index_compact,
            lsh_index_write,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        emb = load_table(spark, SF_DIR, "embeddings")
        old = emb.filter(F.col("vec_id") < 400)
        # batch: brand-new vectors plus 10 re-ingested ids whose payload
        # is NEGATED — a direction-changing edit that flips every
        # hyperplane sign, so the re-ingested rows land in DIFFERENT
        # buckets and the stale rows in their old (t, sb) partitions
        # must be rewritten away (a scale-only perturbation like *2.0
        # preserves signatures and never exercises that path)
        new = emb.filter(
            (F.col("vec_id") >= 400) | (F.col("vec_id") < 10)
        ).withColumn(
            "embedding",
            F.when(
                F.col("vec_id") < 10,
                F.transform("embedding", lambda x: -x),
            )
            .otherwise(F.col("embedding"))
            .cast("array<float>"),  # keep the index element type stable
        )
        # a real ingest batch can carry the same id twice; the append
        # must collapse it, not write both copies
        new = new.unionByName(new.filter(F.col("vec_id") == 5))

        inc_path = str(tmp_path / "inc")
        lsh_index_write(old, "embedding", "vec_id", inc_path, dim=64)
        lsh_index_append(new, "embedding", "vec_id", inc_path, dim=64)
        lsh_index_compact(spark, inc_path)

        full_path = str(tmp_path / "full")
        combined = old.join(
            new.select("vec_id"), "vec_id", "left_anti"
        ).unionByName(new.dropDuplicates(["vec_id"]))
        lsh_index_write(combined, "embedding", "vec_id", full_path, dim=64)

        def canon(path):
            from hours_api_clickup_spark.datapipe.similarity import lsh_index_read

            return sorted(
                (r["t"], r["sig"], r["vid"], _rounded(r["v"]))
                for r in lsh_index_read(spark, path).collect()
            )

        assert canon(inc_path) == canon(full_path)

    def test_append_new_ids_probe_equals_rebuild(self, spark, tmp_path):
        """Append-only (merge-on-read) ingest of NEW ids is exact: a
        probe against base+appended equals a probe against the index
        rebuilt from the combined corpus."""
        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe.similarity import (
            lsh_index_append,
            lsh_index_write,
            lsh_probe_topk,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        emb = load_table(spark, SF_DIR, "embeddings")
        old = emb.filter(F.col("vec_id") < 400)
        new = emb.filter(F.col("vec_id") >= 400)
        qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]

        inc_path = str(tmp_path / "inc")
        lsh_index_write(old, "embedding", "vec_id", inc_path, dim=64)
        lsh_index_append(new, "embedding", "vec_id", inc_path, dim=64)
        full_path = str(tmp_path / "full")
        lsh_index_write(emb, "embedding", "vec_id", full_path, dim=64)

        got = [tuple(r) for r in lsh_probe_topk(spark, inc_path, qv, k=10).collect()]
        want = [tuple(r) for r in lsh_probe_topk(spark, full_path, qv, k=10).collect()]
        assert got == want and len(got) == 10

    def test_append_then_compact_equals_rebuild(self, spark, tmp_path):
        """Re-ingesting ids with direction-changed vectors via append
        leaves multi-version rows; compaction folds the log to exactly
        the rebuilt index (newest version wins, stale buckets dropped)."""
        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe.similarity import (
            lsh_index_append,
            lsh_index_compact,
            lsh_index_write,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        emb = load_table(spark, SF_DIR, "embeddings")
        old = emb.filter(F.col("vec_id") < 400)
        new = emb.filter(
            (F.col("vec_id") >= 400) | (F.col("vec_id") < 10)
        ).withColumn(
            "embedding",
            F.when(
                F.col("vec_id") < 10,
                F.transform("embedding", lambda x: -x),
            )
            .otherwise(F.col("embedding"))
            .cast("array<float>"),
        )

        inc_path = str(tmp_path / "inc")
        lsh_index_write(old, "embedding", "vec_id", inc_path, dim=64)
        lsh_index_append(new, "embedding", "vec_id", inc_path, dim=64)
        lsh_index_compact(spark, inc_path)

        full_path = str(tmp_path / "full")
        combined = old.join(
            new.select("vec_id"), "vec_id", "left_anti"
        ).unionByName(new)
        lsh_index_write(combined, "embedding", "vec_id", full_path, dim=64)

        from hours_api_clickup_spark.datapipe.similarity import lsh_index_read

        def canon(path):
            return sorted(
                (r["t"], r["sig"], r["vid"], _rounded(r["v"]))
                for r in lsh_index_read(spark, path).collect()
            )

        assert canon(inc_path) == canon(full_path)
        # the compaction leaves no staged/rolled-back copy behind and
        # one row per (vid, table)
        import os

        for leftover in ("base__staged", "base__old", "log"):
            assert not os.path.exists(f"{inc_path}/{leftover}"), leftover
        dupes = (
            lsh_index_read(spark, inc_path)
            .groupBy("vid", "t")
            .count()
            .filter("count > 1")
            .count()
        )
        assert dupes == 0

    def test_upsert_bootstraps_missing_index(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe.similarity import (
            lsh_index_append,
            lsh_index_write,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 100)
        boot_path = str(tmp_path / "boot")
        lsh_index_append(emb, "embedding", "vec_id", boot_path, dim=64)
        ref_path = str(tmp_path / "ref")
        lsh_index_write(emb, "embedding", "vec_id", ref_path, dim=64)
        from hours_api_clickup_spark.datapipe.similarity import lsh_index_read

        got = sorted(
            (r["t"], r["sig"], r["vid"])
            for r in lsh_index_read(spark, boot_path).collect()
        )
        want = sorted(
            (r["t"], r["sig"], r["vid"])
            for r in lsh_index_read(spark, ref_path).collect()
        )
        assert got == want


class TestLshVectorOnce:
    """The LSH index stores each vector once, on its table-0 row; the
    other tables' rows carry ``v = NULL``. An index written with the
    vector on every table's row reads and probes the same, and one
    compaction drops the copies."""

    @staticmethod
    def _raw(spark, path, tier):
        # the files as written, not the normalized view
        return spark.read.parquet(f"{path}/{tier}")

    def _assert_vectors_on_table0_only(self, spark, path, tier):
        raw = self._raw(spark, path, tier)
        off = raw.filter((F.col("t") != 0) & F.col("v").isNotNull()).count()
        missing = raw.filter((F.col("t") == 0) & F.col("v").isNull()).count()
        assert (off, missing) == (0, 0), (tier, off, missing)
        assert raw.filter(F.col("t") == 0).count() > 0

    @staticmethod
    def _reingest_batch(emb):
        # new ids plus 10 re-ingested ids whose negated vectors move to
        # other buckets
        return emb.filter(
            (F.col("vec_id") >= 400) | (F.col("vec_id") < 10)
        ).withColumn(
            "embedding",
            F.when(F.col("vec_id") < 10, F.transform("embedding", lambda x: -x))
            .otherwise(F.col("embedding"))
            .cast("array<float>"),
        )

    def test_write_append_compact_store_vectors_on_table0_only(self, spark, tmp_path):
        from hours_api_clickup_spark.datapipe.similarity import (
            lsh_index_append,
            lsh_index_compact,
            lsh_index_write,
        )

        emb = load_table(spark, SF_DIR, "embeddings")
        path = str(tmp_path / "idx")
        lsh_index_write(emb.filter(F.col("vec_id") < 400), "embedding", "vec_id", path, dim=64)
        self._assert_vectors_on_table0_only(spark, path, "base")
        lsh_index_append(self._reingest_batch(emb), "embedding", "vec_id", path, dim=64)
        self._assert_vectors_on_table0_only(spark, path, "log")
        lsh_index_compact(spark, path)
        self._assert_vectors_on_table0_only(spark, path, "base")
        assert self._raw(spark, path, "base").select("vid").distinct().count() == 500

    def test_old_form_index_probes_identically_and_compacts_to_new_form(
        self, spark, tmp_path
    ):
        from hours_api_clickup_spark.datapipe.similarity import (
            lsh_index_append,
            lsh_index_compact,
            lsh_index_delete,
            lsh_index_read,
            lsh_index_write,
            lsh_probe_topk,
        )

        emb = load_table(spark, SF_DIR, "embeddings")
        old_corpus = emb.filter(F.col("vec_id") < 400)
        new_path, old_path = str(tmp_path / "new"), str(tmp_path / "old")
        lsh_index_write(old_corpus, "embedding", "vec_id", new_path, dim=64)
        # the old form: the same rows, each table's row carrying the vector
        vecs = old_corpus.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("v"))
        self._raw(spark, new_path, "base").drop("v").join(vecs, "vid").write.partitionBy(
            "t", "sb"
        ).parquet(f"{old_path}/base")
        raw_old = self._raw(spark, old_path, "base")
        assert raw_old.filter(F.col("v").isNotNull()).count() == 6 * 400

        batch = self._reingest_batch(emb)
        for path in (new_path, old_path):
            lsh_index_append(batch, "embedding", "vec_id", path, dim=64)
            lsh_index_delete(spark, path, [401, 77])

        def probes(path):
            return [
                [tuple(r) for r in lsh_probe_topk(spark, path, qv, k=10).collect()]
                for qv in queries
            ]

        queries = [
            [float(x) for x in r["embedding"]]
            for r in batch.filter(F.col("vec_id").isin(3, 450)).orderBy("vec_id").collect()
        ] + [
            [float(x) for x in r["embedding"]]
            for r in old_corpus.filter(F.col("vec_id").isin(3, 120)).orderBy("vec_id").collect()
        ]
        want = probes(new_path)
        assert all(len(got) == 10 for got in want)
        assert probes(old_path) == want

        def canon(path):
            return sorted(
                (r["t"], r["sig"], r["vid"], r["seq"], _rounded(r["v"]))
                for r in lsh_index_read(spark, path).collect()
            )

        assert canon(old_path) == canon(new_path)
        lsh_index_compact(spark, old_path)
        self._assert_vectors_on_table0_only(spark, old_path, "base")
        lsh_index_compact(spark, new_path)
        assert canon(old_path) == canon(new_path)
        assert probes(old_path) == probes(new_path)


class TestIvfIndexUpsert:
    def test_upsert_equals_rebuild(self, spark, tmp_path):
        """Re-ingest by id through append + compact equals a rebuild."""
        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe.similarity import (
            ivf_index_append,
            ivf_index_compact,
            ivf_index_write,
            seed_centroids,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        emb = load_table(spark, SF_DIR, "embeddings")
        # quantizer frozen on the ORIGINAL corpus — ingest must not
        # retrain it (standard IVF: rebalance is an offline rebuild)
        cents = seed_centroids(emb.filter(F.col("vec_id") < 400), "embedding", "vec_id")
        old = emb.filter(F.col("vec_id") < 400)
        # negation moves the re-ingested ids to different cosine
        # clusters, exercising the stale-row rewrite of their OLD
        # cluster partitions (see the LSH twin test)
        new = emb.filter(
            (F.col("vec_id") >= 400) | (F.col("vec_id") < 10)
        ).withColumn(
            "embedding",
            F.when(
                F.col("vec_id") < 10,
                F.transform("embedding", lambda x: -x),
            )
            .otherwise(F.col("embedding"))
            .cast("array<float>"),
        )

        inc_path = str(tmp_path / "inc")
        ivf_index_write(old, "embedding", "vec_id", inc_path, cents)
        ivf_index_append(new, "embedding", "vec_id", inc_path, cents)
        ivf_index_compact(spark, inc_path, "vec_id")

        full_path = str(tmp_path / "full")
        combined = old.join(
            new.select("vec_id"), "vec_id", "left_anti"
        ).unionByName(new)
        ivf_index_write(combined, "embedding", "vec_id", full_path, cents)

        def canon(path):
            from hours_api_clickup_spark.datapipe.similarity import (
                ivf_index_read,
            )

            return sorted(
                (
                    r["cluster_id"],
                    r["vec_id"],
                    tuple(round(float(x), 6) for x in r["embedding"]),
                )
                for r in ivf_index_read(spark, path).collect()
            )

        assert canon(inc_path) == canon(full_path)


def test_grouped_exact_quantiles_match_builtin(spark):
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.operators.quantiles import (
        grouped_exact_quantiles,
    )

    import random

    rng = random.Random(11)
    rows = [
        (rng.choice(["a", "b", "c"]), round(rng.uniform(0, 100), 1))
        for _ in range(500)
    ] + [("only_nulls", None), ("a", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r["g"]: (r["q_50"], r["q_95"])
        for r in grouped_exact_quantiles(df, "g", "v", [0.5, 0.95]).collect()
    }
    exp = {
        r["g"]: tuple(r["p"])
        for r in df.filter(F.col("v").isNotNull())
        .groupBy("g")
        .agg(F.percentile("v", F.lit([0.5, 0.95])).alias("p"))
        .collect()
    }
    assert set(got) == set(exp)  # only-null group absent from both
    for g in exp:
        for a, b in zip(got[g], exp[g]):
            assert abs(a - b) < 1e-12


class TestIvfIndexAppend:
    def test_append_then_compact_equals_rebuild(self, spark, tmp_path):
        """IVF twin of the LSH append/compact contract: appended batches
        (incl. cluster-moving re-ingests) + compaction == rebuild."""
        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe.similarity import (
            ivf_index_append,
            ivf_index_compact,
            ivf_index_read,
            ivf_index_write,
            ivf_probe_topk,
            seed_centroids,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        emb = load_table(spark, SF_DIR, "embeddings")
        cents = seed_centroids(emb.filter(F.col("vec_id") < 400), "embedding", "vec_id")
        old = emb.filter(F.col("vec_id") < 400)
        new = emb.filter(
            (F.col("vec_id") >= 400) | (F.col("vec_id") < 10)
        ).withColumn(
            "embedding",
            F.when(
                F.col("vec_id") < 10,
                F.transform("embedding", lambda x: -x),
            )
            .otherwise(F.col("embedding"))
            .cast("array<float>"),
        )

        inc_path = str(tmp_path / "inc")
        ivf_index_write(old, "embedding", "vec_id", inc_path, cents)
        ivf_index_append(new, "embedding", "vec_id", inc_path, cents)

        # pre-compaction: probes already resolve max-seq per id for the
        # appended NEW ids (exact for ids whose cluster didn't change)
        qv = [float(x) for x in emb.filter(F.col("vec_id") == 450).head()["embedding"]]
        probe = ivf_probe_topk(
            spark, inc_path, "embedding", "vec_id", qv, cents, k=5
        ).collect()
        assert len(probe) == 5

        ivf_index_compact(spark, inc_path, "vec_id")

        full_path = str(tmp_path / "full")
        combined = old.join(
            new.select("vec_id"), "vec_id", "left_anti"
        ).unionByName(new)
        ivf_index_write(combined, "embedding", "vec_id", full_path, cents)

        def canon(path):
            return sorted(
                (
                    r["cluster_id"],
                    r["vec_id"],
                    tuple(round(float(x), 6) for x in r["embedding"]),
                )
                for r in ivf_index_read(spark, path).collect()
            )

        assert canon(inc_path) == canon(full_path)


def test_zorder_layout_bounds_both_dims(spark, tmp_path):
    """A z-ordered write must bound BOTH dimensions' per-file spread
    (file skipping works for predicates on either column); an x-sorted
    layout bounds only x, leaving y unprunable."""
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.operators.zorder import zorder_write

    ev = load_table(spark, SF_DIR, "events").select(
        F.pmod("user_id", F.lit(256)).alias("x"),
        F.pmod(F.expr("unix_millis(ts) div 3600000"), F.lit(256)).alias("y"),
    )
    zpath = str(tmp_path / "zorder")
    zorder_write(ev, F.col("x"), F.col("y"), zpath, bits=8, n_files=16)
    xpath = str(tmp_path / "xsorted")
    ev.repartitionByRange(16, F.col("x")).sortWithinPartitions("x").write.mode(
        "overwrite"
    ).parquet(xpath)

    def avg_spreads(path):
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name())
            .agg(
                (F.max("x") - F.min("x")).alias("sx"),
                (F.max("y") - F.min("y")).alias("sy"),
            )
            .agg(F.avg("sx").alias("sx"), F.avg("sy").alias("sy"))
            .head()
        )
        return per_file["sx"], per_file["sy"]

    zx, zy = avg_spreads(zpath)
    zx_sorted, xy_sorted = avg_spreads(xpath)
    # x-sorted: y is unconstrained (~ full 0..255 range per file)
    assert xy_sorted > 200, (zx_sorted, xy_sorted)
    # z-ordered: BOTH dims bounded well below the full range
    assert zx < 200 and zy < 200, (zx, zy)
    assert zy < xy_sorted * 0.8, (zy, xy_sorted)


def test_compact_small_files_preserves_content(spark, tmp_path):
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.operators.compaction import (
        compact_small_files,
        dir_file_stats,
    )

    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id")
    path = str(tmp_path / "frag")
    ev.repartition(64).write.mode("overwrite").parquet(path)
    n_before, total = dir_file_stats(spark, path)
    assert n_before >= 64
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())

    n_after = compact_small_files(spark, path, target_bytes=max(total, 1))
    assert n_after < n_before and n_after <= 2
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert after == before

    # idempotent: already-compacted dir is left alone
    assert compact_small_files(spark, path, target_bytes=max(total, 1)) == n_after


def test_incremental_rollup_any_split_equals_full(spark):
    """Partial-state merge is split-invariant: slicing the input into
    1, 2, or 4 arbitrary pieces and merging their states finalizes to
    exactly the full recompute (exact decimal state — bit equality,
    no tolerance)."""
    from hours_api_clickup_spark.operators.incremental import (
        finalize_rollup,
        merge_rollup_states,
        partial_rollup,
    )
    from hours_api_clickup_spark.plans.registry import load_table
    from tests.conftest import SF_DIR_SMOKE

    ev = load_table(spark, SF_DIR_SMOKE, "events")
    keys = ["user_id", "event_type"]
    full = sorted(
        map(tuple, finalize_rollup(partial_rollup(ev, keys, "value"), "value").collect())
    )
    for n_slices in (2, 4):
        parts = [
            partial_rollup(
                ev.filter(F.pmod(F.col("event_id"), F.lit(n_slices)) == i),
                keys,
                "value",
            )
            for i in range(n_slices)
        ]
        merged = sorted(
            map(tuple, finalize_rollup(merge_rollup_states(*parts), "value").collect())
        )
        assert merged == full


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """At 100 TB the fact table is partitioned by month; a join against
    a filtered dimension must prune fact partitions at RUNTIME (dynamic
    partition pruning), not scan them all. Gate: the optimized plan
    carries a dynamicpruning subquery on the partition column."""
    from tests.conftest import SF_DIR_SMOKE

    ev = load_table(spark, SF_DIR_SMOKE, "events")
    fact_path = str(tmp_path / "events_by_month")
    ev.withColumn(
        "month", F.date_format("ts", "yyyy-MM")
    ).write.partitionBy("month").mode("overwrite").parquet(fact_path)

    fact = spark.read.parquet(fact_path)
    # the dim must be an independent relation with a filter the planner
    # can't rewrite into a static partition predicate — that is what
    # makes the pruning *dynamic* (known only after the dim is scanned)
    dim_path = str(tmp_path / "dim_months")
    fact.select("month").distinct().withColumn(
        "flag", F.length("month")
    ).write.mode("overwrite").parquet(dim_path)
    dim = spark.read.parquet(dim_path).filter(F.col("flag") > 5)
    joined = (
        fact.join(dim.hint("broadcast"), "month").groupBy("month").count()
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_schema_evolution_merge_on_read(spark, tmp_path):
    """Long-lived fact tables gain columns over time; readers must see
    the union schema with nulls for files written before the column
    existed (mergeSchema read — the parquet schema-evolution path)."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, 10.0)], "id long, value double"
    ).write.mode("overwrite").parquet(path)
    spark.createDataFrame(
        [(2, 20.0, "eu")], "id long, value double, region string"
    ).write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "value", "region"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].region is None and rows[2].region == "eu"
    # old-schema filters still prune: predicate on the late column
    # keeps only files that can match
    assert merged.filter(F.col("region") == "eu").count() == 1


def test_filtered_probe_on_persisted_ivf_index(spark, tmp_path):
    """Metadata filters compose with the persisted-index probe: the
    label predicate applies to the pruned candidate scan (index rows
    keep their metadata columns), and with every cluster probed the
    filtered probe equals the filtered brute force exactly."""
    from hours_api_clickup_spark.datapipe.similarity import (
        brute_force_topk,
        ivf_index_read,
        ivf_index_write,
        seed_centroids,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = seed_centroids(emb, "embedding", "vec_id", n_clusters=16)
    path = str(tmp_path / "ivf")
    ivf_index_write(emb, "embedding", "vec_id", path, cents)
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]

    cand = ivf_index_read(spark, path).filter(F.col("label") == 2)
    got = [
        r.nbr_id
        for r in brute_force_topk(
            cand, "embedding", "vec_id", qv, k=10, exclude_id=0
        ).collect()
    ]
    want = [
        r.nbr_id
        for r in brute_force_topk(
            emb.filter(F.col("label") == 2),
            "embedding",
            "vec_id",
            qv,
            k=10,
            exclude_id=0,
        ).collect()
    ]
    assert got == want
    labels = dict(emb.select("vec_id", "label").collect())
    assert all(labels[i] == 2 for i in got)


class TestUpsertBranchParity:
    """Re-ingest through append + compact must equal a rebuild at both
    ends of the batch-size range: one moved vector (a few touched
    buckets) and a corpus-wide batch (~every bucket touched)."""

    def _canon(self, spark, path):
        from hours_api_clickup_spark.datapipe.similarity import lsh_index_read

        return sorted(
            (r["t"], r["sig"], r["vid"]) for r in lsh_index_read(spark, path).collect()
        )

    def test_tiny_batch_takes_dynamic_path(self, spark, tmp_path):
        """One moved vector touches ≤ 2·tables of 96 dirs; after the
        compaction its old buckets are gone and the index equals a
        rebuild."""
        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe.similarity import (
            lsh_index_append,
            lsh_index_compact,
            lsh_index_write,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        emb = load_table(spark, SF_DIR, "embeddings")
        old = emb.filter(F.col("vec_id") < 400)
        batch = emb.filter(F.col("vec_id") == 3).withColumn(
            "embedding",
            F.transform("embedding", lambda x: -x).cast("array<float>"),
        )
        inc = str(tmp_path / "inc")
        lsh_index_write(old, "embedding", "vec_id", inc, dim=64)
        lsh_index_append(batch, "embedding", "vec_id", inc, dim=64)
        lsh_index_compact(spark, inc)
        full = str(tmp_path / "full")
        combined = old.filter(F.col("vec_id") != 3).unionByName(batch)
        lsh_index_write(combined, "embedding", "vec_id", full, dim=64)
        assert self._canon(spark, inc) == self._canon(spark, full)
        # and no staged-swap leftover survives the compaction
        import os

        assert not os.path.exists(f"{inc}/base__staged")
        assert not os.path.exists(f"{inc}/base__old")

    def test_broad_batch_takes_swap_path(self, spark, tmp_path):
        """A corpus-wide batch touches ~every dir; after the compaction
        no stale base__old/staged dirs survive and probes see one
        version per id."""
        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe.similarity import (
            lsh_index_append,
            lsh_index_compact,
            lsh_index_read,
            lsh_index_write,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        emb = load_table(spark, SF_DIR, "embeddings")
        old = emb.filter(F.col("vec_id") < 400)
        batch = emb.filter(F.col("vec_id") >= 350)  # 150 vectors, 50 re-ingested
        inc = str(tmp_path / "inc")
        lsh_index_write(old, "embedding", "vec_id", inc, dim=64)
        lsh_index_append(batch, "embedding", "vec_id", inc, dim=64)
        lsh_index_compact(spark, inc)
        full = str(tmp_path / "full")
        combined = old.filter(F.col("vec_id") < 350).unionByName(batch)
        lsh_index_write(combined, "embedding", "vec_id", full, dim=64)
        assert self._canon(spark, inc) == self._canon(spark, full)
        import os

        assert not os.path.exists(f"{inc}/base__staged")
        assert not os.path.exists(f"{inc}/base__old")
        dupes = (
            lsh_index_read(spark, inc)
            .groupBy("vid", "t")
            .count()
            .filter("count > 1")
            .count()
        )
        assert dupes == 0


def test_doc_neardup_index_incremental_equals_one_shot(spark, tmp_path):
    """Persisted document near-dup index: pairs(write corpus) ∪
    pairs(append batch₁) ∪ pairs(append batch₂) must equal the one-shot
    minhash_lsh_pairs over the full corpus — same ids, same jaccard
    values (the index stores the same gram-hash sets the one-shot form
    verifies with)."""
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.datapipe.dedup import (
        doc_neardup_index_append,
        doc_neardup_index_write,
        minhash_lsh_pairs,
    )
    from hours_api_clickup_spark.plans.registry import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)

    path = str(tmp_path / "docidx")
    doc_neardup_index_write(corpus, "doc_id", "text", path)
    base_pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(corpus, "doc_id", "text").collect()
    }
    inc = dict(base_pairs)
    for b in (b1, b2):
        got = doc_neardup_index_append(b, path, "doc_id", "text")
        for r in got.collect():
            inc[(r.id_a, r.id_b)] = r.jaccard

    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    assert inc == full


def _explained(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_doc_neardup_gram_fetch_over_cap_same_pairs(spark, tmp_path, monkeypatch):
    """Past ``IN_LIST_CAP`` survivor ids, the index fetches gram sets
    through a semi-join instead of an IN list; both branches return the
    same pairs, for an append and for the index-only pair query."""
    from hours_api_clickup_spark.datapipe import dedup

    docs = load_table(spark, SF_DIR, "documents")
    ids = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")

    def run(name):
        path = str(tmp_path / name)
        dedup.doc_neardup_index_write(docs.filter(F.col("doc_id") % 3 == 0), "doc_id", "text", path)
        appended = dedup.doc_neardup_index_append(
            docs.filter(F.col("doc_id") % 3 == 1), path, "doc_id", "text"
        )
        for_ids = dedup.doc_neardup_index_pairs_for_ids(spark, path, ids)
        plans = _explained(appended) + _explained(for_ids)
        return sorted(map(tuple, appended.collect())), sorted(map(tuple, for_ids.collect())), plans

    in_list = run("in_list")
    monkeypatch.setattr(dedup, "IN_LIST_CAP", 0)
    semi = run("semi")
    assert "LeftSemi" not in in_list[2] and "LeftSemi" in semi[2]
    assert in_list[0] and in_list[1]
    assert semi[:2] == in_list[:2]


def test_doc_neardup_append_job_budget(spark, tmp_path):
    """The Spark jobs of one counted append to a fixture index, under
    the caller's job group: 15 (17 before the pair queries shared one
    verifier, when the batch signatures and the prefilter survivors
    took eager pins)."""
    from hours_api_clickup_spark.datapipe.dedup import (
        doc_neardup_index_append,
        doc_neardup_index_write,
    )
    from tests.conftest import SF_DIR_SMOKE

    docs = load_table(spark, SF_DIR_SMOKE, "documents")
    path = str(tmp_path / "idx")
    doc_neardup_index_write(docs.filter(F.col("doc_id") % 3 == 0), "doc_id", "text", path)
    sc = spark.sparkContext
    sc.setJobGroup("doc_append_budget", "job budget")
    try:
        n = doc_neardup_index_append(
            docs.filter(F.col("doc_id") % 3 == 1), path, "doc_id", "text"
        ).count()
        jobs = len(sc.statusTracker().getJobIdsForGroup("doc_append_budget"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n > 0
    assert jobs <= 15


class TestMaintenanceLease:
    """VERDICT r8 #2: the single-maintainer contract every compactor
    documented is now a MECHANISM — a lease file checked by compacts
    and the streaming ingests — so a racing maintainer gets a loud
    storage.MaintenanceLeaseHeld instead of the silent wrong answer (a compact
    racing a crashed-mid-batch ingest re-classifies its ids as
    fresh)."""

    def _refuses_then_succeeds(self, spark, path, compact, listings):
        """While a simulated ingest holds the lease, ``compact`` must
        refuse loudly and touch NOTHING; after release it must run."""
        import pytest


        before = {d: self._listing(f"{path}/{d}") for d in listings}
        storage.acquire_lease(spark, path, "simulated-ingest")
        try:
            with pytest.raises(storage.MaintenanceLeaseHeld, match="lease"):
                compact()
            # zero divergence: not one tier file added/removed/resized
            for d in listings:
                assert self._listing(f"{path}/{d}") == before[d]
        finally:
            storage.release_lease(spark, path)
        compact()  # released: the same call goes through

    @staticmethod
    def _listing(root):
        import os

        out = []
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                out.append((p, os.path.getsize(p)))
        return sorted(out)

    def test_all_family_compacts_lease_guarded(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe import similarity as S
        from hours_api_clickup_spark.datapipe.dedup import (
            doc_neardup_index_compact,
            doc_neardup_index_delete,
            doc_neardup_index_write,
        )
        from hours_api_clickup_spark.datapipe.textindex import (
            inverted_index_compact,
            inverted_index_delete,
            inverted_index_write,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR_SMOKE

        emb = load_table(spark, SF_DIR_SMOKE, "embeddings")
        docs = load_table(spark, SF_DIR_SMOKE, "documents")

        # LSH
        p = str(tmp_path / "lsh")
        S.lsh_index_write(emb, "embedding", "vec_id", p, dim=64)
        S.lsh_index_delete(spark, p, [0, 1])
        self._refuses_then_succeeds(
            spark, p, lambda: S.lsh_index_compact(spark, p),
            ["base", "tombstones"],
        )

        # IVF
        p = str(tmp_path / "ivf")
        cents = S.seed_centroids(emb, "embedding", "vec_id", n_clusters=4)
        S.ivf_index_write(emb, "embedding", "vec_id", p, cents)
        S.ivf_index_delete(spark, p, "vec_id", [0, 1])
        self._refuses_then_succeeds(
            spark, p, lambda: S.ivf_index_compact(spark, p, "vec_id"),
            ["base", "tombstones"],
        )

        # inverted text
        p = str(tmp_path / "txt")
        inverted_index_write(docs, "text", "doc_id", p)
        inverted_index_delete(spark, p, [0, 1])
        self._refuses_then_succeeds(
            spark, p, lambda: inverted_index_compact(spark, p),
            ["base", "tombstones"],
        )

        # doc near-dup signatures
        p = str(tmp_path / "didx")
        doc_neardup_index_write(docs, "doc_id", "text", p)
        doc_neardup_index_delete(spark, p, [0, 1])
        self._refuses_then_succeeds(
            spark, p, lambda: doc_neardup_index_compact(spark, p),
            ["sig", "bands", "tombstones"],
        )

        # IVFPQ: the family's compaction is the two-tier rebuild
        import pytest

        p = str(tmp_path / "ivfpq")
        cb = S.pq_seed_codebooks(
            emb, "embedding", "vec_id", n_subspaces=4, n_codes=16
        )
        S.ivfpq_index_write(emb, "embedding", "vec_id", p, cents, cb)
        storage.acquire_lease(spark, p, "simulated-ingest")
        try:
            with pytest.raises(storage.MaintenanceLeaseHeld, match="lease"):
                S.ivfpq_index_write(emb, "embedding", "vec_id", p, cents, cb)
        finally:
            storage.release_lease(spark, p)
        S.ivfpq_index_write(emb, "embedding", "vec_id", p, cents, cb)

        # a compact that FAILS mid-run releases the lease (in-process
        # failure ≠ crash): nothing wedges
        p = str(tmp_path / "lsh2")
        S.lsh_index_write(emb, "embedding", "vec_id", p, dim=64)
        S.lsh_index_delete(spark, p, [0])
        import os

        real_swap = storage.swap_dir

        def boom(*a, **k):
            raise RuntimeError("injected compact failure")

        storage.swap_dir = boom
        try:
            with pytest.raises(RuntimeError, match="injected"):
                S.lsh_index_compact(spark, p)
        finally:
            storage.swap_dir = real_swap
        assert not os.path.exists(f"{p}/{storage.LEASE_FILE}")
        S.lsh_index_compact(spark, p)  # retry succeeds immediately

    def test_stale_lease_taken_over(self, spark, tmp_path):
        """A lease older than the ttl is a crashed holder: the next
        maintainer takes over instead of wedging forever."""
        import os
        import time

        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe import similarity as S
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR_SMOKE

        emb = load_table(spark, SF_DIR_SMOKE, "embeddings")
        p = str(tmp_path / "lsh")
        S.lsh_index_write(emb, "embedding", "vec_id", p, dim=64)
        S.lsh_index_delete(spark, p, [0])
        storage.acquire_lease(spark, p, "crashed-holder")
        lease = f"{p}/{storage.LEASE_FILE}"
        old = time.time() - storage.LEASE_TTL_SEC - 60
        os.utime(lease, (old, old))
        S.lsh_index_compact(spark, p)  # takeover, no refusal
        assert not os.path.exists(lease)  # and released afterwards

    def test_streaming_ingest_vs_compact_race_fails_loudly(
        self, spark, tmp_path, monkeypatch
    ):
        """The injected CONCURRENT form: a compact firing while a
        foreachBatch batch holds the lease refuses, the streaming query
        surfaces the error, and the index shows zero divergence."""
        import os

        import pytest
        from pyspark.sql import functions as F

        import hours_api_clickup_spark.streaming.ann_ingest as AI
        from hours_api_clickup_spark.datapipe import similarity as S
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR_SMOKE

        emb = load_table(spark, SF_DIR_SMOKE, "embeddings")
        idx = str(tmp_path / "idx")
        S.lsh_index_write(emb.filter(F.col("vec_id") < 10),
                          "embedding", "vec_id", idx, dim=64)
        before = self._listing(idx)

        real_append = AI.lsh_index_append

        def compact_racing_append(batch_df, *a, **k):
            # the scheduler mistake the lease exists to catch: compact
            # fired while this batch's mutation is in flight
            S.lsh_index_compact(batch_df.sparkSession, idx)
            return real_append(batch_df, *a, **k)

        monkeypatch.setattr(AI, "lsh_index_append", compact_racing_append)

        stage = str(tmp_path / "stage")
        emb.filter(F.col("vec_id") >= 10).limit(20).coalesce(
            1
        ).write.parquet(stage)
        stream = spark.readStream.schema(emb.schema).parquet(stage)
        q = AI.streaming_lsh_ingest(
            stream, idx, str(tmp_path / "ckpt"), dim=64
        )
        with pytest.raises(Exception, match="[Ll]ease"):
            q.awaitTermination(300)
            if q.exception() is not None:
                raise q.exception()
        # zero divergence: the refusal aborted the batch before any
        # mutation, and the lease was released on the way out
        assert self._listing(idx) == before
        assert not os.path.exists(f"{idx}/{storage.LEASE_FILE}")


def test_ivfpq_append_equals_rebuild_probe(spark, tmp_path):
    """IVFADC merge-on-read ingest: probing (write corpus + append
    batch) must return the same neighbors as probing a from-scratch
    index over the union — both code and vector tiers resolved at
    max-seq."""
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.datapipe.similarity import (
        ivfpq_index_append,
        ivfpq_index_write,
        ivfpq_probe_topk,
        pq_seed_codebooks,
        seed_centroids,
    )
    from hours_api_clickup_spark.plans.registry import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    old = emb.filter(F.col("vec_id") < 400)
    batch = emb.filter(F.col("vec_id") >= 400)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    # quantizers frozen on the full corpus (the offline-trained model)
    cents = seed_centroids(emb, "embedding", "vec_id", n_clusters=16)
    cb = pq_seed_codebooks(emb, "embedding", "vec_id")

    inc = str(tmp_path / "inc")
    ivfpq_index_write(old, "embedding", "vec_id", inc, cents, cb)
    ivfpq_index_append(batch, "embedding", "vec_id", inc, cents, cb)

    full = str(tmp_path / "full")
    ivfpq_index_write(emb, "embedding", "vec_id", full, cents, cb)

    got_inc = [
        r.nbr_id
        for r in ivfpq_probe_topk(
            spark, inc, "embedding", "vec_id", qv, cents, cb, k=10, nprobe=6,
            exclude_id=0,
        ).collect()
    ]
    got_full = [
        r.nbr_id
        for r in ivfpq_probe_topk(
            spark, full, "embedding", "vec_id", qv, cents, cb, k=10, nprobe=6,
            exclude_id=0,
        ).collect()
    ]
    assert got_inc == got_full and len(got_inc) == 10


def test_aqe_skew_join_splits_hot_partition(spark):
    """Runtime evidence (not just plan strings) that AQE's skew-join
    mitigation engages on this session's config lineage: a join where
    half the probe side hits ONE key must execute as
    SortMergeJoin(skew=true) with an 'AQEShuffleRead ... skewed' child
    — the hot partition split across tasks instead of one straggler.
    This is the automatic complement of the explicit two-phase salted
    path (operators/skew.py): salting for aggregations, AQE for joins.
    Thresholds are shrunk to make local data 'big'; restored after."""
    from pyspark.sql import functions as F

    keys = (
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.autoBroadcastJoinThreshold",
    )
    saved = {}
    for k in keys:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "32KB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB"
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left = spark.range(200000).select(
            F.when(F.col("id") % 2 == 0, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.concat(F.lit("x" * 100), F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), F.lit("r").alias("rv")
        )
        j = left.join(right, "k")
        assert j.collect()  # execute so AQE finalizes the plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "skewed" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_mid_swap_crash_recovers_prior_index(spark, tmp_path):
    """Simulate a crash in the storage.swap_dir window (base renamed to
    base__old, staged rename never happened): the next read OR append
    must roll the prior index back in — never bootstrap-from-batch
    (which would silently discard the corpus)."""
    import os

    from pyspark.sql import functions as F

    from hours_api_clickup_spark.datapipe.similarity import (
        lsh_index_append,
        lsh_index_read,
        lsh_index_write,
    )
    from hours_api_clickup_spark.plans.registry import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    old = emb.filter(F.col("vec_id") < 300)
    path = str(tmp_path / "idx")
    lsh_index_write(old, "embedding", "vec_id", path, dim=64)
    n_before = lsh_index_read(spark, path).count()

    # crash state: live dir gone, __old holds the index
    os.rename(f"{path}/base", f"{path}/base__old")

    # a reader recovers transparently
    assert lsh_index_read(spark, path).count() == n_before

    # crash again, then an APPEND of a small batch must fold into the
    # RECOVERED corpus, not bootstrap an index of just the batch
    os.rename(f"{path}/base", f"{path}/base__old")
    batch = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 310))
    lsh_index_append(batch, "embedding", "vec_id", path, dim=64)
    vids = {
        r["vid"]
        for r in lsh_index_read(spark, path).select("vid").distinct().collect()
    }
    assert len(vids) == 310


class TestInvertedIndexAppend:
    """Merge-on-read contract of the persisted inverted text index
    (datapipe/textindex.py): O(batch) appends resolve correctly at
    probe time, and compaction restores exact single-version reads —
    the lexical mirror of TestLshIndexUpsert."""

    TERMS = ["merge", "vector"]

    def _probe(self, spark, path):
        from hours_api_clickup_spark.datapipe.textindex import (
            index_term_topk,
            inverted_index_read,
        )

        return sorted(
            tuple(r)
            for r in index_term_topk(
                spark, inverted_index_read(spark, path), self.TERMS, k=1000
            ).collect()
        )

    def test_append_new_docs_equals_rebuild(self, spark, tmp_path):
        from hours_api_clickup_spark.datapipe.textindex import (
            inverted_index_append,
            inverted_index_write,
        )

        docs = load_table(spark, SF_DIR, "documents")
        old = docs.filter(F.col("doc_id") < 400)
        new = docs.filter(F.col("doc_id") >= 400)

        p_inc = str(tmp_path / "inc")
        inverted_index_write(old, "text", "doc_id", p_inc)
        inverted_index_append(new, "text", "doc_id", p_inc)

        p_full = str(tmp_path / "full")
        inverted_index_write(docs, "text", "doc_id", p_full)

        assert self._probe(spark, p_inc) == self._probe(spark, p_full)

    def test_append_reingested_tf_change_new_wins(self, spark, tmp_path):
        # re-ingest doc 0 with extra occurrences of a queried term while
        # the term stays present: append alone must already serve the
        # NEW tf (max-seq resolution), no compaction needed
        from hours_api_clickup_spark.datapipe.textindex import (
            inverted_index_append,
            inverted_index_write,
        )

        docs = load_table(spark, SF_DIR, "documents")
        p = str(tmp_path / "idx")
        inverted_index_write(docs, "text", "doc_id", p)
        bumped = docs.filter(F.col("doc_id") == 0).withColumn(
            "text", F.concat(F.col("text"), F.lit(" merge merge merge"))
        )
        inverted_index_append(bumped, "text", "doc_id", p)

        scores = dict(self._probe(spark, p))
        base_scores = {}
        p2 = str(tmp_path / "ref")
        current = docs.filter(F.col("doc_id") != 0).unionByName(bumped)
        inverted_index_write(current, "text", "doc_id", p2)
        base_scores = dict(self._probe(spark, p2))
        assert scores.get(0) == base_scores.get(0)
        assert scores.get(0, 0) >= 3

    def test_compact_restores_exact_after_token_drop(self, spark, tmp_path):
        # re-ingested doc DROPS a queried token: append-only reads may
        # serve the stale posting (documented bound); compaction must
        # restore probe == rebuild-of-current-corpus, and remove log/
        from hours_api_clickup_spark.datapipe.textindex import (
            inverted_index_append,
            inverted_index_compact,
            inverted_index_write,
        )

        docs = load_table(spark, SF_DIR, "documents")
        p = str(tmp_path / "idx")
        inverted_index_write(docs, "text", "doc_id", p)
        replaced = docs.filter(F.col("doc_id") == 1).withColumn(
            "text", F.lit("only stopwords here now")
        )
        inverted_index_append(replaced, "text", "doc_id", p)
        inverted_index_compact(spark, p)

        p2 = str(tmp_path / "ref")
        current = docs.filter(F.col("doc_id") != 1).unionByName(replaced)
        inverted_index_write(current, "text", "doc_id", p2)

        assert self._probe(spark, p) == self._probe(spark, p2)
        assert not storage.exists(spark, f"{p}/log")

    def test_append_bootstraps_missing_index(self, spark, tmp_path):
        from hours_api_clickup_spark.datapipe.textindex import (
            inverted_index_append,
            inverted_index_write,
        )

        docs = load_table(spark, SF_DIR, "documents")
        p = str(tmp_path / "boot")
        inverted_index_append(docs, "text", "doc_id", p)
        p2 = str(tmp_path / "ref")
        inverted_index_write(docs, "text", "doc_id", p2)
        assert self._probe(spark, p) == self._probe(spark, p2)

    def test_mid_swap_crash_recovers_prior_postings(self, spark, tmp_path):
        """Crash in the compact/rebuild swap window (base renamed to
        base__old, staged rename never landed): the next read recovers
        the prior postings, and the next append folds into the
        RECOVERED corpus instead of bootstrapping from the batch —
        the textindex mirror of the ANN-family guarantee (ADVICE r3)."""
        import os

        from hours_api_clickup_spark.datapipe.textindex import (
            inverted_index_append,
            inverted_index_read,
            inverted_index_write,
        )

        docs = load_table(spark, SF_DIR, "documents")
        old = docs.filter(F.col("doc_id") < 300)
        p = str(tmp_path / "idx")
        inverted_index_write(old, "text", "doc_id", p)
        n_before = inverted_index_read(spark, p).count()

        os.rename(f"{p}/base", f"{p}/base__old")
        assert inverted_index_read(spark, p).count() == n_before

        os.rename(f"{p}/base", f"{p}/base__old")
        batch = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 320))
        inverted_index_append(batch, "text", "doc_id", p)
        dids = {
            r["doc_id"]
            for r in inverted_index_read(spark, p)
            .select("doc_id")
            .distinct()
            .collect()
        }
        assert dids == set(range(320))

    def test_uncommitted_base_is_rebuilt_not_appended(self, spark, tmp_path):
        """A base directory that EXISTS but holds no committed write
        (no _SUCCESS — e.g. _temporary remnants of an interrupted
        build) must not be mistaken for a valid index: the next append
        rebuilds instead of appending against the wreck (ADVICE r3)."""
        import os

        from hours_api_clickup_spark.datapipe.textindex import (
            inverted_index_append,
            inverted_index_write,
        )

        docs = load_table(spark, SF_DIR, "documents")
        p = str(tmp_path / "idx")
        os.makedirs(f"{p}/base/_temporary/0")
        with open(f"{p}/base/_temporary/0/junk", "w") as fh:
            fh.write("half-written")
        inverted_index_append(docs, "text", "doc_id", p)
        assert storage.exists(spark, f"{p}/base/_SUCCESS")
        p2 = str(tmp_path / "ref")
        inverted_index_write(docs, "text", "doc_id", p2)
        assert self._probe(spark, p) == self._probe(spark, p2)

    def test_compact_mid_stream_and_double_compact(self, spark, tmp_path):
        """Compaction boundary cadences (VERDICT r3 #7): compact
        between appends that re-ingest documents WITH token drops, then
        append more, compact again, and compact twice in a row — every
        checkpoint along the way must probe identically to a
        from-scratch build of the then-current corpus."""
        from hours_api_clickup_spark.datapipe.textindex import (
            inverted_index_append,
            inverted_index_compact,
            inverted_index_write,
        )

        docs = load_table(spark, SF_DIR, "documents")
        p = str(tmp_path / "idx")
        inverted_index_write(docs, "text", "doc_id", p)

        def ref_probe(current):
            import uuid

            rp = str(tmp_path / f"ref_{uuid.uuid4().hex[:8]}")
            inverted_index_write(current, "text", "doc_id", rp)
            return self._probe(spark, rp)

        # round 1: drop every queried token from doc 2, compact mid-stream
        r1 = docs.filter(F.col("doc_id") == 2).withColumn(
            "text", F.lit("nothing relevant remains")
        )
        inverted_index_append(r1, "text", "doc_id", p)
        inverted_index_compact(spark, p)
        cur = docs.filter(F.col("doc_id") != 2).unionByName(r1)
        assert self._probe(spark, p) == ref_probe(cur)

        # round 2: re-ingest the SAME doc again (tokens return) plus a
        # second doc losing its tokens, then compact again
        r2a = docs.filter(F.col("doc_id") == 2).withColumn(
            "text", F.lit("merge vector merge")
        )
        r2b = docs.filter(F.col("doc_id") == 3).withColumn(
            "text", F.lit("empty now")
        )
        inverted_index_append(r2a.unionByName(r2b), "text", "doc_id", p)
        inverted_index_compact(spark, p)
        cur = (
            docs.filter(~F.col("doc_id").isin(2, 3))
            .unionByName(r2a)
            .unionByName(r2b)
        )
        want = ref_probe(cur)
        assert self._probe(spark, p) == want

        # double compact: idempotent, log stays absent
        inverted_index_compact(spark, p)
        assert self._probe(spark, p) == want
        assert not storage.exists(spark, f"{p}/log")


def test_inverted_index_matches_python_recount(spark, tmp_path):
    """Adversarial-corpus gate for the inverted index: term scores and
    phrase counts from the persisted index must equal a pure-Python
    recount over the same tokenizer spec (lower → trim → split on
    non-[a-z0-9] runs, empties dropped, 1-based positions over the full
    split array). Covers the edge shapes the synthetic corpus never
    hits: empty text, delimiter-only text, leading/trailing/multiple
    delimiters, case folding, digits, control chars, self-adjacent
    phrase tokens."""
    import re

    from hours_api_clickup_spark.datapipe.textindex import (
        index_phrase_topk,
        index_term_topk,
        inverted_index_read,
        inverted_index_write,
    )

    texts = [
        "",
        "   ",
        ",,,;;;",
        "table scan",
        "  table   scan  ",
        "TABLE Scan tAbLe scan",
        "table,scan;table\tscan",
        "table9scan table scan9",
        "scan scan scan",
        "merge vector merge vector merge",
        "x" * 500 + " table scan",
        "table\x0bscan",  # vertical tab is a delimiter
        "vector",
        "merge",
        "tablescan table  scan",
        "a table scan b table scan c",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    path = str(tmp_path / "idx")
    inverted_index_write(docs, "text", "doc_id", path)
    reader = inverted_index_read(spark, path)

    def py_tokens(t):
        return [x for x in re.split(r"[^a-z0-9]+", t.lower().strip())]

    # term tf-sum scores (docs with score 0 absent)
    got = {
        r.doc_id: r.score
        for r in index_term_topk(
            spark, reader, ["table", "merge"], k=1000
        ).collect()
    }
    want = {}
    for i, t in enumerate(texts):
        toks = py_tokens(t)
        s = sum(1 for x in toks if x in ("table", "merge"))
        if s > 0:
            want[i] = s
    assert got == want

    # adjacency-exact phrase counts, incl. the self-adjacent case
    for first, second in [("table", "scan"), ("scan", "scan")]:
        got_p = {
            r.doc_id: r.n_hits
            for r in index_phrase_topk(
                spark, reader, first, second, k=1000
            ).collect()
        }
        want_p = {}
        for i, t in enumerate(texts):
            toks = py_tokens(t)
            n = sum(
                1
                for j in range(len(toks) - 1)
                if toks[j] == first and toks[j + 1] == second
            )
            if n > 0:
                want_p[i] = n
        assert got_p == want_p, (first, second, got_p, want_p)


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    """Runtime row-level filtering: a selective dim-side filter on a
    SHUFFLED join should inject a bloom filter on the fact side
    (bloom_filter_might_contain), dropping non-matching rows before
    the shuffle. Local data sits under the default 10 GB application-
    side threshold, so the test pins the conf recipe a cluster job
    uses; result equality with the filter off is asserted too."""
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.plans.registry import load_table
    from tests.conftest import SF_DIR

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # local tables are far below the 10 GB application-side
        # threshold the feature targets; zero it to exercise the path
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        # the creation-side size estimate at this SF exceeds the 10 MB
        # default (filter selectivity is not estimated without CBO
        # stats); lift it so the selective side qualifies
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
        # bloom filters only help joins that actually shuffle
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # NOTE: the DataFrames must be constructed AFTER the confs are
        # set — the injected-runtime-filter decision keys off session
        # state captured when the relations are created, not at
        # optimization time (empirically: loading first → no bloom).
        li = load_table(spark, SF_DIR, "lineitem")
        od = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                .cast("double")
                .alias("qty"),
            )
        )
        # gate on the optimized logical plan: the physical 'formatted'
        # output elides the runtime-filter subquery in some sessions
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_might_contain" in plan.lower() or "bloomfilter" in plan.lower(), plan
        with_bloom = {tuple(r) for r in j.collect()}
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
    try:
        without = {
            tuple(r)
            for r in (
                li.join(od, li.l_orderkey == od.o_orderkey)
                .groupBy("o_orderpriority")
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                    .cast("double")
                    .alias("qty"),
                )
            ).collect()
        }
    finally:
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
    assert with_bloom == without


def test_observed_expectations_collect_during_write(spark, tmp_path):
    """observe_expectations: the validation suite rides the write
    action (zero extra scans) and reports the same violation counts
    run_expectations finds with its dedicated pass."""
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.operators.validate import (
        assert_observed_clean,
        expect_not_null,
        expect_range,
        expect_unique,
        observe_expectations,
        run_expectations,
    )
    from hours_api_clickup_spark.plans.registry import load_table
    from tests.conftest import SF_DIR_SMOKE

    ev = load_table(spark, SF_DIR_SMOKE, "events")
    # no expect_unique here: observed metrics reject DISTINCT
    # aggregates (engine limitation, noted in observe_expectations)
    suite = [
        expect_not_null("event_id"),
        expect_range("user_id", 0, 10_000_000),
    ]
    observed, obs = observe_expectations(ev, suite)
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))
    metrics = assert_observed_clean(obs)
    dedicated = {
        r["check"]: r["n_violations"]
        for r in run_expectations(ev, suite).collect()
    }
    assert metrics == dedicated

    # a failing suite raises with the offending counts
    bad_suite = [expect_range("user_id", 0, 1)]
    observed2, obs2 = observe_expectations(ev, bad_suite, name="bad")
    observed2.write.mode("overwrite").parquet(str(tmp_path / "out2"))
    try:
        assert_observed_clean(obs2)
        raise RuntimeError("expected AssertionError")
    except AssertionError as e:
        assert "range[user_id]" in str(e)


class TestIndexTombstones:
    """Delete path for both persisted indexes (VERDICT r5 #7): one tiny
    marker file, zero index partitions touched, probes exclude deleted
    keys, re-ingest resurrects, compaction makes deletes physical."""

    @staticmethod
    def _listing(root):
        import os

        out = []
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                out.append((os.path.relpath(p, root), os.path.getsize(p)))
        return sorted(out)

    def test_lsh_delete_touches_no_base_partition(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe.similarity import (
            lsh_index_delete,
            lsh_index_read,
            lsh_index_write,
            lsh_probe_topk,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        emb = load_table(spark, SF_DIR, "embeddings")
        path = str(tmp_path / "idx")
        lsh_index_write(emb, "embedding", "vec_id", path, dim=64)
        qv = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]
        ]
        before_top = {
            r["nbr_id"]
            for r in lsh_probe_topk(spark, path, qv, k=10, exclude_id=0).collect()
        }
        doomed = sorted(before_top)[:3]

        base_before = self._listing(f"{path}/base")
        lsh_index_delete(spark, path, doomed)
        # the plan gate: NOT ONE base file was added, removed, or resized
        assert self._listing(f"{path}/base") == base_before
        import os

        assert os.path.isdir(f"{path}/tombstones")

        after_top = {
            r["nbr_id"]
            for r in lsh_probe_topk(spark, path, qv, k=10, exclude_id=0).collect()
        }
        assert not (after_top & set(doomed))
        assert len(after_top) == 10  # backfilled from the candidate pool
        # the read view no longer serves the vids at all
        served = {
            r["vid"]
            for r in lsh_index_read(spark, path)
            .select("vid")
            .distinct()
            .collect()
        }
        assert not (served & set(doomed))

    def test_lsh_reingest_after_delete_resurrects(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe.similarity import (
            lsh_index_append,
            lsh_index_delete,
            lsh_index_read,
        )
        from hours_api_clickup_spark.datapipe.similarity import (
            lsh_index_write,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        emb = load_table(spark, SF_DIR, "embeddings")
        path = str(tmp_path / "idx")
        lsh_index_write(emb, "embedding", "vec_id", path, dim=64)
        lsh_index_delete(spark, path, [5])
        served = lambda: {
            r["vid"]
            for r in lsh_index_read(spark, path)
            .filter(F.col("vid") == 5)
            .collect()
        }
        assert served() == set()
        lsh_index_append(
            emb.filter(F.col("vec_id") == 5), "embedding", "vec_id", path, dim=64
        )
        assert served() == {5}  # newer seq out-ranks the tombstone

    def test_ivf_and_ivfpq_reingest_after_delete_resurrects(
        self, spark, tmp_path
    ):
        """Review r6 regression: the IVF/IVFPQ append paths derived
        their default seq from the tombstone-FILTERED view, so a
        re-ingest after a delete tied the marker (survival is
        seq > tombstone seq) and stayed invisible — and the next
        compact dropped it physically. Both must use _next_seq."""
        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe.similarity import (
            ivf_index_append,
            ivf_index_compact,
            ivf_index_delete,
            ivf_index_read,
            ivf_index_write,
            ivfpq_index_append,
            ivfpq_index_write,
            pq_seed_codebooks,
            seed_centroids,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        emb = load_table(spark, SF_DIR, "embeddings")
        cents = seed_centroids(emb, "embedding", "vec_id", n_clusters=8)

        path = str(tmp_path / "ivf")
        ivf_index_write(emb, "embedding", "vec_id", path, cents)
        ivf_index_delete(spark, path, "vec_id", [5])
        served = lambda: {
            r["vec_id"]
            for r in ivf_index_read(spark, path)
            .filter(F.col("vec_id") == 5)
            .collect()
        }
        assert served() == set()
        ivf_index_append(
            emb.filter(F.col("vec_id") == 5), "embedding", "vec_id",
            path, cents,
        )
        assert served() == {5}  # newer seq out-ranks the tombstone
        ivf_index_compact(spark, path, "vec_id")
        assert served() == {5}  # and compaction keeps the resurrect

        codebooks = pq_seed_codebooks(emb, "embedding", "vec_id")
        qpath = str(tmp_path / "ivfpq")
        ivfpq_index_write(
            emb, "embedding", "vec_id", qpath, cents, codebooks
        )
        ivf_index_delete(spark, qpath, "vec_id", [7])
        ivfpq_index_append(
            emb.filter(F.col("vec_id") == 7), "embedding", "vec_id",
            qpath, cents, codebooks,
        )
        vec_served = {
            r["vec_id"]
            for r in ivf_index_read(spark, qpath)
            .filter(F.col("vec_id") == 7)
            .collect()
        }
        assert vec_served == {7}

    def test_lsh_compact_folds_tombstones(self, spark, tmp_path):
        import os

        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe.similarity import (
            lsh_index_compact,
            lsh_index_delete,
            lsh_index_read,
            lsh_index_write,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        emb = load_table(spark, SF_DIR, "embeddings")
        path = str(tmp_path / "idx")
        lsh_index_write(emb, "embedding", "vec_id", path, dim=64)
        doomed = [3, 10, 17]
        lsh_index_delete(spark, path, doomed)
        lsh_index_compact(spark, path)
        assert not os.path.exists(f"{path}/tombstones")
        # physical equality with a rebuild on the surviving corpus
        rebuilt = str(tmp_path / "rebuilt")
        lsh_index_write(
            emb.filter(~F.col("vec_id").isin(doomed)),
            "embedding",
            "vec_id",
            rebuilt,
            dim=64,
        )

        def canon(p):
            return sorted(
                (r["t"], r["sig"], r["vid"])
                for r in lsh_index_read(spark, p).collect()
            )

        assert canon(path) == canon(rebuilt)

    def test_text_delete_touches_no_base_bucket(self, spark, tmp_path):
        import os

        from hours_api_clickup_spark.datapipe.textindex import (
            index_term_topk,
            inverted_index_delete,
            inverted_index_read,
            inverted_index_write,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        docs = load_table(spark, SF_DIR, "documents")
        path = str(tmp_path / "tidx")
        inverted_index_write(docs, "text", "doc_id", path)
        idx = inverted_index_read(spark, path)
        before = [
            tuple(r)
            for r in index_term_topk(spark, idx, ["merge", "vector"], k=5).collect()
        ]
        doomed = [r[0] for r in before[:2]]

        base_before = self._listing(f"{path}/base")
        inverted_index_delete(spark, path, doomed)
        assert self._listing(f"{path}/base") == base_before
        assert os.path.isdir(f"{path}/tombstones")

        idx2 = inverted_index_read(spark, path)
        after = {
            r["doc_id"]
            for r in index_term_topk(spark, idx2, ["merge", "vector"], k=5).collect()
        }
        assert not (after & set(doomed))

    def test_text_compact_folds_tombstones(self, spark, tmp_path):
        import os

        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe.textindex import (
            inverted_index_compact,
            inverted_index_delete,
            inverted_index_read,
            inverted_index_write,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        docs = load_table(spark, SF_DIR, "documents").limit(100)
        path = str(tmp_path / "tidx")
        inverted_index_write(docs, "text", "doc_id", path)
        doomed = [r["doc_id"] for r in docs.limit(3).collect()]
        inverted_index_delete(spark, path, doomed)
        inverted_index_compact(spark, path)
        assert not os.path.exists(f"{path}/tombstones")
        left = {
            r["doc_id"]
            for r in inverted_index_read(spark, path)
            .select("doc_id")
            .distinct()
            .collect()
        }
        assert not (left & set(doomed))
        # postings for survivors are fully intact
        survivors = {r["doc_id"] for r in docs.collect()} - set(doomed)
        assert left == survivors

    def test_tombstone_filter_preserves_partition_pruning(self, spark, tmp_path):
        """The broadcast tombstone join must not defeat (t, sb)
        partition pruning on the probe's base scan."""
        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe.similarity import (
            lsh_index_delete,
            lsh_index_read,
            lsh_index_write,
            lsh_probe_topk,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        emb = load_table(spark, SF_DIR, "embeddings")
        path = str(tmp_path / "idx")
        lsh_index_write(emb, "embedding", "vec_id", path, dim=64)
        lsh_index_delete(spark, path, [1, 2, 3])
        qv = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]
        ]
        plan = (
            lsh_probe_topk(
                spark, lsh_index_read(spark, path), qv, k=10, exclude_id=0
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # every base scan (the ones reading the partition columns, unlike
        # the tombstone scans) stays partition-pruned: the candidate scan
        # on its (t, sb) IN-list, the re-rank's vector scan on t = 0
        filters = [
            line.split("PartitionFilters: [")[1].split("PushedFilters")[0]
            for line in plan.splitlines()
            if "FileScan parquet" in line and "sb#" in line.split("]")[0]
        ]
        assert filters and all("t#" in f for f in filters), plan[:2000]
        assert any("sb#" in f and ("isin" in f or "IN" in f) for f in filters), plan[:2000]
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan

    def test_ivf_delete_probe_and_compact(self, spark, tmp_path):
        import os

        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe.similarity import (
            ivf_index_compact,
            ivf_index_delete,
            ivf_index_read,
            ivf_index_write,
            seed_centroids,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        emb = load_table(spark, SF_DIR, "embeddings")
        cents = seed_centroids(emb, "embedding", "vec_id", n_clusters=16)
        path = str(tmp_path / "ivf")
        ivf_index_write(emb, "embedding", "vec_id", path, cents)

        doomed = [2, 9, 44]
        base_before = self._listing(f"{path}/base")
        ivf_index_delete(spark, path, "vec_id", doomed)
        assert self._listing(f"{path}/base") == base_before  # untouched
        served = {
            r["vec_id"]
            for r in ivf_index_read(spark, path)
            .filter(F.col("vec_id").isin(doomed))
            .collect()
        }
        assert served == set()
        ivf_index_compact(spark, path, "vec_id")
        assert not os.path.exists(f"{path}/tombstones")
        left = {
            r["vec_id"]
            for r in ivf_index_read(spark, path)
            .filter(F.col("vec_id").isin(doomed))
            .collect()
        }
        assert left == set()
        n = ivf_index_read(spark, path).count()
        assert n == emb.count() - len(doomed)

    def test_dataframe_shaped_delete_no_candidate_collect(
        self, spark, tmp_path, monkeypatch
    ):
        """Verdict r6 #3: all three delete APIs accept a DataFrame of
        keys and write the markers DISTRIBUTED — during the delete no
        driver collect may return more than a bounded scalar handful
        (the doomed set itself never lands on the driver)."""
        import os

        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe.similarity import (
            ivf_index_delete,
            ivf_index_read,
            ivf_index_write,
            lsh_index_delete,
            lsh_index_read,
            lsh_index_write,
            seed_centroids,
        )
        from hours_api_clickup_spark.datapipe.textindex import (
            inverted_index_delete,
            inverted_index_read,
            inverted_index_write,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        emb = load_table(spark, SF_DIR, "embeddings")
        docs = load_table(spark, SF_DIR, "documents")

        lsh_path = str(tmp_path / "lsh")
        ivf_path = str(tmp_path / "ivf")
        txt_path = str(tmp_path / "txt")
        lsh_index_write(emb, "embedding", "vec_id", lsh_path, dim=64)
        cents = seed_centroids(emb, "embedding", "vec_id", n_clusters=16)
        ivf_index_write(emb, "embedding", "vec_id", ivf_path, cents)
        inverted_index_write(docs, "text", "doc_id", txt_path)

        doomed_vecs = emb.filter(F.col("vec_id") % 11 == 4).select("vec_id")
        doomed_docs = docs.filter(F.col("doc_id") % 9 == 1).select("doc_id")
        n_vec = doomed_vecs.count()
        n_doc = doomed_docs.count()
        assert n_vec > 5 and n_doc > 5  # the bound below must bite

        sizes: list[int] = []
        real_collect = DataFrame.collect

        def spy(self):
            rows = real_collect(self)
            sizes.append(len(rows))
            return rows

        monkeypatch.setattr(DataFrame, "collect", spy)
        lsh_index_delete(spark, lsh_path, doomed_vecs)
        ivf_index_delete(spark, ivf_path, "vec_id", doomed_vecs)
        inverted_index_delete(spark, txt_path, doomed_docs)
        monkeypatch.setattr(DataFrame, "collect", real_collect)
        # scalar seq/guard reads only (head() may bypass collect
        # entirely — an empty log is an even stronger pass)
        assert all(s <= 2 for s in sizes), sizes

        # semantics identical to the list-shaped path
        assert (
            lsh_index_read(spark, lsh_path)
            .join(doomed_vecs, F.col("vid") == F.col("vec_id"), "semi")
            .count()
            == 0
        )
        assert (
            ivf_index_read(spark, ivf_path)
            .join(doomed_vecs, "vec_id", "semi")
            .count()
            == 0
        )
        assert (
            inverted_index_read(spark, txt_path)
            .join(doomed_docs, "doc_id", "semi")
            .count()
            == 0
        )
        assert lsh_index_read(spark, lsh_path).select(
            "vid"
        ).distinct().count() == emb.count() - n_vec

        # empty predicate result: no marker dir, fast path preserved
        lsh2 = str(tmp_path / "lsh2")
        lsh_index_write(
            emb.limit(50), "embedding", "vec_id", lsh2, dim=64
        )
        lsh_index_delete(
            spark, lsh2, emb.filter(F.lit(False)).select("vec_id")
        )
        assert not os.path.exists(f"{lsh2}/tombstones")
        # empty NON-list iterables are the same no-op (review r7: the
        # docstring says "list/iterable"; set()/tuple() must not fall
        # through to an uninferrable empty createDataFrame)
        lsh_index_delete(spark, lsh2, set())
        lsh_index_delete(spark, lsh2, tuple())
        ivf_index_delete(spark, ivf_path, "vec_id", iter(()))
        inverted_index_delete(spark, txt_path, set())
        assert not os.path.exists(f"{lsh2}/tombstones")
        # and a non-empty generator deletes like a list
        lsh_index_delete(spark, lsh2, (v for v in [1, 2]))
        assert (
            lsh_index_read(spark, lsh2)
            .filter(F.col("vid").isin([1, 2]))
            .count()
            == 0
        )

        # a multi-column DataFrame without the key column is rejected
        import pytest as _pytest

        with _pytest.raises(ValueError, match="tombstone DataFrame"):
            lsh_index_delete(
                spark, lsh2, emb.select("vec_id", "embedding").withColumnRenamed("vec_id", "other")
            )

    def test_doc_neardup_delete_append_and_compact(self, spark, tmp_path):
        """r7: tombstone delete on the near-dup signature index — the
        takedown path. Zero sig/bands I/O at delete time; appended
        batches stop pairing with deleted docs (incremental ≡ one-shot
        over the corpus MINUS the deleted slice); compaction folds the
        deletes physically and drops the marker dir."""
        import os

        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe.dedup import (
            doc_neardup_index_append,
            doc_neardup_index_compact,
            doc_neardup_index_delete,
            doc_neardup_index_pairs_for_ids,
            doc_neardup_index_write,
            minhash_lsh_pairs,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        docs = load_table(spark, SF_DIR, "documents")
        corpus = docs.filter(F.col("doc_id") % 10 != 0)
        batch = docs.filter(F.col("doc_id") % 10 == 0)
        doomed = corpus.filter(F.col("doc_id") % 7 == 1).select("doc_id")
        doomed_ids = {r[0] for r in doomed.collect()}
        assert doomed_ids  # the delete must have something to bite

        path = str(tmp_path / "didx")
        doc_neardup_index_write(corpus, "doc_id", "text", path)
        sig_before = self._listing(f"{path}/sig")
        bands_before = self._listing(f"{path}/bands")
        doc_neardup_index_delete(spark, path, doomed)  # DataFrame-shaped
        # zero corpus I/O: not one sig or bands file added/removed/resized
        assert self._listing(f"{path}/sig") == sig_before
        assert self._listing(f"{path}/bands") == bands_before
        assert os.path.isdir(f"{path}/tombstones")

        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in doc_neardup_index_append(
                batch, path, "doc_id", "text"
            ).collect()
        }
        # oracle: one-shot pairs over (corpus ∖ doomed) ∪ batch,
        # restricted to pairs touching the batch
        remaining = corpus.join(doomed, "doc_id", "left_anti")
        batch_ids = {r[0] for r in batch.select("doc_id").collect()}
        want = {
            (r.id_a, r.id_b): r.jaccard
            for r in minhash_lsh_pairs(
                remaining.unionByName(batch), "doc_id", "text"
            ).collect()
            if r.id_a in batch_ids or r.id_b in batch_ids
        }
        assert got == want
        assert not ({a for a, _ in got} | {b for _, b in got}) & doomed_ids

        # recovery path respects the tombstones too
        rec = {
            (r.id_a, r.id_b)
            for r in doc_neardup_index_pairs_for_ids(
                spark, path, batch.select(F.col("doc_id").alias("did"))
            ).collect()
        }
        assert rec == set(want)

        # compaction folds physically and drops the markers
        n_live = remaining.count() + batch.count()
        doc_neardup_index_compact(spark, path)
        assert not os.path.exists(f"{path}/tombstones")
        assert spark.read.parquet(f"{path}/sig").count() == n_live
        assert (
            spark.read.parquet(f"{path}/bands")
            .filter(F.col("did").isin(list(doomed_ids)))
            .count()
            == 0
        )
        # post-compact reads are unchanged
        rec2 = {
            (r.id_a, r.id_b)
            for r in doc_neardup_index_pairs_for_ids(
                spark, path, batch.select(F.col("doc_id").alias("did"))
            ).collect()
        }
        assert rec2 == set(want)
        # list-shaped and empty-iterable inputs behave like the others
        doc_neardup_index_delete(spark, path, set())
        assert not os.path.exists(f"{path}/tombstones")


def test_zorder_layout_prunes_box_probes(spark, tmp_path):
    """End-to-end scan-skip proof for the z-order layout: for a box
    predicate on BOTH bucketized dimensions, the z-clustered scan
    outputs a small fraction of the table (row groups whose min/max
    miss the box are skipped inside the reader — the engine-native
    pruning; a Delta/Iceberg manifest would skip the same files up
    front), while the unclustered scan outputs ~everything. Result rows
    identical. One level stronger than
    test_zorder_layout_bounds_both_dims: that shows the per-file ranges
    are tight; this shows the scan actually skipping."""
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.operators.zorder import (
        scan_stats,
        zorder_write,
    )

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id",
        F.pmod("user_id", F.lit(256)).alias("x"),
        F.pmod(F.expr("unix_millis(ts) div 3600000"), F.lit(256)).alias("y"),
    )
    total = ev.count()
    zpath = str(tmp_path / "zorder")
    zorder_write(ev, F.col("x"), F.col("y"), zpath, bits=8, n_files=16)
    rrpath = str(tmp_path / "rr")
    ev.repartition(16).write.mode("overwrite").parquet(rrpath)

    box = F.col("x").between(96, 127) & F.col("y").between(64, 95)
    zread = spark.read.parquet(zpath).filter(box)
    rrread = spark.read.parquet(rrpath).filter(box)
    zkeys = sorted(r[0] for r in zread.select("event_id", "x", "y").collect())
    rrkeys = sorted(r[0] for r in rrread.select("event_id", "x", "y").collect())
    assert zkeys == rrkeys and len(zkeys) > 0

    _, zrows = scan_stats(zread)
    _, rrrows = scan_stats(rrread)
    # unclustered: every row group spans both domains -> nothing skips
    assert rrrows >= total * 0.95, (rrrows, total)
    # z-clustered: a 32x32-of-256x256 box intersects few curve ranges;
    # the scan emits only the surviving row groups' rows
    assert zrows <= total * 0.5, (zrows, total)


def test_ivfpq_probe_excludes_tombstones_from_candidate_cut(spark, tmp_path):
    """Review r6: deleted vids must leave the CODES tier's ADC scoring,
    not just the base fetch — otherwise they occupy n_candidates slots
    and the probe returns fewer than k rows while live neighbors sit
    just past the cut."""
    from pyspark.sql import functions as F

    import hours_api_clickup_spark.datapipe.similarity as S
    from hours_api_clickup_spark.plans.registry import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = S.seed_centroids(emb, "embedding", "vec_id", n_clusters=8)
    cb = S.pq_seed_codebooks(emb, "embedding", "vec_id")
    path = str(tmp_path / "ivfpq")
    S.ivfpq_index_write(emb, "embedding", "vec_id", path, cents, cb)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]

    # delete most of the tight candidate pool around the query
    before = S.ivfpq_probe_topk(
        spark, path, "embedding", "vec_id", qv, cents, cb,
        k=10, nprobe=8, n_candidates=16, exclude_id=0,
    ).collect()
    assert len(before) == 10
    doomed = [r["nbr_id"] for r in before][:8]
    S.ivf_index_delete(spark, path, "vec_id", doomed)
    after = S.ivfpq_probe_topk(
        spark, path, "embedding", "vec_id", qv, cents, cb,
        k=10, nprobe=8, n_candidates=16, exclude_id=0,
    ).collect()
    # tombstoned vids gone AND the cut refilled with live neighbors
    assert len(after) == 10, after
    assert not set(doomed) & {r["nbr_id"] for r in after}


def test_as_of_join_rejects_colliding_right_cols(spark):
    """Review r6: a right_cols name already on the left would emit a
    duplicate-name schema — must fail loudly instead."""
    import pytest as _pytest

    from hours_api_clickup_spark.operators.timeseries import as_of_join

    left = spark.createDataFrame(
        [(1, 100, "x")], "k long, ts long, status string"
    )
    right = spark.createDataFrame(
        [(1, 90, "y")], "k long, rts long, status string"
    )
    with _pytest.raises(ValueError, match="collide"):
        as_of_join(left, right, "k", "ts", "rts", right_cols=["status"])


class TestDocNeardupCompactCrashWindows:
    """Review r7: the compactor's crash/concurrency windows."""

    def test_readers_recover_mid_compact_swap(self, spark, tmp_path):
        """A crash between storage.swap_dir's two renames leaves live
        absent and __old present; every reader must roll it back, and
        the streaming bootstrap must NOT misread it as first-run."""
        import os

        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe.dedup import (
            doc_neardup_index_append,
            doc_neardup_index_pairs_for_ids,
            doc_neardup_index_write,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        docs = load_table(spark, SF_DIR, "documents")
        corpus = docs.filter(F.col("doc_id") % 10 != 0)
        batch = docs.filter(F.col("doc_id") % 10 == 0)
        path = str(tmp_path / "didx")
        doc_neardup_index_write(corpus, "doc_id", "text", path)
        n_sig = spark.read.parquet(f"{path}/sig").count()

        # simulate the mid-swap crash on sig
        os.rename(f"{path}/sig", f"{path}/sig__old")
        pairs = doc_neardup_index_append(batch, path, "doc_id", "text")
        assert pairs.count() > 0  # recovered, corpus visible
        assert os.path.isdir(f"{path}/sig")
        assert not os.path.exists(f"{path}/sig__old")
        assert (
            spark.read.parquet(f"{path}/sig").count()
            == n_sig + batch.count()
        )
        # and on bands, for the recovery-path reader
        os.rename(f"{path}/bands", f"{path}/bands__old")
        rec = doc_neardup_index_pairs_for_ids(
            spark, path, batch.select(F.col("doc_id").alias("did"))
        )
        assert {(r.id_a, r.id_b) for r in rec.collect()} == {
            (r.id_a, r.id_b) for r in pairs.collect()
        }
        assert os.path.isdir(f"{path}/bands")

    def test_delete_landing_during_compact_survives(
        self, spark, tmp_path, monkeypatch
    ):
        """A marker appended while the O(corpus) rewrite runs must NOT
        be erased by the end-of-compact drop — it survives into the
        next compact and keeps filtering reads meanwhile."""
        import os

        from pyspark.sql import functions as F

        import hours_api_clickup_spark.datapipe.similarity as sim
        from hours_api_clickup_spark.datapipe.dedup import (
            doc_neardup_index_compact,
            doc_neardup_index_delete,
            doc_neardup_index_write,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        docs = load_table(spark, SF_DIR, "documents")
        corpus = docs.filter(F.col("doc_id") % 10 != 0)
        ids = [r[0] for r in corpus.select("doc_id").head(3)]
        early, late = ids[0], ids[1]
        path = str(tmp_path / "didx")
        doc_neardup_index_write(corpus, "doc_id", "text", path)
        doc_neardup_index_delete(spark, path, [early])

        real_swap = storage.swap_dir
        fired = []

        def inject_late_delete(spark_, live, staged):
            if not fired:
                fired.append(1)
                doc_neardup_index_delete(spark, path, [late])
            return real_swap(spark_, live, staged)

        monkeypatch.setattr(storage, "swap_dir", inject_late_delete)
        doc_neardup_index_compact(spark, path)
        monkeypatch.setattr(storage, "swap_dir", real_swap)

        # early folded physically; late's marker survived the drop
        sig = spark.read.parquet(f"{path}/sig")
        assert sig.filter(F.col("did") == early).count() == 0
        assert os.path.isdir(f"{path}/tombstones")
        tomb_dids = {
            r[0]
            for r in spark.read.parquet(f"{path}/tombstones")
            .select("did")
            .collect()
        }
        assert tomb_dids == {late}
        # the NEXT compact folds it and clears the dir
        doc_neardup_index_compact(spark, path)
        assert not os.path.exists(f"{path}/tombstones")
        assert spark.read.parquet(f"{path}/sig").filter(
            F.col("did") == late
        ).count() == 0

    def test_compact_before_index_exists_is_noop(self, spark, tmp_path):
        """Delete-before-build: markers persist, compact doesn't crash
        on the missing sig dir."""
        import os

        from hours_api_clickup_spark.datapipe.dedup import (
            doc_neardup_index_compact,
            doc_neardup_index_delete,
        )

        path = str(tmp_path / "didx")
        doc_neardup_index_delete(spark, path, [1, 2])
        doc_neardup_index_compact(spark, path)  # must not raise
        assert os.path.isdir(f"{path}/tombstones")

    def test_compact_of_every_doc_leaves_a_working_index(self, spark, tmp_path):
        """A compact that folds every doc out leaves tiers with no ``seq``
        partition: the pair probe returns no pairs, and a re-ingest after
        it pairs against an empty corpus."""
        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe.dedup import (
            doc_neardup_index_append,
            doc_neardup_index_compact,
            doc_neardup_index_delete,
            doc_neardup_index_pairs_for_ids,
            doc_neardup_index_write,
            minhash_lsh_pairs,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        docs = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 300)
        path = str(tmp_path / "didx")
        doc_neardup_index_write(docs, "doc_id", "text", path)
        doc_neardup_index_delete(spark, path, docs.select("doc_id"))
        doc_neardup_index_compact(spark, path)
        assert doc_neardup_index_pairs_for_ids(spark, path, docs.select("doc_id")).count() == 0
        got = {(r.id_a, r.id_b) for r in doc_neardup_index_append(docs, path, "doc_id", "text").collect()}
        want = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()}
        assert got == want and len(got) > 0


class TestCompactConsumedSnapshot:
    """ADVICE r7: a compact must never erase a MOR-tier file it did not
    fold. The fix is the consumed-snapshot protocol (delete exactly the
    snapshot, then a NON-recursive dir drop that refuses a non-empty
    dir) shared by all five index families via
    storage.drop_consumed."""

    def test_drop_consumed_keeps_late_file(self, spark, tmp_path):
        """A file committed after the snapshot survives the drop; the
        consumed files and commit debris (_SUCCESS) are removed; the
        dir itself stays for the next compact."""
        import os

        d = tmp_path / "tier"
        d.mkdir()
        (d / "part-0001.parquet").write_bytes(b"x")
        (d / "part-0002.parquet").write_bytes(b"x")
        (d / "_SUCCESS").write_bytes(b"")
        consumed = storage.snapshot_files(spark, str(d))
        assert len(consumed) == 2
        (d / "part-late.parquet").write_bytes(b"x")  # the TOCTOU arrival
        storage.drop_consumed(spark, str(d), consumed)
        assert os.path.isdir(d)
        assert sorted(os.listdir(d)) == ["part-late.parquet"]

    def test_drop_consumed_removes_quiet_dir(self, spark, tmp_path):
        """With no late arrival the tier dir is fully removed — the
        steady-state compact leaves no empty debris behind."""
        import os

        d = tmp_path / "tier"
        d.mkdir()
        (d / "part-0001.parquet").write_bytes(b"x")
        (d / "_SUCCESS").write_bytes(b"")
        storage.drop_consumed(spark, str(d), storage.snapshot_files(spark, str(d)))
        assert not os.path.exists(d)

    def test_lsh_append_during_compact_survives(
        self, spark, tmp_path, monkeypatch
    ):
        """An ingest batch committed while the O(corpus) compact rewrite
        runs must stay queryable afterwards: the old recursive log
        delete silently erased it (lost data); now only the snapshotted
        files are dropped and the non-recursive dir delete refuses the
        non-empty log dir."""
        import os

        from pyspark.sql import functions as F

        import hours_api_clickup_spark.datapipe.similarity as sim
        from hours_api_clickup_spark.datapipe.similarity import (
            lsh_index_append,
            lsh_index_compact,
            lsh_index_read,
            lsh_index_write,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        emb = load_table(spark, SF_DIR, "embeddings")
        old = emb.filter(F.col("vec_id") < 300)
        appended = emb.filter(
            (F.col("vec_id") >= 300) & (F.col("vec_id") < 320)
        )
        late = emb.filter((F.col("vec_id") >= 320) & (F.col("vec_id") < 330))
        path = str(tmp_path / "lsh")
        lsh_index_write(old, "embedding", "vec_id", path, dim=64)
        lsh_index_append(appended, "embedding", "vec_id", path, dim=64)

        real_swap = storage.swap_dir
        fired = []

        def inject_late_append(spark_, live, staged):
            if not fired:
                fired.append(1)
                lsh_index_append(late, "embedding", "vec_id", path, dim=64)
            return real_swap(spark_, live, staged)

        monkeypatch.setattr(storage, "swap_dir", inject_late_append)
        lsh_index_compact(spark, path)
        monkeypatch.setattr(storage, "swap_dir", real_swap)

        # the mid-compact batch survived in the log tier...
        assert os.path.isdir(f"{path}/log")
        vids = {
            r[0]
            for r in lsh_index_read(spark, path)
            .select("vid")
            .distinct()
            .collect()
        }
        assert vids == {r[0] for r in emb.filter(F.col("vec_id") < 330).select("vec_id").collect()}
        # ...and the NEXT quiescent compact folds it and clears the log
        lsh_index_compact(spark, path)
        assert not os.path.exists(f"{path}/log")
        vids2 = {
            r[0]
            for r in lsh_index_read(spark, path)
            .select("vid")
            .distinct()
            .collect()
        }
        assert vids2 == vids


def test_zorder_manifest_prunes_whole_files(spark, tmp_path):
    """Verdict r7 #3: with a published per-file min/max manifest the box
    probe skips whole FILES at split planning — scan_stats numFiles
    strictly below the table's file count (engine-native footer pruning
    only ever drops row groups; numFiles stayed constant). Result rows
    identical to the unpruned read; files the manifest doesn't know are
    kept; an impossible box reads zero files without crashing."""
    import os

    from pyspark.sql import functions as F

    from hours_api_clickup_spark.operators.zorder import (
        read_pruned,
        scan_stats,
        zorder_write_manifested,
    )

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id",
        F.pmod("user_id", F.lit(256)).alias("x"),
        F.pmod(F.expr("unix_millis(ts) div 3600000"), F.lit(256)).alias("y"),
    )
    zpath = str(tmp_path / "zorder")
    zorder_write_manifested(
        ev, F.col("x"), F.col("y"), zpath, "x", "y", bits=8, n_files=16
    )
    n_data_files = len(
        [f for f in os.listdir(zpath) if f.endswith(".parquet")]
    )
    assert n_data_files > 4  # the probe needs a multi-file layout

    box = F.col("x").between(96, 127) & F.col("y").between(64, 95)
    pruned = read_pruned(
        spark, zpath, {"x": (96, 127), "y": (64, 95)}
    ).filter(box)
    full = spark.read.parquet(zpath).filter(box)
    want = sorted(r[0] for r in full.select("event_id").collect())
    got = sorted(r[0] for r in pruned.select("event_id").collect())
    assert got == want and len(got) > 0

    pruned_files, _ = scan_stats(pruned)
    full_files, _ = scan_stats(full)
    assert full_files == n_data_files
    assert pruned_files < n_data_files, (pruned_files, n_data_files)

    # impossible box: every file pruned, schema preserved, zero rows
    nothing = read_pruned(spark, zpath, {"x": (1000, 2000)})
    assert nothing.count() == 0
    assert set(nothing.columns) == {"event_id", "x", "y"}

    # a file the manifest doesn't know (post-publish append) is KEPT —
    # pruning must never hide unprofiled data
    extra = ev.filter(F.col("x").between(96, 127)).limit(7)
    extra.coalesce(1).write.mode("append").parquet(zpath)
    repruned = read_pruned(spark, zpath, {"x": (96, 127), "y": (64, 95)})
    full_after = spark.read.parquet(zpath).filter(box)
    assert repruned.filter(box).count() == full_after.count()


def test_read_pruned_nested_layout_and_typed_stats(spark, tmp_path):
    """Review r8: read_pruned must discover files RECURSIVELY (a
    partitioned layout's files live under subdirs — the top-level-only
    listing silently returned an empty frame), and publish_file_stats
    must survive non-JSON-native stat types (dates stringify)."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from hours_api_clickup_spark.operators.zorder import (
        collect_file_stats,
        read_pruned,
    )
    from hours_api_clickup_spark.operators.zorder import (
        publish_file_stats,
        read_file_stats,
    )

    df = spark.createDataFrame(
        [(i, i % 4, dt.date(2024, 1 + i % 12, 5)) for i in range(400)],
        "k long, p long, d date",
    )
    path = str(tmp_path / "nested")
    df.write.partitionBy("p").parquet(path)

    stats = collect_file_stats(spark, path, {"k": "k", "d": F.col("d")})
    publish_file_stats(path, stats)  # date min/max must not crash
    on_disk = read_file_stats(path)
    assert on_disk and all("d" in v and "k" in v for v in on_disk.values())

    # unpruned range: every row visible through the nested layout
    out = read_pruned(spark, path, {"k": (None, None)})
    assert out.count() == 400
    # a real range still prunes correctly (row parity with plain read)
    got = read_pruned(spark, path, {"k": (0, 99)}).filter(
        F.col("k") <= 99
    ).count()
    want = spark.read.parquet(path).filter(F.col("k") <= 99).count()
    assert got == want == 100
    # ISO date-string bounds work against the stringified stats
    dated = read_pruned(spark, path, {"d": ("2024-01-01", "2024-03-31")})
    assert dated.count() > 0


def test_read_pruned_partition_cols_nulls_and_decimal_stats(spark, tmp_path):
    """Review r8 second pass: (a) a pruned read of a partitioned layout
    keeps the partition column in the schema (basePath); (b) a fully
    unbounded (None, None) range keeps an all-null-stats file visible;
    (c) Decimal stats encode as outward-widened floats that order
    correctly (str(Decimal) made "11" < "9"); (d) zorder_write does not
    swallow a user column named __z."""
    import os
    from decimal import Decimal

    from pyspark.sql import functions as F

    from hours_api_clickup_spark.operators.zorder import (
        _stat_value,
        collect_file_stats,
        read_pruned,
        zorder_write,
    )
    from hours_api_clickup_spark.operators.zorder import publish_file_stats

    # (a) + (b): partitioned layout, one partition with all-null k
    df = spark.createDataFrame(
        [(i, i % 2, float(i)) for i in range(100)], "k long, p long, v double"
    ).union(
        spark.createDataFrame(
            [(None, 2, -1.0)] * 5, "k long, p long, v double"
        )
    )
    path = str(tmp_path / "part")
    df.write.partitionBy("p").parquet(path)
    publish_file_stats(path, collect_file_stats(spark, path, {"k": "k"}))

    pruned = read_pruned(spark, path, {"k": (None, None)})
    assert "p" in pruned.columns  # partition column survives basePath
    assert pruned.count() == 105  # all-null file kept: nothing constrained
    assert pruned.filter(F.col("p") == 2).count() == 5
    # a constrained range still skips the all-null file (BETWEEN)
    lo = read_pruned(spark, path, {"k": (0, 9)})
    assert lo.filter(F.col("k").between(0, 9)).count() == 10

    # (c) Decimal stat encoding orders correctly
    mn = _stat_value(Decimal("9"), "min")
    mx = _stat_value(Decimal("11"), "max")
    assert isinstance(mn, float) and isinstance(mx, float)
    assert mn <= 9.0 and mx >= 11.0 and mn < 10.0 < mx
    import pytest as _pytest

    with _pytest.raises(TypeError, match="order-preserving"):
        _stat_value(object(), "min")

    # (d) __z user column survives a z-ordered write
    zin = spark.createDataFrame(
        [(i, i % 8, i % 8, f"z{i}") for i in range(64)],
        "k long, x long, y long, __z string",
    )
    zpath = str(tmp_path / "zcol")
    zorder_write(zin, F.col("x"), F.col("y"), zpath, bits=3, n_files=2)
    back = spark.read.parquet(zpath)
    assert "__z" in back.columns
    assert back.filter(F.col("__z") == "z7").count() == 1
    assert back.count() == 64 and os.path.isdir(zpath)


class TestThirdReviewPassRegressions:
    """Review r8 third pass (similarity/ann_ingest surface)."""

    def test_zero_norm_vector_never_wins_topk(self, spark):
        """A zero-norm corpus vector (failed embedding row) must never
        outrank real neighbors: 0/0 = NaN and Spark sorts NaN above
        every real double, so the old scoring put the zero vector at
        rank 1 of every desc top-k — both scoring paths."""
        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe.similarity import (
            brute_force_topk,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        emb = (
            load_table(spark, SF_DIR, "embeddings")
            .filter(F.col("vec_id") < 100)
            .select("vec_id", "embedding")
        )
        dim = len(emb.head()["embedding"])
        poisoned = emb.unionByName(
            spark.createDataFrame(
                [(99999, [0.0] * dim)], "vec_id long, embedding array<float>"
            ).select(
                "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
            )
        )
        qv = [float(x) for x in emb.head()["embedding"]]
        for vectorized in (True, False):
            got = [
                r["nbr_id"]
                for r in brute_force_topk(
                    poisoned, "embedding", "vec_id", qv, k=5,
                    vectorized=vectorized,
                ).collect()
            ]
            clean = [
                r["nbr_id"]
                for r in brute_force_topk(
                    emb, "embedding", "vec_id", qv, k=5,
                    vectorized=vectorized,
                ).collect()
            ]
            assert 99999 not in got
            assert got == clean

    def test_delete_between_batches_spares_next_batch_reingest(
        self, spark, tmp_path
    ):
        """The seq-collision bug (review r8): a delete issued between
        stream batches N and N+1 used to claim seq N+1, so a vector
        legitimately re-ingested in batch N+1 tied the tombstone and
        was silently lost at compaction. Deletes now stamp max-LIVE
        seq: they still kill every visible version, and the next
        batch's re-ingest out-ranks them."""
        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe.similarity import (
            lsh_index_append,
            lsh_index_compact,
            lsh_index_delete,
            lsh_index_read,
            lsh_index_write,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        emb = load_table(spark, SF_DIR, "embeddings")
        path = str(tmp_path / "lsh")
        # stream topology: seq = batch_id
        lsh_index_write(
            emb.filter(F.col("vec_id") < 150), "embedding", "vec_id",
            path, dim=64,
        )
        lsh_index_append(
            emb.filter(F.col("vec_id").between(150, 199)),
            "embedding", "vec_id", path, dim=64, seq=1,
        )
        victim = 160
        lsh_index_delete(spark, path, [victim])  # between batches 1 and 2

        def visible() -> bool:
            return bool(
                lsh_index_read(spark, path)
                .filter(F.col("vid") == victim)
                .head(1)
            )

        assert not visible()  # the delete killed every live version
        # batch 2 legitimately re-ingests the victim
        lsh_index_append(
            emb.filter(
                F.col("vec_id").between(200, 219)
                | (F.col("vec_id") == victim)
            ),
            "embedding", "vec_id", path, dim=64, seq=2,
        )
        assert visible()  # seq 2 out-ranks the tombstone
        lsh_index_compact(spark, path)
        assert visible()  # and compaction does not drop it

    def test_pq_codes_above_128_stay_nonnegative(self, spark):
        """Classic PQ uses 256 codes; int8 encoding wrapped any code
        above 127 negative and element_at then indexed the distance
        table from the END (review r8). Codes are int16 now."""
        import numpy as np
        import pandas as pd

        from hours_api_clickup_spark.datapipe.similarity import (
            pq_encode,
        )

        rng = np.random.default_rng(11)
        n, dim, n_sub, n_codes = 300, 8, 2, 200
        vecs = rng.standard_normal((n, dim)).astype(np.float64)
        df = spark.createDataFrame(
            pd.DataFrame(
                {"vec_id": range(n), "embedding": [list(v) for v in vecs]}
            )
        )
        sub = dim // n_sub
        codebooks = rng.standard_normal((n_sub, n_codes, sub))
        rows = pq_encode(df, "embedding", "vec_id", codebooks).collect()
        allcodes = [c for r in rows for c in r["codes"]]
        assert min(allcodes) >= 0 and max(allcodes) < n_codes
        assert max(allcodes) > 127  # the regime int8 corrupted

    def test_ivfpq_probe_recovers_crashed_codes_swap(self, spark, tmp_path):
        """A crash between the codes tier's two swap renames leaves
        codes absent and codes__old complete; probes must roll it back
        instead of throwing path-not-found until a rebuild (review r8)."""
        import os

        from pyspark.sql import functions as F

        from hours_api_clickup_spark.datapipe.similarity import (
            ivfpq_index_write,
            ivfpq_probe_topk,
            pq_seed_codebooks,
            seed_centroids,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        emb = load_table(spark, SF_DIR, "embeddings").filter(
            F.col("vec_id") < 300
        )
        path = str(tmp_path / "ivfpq")
        cents = seed_centroids(emb, "embedding", "vec_id", n_clusters=8)
        cbs = pq_seed_codebooks(emb, "embedding", "vec_id", n_subspaces=8, n_codes=16)
        ivfpq_index_write(emb, "embedding", "vec_id", path, cents, cbs)
        qv = [float(x) for x in emb.head()["embedding"]]
        want = [
            r["nbr_id"]
            for r in ivfpq_probe_topk(
                spark, path, "embedding", "vec_id", qv, cents, cbs, k=5
            ).collect()
        ]
        os.rename(f"{path}/codes", f"{path}/codes__old")  # mid-swap crash
        got = [
            r["nbr_id"]
            for r in ivfpq_probe_topk(
                spark, path, "embedding", "vec_id", qv, cents, cbs, k=5
            ).collect()
        ]
        assert got == want and os.path.isdir(f"{path}/codes")

    def test_quantizer_training_degrades_on_tiny_corpus(self, spark):
        """Fewer rows than n_clusters: clamp like seed_centroids, never
        ValueError from rs.choice (review r8)."""
        import pandas as pd

        from hours_api_clickup_spark.datapipe.similarity import (
            train_ivf_centroids,
        )

        df = spark.createDataFrame(
            pd.DataFrame(
                {"vec_id": range(5), "embedding": [[float(i)] * 4 for i in range(1, 6)]}
            )
        )
        cents = train_ivf_centroids(df, "embedding", "vec_id", n_clusters=16)
        assert 1 <= cents.shape[0] <= 5 and cents.shape[1] == 4


class TestFourthReviewPassRegressions:
    """Review r8 fourth pass (dedup/clusters surface)."""

    def test_doc_neardup_rebuild_crash_keeps_live_index(
        self, spark, tmp_path, monkeypatch
    ):
        """A rebuild over a live index that crashes before its swaps
        must leave the old index fully readable — the old in-place
        overwrite destroyed it at job start, and sig-before-bands
        ordering could wedge the ingest stream (review r8)."""
        from pyspark.sql import functions as F

        import hours_api_clickup_spark.datapipe.similarity as sim
        from hours_api_clickup_spark.datapipe.dedup import (
            doc_neardup_index_pairs_for_ids,
            doc_neardup_index_write,
        )
        from hours_api_clickup_spark.plans.registry import load_table
        from tests.conftest import SF_DIR

        docs = load_table(spark, SF_DIR, "documents").filter(
            F.col("doc_id") < 400
        )
        path = str(tmp_path / "didx")
        doc_neardup_index_write(docs, "doc_id", "text", path)
        ids = docs.limit(5).select(F.col("doc_id").alias("did"))
        want = {
            (r.id_a, r.id_b)
            for r in doc_neardup_index_pairs_for_ids(spark, path, ids).collect()
        }

        real_swap = storage.swap_dir

        def crash_swap(spark_, live, staged):
            raise RuntimeError("injected crash before any swap")

        monkeypatch.setattr(storage, "swap_dir", crash_swap)
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="injected crash"):
            doc_neardup_index_write(docs, "doc_id", "text", path)
        monkeypatch.setattr(storage, "swap_dir", real_swap)
        # live index untouched and fully consistent
        got = {
            (r.id_a, r.id_b)
            for r in doc_neardup_index_pairs_for_ids(spark, path, ids).collect()
        }
        assert got == want
        # and a clean rebuild over the debris succeeds
        doc_neardup_index_write(docs, "doc_id", "text", path)
        got2 = {
            (r.id_a, r.id_b)
            for r in doc_neardup_index_pairs_for_ids(spark, path, ids).collect()
        }
        assert got2 == want

    def test_connected_components_ignores_unknown_endpoints(self, spark):
        """Edges referencing ids outside the declared node universe (or
        null ids) must not INVENT output rows (review r8)."""
        import pandas as pd

        from hours_api_clickup_spark.datapipe.clusters import (
            connected_components,
        )

        nodes = spark.createDataFrame(pd.DataFrame({"node": [1, 2, 3]}))
        edges = spark.createDataFrame(
            [(1, 2), (2, 999), (None, 3)], "id_a long, id_b long"
        )
        got = {
            r["node"]: r["component"]
            for r in connected_components(nodes, edges, "node").collect()
        }
        assert got == {1: 1, 2: 1, 3: 3}


def test_index_lease_dead_same_host_holder_taken_over(spark, tmp_path):
    """Two-tier staleness of the one storage lease: a killed
    ingest's lease (this host, pid gone, mtime fresh) must not block
    the restarted ingest for the whole ttl — takeover is immediate.
    A live same-host holder and a fresh foreign-host holder both still
    refuse."""
    import os
    import socket
    import subprocess

    import pytest

    import hours_api_clickup_spark.datapipe.similarity as S

    p = str(tmp_path / "idx")
    os.makedirs(p)
    proc = subprocess.Popen(["true"])
    proc.wait()
    with open(os.path.join(p, storage.LEASE_FILE), "w") as f:
        f.write(f"crashed host={socket.gethostname()} pid={proc.pid} t=0")
    storage.acquire_lease(spark, p, "restarted-ingest")  # takes over
    storage.release_lease(spark, p)

    with open(os.path.join(p, storage.LEASE_FILE), "w") as f:
        f.write(f"live host={socket.gethostname()} pid={os.getpid()} t=0")
    with pytest.raises(storage.MaintenanceLeaseHeld):
        storage.acquire_lease(spark, p, "racer")
    os.unlink(os.path.join(p, storage.LEASE_FILE))

    with open(os.path.join(p, storage.LEASE_FILE), "w") as f:
        f.write(f"remote host=some-other-host pid={proc.pid} t=0")
    with pytest.raises(storage.MaintenanceLeaseHeld):
        storage.acquire_lease(spark, p, "racer")


def test_lease_claim_is_exclusive_under_a_race(spark, tmp_path):
    """Takers racing for a free local lease resolve to exactly one
    winner. Hadoop's local ``create(overwrite=False)`` checks and then
    creates, so several racers could all win; the ``file:`` claim is an
    ``O_EXCL`` create."""
    import threading

    for trial in range(40):
        p = str(tmp_path / f"idx{trial}")
        barrier = threading.Barrier(6, timeout=60)
        winners, errors = [], []

        def take(i):
            barrier.wait()
            try:
                storage.acquire_lease(spark, p, f"taker{i}")
                winners.append(i)
            except storage.MaintenanceLeaseHeld:
                pass
            except Exception as exc:  # surfaced below, not swallowed
                errors.append(exc)

        threads = [threading.Thread(target=take, args=(i,)) for i in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
        assert len(winners) == 1, (trial, winners)


class TestBalancedDirRepartition:
    """The partitioned index writes deal output directories over the
    write tasks via a driver-computed salt whose Murmur3 hash lands
    exactly on partition ``pid mod n_tasks`` (with n_tasks = n_dirs,
    each directory gets its own task) — pinned here against the JVM
    hash so a Spark upgrade that changed HashPartitioning would fail
    loudly instead of silently skewing the write."""

    def test_mmh3_matches_spark_hash(self, spark):
        from pyspark.sql import functions as F

        vals = list(range(-8, 40)) + [2**31 - 1, -(2**31), 123456789]
        df = spark.createDataFrame([(v,) for v in vals], "x int")
        got = {r["x"]: r["h"] for r in df.select("x", F.hash("x").alias("h")).collect()}
        assert all(got[v] == tiered.mmh3_int(v) for v in vals)

    def test_salts_are_injective(self):
        for n in (16, 96):
            salts = tiered.partition_salts(n)
            assert [tiered.mmh3_int(s) % n for s in salts] == list(range(n))

    def test_each_pid_gets_its_own_partition(self, spark):
        from pyspark.sql import functions as F

        n = 96
        pids = spark.range(0, n * 20).select(
            (F.col("id") % n).cast("int").alias("pid")
        )
        placed = (
            tiered.balanced_repartition(pids, F.col("pid"), n, n)
            .select("pid", F.spark_partition_id().alias("part"))
            .distinct()
            .collect()
        )
        assert len(placed) == n
        assert all(r["pid"] == r["part"] for r in placed)

    @pytest.mark.parametrize("bad", [-1, 16])
    def test_out_of_range_pid_fails_the_write(self, spark, bad):
        """A pid outside [0, n) must fail loudly, not collapse every
        such row onto one partition (element_at's null)."""
        from pyspark.sql import functions as F

        pids = spark.range(0, 32).select(
            F.when(F.col("id") == 7, F.lit(bad))
            .otherwise(F.col("id") % 16)
            .cast("int")
            .alias("pid")
        )
        with pytest.raises(Exception, match="partition id out of range"):
            tiered.balanced_repartition(pids, F.col("pid"), 16, 4).collect()
