"""Physical-plan regression gates: the plans that make these queries
scale must not silently regress. Checks explain output for broadcast
joins on dims, filter pushdown to the parquet scan, column pruning,
partial (map-side) aggregation, and whole-stage codegen."""

from __future__ import annotations

import contextlib
import io

from hours_api_clickup_spark.plans.registry import QUERIES
from tests.conftest import SF_DIR


def _plan(spark, name: str, mode: str = "simple") -> str:
    df = QUERIES[name].fn(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        if mode == "simple":
            df.explain()
        else:
            df.explain(mode)
    return buf.getvalue()


def test_join_revenue_broadcasts_dim(spark):
    plan = _plan(spark, "join_revenue_by_priority")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_hierarchy_flatten_all_broadcast(spark):
    plan = _plan(spark, "hierarchy_flatten")
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_pricing_summary_filter_pushdown(spark):
    plan = _plan(spark, "pricing_summary_q1", "formatted")
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].split("\n")[0]


def test_flagship_column_pruning(spark):
    plan = _plan(spark, "flagship_hours_by_user_day", "formatted")
    # scan must read only the needed columns, not props/event_type
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "props" not in read_schema and "event_type" not in read_schema
    assert "user_id" in read_schema and "value" in read_schema


def test_flagship_partial_aggregation(spark):
    plan = _plan(spark, "flagship_hours_by_user_day")
    # two HashAggregates (partial + final) around one shuffle
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


def test_dedupe_single_shuffle(spark):
    plan = _plan(spark, "dedupe_keep_latest")
    # one hash exchange on the key; no global sort (rangepartitioning)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in plan


def test_merge_refresh_no_cartesian(spark):
    plan = _plan(spark, "merge_refresh_window")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_transform_whole_stage_codegen(spark):
    # codegen stages show as `*(n)` operator prefixes in simple mode
    plan = _plan(spark, "transform_projection")
    assert "*(1)" in plan, plan


def test_knn_topk_no_global_sort_shuffle(spark):
    plan = _plan(spark, "knn_brute_force")
    # TakeOrderedAndProject = per-partition heap + driver merge,
    # not a rangepartitioning sort shuffle
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_range_join_is_equi_join_not_nested_loop(spark):
    # the bucketized form must plan a hash/sort-merge equi-join on the
    # bucket id; a raw theta-join would fall back to nested loop
    plan = _plan(spark, "range_join_signup_window")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), plan


def test_topk_per_group_partial_window_limit(spark):
    # Rank-filter pushdown: a Partial WindowGroupLimit must run BEFORE
    # the exchange so each input partition ships at most k rows per
    # group, never the whole table sort.
    plan = _plan(spark, "topk_per_group", "formatted")
    # both the map-side (Partial) and reduce-side (Final) group limits
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "row_number(), 3, Partial" in plan, plan


def test_set_ops_no_global_sort(spark):
    # INTERSECT/EXCEPT compile to aggregate + semi/anti hash joins —
    # never a sort-based set difference or a cartesian product.
    plan = _plan(spark, "set_ops_surface")
    assert "CartesianProduct" not in plan
    assert "Join LeftSemi" in plan or "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan


def _probe_index_plan(spark, tmp_path, which: str) -> str:
    """Build a tiny persisted ANN index and return the probe's plan."""
    import numpy as np
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.datapipe.similarity import (
        ivf_index_write,
        ivf_probe_topk,
        lsh_index_write,
        lsh_probe_topk,
        seed_centroids,
    )
    from hours_api_clickup_spark.plans.registry import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]
    ]
    path = str(tmp_path / f"{which}_index")
    if which == "lsh":
        lsh_index_write(emb, "embedding", "vec_id", path, dim=64)
        df = lsh_probe_topk(spark, path, qv, k=10, exclude_id=0)
    else:
        cents = seed_centroids(emb, "embedding", "vec_id", n_clusters=16)
        ivf_index_write(emb, "embedding", "vec_id", path, cents)
        df = ivf_probe_topk(
            spark, path, "embedding", "vec_id", qv, cents, k=10, nprobe=6
        )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_lsh_probe_scan_is_partition_pruned(spark, tmp_path):
    # The probe must read only the enumerated (t, sb) coarse partitions
    # of the persisted index (PartitionFilters on the scan), push the
    # exact-sig IN-list down to the parquet reader (PushedFilters →
    # row-group pruning via the sorted sig column's min/max stats), and
    # never run a full-corpus mapInPandas signature pass. The re-rank's
    # vector scan is pruned to table 0 too: EVERY scan of the index has
    # t in its PartitionFilters.
    import re

    plan = _probe_index_plan(spark, tmp_path, "lsh")
    scans = [
        node for node in re.split(r"\n\(\d+\) ", plan) if node.startswith("Scan parquet")
    ]
    assert scans, plan

    def line(node, key):
        return node.split(f"{key}: ")[1].split("\n")[0] if f"{key}: " in node else ""

    for node in scans:
        assert "t#" in line(node, "PartitionFilters"), node
    cand = [node for node in scans if "sb#" in line(node, "PartitionFilters")]
    assert len(cand) == 1, plan
    assert "sig" in line(cand[0], "PushedFilters"), plan
    assert "MapInPandas" not in plan, plan


def test_ivf_probe_scan_is_partition_pruned(spark, tmp_path):
    # cluster_id IN (probes) must land in PartitionFilters: the scan
    # touches nprobe partitions, not the corpus.
    plan = _probe_index_plan(spark, tmp_path, "ivf")
    pf = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "cluster_id" in pf, plan
    assert plan.count("MapInPandas") <= 1  # scoring UDF only, no re-sign


def test_text_index_probe_scan_is_partition_pruned(spark, tmp_path):
    # The inverted-index probe must read only the query terms' tb
    # buckets (PartitionFilters) and push the token IN-list into the
    # parquet reader (PushedFilters → row-group pruning on the sorted
    # token column) — never re-tokenize the corpus (no Generate/
    # posexplode in the probe plan).
    import contextlib
    import io

    from hours_api_clickup_spark.datapipe.textindex import (
        index_term_topk,
        inverted_index_read,
        inverted_index_write,
    )
    from hours_api_clickup_spark.plans.registry import load_table

    docs = load_table(spark, SF_DIR, "documents")
    path = str(tmp_path / "text_index")
    inverted_index_write(docs, "text", "doc_id", path)
    df = index_term_topk(
        spark, inverted_index_read(spark, path), ["merge", "vector"], k=10
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    pf = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "tb#" in pf, plan
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    assert "token" in pushed, plan
    assert "Generate" not in plan, plan


def test_minhash_pair_generation_no_all_pairs_join(spark):
    # dedup_cluster_lsh's edge set comes from the banded bucket join:
    # equi-join on (band, bucket) — never a cartesian / nested-loop
    # all-pairs stage anywhere in the candidate plan.
    from pyspark.sql import functions as F  # noqa: F401

    from hours_api_clickup_spark.datapipe.dedup import minhash_lsh_pairs
    from hours_api_clickup_spark.plans.registry import load_table

    docs = load_table(spark, SF_DIR, "documents")
    df = minhash_lsh_pairs(docs, "doc_id", "text")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_sequence_packing_range_partitioned_not_single_window(spark):
    # the global prefix sum must be the two-phase scan: per-__pid local
    # cumsum windows over the range-partitioned rows — never one
    # global-orderBy window that collapses the table into a single
    # partition. The windows run once, behind an eager localCheckpoint
    # (packing.py's ReuseExchange fix) whose job also observes the
    # per-partition totals, so they are read from the plan that
    # checkpoint executes; the query's own plan scans the materialized
    # LogicalRDD and looks the offsets up without a join.
    import re

    import pytest

    frame = type(spark.range(1))
    local_checkpoint, checkpointed = frame.localCheckpoint, []

    def capture(self, *a, **k):
        checkpointed.append(self._jdf.queryExecution().toString())
        return local_checkpoint(self, *a, **k)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(frame, "localCheckpoint", capture)
        plan = _plan(spark, "sequence_packing", "extended")
    assert "LogicalRDD" in plan or "ExistingRDD" in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert len(checkpointed) == 1, checkpointed
    ranged = checkpointed[0]
    assert "rangepartitioning(doc_id" in ranged, ranged
    assert "windowspecdefinition(__pid" in ranged, ranged
    # every data-sized window carries __pid in its partitioning
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", ranged):
        assert "__pid" in spec, (spec, ranged)


def test_lsh_near_dup_pairs_no_all_pairs_join(spark):
    # embedding_near_dups_lsh candidates come from the (table, bucket)
    # equi-join over exploded probe keys — never a cartesian or
    # nested-loop all-pairs stage (that is exactly what distinguishes it
    # from the bounded GEMM verifier embedding_near_dups).
    plan = _plan(spark, "embedding_near_dups_lsh")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_tfidf_topk_window_group_limit(spark):
    # the per-doc top-k must compile to WindowGroupLimit (rank pushdown:
    # each partition keeps <= k rows per doc before the shuffle), and the
    # corpus doc count must join as a broadcast, not a shuffle.
    plan = _plan(spark, "doc_tfidf_topk", "formatted")
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_exact_quantiles_range_partitioned_not_single_buffer(spark):
    # the global rank must ride a RANGE exchange (balanced partitions of
    # the value column), never a single-partition global window or the
    # one-buffer percentile aggregate. The exchange is pinned by an
    # eager localCheckpoint (both the counts branch and the rank branch
    # must see the SAME sampled split points — two independently-planned
    # range exchanges could sample different boundaries, ADVICE r2), so
    # the final plan scans the checkpointed RDD; the range partitioning
    # itself is asserted on the operator's internal frame below.
    plan = _plan(spark, "exact_quantiles_distributed")
    assert "Scan ExistingRDD" in plan, plan
    assert "percentile(" not in plan, plan
    assert "rangepartitioning" not in plan, plan  # no SECOND exchange

    from pyspark.sql import functions as F

    from hours_api_clickup_spark.plans.registry import load_table

    vals = (
        load_table(spark, SF_DIR, "events")
        .select(F.col("value").cast("double").alias("v"))
        .filter(F.col("v").isNotNull())
    )
    p = spark.sparkContext.defaultParallelism
    ranged = vals.repartitionByRange(p, F.col("v"))
    inner = ranged._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" in inner, inner


def test_batch_knn_window_group_limit(spark):
    # per-query top-k must be rank-pushed (WindowGroupLimit): the
    # shuffle carries O(|Q|*k) rows per partition, not the scored
    # cross product
    plan = _plan(spark, "knn_batch_queries", "formatted")
    assert "WindowGroupLimit" in plan, plan


def test_stratified_topn_window_group_limit(spark):
    plan = _plan(spark, "stratified_topn_rows", "formatted")
    assert "WindowGroupLimit" in plan, plan


def test_oov_vocab_joins_broadcast(spark):
    # the top-k vocabulary must reach the corpus as a broadcast (k rows);
    # a shuffle join here would hash-exchange the whole exploded corpus
    plan = _plan(spark, "doc_oov_rate")
    assert "BroadcastHashJoin" in plan, plan


def test_decontaminate_bloom_broadcasts_fixed_size_filter(spark):
    # the Bloom bit-test joins must be broadcast (the filter is a fixed
    # <= k*m/64-row table regardless of benchmark size) and the corpus
    # gram stream must never cartesian-join anything
    plan = _plan(spark, "decontaminate_bloom")
    assert "BroadcastHashJoin" in plan or "broadcasthashjoin" in plan.lower(), plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_semantic_dedup_pairs_are_cluster_keyed_not_all_pairs(spark):
    """SemDeDup's pair stage must hash-join on cluster_id — a cartesian
    or nested-loop pair stage would be the O(n²) plan the clustering
    exists to avoid."""
    plan = _plan(spark, "dedup_semantic_clusters", "formatted")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_span_dedup_no_cartesian_and_partial_agg(spark):
    """Span dedup shuffles int64 gram hashes through a map-side-combining
    count — never an all-pairs stage, and the gram count aggregation
    must stay partial."""
    plan = _plan(spark, "dedup_span_ngram", "formatted")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_gapfill_grid_join_no_nested_loop(spark):
    """The gap-fill grid join must be an equi-join on (key, bucket) —
    a calendar cross join would fan out keys × all buckets."""
    plan = _plan(spark, "gapfill_locf", "formatted")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_incremental_rollup_merges_state_not_history(spark):
    """The state merge must aggregate partially (map-side combine) on
    both the per-slice rollups and the merge itself; no join against
    the history scan appears anywhere."""
    plan = _plan(spark, "rollup_incremental_merge", "formatted")
    assert plan.count("HashAggregate") >= 4, plan  # 2 partials × 2 slices
    assert "Join" not in plan, plan


def test_domain_cap_window_group_limit(spark):
    """The per-domain cap must push the k-heap below the shuffle: the
    hot domain contributes <= n rows per input partition, never its
    full row count."""
    plan = _plan(spark, "domain_cap_sample", "formatted")
    assert "WindowGroupLimit" in plan, plan


def test_correlated_subquery_is_decorrelated(spark):
    """The per-row scalar subquery must compile to one per-part
    aggregate + one equi-join — never a re-scan per outer row."""
    plan = _plan(spark, "correlated_subquery_surface", "formatted")
    assert "HashAggregate" in plan, plan
    assert "Join" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pq_adc_candidate_join_broadcast_no_sort_shuffle(spark):
    """PQ-ADC: the candidate cut is TakeOrderedAndProject (per-partition
    heap, no global-sort exchange) and the join back to the vectors
    broadcasts the 64-row candidate list — the corpus-side vector scan
    never shuffles."""
    plan = _plan(spark, "knn_pq_adc")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ivfpq_same_guarantees(spark):
    plan = _plan(spark, "knn_ivfpq")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_scd2_windows_share_one_exchange(spark):
    """Both SCD2 windows (change-point lag, interval-stitch lead) ride
    ONE hash exchange on the key — the second sort/window reuses the
    first's partitioning instead of reshuffling."""
    plan = _plan(spark, "scd2_dim_history")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_drift_report_windows_on_bin_aggregate_only(spark):
    """The single-partition windows run on the ≤20-row bin aggregate —
    the raw events pass through exactly one map-side-combining
    aggregation (partial + final HashAggregate pair), and the bounds
    row arrives broadcast."""
    plan = _plan(spark, "drift_distribution_report")
    assert "HashAggregate" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    # the global window's single-partition exchange must sit ABOVE the
    # bin aggregate (small input), which the SinglePartition marker shows
    assert "Exchange SinglePartition" in plan, plan


def test_bpe_pairs_vocab_first_then_topk(spark):
    """BPE pair counting: TakeOrderedAndProject for the cut and two
    aggregation pairs (vocab reduction, pair counts) — no global sort,
    no cartesian."""
    plan = _plan(spark, "bpe_merge_pairs")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_full_outer_reconciliation_is_sort_merge_not_broadcast(spark):
    """Big-big full outer cannot broadcast at scale — the gate pins the
    shuffled sort-merge join so a future stats misestimate can't flip
    it to a broadcast that OOMs on a real corpus."""
    plan = _plan(spark, "full_outer_reconciliation")
    assert "SortMergeJoin" in plan and "FullOuter" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_cohort_retention_single_event_shuffle_no_self_join(spark):
    """First-seen week is a window MIN riding the user-key shuffle —
    the events table is shuffled ONCE; the cohort-size join back is a
    broadcast of |cohorts| rows, and no sort-merge self-join of events
    appears."""
    plan = _plan(spark, "cohort_retention")
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_ivfpq_probe_code_sidecar_partition_pruned(spark, tmp_path):
    """The IVFADC probe's code-sidecar scan must carry cluster_id IN
    (probes) as a PartitionFilter (reads nprobe directories of 8-byte
    rows), and the vector base scan must be pruned the same way."""
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.datapipe.similarity import (
        ivfpq_index_write,
        ivfpq_probe_topk,
        pq_seed_codebooks,
        seed_centroids,
    )
    from hours_api_clickup_spark.plans.registry import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    cents = seed_centroids(emb, "embedding", "vec_id", n_clusters=16)
    cb = pq_seed_codebooks(emb, "embedding", "vec_id")
    path = str(tmp_path / "ivfpq")
    ivfpq_index_write(emb, "embedding", "vec_id", path, cents, cb)
    df = ivfpq_probe_topk(
        spark, path, "embedding", "vec_id", qv, cents, cb, k=10, nprobe=6
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # both scans (codes sidecar + vector base) partition-pruned
    pf_sections = plan.split("PartitionFilters")[1:]
    assert len(pf_sections) >= 2, plan
    assert all("cluster_id" in s.split("\n")[0] for s in pf_sections[:2]), plan


class TestPlanAuditLibrary:
    """plans/audit.py — the guardrail checks themselves."""

    def test_flagship_is_clean(self, spark):
        from hours_api_clickup_spark.plans.audit import audit_plan

        df = QUERIES["flagship_hours_by_user_day"].fn(spark, SF_DIR)
        assert audit_plan(df) == []

    def test_cartesian_flagged_and_allowlistable(self, spark):
        from hours_api_clickup_spark.plans.audit import (
            PlanAuditError,
            assert_scalable,
            audit_plan,
        )

        df = spark.range(10).crossJoin(spark.range(10).withColumnRenamed("id", "b"))
        problems = audit_plan(df)
        assert problems and problems[0].startswith("cartesian")
        import pytest as _pytest

        with _pytest.raises(PlanAuditError):
            assert_scalable(df)
        assert_scalable(df, allow=("cartesian",))  # bounded side, waived

    def test_global_window_flagged(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from hours_api_clickup_spark.plans.audit import audit_plan

        df = spark.range(100).withColumn(
            "rn", F.row_number().over(Window.orderBy("id"))
        )
        problems = audit_plan(df)
        assert any(p.startswith("global-window") for p in problems), problems

    def test_row_udf_flagged_but_pandas_udf_clean(self, spark):
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf, udf

        from hours_api_clickup_spark.plans.audit import audit_plan

        slow = udf(lambda x: x + 1, "bigint")
        df_bad = spark.range(10).select(slow(F.col("id")).alias("y"))
        assert any(
            p.startswith("python-row-udf") for p in audit_plan(df_bad)
        )

        import pandas as pd

        def fast(s):
            return s + 1

        # this module uses `from __future__ import annotations`, which
        # stringifies hints and defeats pandas_udf's inference — attach
        # real type objects instead
        fast.__annotations__ = {"s": pd.Series, "return": pd.Series}
        fast_u = pandas_udf(fast, "bigint")
        df_ok = spark.range(10).select(fast_u(F.col("id")).alias("y"))
        assert not any(
            p.startswith("python-row-udf") for p in audit_plan(df_ok)
        )

    def test_full_sort_flagged_topk_clean(self, spark):
        from hours_api_clickup_spark.plans.audit import audit_plan

        from pyspark.sql import functions as F

        # desc: an asc orderBy on Range is elided (source already sorted)
        df_sort = spark.range(1000).orderBy(F.col("id").desc())
        assert any(p.startswith("global-sort") for p in audit_plan(df_sort))
        df_topk = spark.range(1000).orderBy(F.col("id").desc()).limit(5)
        assert not any(
            p.startswith("global-sort") for p in audit_plan(df_topk)
        )


def test_lateral_topk_decorrelates_to_window_group_limit(spark):
    """The correlated LATERAL ... ORDER BY ... LIMIT 2 subquery must
    decorrelate into a ranking window whose per-group 2-heap runs
    below the shuffle (WindowGroupLimit), joined back on the equi-key
    — never a nested-loop per outer row."""
    plan = _plan(spark, "lateral_join_topk", "formatted")
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_recursive_cte_is_union_loop_equi_join(spark):
    """WITH RECURSIVE must compile to the breadth-first loop with an
    equi-join per iteration, not a cartesian expansion."""
    plan = _plan(spark, "recursive_cte_hierarchy", "formatted")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_variant_extraction_stays_jvm_side(spark):
    """VARIANT path extraction must not fall back to Python — no
    BatchEvalPython / ArrowEvalPython in the plan."""
    plan = _plan(spark, "variant_json_surface", "formatted")
    assert "EvalPython" not in plan, plan
    assert "variant_get" in plan, plan


def test_pipe_syntax_compiles_to_standard_plan(spark):
    """The |> pipeline must produce the same physical shape as the
    nested spelling: filter pushed to the lineitem scan, partial
    aggregation before the orderkey shuffle, broadcast for the
    filtered orders side — the syntax is sugar, never a plan change."""
    plan = _plan(spark, "pipe_syntax_surface", "formatted")
    assert "PushedFilters" in plan, plan
    assert "partial" in plan.lower() or "HashAggregate" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_quarantine_ingest_single_scan_serves_both_outputs(spark):
    """The quarantine split is a filter over ONE cached parse — the
    plan must not read the JSONL source twice."""
    plan = _plan(spark, "jsonl_quarantine_ingest", "formatted")
    # both union branches read the cached parse (the Scan json node in
    # the output is the cache-miss plan, printed once per reference)
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_daily_bands_single_day_key_shuffle(spark):
    """Ranking window, count window, and the final groupBy must all
    ride ONE hash shuffle on the day key — exactly one Exchange, and
    never a single-partition collapse."""
    from hours_api_clickup_spark.plans.audit import physical_plan

    plan = physical_plan(QUERIES["daily_latency_bands"].fn(spark, SF_DIR))
    assert plan.count("Exchange") == 1, plan
    assert "SinglePartition" not in plan, plan


def test_pareto_windows_reuse_nation_partitioning(spark):
    """Revenue concentration: the per-customer rollup is the only
    corpus-sized shuffle; the ranking/count windows and the final
    nation rollup add at most two more key exchanges and no
    single-partition stage."""
    from hours_api_clickup_spark.plans.audit import physical_plan

    plan = physical_plan(
        QUERIES["revenue_concentration_pareto"].fn(spark, SF_DIR)
    )
    assert plan.count("Exchange") <= 3, plan
    assert "SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


# ---------------------------------------------------------------------------
# r6 multimodal / compressed-ingest queries: the Python boundary is
# crossed by Arrow-batched MapInPandas stages only, and the only
# shuffles are the deliberate ones (the digest groupBy for pixel dedup,
# the round-robin spread that fans a single-partition parquet scan out
# to the cores — a near-no-op on a real cluster's many-partition scan).
# ---------------------------------------------------------------------------


def test_pixel_dedup_single_digest_shuffle(spark):
    plan = _plan(spark, "multimodal_pixel_dedup")
    # encode + digest stages, then ONE hash shuffle for the groupBy —
    # the same shape as dedup_exact; never a join back to the corpus
    assert plan.count("MapInPandas") == 2, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    # map-side combine: partial + final HashAggregate around the shuffle
    assert plan.count("HashAggregate") >= 2, plan


def test_compressed_ingest_no_shuffle_two_crossings(spark):
    plan = _plan(spark, "compressed_text_ingest")
    # compress + inflate stages; no hash shuffle anywhere — the only
    # exchange is the round-robin spread of the single-partition scan
    assert plan.count("MapInPandas") == 2, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan


def test_media_stats_stages_no_shuffle(spark):
    # synthesize + decode-stats pairs: one Python crossing per batch per
    # stage, zero shuffles, zero joins — per-row work only, so the plan
    # scales embarrassingly with partitions
    for name in (
        "multimodal_resize_stats",
        "multimodal_audio_stats",
        "multimodal_video_frames",
    ):
        plan = _plan(spark, name)
        assert plan.count("MapInPandas") == 2, (name, plan)
        assert "Exchange hashpartitioning" not in plan, (name, plan)
        assert "Join" not in plan, (name, plan)


def test_corpus_drift_two_aggs_topk_no_global_window(spark):
    plan = _plan(spark, "corpus_drift_topk")
    # one map-side-combining agg per side (partial+final pairs), the
    # full-outer vocab join, and a top-k heap cut — no global sort, no
    # single-partition window, no totals join (driver-literal scalars)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan
    assert plan.count("SortMergeJoin") <= 1  # the vocab full-outer only
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


class TestPlanAuditTreeShapes:
    """Review r7: the audit's tree walks must respect subtree bounds —
    exercised with synthetic plan strings via the ``plan=`` override
    (shapes like a bucketed-scan window need table setup a unit test
    shouldn't pay for)."""

    def test_keyed_window_without_exchange_does_not_leak_to_sibling(self):
        from hours_api_clickup_spark.plans.audit import audit_plan

        # Window's subtree (bucketed scan, no exchange) ends before the
        # join's other branch, which holds an unrelated global
        # aggregate's SinglePartition exchange — must NOT flag.
        plan = """AdaptiveSparkPlan isFinalPlan=false
+- BroadcastHashJoin [k], [k2], Inner
   :- Window [row_number() ...], [k], [id ASC]
   :  +- Sort [k ASC, id ASC], false, 0
   :     +- FileScan parquet bucketed(k, 8)
   +- BroadcastExchange IdentityBroadcastMode
      +- Exchange SinglePartition
         +- HashAggregate(keys=[], functions=[count(1)])
"""
        assert not any(
            p.startswith("global-window") for p in audit_plan(None, plan=plan)
        )

    def test_global_window_flagged_at_any_nesting_depth(self):
        from hours_api_clickup_spark.plans.audit import audit_plan

        plan = """AdaptiveSparkPlan isFinalPlan=false
+- Project [id, rn]
   +- Window [row_number() ...], [id ASC]
      +- Sort [id ASC], false, 0
         +- Exchange SinglePartition
            +- Range (0, 100)
"""
        assert any(
            p.startswith("global-window") for p in audit_plan(None, plan=plan)
        )

    def test_full_sort_not_hidden_by_unrelated_topk(self):
        from hours_api_clickup_spark.plans.audit import audit_plan

        # the old plan-wide waiver passed this: a genuine full-table
        # sort coexisting with an unrelated top-k elsewhere
        plan = """AdaptiveSparkPlan isFinalPlan=false
+- Union
   :- Sort [ts ASC], true, 0
   :  +- Exchange rangepartitioning(ts ASC, 32)
   :     +- FileScan parquet events
   +- TakeOrderedAndProject(limit=10, orderBy=[score DESC])
      +- FileScan parquet docs
"""
        assert any(
            p.startswith("global-sort") for p in audit_plan(None, plan=plan)
        )
