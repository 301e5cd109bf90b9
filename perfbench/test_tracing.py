"""Tests for the event-log parser, span attribution and input generators.

    python3 -m pytest perfbench -q -p no:cacheprovider

``testdata/eventlog_small.jsonl`` was recorded from a local[2] session
that ran ``spark.range(1000).count()`` and then a grouped count written
to parquet (4 jobs), trimmed to the events and fields the parser reads.
"""

from __future__ import annotations

import filecmp
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import inputs  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from tracing import Job, Span  # noqa: E402

LOG = os.path.join(HERE, "testdata", "eventlog_small.jsonl")


def test_read_jobs_sums_task_metrics_per_job():
    jobs = tracing.read_jobs(LOG)
    assert [j.job_id for j in jobs] == [0, 1, 2, 3]
    assert [j.tasks for j in jobs] == [2, 1, 2, 1]
    assert [round(j.task_s, 3) for j in jobs] == [0.142, 0.046, 0.321, 0.469]
    assert [round(j.gc_s, 3) for j in jobs] == [0.0, 0.0, 0.032, 0.0]
    assert [j.shuffle_write_bytes for j in jobs] == [118, 0, 772, 0]
    assert [j.output_bytes for j in jobs] == [0, 0, 0, 795]
    assert jobs[0].submit == pytest.approx(1792173583.969)
    assert jobs[3].end == pytest.approx(1792173586.061)


def test_read_jobs_skips_a_torn_last_line(tmp_path):
    torn = tmp_path / "log"
    torn.write_text(open(LOG).read() + '{"Event": "SparkListenerTaskEnd", "Sta')
    assert len(tracing.read_jobs(str(torn))) == 4


def test_attribute_recorded_log_to_spans():
    # the recording's own marks: the count ran in the first span, the
    # grouped write in the second
    spans = [
        Span("count", 0, 1792173582.254, 1792173584.421),
        Span("write", 0, 1792173584.421, 1792173586.088),
    ]
    att = tracing.attribute(spans, tracing.read_jobs(LOG))
    count, write = att.spans
    assert (count["jobs"], write["jobs"]) == (2, 2)
    assert count["shuffle_write_mb"] == pytest.approx(118 / 1e6)
    assert write["output_mb"] == pytest.approx(795 / 1e6)
    # count: jobs cover [583.969, 584.259] and [584.317, 584.405]
    assert count["driver_gap_s"] == pytest.approx(2.167 - 0.290 - 0.088, abs=1e-6)
    assert att.unattributed_jobs == 0


def test_attribute_gap_merges_overlapping_jobs_and_clips_to_span():
    spans = [Span("a", 1, 10.0, 20.0), Span("b", 1, 20.0, 22.0)]
    jobs = [
        Job(0, 9.0, 11.0),  # before every span: unattributed
        Job(1, 11.0, 14.0),
        Job(2, 13.0, 15.0),  # overlaps job 1: covered once
        Job(3, 19.5, 21.0),  # runs past its span's end: clipped
        Job(4, 20.5, 21.0),
    ]
    att = tracing.attribute(spans, jobs)
    a, b = att.spans
    assert (a["jobs"], b["jobs"]) == (3, 1)
    assert a["driver_gap_s"] == pytest.approx(10.0 - 4.0 - 0.5)
    assert b["driver_gap_s"] == pytest.approx(2.0 - 0.5)
    assert att.unattributed_jobs == 1


def test_span_recorder_tiles_begin_only_spans():
    rec = tracing.SpanRecorder()
    rec.op = 3
    rec.begin("x")
    rec.begin("y")
    rec.end()
    rec.end()  # closing twice is a no-op
    x, y = rec.of_op(3)
    assert (x.name, y.name) == ("x", "y")
    assert x.t1 == y.t0


def test_span_medians():
    rows = [
        {"name": "s", "op": op, "tasks": 1, **{m: float(op) for m in tracing.SPAN_METRICS}}
        for op in (1, 2, 3)
    ]
    assert tracing.span_medians(rows)["s"]["wall_s"] == 2.0


def test_benchmark_lists_every_span_metric_of_every_workload():
    import workloads

    e2e, layer = run.gated_metrics()
    assert "setup_s" in e2e and "op_p50_s" in e2e
    assert sorted(layer) == sorted(
        f"{span}.{m}"
        for wl in workloads.WORKLOADS.values()
        for span in wl.spans
        for m in tracing.SPAN_METRICS
    )


def test_tail_needs_ten_samples_beyond_it():
    assert run.tail([1.0] * 10) is None
    t = run.tail([float(i) for i in range(20)])
    assert t == {"value": 9.0, "percentile": 50.0, "samples": 20}


def test_stage_spans_wraps_and_restores_build_corpus_stages():
    import importlib

    import workloads

    mod_name, fn_name, _ = workloads.CORPUS_STAGES[0]
    mod = importlib.import_module(f"hours_api_clickup_spark.datapipe.{mod_name}")
    orig = getattr(mod, fn_name)
    rec = tracing.SpanRecorder()
    with pytest.raises(TypeError), workloads.stage_spans(rec):
        getattr(mod, fn_name)()  # the wrapper opens the span, then calls
    assert getattr(mod, fn_name) is orig
    assert [s.name for s in rec.spans] == [
        workloads.CORPUS_PRELUDE, f"{mod_name}.{fn_name}",
    ]


def test_generators_are_deterministic_per_seed(tmp_path):
    a = inputs.write_sync_inputs(str(tmp_path / "a"), 7, 500, 200, 60)
    b = inputs.write_sync_inputs(str(tmp_path / "b"), 7, 500, 200, 60)
    c = inputs.write_sync_inputs(str(tmp_path / "c"), 8, 500, 200, 60)
    assert filecmp.cmp(a.staged_path, b.staged_path, shallow=False)
    assert (a.expected_fact_rows, a.expected_digest) == (b.expected_fact_rows, b.expected_digest)
    assert not filecmp.cmp(a.staged_path, c.staged_path, shallow=False)
    ing = inputs.IngestInputs(str(tmp_path / "i"), 7, 50, 20, 5, 3)
    assert ing.batch(2).docs == ing.batch(2).docs
    assert ing.batch(2).vec_ids == [60, 61, 62, 63, 64]


def test_scan_term_topk_orders_by_score_then_id():
    live = {
        5: inputs.term_counts("Spark spark batch"),
        3: inputs.term_counts("spark batch"),
        9: inputs.term_counts("stream"),
    }
    assert inputs.scan_term_topk(live, ["spark", "batch"], 2) == [(5, 3), (3, 2)]
