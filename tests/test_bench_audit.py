"""bench.py's row table, runner and degraded-window audit (verdict r8
item: the contaminated m-block artifact carried only a prose caveat —
the checkpoint profile must ACT, re-running or suspect-stamping rows a
slow host window touched).

The audit is pure timing policy, tested with fake clocks and (for the
end-to-end case) the real runner over a fake row table with injected
sleeps; one subprocess smoke test runs ``bench.py --rows`` for real.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

import pytest

import bench
from bench import Row, SuiteRecorder, audit_rows, degraded_windows, run_suite
from hours_api_clickup_spark.plans.registry import QUERIES
from tests.conftest import SF_DIR_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cps(*secs):
    return [(f"c{i}", s) for i, s in enumerate(secs)]


class TestDegradedWindows:
    def test_clean_profile_flags_nothing(self):
        assert degraded_windows(_cps(0.85, 0.73, 0.82, 0.57)) == set()

    def test_slow_checkpoint_flags_both_adjacent_windows(self):
        # windows 1 (c1→c2) and 2 (c2→c3) share the 2.0s sample
        assert degraded_windows(_cps(0.6, 0.6, 2.0, 0.6, 0.6)) == {1, 2}

    def test_uniformly_slow_run_flags_nothing(self):
        # whole-run drift is the normalization factor's job, not the
        # window audit's — relative to its own median nothing stands out
        assert degraded_windows(_cps(3.0, 3.1, 2.9, 3.0)) == set()

    def test_median_baseline_tolerates_fast_suite_end(self):
        # the end sample is systematically the fastest (aged JVM); a
        # min baseline would flag the ordinary ~1.5× start row —
        # median must not (measured clean r8 profile)
        assert degraded_windows(_cps(0.849, 0.726, 0.822, 0.568)) == set()

    def test_single_checkpoint_no_windows(self):
        assert degraded_windows(_cps(1.0)) == set()


class TestAuditRows:
    def _rec(self, checkpoints, rows):
        rec = SuiteRecorder()
        for lbl, s in checkpoints:
            rec.checkpoint(lbl, s)
        # assign windows directly: rows is {name: (sec, window)}
        for name, (sec, window) in rows.items():
            rec.timings[name] = sec
            rec.row_window[name] = window
        return rec

    def test_clean_profile_never_calibrates(self):
        rec = self._rec(_cps(0.6, 0.6, 0.6), {"q": (1.0, 0)})

        def boom(*_):
            raise AssertionError("calibrate/rerun called on a clean profile")

        assert audit_rows(rec, boom, boom) == ([], {})
        assert rec.timings["q"] == 1.0

    def test_clean_bracket_replaces_contaminated_rows(self):
        rec = self._rec(
            _cps(0.6, 2.0, 0.6),
            {"qa": (5.0, 0), "qb": (4.0, 1), "qc": (1.0, 2)},
        )
        asked = []

        def rerun(names):
            asked.extend(names)
            return {"qa": 1.5, "qb": 1.2}

        out = audit_rows(rec, rerun, lambda: 0.6)
        assert asked == ["qa", "qb"]  # only the degraded windows' rows
        assert out == ([], {"qa": 5.0, "qb": 4.0})
        assert rec.timings["qa"] == 1.5
        assert rec.timings["qb"] == 1.2
        assert rec.timings["qc"] == 1.0  # window 2 has no right checkpoint

    def test_dirty_bracket_stamps_suspect_and_keeps_values(self):
        rec = self._rec(_cps(0.6, 2.0, 0.6), {"qa": (5.0, 0)})
        suspect, reruns = audit_rows(rec, lambda _: {"qa": 1.5}, lambda: 2.5)
        assert suspect == ["qa"] and reruns == {}
        assert rec.timings["qa"] == 5.0

    def test_rerun_above_original_keeps_original(self):
        # VERDICT r11 #1b: a degraded window can only INFLATE a row, so
        # when the post-suite re-measure lands ABOVE the original (aged
        # session), the original is the honest value — adopt the min
        rec = self._rec(_cps(0.6, 2.0, 0.6), {"qa": (0.654, 0)})
        suspect, reruns = audit_rows(rec, lambda _: {"qa": 2.144}, lambda: 0.6)
        assert suspect == [] and reruns == {"qa": 0.654}
        assert rec.timings["qa"] == 0.654


class TestSleepInjectedEndToEnd:
    """Drive the real runner over a fake row table with injected sleeps:
    a host window slows both the rows and the calibration samples
    mid-suite; the audit must catch the window via the checkpoints and
    re-run the inflated rows, through the same runner, once the host is
    healthy again."""

    def test_degraded_window_rows_rerun_clean(self):
        host = {"slow": False}
        # the window opens at q2's first run and closes at q4's: a
        # re-run of q2 must not re-open it
        toggles = {"q2": True, "q4": False}

        def sleep():
            t0 = time.perf_counter()
            time.sleep(0.05 if host["slow"] else 0.01)
            return time.perf_counter() - t0

        def row(name):
            def setup(_fx):
                if name in toggles:
                    host["slow"] = toggles.pop(name)

            return Row((name,), lambda _fx, _i: sleep(), 1, counted=True, setup=setup)

        rows = tuple(row(f"q{i}") for i in range(6))
        rec, suspect, reruns = run_suite(rows, None, sleep, every=2)

        labels = [lbl for lbl, _ in rec.checkpoints]
        assert labels == ["start", "e002", "e004", "end"]
        bad = degraded_windows(rec.checkpoints)
        assert bad, "the slow window must be visible in the profile"
        inflated = {n for n, w in rec.row_window.items() if w in bad}
        assert "q2" in inflated or "q3" in inflated
        assert suspect == []
        assert set(reruns) == inflated
        # q2/q3 were genuinely contaminated; q4/q5 ride along because
        # their window shares the slow checkpoint (conservative by
        # design — either bounding sample flags the window)
        assert reruns["q2"] >= 0.045 and reruns["q3"] >= 0.045
        for name in reruns:
            assert rec.timings[name] < 0.03  # the clean re-measure


class TestRowTable:
    """The declarative table: registry rows come from QUERIES minus
    EXCLUDE and are the only rows counted in ``value``; every other row
    is declared explicitly."""

    OTHERS = {
        "dedup_minhash_lsh_cold",
        "knn_lsh_probe_cold",
        "knn_ivf_probe_cold",
        "knn_ivfpq_probe_cold",
        "lsh_index_append_batch",
        "lsh_index_full_rebuild_200k",
        "doc_index_append_batch",
        "zorder_files_planned_pruned",
        "zorder_files_planned_plain",
        "zorder_pruned_probe",
        "zorder_plain_probe",
        "text_index_build_90k",
        "text_index_append_batch",
        "text_index_term_probe_100k",
        "text_scan_term_topk_100k",
        "text_index_probe_under_churn",
        "scalecheck_lsh_probe_x1",
        "scalecheck_lsh_probe_x8",
        "scalecheck_text_probe_x1",
        "scalecheck_text_probe_x8",
        "scalecheck_neardup_append_0pct",
        "scalecheck_neardup_append_5pct",
        "scalecheck_neardup_delete_5pct",
    }

    def test_registry_rows_are_the_counted_rows(self):
        counted = [n for row in bench.ROWS if row.counted for n in row.names]
        assert counted == sorted(set(QUERIES) - bench.EXCLUDE)
        assert all(len(row.names) == 1 for row in bench.ROWS if row.counted)

    def test_names_unique(self):
        names = [n for row in bench.ROWS for n in row.names]
        assert len(names) == len(set(names)) == len(QUERIES) - 1 + 23

    def test_non_registry_rows_are_exactly_the_declared_23(self):
        others = {n for row in bench.ROWS if not row.counted for n in row.names}
        assert others == self.OTHERS

    def test_cache_consumers_warm(self):
        # a consumer that skipped its warm would conflate an index build
        # with the steady-state probe in its timed row
        warm = {row.names[0] for row in bench.ROWS if row.counted and row.warm}
        assert warm == {
            "dedup_minhash_lsh",
            "dedup_cluster_lsh",
            "dedup_corpus_manifest",
            "neardup_degree_histogram",
            "knn_lsh_probe",
            "knn_lsh_probe_tombstone",
            "knn_ivf_probe",
            "knn_ivf_probe_tombstone",
            "knn_ivfpq_probe",
            "text_index_term_probe",
            "text_index_phrase_probe",
            "text_index_tombstone_probe",
        }


class TestZorderGate:
    """A pruned scan that plans no fewer files than the plain scan, or
    returns different rows, fails the bench instead of being recorded."""

    @pytest.mark.parametrize(
        "stats", [((64, 10), (64, 10)), ((8, 9), (64, 10))], ids=["files", "rows"]
    )
    def test_failed_gate_raises(self, spark, monkeypatch, stats):
        it = iter(stats)
        noop = lambda *a, **k: None  # noqa: E731
        monkeypatch.setattr(bench.zorder, "zorder_write_manifested", noop)
        monkeypatch.setattr(bench.zorder, "scan_stats", lambda _df: next(it))
        monkeypatch.setattr(bench.Fixtures, "zread", noop)
        fx = bench.Fixtures(spark, SF_DIR_SMOKE)
        with pytest.raises(RuntimeError, match="zorder manifest gate FAILED"):
            fx.zorder


class TestBenchSmoke:
    """``bench.py --rows`` end to end in a subprocess, so a package
    rename that breaks the bench fails here."""

    def _run(self, *args):
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_DIR_SMOKE)
        return subprocess.run(
            [sys.executable, "bench.py", *args],
            cwd=REPO,
            env=env,
            capture_output=True,
            text=True,
            timeout=900,
        )

    def _details(self):
        return {p: os.path.getmtime(p) for p in glob.glob(f"{REPO}/BENCH_DETAIL*.json")}

    def test_rows_run_prints_json_and_writes_no_detail(self):
        before = self._details()
        rows = ["activity_streaks", "text_index_term_probe_100k", "zorder_pruned_probe"]
        files = "zorder_files_planned_pruned"
        out = self._run("--rows", ",".join([*rows, files]))
        assert out.returncode == 0, out.stderr[-3000:]
        line = json.loads(out.stdout.strip().splitlines()[-1])
        assert all(line["queries"][r] > 0 for r in rows)
        assert line["n_queries"] == 1 and line["value"] == line["queries"][rows[0]]
        assert line["detail"] is None
        assert self._details() == before
        # a file count is a count: under ``counts``, printed without a
        # seconds unit, never in ``queries`` or ``value``
        assert files not in line["queries"]
        assert set(line["counts"]) == set(bench.ZORDER_FILES)
        assert all(isinstance(n, int) and n > 0 for n in line["counts"].values())
        assert f"# {files}: {line['counts'][files]} files" in out.stderr
        assert f"# {files}: median" not in out.stderr

    def test_unknown_row_exits_2(self):
        out = self._run("--rows", "activity_streaks,no_such_row")
        assert out.returncode == 2
        assert "no_such_row" in out.stderr


class TestBenchWiring:
    """The module-level pieces main() relies on must stay consistent."""

    def test_threshold_is_the_documented_value(self):
        assert bench.DEGRADE_THRESHOLD == pytest.approx(1.5)

    def test_recorder_assigns_current_window(self):
        rec = SuiteRecorder()
        rec.checkpoint("start", 0.5)
        rec.record("early", 1.0)
        rec.checkpoint("mid", 0.5)
        rec.record("late", 1.0)
        assert rec.row_window == {"early": 0, "late": 1}

    def test_record_before_any_checkpoint_is_window_zero(self):
        rec = SuiteRecorder()
        rec.record("r", 1.0)
        assert rec.row_window["r"] == 0

    def test_inner_medians_count_as_trials(self):
        # a once that is itself a median of 3 records 3 samples, not 1
        row = bench.Row(("r",), lambda _fx, _i: 1.0, 1, inner=3)
        rec, _, _ = bench.run_suite((row,), None, calibrate=lambda: 1.0)
        assert rec.row_trials == {"r": 3}
        probes = next(r for r in bench.ROWS if "scalecheck_lsh_probe_x1" in r.names)
        assert probes.trials * probes.inner == 3


class TestCpusParseAndDetailFile:
    """ADVICE r12: a non-integer SPARK_GRAFT_CPUS (e.g. "*") must not
    crash the bench at import; VERDICT r12 #7: the lower-cpus scaling
    run must not overwrite the 32-core BENCH_DETAIL.json."""

    def test_integer_cpus_parse(self):
        assert bench.parse_cpus("32") == 32
        assert bench.parse_cpus("8") == 8

    def test_star_cpus_parses_to_raw_string(self):
        assert bench.parse_cpus("*") == "*"

    def test_default_cpus_writes_canonical_detail(self):
        assert bench.detail_filename(32) == "BENCH_DETAIL.json"

    def test_nondefault_cpus_writes_suffixed_detail(self):
        assert bench.detail_filename(8) == "BENCH_DETAIL_c8.json"
        assert bench.detail_filename("*") == "BENCH_DETAIL_cstar.json"
