"""bench.py's degraded-window audit (verdict r8 item: the contaminated
m-block artifact carried only a prose caveat — the checkpoint profile
must ACT, re-running or suspect-stamping rows a slow host window
touched) and bench_normalize's exclusion of suspect rows.

No Spark session: the audit logic is pure timing policy, tested with
fake clocks and (for the end-to-end case) real injected sleeps.
"""

from __future__ import annotations

import json
import sys
import time

import pytest

import bench
from bench import SuiteRecorder, audit_rows, degraded_windows


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

        def boom():
            raise AssertionError("calibrate called on a clean profile")

        assert audit_rows(rec, {"q": lambda: 0.5}, boom) == ([], {})
        assert rec.timings["q"] == 1.0

    def test_clean_bracket_replaces_contaminated_rows(self):
        rec = self._rec(
            _cps(0.6, 2.0, 0.6),
            {"qa": (5.0, 0), "qb": (4.0, 1), "qc": (1.0, 2)},
        )
        out = audit_rows(
            rec, {"qa": lambda: 1.5, "qb": lambda: 1.2}, lambda: 0.6
        )
        assert out == ([], {"qa": 5.0, "qb": 4.0})
        assert rec.timings["qa"] == 1.5
        assert rec.timings["qb"] == 1.2
        assert rec.timings["qc"] == 1.0  # window 2 has no right checkpoint

    def test_dirty_bracket_stamps_suspect_and_keeps_values(self):
        rec = self._rec(_cps(0.6, 2.0, 0.6), {"qa": (5.0, 0)})
        suspect, reruns = audit_rows(rec, {"qa": lambda: 1.5}, lambda: 2.5)
        assert suspect == ["qa"] and reruns == {}
        assert rec.timings["qa"] == 5.0

    def test_rerun_above_original_keeps_original(self):
        # VERDICT r11 #1b: a degraded window can only INFLATE a row, so
        # when the post-suite re-measure lands ABOVE the original (aged
        # session), the original is the honest value — adopt the min
        rec = self._rec(_cps(0.6, 2.0, 0.6), {"qa": (0.654, 0)})
        suspect, reruns = audit_rows(
            rec, {"qa": lambda: 2.144}, lambda: 0.6
        )
        assert suspect == [] and reruns == {"qa": 0.654}
        assert rec.timings["qa"] == 0.654

    def test_non_rerunnable_rows_go_straight_to_suspect(self):
        rec = self._rec(
            _cps(0.6, 2.0, 0.6),
            {"lsh_index_append_batch": (9.0, 1), "qa": (5.0, 1)},
        )
        suspect, reruns = audit_rows(rec, {"qa": lambda: 1.0}, lambda: 0.6)
        assert suspect == ["lsh_index_append_batch"]
        assert reruns == {"qa": 5.0}


class TestCrosscheckRows:
    """VERDICT r10 #1b: rows beyond 2× their committed same-code median
    re-run via their recipe; a dirty bracket stamps suspect. This is the
    defense the within-run windows can't mount — contamination that
    slows a query class but not the calibration work."""

    def _rec(self, rows):
        rec = SuiteRecorder()
        for name, sec in rows.items():
            rec.timings[name] = sec
        return rec

    def test_inflated_row_rerun_and_adopted_on_clean_bracket(self):
        rec = self._rec({"sa": 8.0, "sb": 2.0})
        committed = {"sa": 3.0, "sb": 2.1}
        sus, rer, flagged = bench.crosscheck_rows(
            rec, committed, {"sa": lambda: 3.1}, lambda: 0.6, base=0.6
        )
        assert flagged == ["sa"] and sus == [] and rer == {"sa": 8.0}
        assert rec.timings["sa"] == 3.1  # adopted
        assert rec.timings["sb"] == 2.0  # within 2x: untouched

    def test_dirty_bracket_stamps_suspect(self):
        rec = self._rec({"sa": 8.0})
        sus, rer, flagged = bench.crosscheck_rows(
            rec, {"sa": 3.0}, {"sa": lambda: 3.1}, lambda: 1.2, base=0.6
        )
        assert sus == ["sa"] and rer == {} and flagged == ["sa"]
        assert rec.timings["sa"] == 8.0  # original kept, stamped

    def test_floor_spares_tiny_rows(self):
        # 0.2s → 0.6s is 3× but under the floor: scheduler noise
        rec = self._rec({"tiny": 0.6})
        sus, rer, flagged = bench.crosscheck_rows(
            rec, {"tiny": 0.2}, {}, lambda: 0.6, base=0.6
        )
        assert flagged == [] and sus == [] and rer == {}

    def test_skip_set_and_unknown_rows_ignored(self):
        rec = self._rec({"handled": 9.0, "new_row": 9.0})
        sus, rer, flagged = bench.crosscheck_rows(
            rec,
            {"handled": 1.0},  # new_row has no committed median
            {},
            lambda: 0.6,
            base=0.6,
            skip={"handled"},
        )
        assert flagged == [] and sus == [] and rer == {}

    def test_no_recipe_goes_straight_to_suspect(self):
        rec = self._rec({"scalecheck_x": 9.0})
        sus, rer, flagged = bench.crosscheck_rows(
            rec, {"scalecheck_x": 1.0}, {}, lambda: 0.6, base=0.6
        )
        assert sus == ["scalecheck_x"] and rer == {}

    def test_genuine_regression_adopts_min_and_stays_stamped(self):
        # the re-run reproduces the slow value on a CLEAN bracket: the
        # LOWER of the two measurements stands (VERDICT r11 #1b), and
        # because the final value is still beyond the flag line the row
        # is stamped suspect — the artifact invariant is "no row >2×
        # its committed same-code median unless stamped" (r11 #1c)
        rec = self._rec({"sa": 8.0})
        sus, rer, flagged = bench.crosscheck_rows(
            rec, {"sa": 3.0}, {"sa": lambda: 7.9}, lambda: 0.6, base=0.6
        )
        assert sus == ["sa"] and rer == {"sa": 8.0}
        assert rec.timings["sa"] == 7.9

    def test_rerun_above_original_adopts_original(self):
        # VERDICT r11 #1b: r11's post-suite re-runs in an aged session
        # re-measured ABOVE the originals (asof_join 0.654→2.144s) and
        # the higher value was adopted — now min(original, re-measure)
        rec = self._rec({"sa": 8.0})
        sus, rer, flagged = bench.crosscheck_rows(
            rec, {"sa": 3.0}, {"sa": lambda: 11.0}, lambda: 0.6, base=0.6
        )
        assert rec.timings["sa"] == 8.0  # the lower (original) value
        assert rer == {"sa": 8.0}
        assert sus == ["sa"]  # still over the line → stamped


class TestCrosscheckProperties:
    """Hypothesis invariants for crosscheck_rows: no value within
    ratio× its committed median is ever touched; every mutated value is
    a clean-bracket re-run; suspect rows keep their original value."""

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        rows=st.dictionaries(
            st.text(
                alphabet="abcdefgh_", min_size=1, max_size=8
            ).filter(lambda s: not s.startswith("_")),
            st.tuples(
                st.floats(0.01, 50.0),  # committed median
                st.floats(0.01, 200.0),  # this run's value
            ),
            min_size=1,
            max_size=12,
        ),
        bracket_dirty=st.booleans(),
    )
    @settings(max_examples=60, deadline=None)
    def test_invariants(self, rows, bracket_dirty):
        rec = SuiteRecorder()
        committed = {}
        for name, (med, val) in rows.items():
            committed[name] = round(med, 3)
            rec.timings[name] = round(val, 3)
        before = dict(rec.timings)
        rerun_val = 0.123
        fns = {n: (lambda: rerun_val) for n in rows}
        cal = (lambda: 10.0) if bracket_dirty else (lambda: 0.5)
        suspect, reruns, flagged = bench.crosscheck_rows(
            rec, committed, fns, cal, base=0.6
        )
        for name in rows:
            over = before[name] > max(
                bench.CROSSCHECK_RATIO * committed[name],
                bench.CROSSCHECK_FLOOR,
            )
            if not over:
                # within contract: untouched, never flagged
                assert name not in flagged
                assert rec.timings[name] == before[name]
            elif bracket_dirty:
                assert name in suspect
                assert rec.timings[name] == before[name]  # value intact
            else:
                assert reruns[name] == before[name]  # original recorded
                assert rec.timings[name] == rerun_val  # adoption
        assert set(flagged) == set(suspect) | set(reruns)


class TestCodeFingerprint:
    def test_stable_within_session(self):
        assert bench.code_fingerprint() == bench.code_fingerprint()

    def test_committed_detail_loads(self):
        d = bench.load_committed_detail()
        assert isinstance(d, dict) and "queries" in d


class TestCommittedReference:
    """load_committed_detail must compare against COMMITTED state only
    (ADVICE r11: the working-tree fallback made a second run in a
    git-less environment cross-check against its own previous output),
    and prefers the merged multi-run BENCH_REFERENCE.json (VERDICT r11
    #4) over the single-run BENCH_DETAIL.json."""

    def test_git_failure_skips_crosscheck(self, monkeypatch):
        import subprocess

        def boom(*a, **k):
            raise OSError("git missing")

        monkeypatch.setattr(subprocess, "run", boom)
        assert bench.load_committed_detail() == {}

    def test_uncommitted_refs_skip_not_working_tree(self, monkeypatch):
        import subprocess

        class R:
            returncode = 128
            stdout = b""

        monkeypatch.setattr(subprocess, "run", lambda *a, **k: R())
        # BENCH_DETAIL.json exists in the working tree; it must NOT be
        # read when git says neither reference is committed
        assert bench.load_committed_detail() == {}

    def test_reference_preferred_over_detail(self, monkeypatch):
        import subprocess

        payloads = {
            "HEAD:BENCH_REFERENCE.json": {"n_reference_runs": 3, "queries": {}},
            "HEAD:BENCH_DETAIL.json": {"queries": {"x": 1.0}},
        }

        def fake_run(cmd, **k):
            class R:
                returncode = 0
                stdout = json.dumps(payloads[cmd[-1]]).encode()

            return R()

        monkeypatch.setattr(subprocess, "run", fake_run)
        assert bench.load_committed_detail()["n_reference_runs"] == 3


class TestBenchReferenceMerge:
    """scripts/bench_reference.py: per-row medians across ≥2
    same-fingerprint runs; suspect values excluded per-run."""

    def _run(self, queries, suspect=(), fp="f1", sf=0.1, cpus=32):
        return {
            "code_fingerprint": fp,
            "sf": sf,
            "cpus": cpus,
            "queries": queries,
            "suspect": list(suspect),
        }

    def test_median_across_runs(self):
        from scripts.bench_reference import merge

        ref = merge(
            [
                self._run({"a": 1.0, "b": 5.0}),
                self._run({"a": 3.0, "b": 5.2}),
                self._run({"a": 2.0, "b": 9.9}),
            ]
        )
        assert ref["queries"] == {"a": 2.0, "b": 5.2}
        assert ref["n_reference_runs"] == 3
        assert ref["row_samples"] == {"a": 3, "b": 3}

    def test_suspect_values_excluded(self):
        from scripts.bench_reference import merge

        ref = merge(
            [
                self._run({"a": 1.0}, suspect=["a"]),
                self._run({"a": 2.0}),
                self._run({"a": 4.0}),
            ]
        )
        assert ref["queries"]["a"] == 3.0  # median of the clean pair
        assert ref["row_samples"]["a"] == 2

    def test_fingerprint_mismatch_refuses(self):
        from scripts.bench_reference import merge

        with pytest.raises(SystemExit, match="fingerprint"):
            merge([self._run({}), self._run({}, fp="f2")])

    def test_sf_mismatch_refuses(self):
        from scripts.bench_reference import merge

        with pytest.raises(SystemExit, match="sf"):
            merge([self._run({}), self._run({}, sf=0.01)])

    def test_single_run_refuses(self):
        from scripts.bench_reference import merge

        with pytest.raises(SystemExit, match=">=2"):
            merge([self._run({})])

    def test_cpus_mismatch_refuses(self):
        # a local[32] and a local[8] run of identical code are different
        # workload shapes — medians across them are meaningless
        from scripts.bench_reference import merge

        with pytest.raises(SystemExit, match="cpus"):
            merge([self._run({}), self._run({}, cpus=8)])

    def test_cpus_carried_into_reference(self):
        from scripts.bench_reference import merge

        ref = merge([self._run({"a": 1.0}), self._run({"a": 2.0})])
        assert ref["cpus"] == 32

    def test_legacy_runs_without_cpus_merge_but_omit_key(self):
        from scripts.bench_reference import merge

        runs = [self._run({"a": 1.0}), self._run({"a": 2.0})]
        for r in runs:
            del r["cpus"]
        ref = merge(runs)
        assert "cpus" not in ref


class TestCrosscheckEligible:
    """bench.crosscheck_eligible: a committed median is a valid
    expectation only under identical code, scale factor AND core count
    — the driver also benches at a lower SPARK_GRAFT_CPUS, and
    comparing that run against local[32] medians would stamp every
    CPU-parallel row a false ``suspect``."""

    REF = {"code_fingerprint": "f1", "sf": 0.1, "cpus": 32}

    def test_same_conditions_match(self):
        import bench

        assert bench.crosscheck_eligible(self.REF, "f1", 0.1, 32)

    def test_fingerprint_mismatch_skips(self):
        import bench

        assert not bench.crosscheck_eligible(self.REF, "f2", 0.1, 32)

    def test_sf_mismatch_skips(self):
        import bench

        assert not bench.crosscheck_eligible(self.REF, "f1", 0.01, 32)

    def test_lower_core_run_skips(self):
        import bench

        assert not bench.crosscheck_eligible(self.REF, "f1", 0.1, 8)

    def test_legacy_reference_without_cpus_skips(self):
        # conservative: don't guess what parallelism produced it
        import bench

        legacy = {"code_fingerprint": "f1", "sf": 0.1}
        assert not bench.crosscheck_eligible(legacy, "f1", 0.1, 32)

    def test_empty_committed_skips(self):
        import bench

        assert not bench.crosscheck_eligible({}, "f1", 0.1, 32)


class TestSleepInjectedEndToEnd:
    """Drive the real loop shape with injected sleeps: a host window
    slows both the queries and the calibration samples mid-suite; the
    audit must catch the window via the checkpoints and re-run the
    inflated rows once the host is healthy again."""

    def test_degraded_window_rows_rerun_clean(self):
        host = {"slow": False}

        def calibrate():
            t0 = time.perf_counter()
            time.sleep(0.05 if host["slow"] else 0.01)
            return time.perf_counter() - t0

        def run_once(_name):
            t0 = time.perf_counter()
            time.sleep(0.05 if host["slow"] else 0.01)
            return time.perf_counter() - t0

        names = [f"q{i}" for i in range(6)]
        rec = SuiteRecorder()
        rec.checkpoint("start", calibrate())
        for idx, name in enumerate(names):
            if idx == 2:
                host["slow"] = True  # window lands on q2..q3
            if idx == 4:
                host["slow"] = False
            rec.record(name, run_once(name))
            if (idx + 1) % 2 == 0:
                rec.checkpoint(f"q{idx + 1:03d}", calibrate())

        bad = degraded_windows(rec.checkpoints)
        assert bad, "the slow window must be visible in the profile"
        inflated = {n for n, w in rec.row_window.items() if w in bad}
        assert "q2" in inflated or "q3" in inflated

        rerun_fns = {n: (lambda n=n: run_once(n)) for n in names}
        suspect, reruns = audit_rows(rec, rerun_fns, calibrate)
        assert suspect == []
        assert set(reruns) == inflated
        # q2/q3 were genuinely contaminated; q4/q5 ride along because
        # their window shares the slow checkpoint (conservative by
        # design — either bounding sample flags the window)
        assert reruns["q2"] >= 0.045 and reruns["q3"] >= 0.045
        for name in reruns:
            assert rec.timings[name] < 0.03  # the clean re-measure


class TestBenchNormalizeSuspectExclusion:
    def _artifact(self, tmp_path, name, queries, suspect=()):
        p = tmp_path / name
        p.write_text(
            json.dumps(
                {
                    "metric": "suite_wall_time",
                    "value": 1.0,
                    "queries": queries,
                    "suspect": list(suspect),
                }
            )
        )
        return str(p)

    def test_suspect_rows_listed_not_ranked(self, tmp_path, capsys, monkeypatch):
        from scripts import bench_normalize

        base = {
            "calibration_fixed_work": 0.6,
            "calibration_fixed_work_end": 0.6,
            "alpha": 1.0,
            "beta": 1.0,
        }
        a = self._artifact(tmp_path, "a.json", base)
        b = self._artifact(
            tmp_path,
            "b.json",
            {**base, "alpha": 4.0, "beta": 1.1},
            suspect=["alpha"],
        )
        monkeypatch.setattr(sys, "argv", ["bench_normalize.py", a, b])
        assert bench_normalize.main() == 0
        out = capsys.readouterr().out
        ranked, excluded = out.split("suspect rows excluded", 1)
        assert "alpha" not in ranked.split("residual slowdowns", 1)[1]
        assert "alpha" in excluded
        assert "beta" in ranked  # healthy rows still rank


class TestTrialProofScope:
    """Only formerly-single-shot ingest/cold rows need row_trials proof
    to rank; probe/scan rows were N_RUNS-medians before r10 and must
    keep ranking against pre-r10 artifacts (ADVICE r10)."""

    def test_ingest_rows_need_proof(self):
        from scripts.bench_normalize import _needs_trial_proof

        for name in (
            "text_index_build_90k", "text_index_append_batch",
            "lsh_index_full_rebuild_200k",
            "doc_index_append_batch", "knn_lsh_probe_cold",
            "dedup_minhash_lsh_cold",
        ):
            assert _needs_trial_proof(name), name

    def test_probe_and_scan_medians_stay_ranked(self):
        from scripts.bench_normalize import _needs_trial_proof

        for name in (
            "text_index_term_probe", "text_index_term_probe_100k",
            "text_index_phrase_probe", "text_index_probe_under_churn",
            "text_index_tombstone_probe", "text_scan_term_topk_100k",
        ):
            assert not _needs_trial_proof(name), name


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


class TestCpusParseAndDetailFile:
    """ADVICE r12: a non-integer SPARK_GRAFT_CPUS (e.g. "*") must not
    crash the bench at import; VERDICT r12 #7: the lower-cpus scaling
    run must not overwrite the 32-core BENCH_DETAIL.json."""

    def test_integer_cpus_parse(self):
        assert bench.parse_cpus("32") == 32
        assert bench.parse_cpus("8") == 8

    def test_star_cpus_parses_to_raw_string(self):
        assert bench.parse_cpus("*") == "*"

    def test_star_cpus_never_matches_crosscheck(self):
        ref = {"code_fingerprint": "f1", "sf": 0.1, "cpus": 32}
        assert not bench.crosscheck_eligible(ref, "f1", 0.1, "*")

    def test_default_cpus_writes_canonical_detail(self):
        assert bench.detail_filename(32) == "BENCH_DETAIL.json"

    def test_nondefault_cpus_writes_suffixed_detail(self):
        assert bench.detail_filename(8) == "BENCH_DETAIL_c8.json"
        assert bench.detail_filename("*") == "BENCH_DETAIL_cstar.json"
