#!/usr/bin/env python
"""Benchmark the headline query suite at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized through the noop sink (count() alone
would let Catalyst prune the very projections being measured). The
exact-O(n²) document-pair verifier is excluded — its scale path
(dedup_minhash_lsh) is benched instead, which is the point.

Robustness: every query runs $SPARK_GRAFT_BENCH_RUNS times (default 3)
and reports the MEDIAN — the GEMM-heavy queries show ±2× run-to-run
variance, so single-run deltas are noise. ``value`` is the sum of the
per-query medians. One extra named row, ``pipeline_refresh_composite``,
times the reference's refresh analog (transform → dedup → windowed
merge) end-to-end so round-over-round regressions on the flagship
pipeline are attributable; it re-runs queries already counted, so it is
reported but NOT added to ``value``.

Self-defense against degraded host windows (verdict r8): the host's
throughput oscillates on a MINUTES timescale, and in r8 a slow window
landed on an alphabetically contiguous query block BETWEEN the two
mid-run calibration checkpoints — the artifact recorded 2-4× inflated
rows with only a prose caveat pointing at a clean run. Now a fixed-work
calibration sample runs every ~12 queries and at every tail-section
boundary; any window whose bounding checkpoints exceed 1.5× the median
checkpoint is DEGRADED, and rows measured inside it are either re-run
(when re-runnable and the re-run's own calibration bracket is clean) or
stamped into the artifact's top-level ``suspect`` list.
bench_normalize.py excludes suspect rows from residual ranking.

Two further layers (VERDICT r10 #1 — the r10 driver run recorded
streaming rows 2-6× an idle box under a CLEAN JVM profile):
- the streaming_* block gets its own calibration profile (constant
  availableNow micro-batch work) and the same window audit on it;
- when the committed BENCH_DETAIL.json carries a matching code
  fingerprint, every row is cross-checked against its committed
  median (``crosscheck_rows``): >2× re-runs via the row's recipe,
  dirty bracket stamps suspect. COMMIT ORDERING MATTERS: the
  end-of-round bench run must be the last source-touching commit, or
  the fingerprint mismatch disables the driver-side cross-check.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

from hours_api_clickup_spark.plans.registry import QUERIES
from hours_api_clickup_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
def parse_cpus(raw: str) -> int | str:
    """Parse SPARK_GRAFT_CPUS leniently (ADVICE r12): session.get_spark
    accepts any local[...] token verbatim (e.g. "*"), so a non-integer
    value must not crash the bench at import — it is kept as the raw
    string for the recorded field, and the cross-check simply never
    matches it (conservative skip)."""
    try:
        return int(raw)
    except ValueError:
        return raw


def detail_filename(cpus: int | str) -> str:
    """The canonical BENCH_DETAIL.json is only written at the default
    core count: the driver's lower-cpus scaling run previously overwrote
    the 32-core per-row record, leaving only the top-13 stdout line as
    the surviving 32-core evidence (VERDICT r12 #3/#7). A non-default-
    cpus run writes BENCH_DETAIL_c{cpus}.json instead, so BOTH runs'
    detail survives a driver round. scripts/bench_reference.py takes
    explicit file paths and is unaffected. A non-integer cpus value
    is sanitized ("*" → "star", any other non-alphanumeric → "_") so the
    name never holds a shell glob character."""
    if str(cpus) == "32":
        return "BENCH_DETAIL.json"
    tag = re.sub(r"[^0-9A-Za-z]", "_", str(cpus).replace("*", "star"))
    return f"BENCH_DETAIL_c{tag}.json"


# mirrors session.get_spark's master default: the run's parallelism is
# part of a timing's identity (see crosscheck_eligible)
CPUS = parse_cpus(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Everything except the deliberately-quadratic exact verifier, which is
# the testing oracle for the LSH path, not a production query.
EXCLUDE = {"dedup_ngram_jaccard"}

# FIXED name order, decoupled from the registry's driver-window rotation:
# the rotation reorders QUERIES every round, and a query measured late in
# a long-lived session pays more fixed overhead (JVM aging, cached-plan
# volume) than one measured early — r5→r6 showed ±0.5-1s drift on
# unchanged queries purely from the order shift. Sorted order makes
# round-over-round per-query deltas comparable.
BENCH_QUERIES = sorted(name for name in QUERIES if name not in EXCLUDE)

# The reference's refresh pipeline, as one timed unit: wide transform →
# keep-latest dedup → windowed MERGE (BASELINE.md "refresh").
COMPOSITE = ("transform_projection", "dedupe_keep_latest", "merge_refresh_window")

# A calibration checkpoint must exceed this multiple of the run's MEDIAN
# checkpoint for its adjacent windows to count as degraded. Median, not
# min: the end-of-suite sample is systematically the fastest (JVM fully
# aged), so a min baseline would sit every clean run's start row right
# at the flag line.
DEGRADE_THRESHOLD = 1.5


class SuiteRecorder:
    """Timed rows + the ordered calibration-checkpoint profile.

    Every timed row remembers which inter-checkpoint WINDOW it was
    measured in, so a post-suite audit can re-run or suspect-stamp
    exactly the rows a degraded host window touched (verdict r8: the
    contaminated m-block fell invisibly between two checkpoints 27
    queries apart).
    """

    def __init__(self) -> None:
        self.timings: dict[str, float] = {}
        self.checkpoints: list[tuple[str, float]] = []  # ordered
        self.row_window: dict[str, int] = {}
        self.row_trials: dict[str, int] = {}

    def checkpoint(self, label: str, sec: float) -> None:
        self.checkpoints.append((label, sec))

    def record(self, name: str, sec: float, trials: int = 1) -> None:
        """``trials`` = how many timed samples the recorded value is a
        median of — carried into BENCH_DETAIL so residual triage can
        see per-row sampling depth without reading this file
        (VERDICT r9 #3)."""
        self.timings[name] = round(sec, 3)
        self.row_window[name] = max(0, len(self.checkpoints) - 1)
        self.row_trials[name] = trials


def degraded_windows(
    checkpoints: list[tuple[str, float]],
    threshold: float = DEGRADE_THRESHOLD,
) -> set[int]:
    """Window i spans checkpoints[i] → checkpoints[i+1]; it is degraded
    when EITHER bounding sample exceeds threshold × the median
    checkpoint. A uniformly slow run flags nothing — whole-run drift is
    the normalization factor's job, this catches windows."""
    if len(checkpoints) < 2:
        return set()
    secs = [s for _, s in checkpoints]
    base = statistics.median(secs)
    return {
        i
        for i in range(len(secs) - 1)
        if max(secs[i], secs[i + 1]) > threshold * base
    }


def audit_rows(
    rec: SuiteRecorder,
    rerun_fns: dict,
    calibrate,
    threshold: float = DEGRADE_THRESHOLD,
) -> tuple[list[str], dict[str, float]]:
    """Post-suite policy for rows measured inside degraded windows.

    Re-runnable rows are re-measured once, with the whole re-run batch
    bracketed by fresh calibration samples: a clean bracket adopts
    ``min(original, re-measure)`` (VERDICT r11 #1b — a degraded window
    can only INFLATE, so when the post-suite re-run lands ABOVE the
    original the original is the honest value; r11 adopted session-aged
    re-measures up to 3.4× the committed median with zero flags), a
    dirty bracket — the host is STILL slow — stamps them ``suspect``
    with the original value intact. Rows with no re-run recipe in
    ``rerun_fns`` (as of r10 only the scalecheck evidence rows — every
    query/composite/cold/ingest/probe row carries a recipe, VERDICT r9
    #3) go straight to ``suspect``.
    Returns (suspect, reruns); mutates rec.timings on successful re-run.
    """
    bad = degraded_windows(rec.checkpoints, threshold)
    if not bad:
        return [], {}
    base = statistics.median(s for _, s in rec.checkpoints)
    affected = sorted(n for n, w in rec.row_window.items() if w in bad)
    suspect = [n for n in affected if n not in rerun_fns]
    to_rerun = [n for n in affected if n in rerun_fns]
    reruns: dict[str, float] = {}
    if to_rerun:
        pre = calibrate()
        fresh = {n: rerun_fns[n]() for n in to_rerun}
        post = calibrate()
        if max(pre, post) <= threshold * base:
            for n, v in fresh.items():
                reruns[n] = rec.timings[n]
                rec.timings[n] = round(min(v, rec.timings[n]), 3)
        else:
            suspect += to_rerun
    return sorted(suspect), reruns


#: Cross-check vs the committed same-HEAD run (VERDICT r10 #1b): a row
#: whose value exceeds this multiple of its committed BENCH_DETAIL
#: median gets its recipe re-run; a dirty calibration bracket stamps it
#: suspect. 2× sits above every documented same-code sampling spread
#: (the ingest class bounced up to 2× BETWEEN medians-of-3) and below
#: the r10 contamination it exists to catch (streaming rows 2-6×).
CROSSCHECK_RATIO = 2.0
#: Rows below this many seconds are skipped — a 0.2s row tripling is
#: scheduler noise, not a contaminated window.
CROSSCHECK_FLOOR = 0.75


def crosscheck_rows(
    rec: SuiteRecorder,
    committed: dict,
    rerun_fns: dict,
    calibrate,
    base: float,
    skip: set | frozenset = frozenset(),
    ratio: float = CROSSCHECK_RATIO,
    floor: float = CROSSCHECK_FLOOR,
    threshold: float = DEGRADE_THRESHOLD,
) -> tuple[list[str], dict[str, float], list[str]]:
    """The within-run window audit is blind to contamination that slows
    a query CLASS but not the calibration work (r10: streaming rows
    recorded 2-6× an idle box with a clean JVM-calibration profile).
    When the committed reference was produced by the SAME code (the
    caller checks the fingerprint), each row also has a cross-round
    reference: values beyond ``ratio``× the committed median re-run via
    their existing recipe inside a calibration bracket — clean bracket
    adopts ``min(original, re-measure)`` (the lower value is the honest
    one, VERDICT r11 #1b) and rows whose FINAL value still exceeds the
    flag line are stamped ``suspect`` anyway (the artifact invariant is
    "no row >ratio× its committed same-code median unless stamped"),
    dirty bracket (the host is still slow by the bracket's own measure)
    stamps ``suspect``.

    Returns (suspect, reruns, flagged); mutates rec.timings on adoption.
    """
    flagged = sorted(
        n
        for n, v in rec.timings.items()
        if n not in skip
        and committed.get(n, 0) > 0
        and v > max(ratio * committed[n], floor)
    )
    suspect = [n for n in flagged if n not in rerun_fns]
    to_rerun = [n for n in flagged if n in rerun_fns]
    reruns: dict[str, float] = {}
    if to_rerun:
        pre = calibrate()
        fresh = {n: rerun_fns[n]() for n in to_rerun}
        post = calibrate()
        if max(pre, post) <= threshold * base:
            for n, v in fresh.items():
                reruns[n] = rec.timings[n]
                rec.timings[n] = round(min(v, rec.timings[n]), 3)
                if rec.timings[n] > max(ratio * committed[n], floor):
                    suspect.append(n)  # re-measured, still over the line
        else:
            suspect += to_rerun
    return sorted(suspect), reruns, flagged


def code_fingerprint() -> str:
    """SHA-256 over bench.py + every package .py, repo-relative paths
    included — "same code" for the cross-check means byte-identical
    measurement code AND measured code, no git state consulted (a
    doc/test-only commit between the builder's run and the driver's
    must not disable the check)."""
    import hashlib

    root = os.path.dirname(os.path.abspath(__file__))
    files = [
        os.path.join(root, "bench.py"),
        # imported by main() for the scalecheck rows — measurement
        # code, so part of "same code" even though they live in scripts/
        os.path.join(root, "scripts", "ann_probe_scaling.py"),
        os.path.join(root, "scripts", "neardup_delete_scaling.py"),
    ]
    for dirpath, dirnames, filenames in os.walk(
        os.path.join(root, "hours_api_clickup_spark")
    ):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        files += [
            os.path.join(dirpath, f)
            for f in filenames
            if f.endswith(".py")
        ]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(os.path.relpath(p, root).encode())
        h.update(b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
        h.update(b"\0")
    return h.hexdigest()


def load_committed_detail() -> dict:
    """The committed cross-check reference, COMMITTED versions only —
    this run overwrites the working-tree BENCH_DETAIL.json, so falling
    back to the working-tree file when git is unavailable would compare
    a second run against its own previous output, silently weakening
    the "committed same-code median" guarantee (ADVICE r11): on git
    failure the cross-check is SKIPPED instead.

    ``BENCH_REFERENCE.json`` (per-row medians merged across ≥3
    same-fingerprint runs, VERDICT r11 #4 — scripts/bench_reference.py
    writes it) is preferred over the single-run BENCH_DETAIL.json: the
    host oscillates ±15% between same-code idle runs, and a
    median-of-runs reference tightens the 2× band against that."""
    import subprocess

    root = os.path.dirname(os.path.abspath(__file__))
    for ref in ("BENCH_REFERENCE.json", "BENCH_DETAIL.json"):
        try:
            out = subprocess.run(
                ["git", "show", f"HEAD:{ref}"],
                cwd=root, capture_output=True, timeout=30,
            )
            if out.returncode == 0 and out.stdout:
                return json.loads(out.stdout)
        except Exception:
            pass
    return {}


def crosscheck_eligible(
    committed: dict, fingerprint: str, sf: float | None, cpus: int
) -> bool:
    """A committed per-row median is a valid expectation ONLY for a run
    under the same conditions: byte-identical code (a code change makes
    the committed value the wrong expectation), the same scale factor
    (an sf0.1 median vs an sf0.01 run), and the SAME core count — the
    driver also benches at a lower ``SPARK_GRAFT_CPUS`` to measure
    scaling, and comparing that run against local[32] medians would
    flag every CPU-parallel row at >2×, re-run it for nothing, and
    stamp it ``suspect`` (a false contamination verdict: the row is
    slower because it has fewer cores, not because the window was
    dirty). A reference predating the cpus field (no ``cpus`` key)
    never matches — conservative: skip the cross-check rather than
    guess what parallelism produced it."""
    return (
        committed.get("code_fingerprint") == fingerprint
        and committed.get("sf") == sf
        and committed.get("cpus") == cpus
    )


def main() -> None:
    sf_match = re.search(r"sf([\d.]+)", SF_DIR)
    sf = float(sf_match.group(1)) if sf_match else None

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen warm-up on the smallest table so q1 doesn't pay it.
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()

    # Python-worker warm-up: touch every reusable worker once so the
    # first mapInPandas query isn't charged 32 parallel numpy/pandas
    # imports (the reference's baseline likewise reports cold start as a
    # separate line item, BASELINE.md "Cold start").
    def _warm(batches):
        import numpy  # noqa: F401

        for pdf in batches:
            yield pdf

    spark.range(256).repartition(32).mapInPandas(_warm, "id long").write.format(
        "noop"
    ).mode("overwrite").save()

    def run_once(name: str) -> float:
        fn = QUERIES[name].fn
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    rec = SuiteRecorder()
    timings = rec.timings

    # Fixed-work calibration (verdict r6 #1): this host's deliverable
    # throughput drifts within a day (identical idle-guest suites
    # measured 144.8s and 187.9s three hours apart in r6), making
    # cross-round absolute seconds unusable. This row is CONSTANT work —
    # 30M-row hash → 4096-group agg → sort, no table reads, no Python
    # workers — so BENCH_r{N}/BENCH_r{M} ratios of it estimate the host
    # drift factor and per-query rows can be normalized against it.
    # Reported (start and end of suite), never added to ``value``.
    from pyspark.sql import functions as F

    def _calibrate_once() -> float:
        t0 = time.perf_counter()
        (
            spark.range(30_000_000)
            .select(((F.col("id") * 2654435761) % 10_000_019).alias("k"))
            .groupBy((F.col("k") % 4096).alias("b"))
            .agg(F.sum("k").alias("s"), F.count("*").alias("c"))
            .orderBy("b")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return time.perf_counter() - t0

    # one UNTIMED warmup sample first (VERDICT r11 #1a): the very first
    # execution of this plan pays codegen compile + JVM warmup (~1.5×
    # the steady-state sample, measured 0.99s vs the 0.65s run median),
    # which exceeded DEGRADE_THRESHOLD×median EVERY run and condemned
    # window 0's 13 alphabetically-first rows to a post-suite re-run in
    # an aged session — warmup is not contamination
    _calibrate_once()
    cal0 = statistics.median(_calibrate_once() for _ in range(3))
    timings["calibration_fixed_work"] = round(cal0, 3)
    rec.checkpoint("start", cal0)
    print(f"# calibration_fixed_work (suite start): {cal0:.3f}s", file=sys.stderr)

    # Python-worker calibration twin (verdict r7 #1): the JVM row above
    # under-captures drift on the mapInPandas/GEMM query class — in r7
    # the JVM row drifted 1.6-1.8× while text-stats/embedding queries
    # drifted ~2.5× in the same sessions. This row is CONSTANT work
    # through the python worker path: 32 Arrow batches, each folding a
    # seeded 384×384 float32 GEMM chain — the same executor-python
    # round-trip + BLAS throughput those queries spend their time in.
    # Reported (start and end), never added to ``value``.
    def _calibrate_python_once() -> float:
        t0 = time.perf_counter()

        def gemm_batches(it):
            import numpy as np
            import pandas as pd

            rng = np.random.default_rng(7)
            a = rng.standard_normal((384, 384)).astype(np.float32)
            for pdf in it:
                acc = a
                for _ in range(10):
                    acc = np.tanh(acc @ a)  # tanh keeps values bounded
                yield pd.DataFrame(
                    {"s": [float(acc.sum()) + float(pdf["id"].sum())]}
                )

        (
            spark.range(320_000)
            .repartition(32)
            .mapInPandas(gemm_batches, "s double")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return time.perf_counter() - t0

    calp0 = statistics.median(_calibrate_python_once() for _ in range(3))
    timings["calibration_python_work"] = round(calp0, 3)
    print(
        f"# calibration_python_work (suite start): {calp0:.3f}s",
        file=sys.stderr,
    )

    # Streaming-machinery calibration (VERDICT r10 #1a): the JVM and
    # python rows are blind to contamination in what the streaming_*
    # class spends its time on — micro-batch planning, state-store
    # init/commit, offset/commit-log fsyncs on the checkpoint dir. r10
    # recorded streaming rows 2-6× an idle box under a CLEAN fixed-work
    # profile. This row is CONSTANT streaming work: one availableNow
    # micro-batch over a fixed 600k-row parquet source → 509-group
    # stateful rollup → noop sink, fresh checkpoint dir per sample.
    import shutil as _shutil
    import tempfile as _tempfile

    _scal_root = _tempfile.mkdtemp(prefix="bench_streamcal_")
    _scal_src = os.path.join(_scal_root, "src")
    (
        spark.range(600_000)
        .select(
            (F.col("id") % 509).alias("k"), (F.col("id") % 8191).alias("v")
        )
        .repartition(8)
        .write.parquet(_scal_src)
    )

    def _calibrate_streaming_once() -> float:
        ckpt = _tempfile.mkdtemp(prefix="ckpt_", dir=_scal_root)
        t0 = time.perf_counter()
        q = (
            spark.readStream.schema("k long, v long")
            .parquet(_scal_src)
            .groupBy("k")
            .agg(F.sum("v").alias("s"), F.count("*").alias("c"))
            .writeStream.format("noop")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        sec = time.perf_counter() - t0
        _shutil.rmtree(ckpt, ignore_errors=True)
        return sec

    _calibrate_streaming_once()  # untimed: first streaming query of a
    # session pays one-off state-store/provider class loading (~2×)

    # Ingest-time caches (the LSH pair table and every persisted
    # ANN/text index) build lazily inside their FIRST consumer — with
    # the fixed alphabetical order that made knn_ivf_probe's timed row
    # conflate an 8s index build with a 1.6s steady-state probe
    # (verdict r6 #1). Warm every cache-consuming query once UNTIMED so
    # probe rows measure their steady-state claim; build cost stays in
    # the *_cold rows below, where it is labeled as such.
    CACHE_CONSUMERS = (
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
    )
    warmed = [
        name
        for name in CACHE_CONSUMERS
        if name in QUERIES and name not in EXCLUDE
    ]
    for name in warmed:
        run_once(name)
    # count the names actually warmed: a renamed/removed consumer
    # silently skipping while the log claims 12 would re-conflate build
    # with probe in its timed row unnoticed (review r7)
    missing = sorted(set(CACHE_CONSUMERS) - set(warmed))
    print(
        f"# warmed {len(warmed)}/{len(CACHE_CONSUMERS)} cache-consumer "
        f"queries untimed" + (f"; MISSING: {missing}" if missing else ""),
        file=sys.stderr,
    )
    # Mid-run calibration checkpoints (r8, densified r9): the host's
    # throughput oscillates on a MINUTES timescale (measured:
    # dedup_simhash 24.3s and 3.0s eight minutes apart, identical
    # code+data, idle box). r8's two mid-points at 1/3 and 2/3 left
    # ~27-query blind windows and the contaminated m-block fell exactly
    # inside one — so now a fixed-work sample lands every ~12 queries
    # (~1% of suite wall), and the post-suite audit acts on the profile.
    # The first checkpoint at/after each third is ALSO stored under the
    # classic _mid1/_mid2 row names bench_normalize averages into the
    # cross-round drift factor.
    third = max(1, len(BENCH_QUERIES) // 3)
    stride = max(1, len(BENCH_QUERIES) // 12)
    mids_stored = 0
    # The streaming_* rows (alphabetically contiguous) get their OWN
    # calibration profile (VERDICT r10 #1a): checkpoints of streaming
    # fixed work bound the block and land every 4 streaming rows, and
    # the post-suite audit runs on THIS profile for them — the JVM
    # profile stays blind to streaming-path contamination. Their
    # row_window in the main recorder is parked at -1 so the JVM-window
    # audit never double-handles them.
    srec = SuiteRecorder()
    s_since_ckpt = 0
    for idx, name in enumerate(BENCH_QUERIES):
        is_streaming = name.startswith("streaming_")
        if is_streaming and not srec.checkpoints:
            s_entry = min(
                _calibrate_streaming_once(), _calibrate_streaming_once()
            )
            srec.checkpoint("s_entry", s_entry)
            timings["calibration_streaming_work"] = round(s_entry, 3)
            print(
                f"# calibration_streaming_work (block entry): "
                f"{s_entry:.3f}s",
                file=sys.stderr,
            )
        med = statistics.median(run_once(name) for _ in range(N_RUNS))
        rec.record(name, med, trials=N_RUNS)
        if is_streaming:
            srec.record(name, med, trials=N_RUNS)
            rec.row_window[name] = -1  # audited by the streaming profile
            s_since_ckpt += 1
            more = any(
                n.startswith("streaming_") for n in BENCH_QUERIES[idx + 1:]
            )
            if s_since_ckpt >= 4 or not more:
                s_ck = min(
                    _calibrate_streaming_once(), _calibrate_streaming_once()
                )
                srec.checkpoint(f"s_{name}", s_ck)
                s_since_ckpt = 0
                if not more:
                    timings["calibration_streaming_work_end"] = round(
                        s_ck, 3
                    )
                print(
                    f"# calibration_streaming_work checkpoint: "
                    f"{s_ck:.3f}s",
                    file=sys.stderr,
                )
        print(f"# {name}: median {med:.3f}s of {N_RUNS}", file=sys.stderr)
        done = idx + 1
        if done % stride == 0 and done < len(BENCH_QUERIES):
            # MIN of two samples: a genuinely degraded window (minutes
            # timescale) slows both, while a one-off scheduler blip on
            # a single ~0.7s sample must not trigger a 13-query re-run
            # (smoke-measured: one 1.504×-median sample flagged 26
            # clean rows)
            c = min(_calibrate_once(), _calibrate_once())
            rec.checkpoint(f"q{done:03d}", c)
            if mids_stored == 0 and done >= third:
                timings["calibration_fixed_work_mid1"] = round(c, 3)
                mids_stored = 1
            elif mids_stored == 1 and done >= 2 * third:
                timings["calibration_fixed_work_mid2"] = round(c, 3)
                mids_stored = 2
            print(
                f"# calibration checkpoint (after {done} queries): "
                f"{c:.3f}s",
                file=sys.stderr,
            )

    rec.checkpoint("post_queries", min(_calibrate_once(), _calibrate_once()))

    comp = statistics.median(
        sum(run_once(name) for name in COMPOSITE) for _ in range(N_RUNS)
    )
    rec.record("pipeline_refresh_composite", comp, trials=N_RUNS)
    print(f"# pipeline_refresh_composite: median {comp:.3f}s", file=sys.stderr)

    # The training-data product as ONE timed unit: quality gate → span
    # dedup → MinHash near-dup manifest → decontaminate → split. Like
    # the refresh composite it re-times queries already counted, so it
    # is reported but NOT added to ``value``.
    CURATION = (
        "url_canonical_dedup",
        "gopher_quality_filter",
        "dedup_span_ngram",
        "dedup_corpus_manifest",
        "dedup_cross_corpus",
        "decontaminate_corpus",
        "dataset_split_assign",
    )
    cur = statistics.median(
        sum(run_once(name) for name in CURATION) for _ in range(N_RUNS)
    )
    rec.record("pipeline_curation_composite", cur, trials=N_RUNS)
    print(f"# pipeline_curation_composite: median {cur:.3f}s", file=sys.stderr)
    rec.checkpoint("post_composites", min(_calibrate_once(), _calibrate_once()))

    # Cap the EXPENSIVE ingest/cold medians at 3 runs regardless of
    # SPARK_GRAFT_BENCH_RUNS — at N_RUNS=5 these ~5-15s writes alone
    # would add minutes of wall; 3 samples already tames the outliers.
    INGEST_RUNS = min(N_RUNS, 3)

    # Ingest-time artifacts (LSH pair table, persisted ANN indexes) are
    # session-cached, so the medians above measure steady-state QUERY
    # cost. Report the cold build+first-query cost explicitly so the
    # cache never hides ingest work from the round-over-round record.
    # Like the composite, these re-time work outside the query budget
    # and are reported but NOT added to ``value``.
    from hours_api_clickup_spark.plans import registry as _registry

    def _cold_once(name: str) -> float:
        # clearing BOTH session caches before every sample makes each
        # one a true cold build+probe — the row's claim
        _registry._LSH_PAIRS_CACHE.clear()
        _registry._ANN_INDEX_CACHE.clear()
        return run_once(name)

    COLD_ROWS = (
        "dedup_minhash_lsh",
        "knn_lsh_probe",
        "knn_ivf_probe",
        "knn_ivfpq_probe",
    )
    # median like the queries (VERDICT r9 #3): the single-shot cold rows
    # carried the documented 2-4× ingest-class spread straight into the
    # artifact, making every r(N)-vs-r(N-1) "regression" on them an
    # idle-box triage exercise
    for name in COLD_ROWS:
        cold = statistics.median(_cold_once(name) for _ in range(INGEST_RUNS))
        rec.record(name + "_cold", cold, trials=INGEST_RUNS)
        print(
            f"# {name}_cold (ingest+query): median {cold:.3f}s of "
            f"{INGEST_RUNS}",
            file=sys.stderr,
        )
    rec.checkpoint("post_cold", min(_calibrate_once(), _calibrate_once()))

    # Steady-state ingest: folding a batch into the live LSH index.
    # Two paths, both reported (not added to ``value``):
    #   append  — merge-on-read: sign the batch, append its files, done.
    #             O(batch) writes; probes resolve max-seq per vid, and
    #             compaction folds the log on its own cadence.
    #   rebuild — sign + write the whole corpus from scratch.
    # At 100 TB the ingest cadence runs append, with compaction on the
    # amortization cadence; rebuild is the quantizer-retrain path.
    from pyspark.sql import functions as _F

    from hours_api_clickup_spark.datapipe.similarity import (
        lsh_index_append,
        lsh_index_write,
    )
    from hours_api_clickup_spark.plans.registry import load_table

    # The sf0.1 embeddings table is 2k vectors — small enough that local
    # fixed job costs mask the scaling. Replicate it 100× (200k vectors,
    # perturbed so signatures spread) so the rebuild has a real corpus
    # to chew while the append batch stays ~100 vectors: the regime the
    # index exists for. ``seq`` is passed as a manifest would.
    emb = load_table(spark, SF_DIR, "embeddings")
    REP = 100
    big = (
        emb.crossJoin(
            _F.broadcast(spark.range(REP).withColumnRenamed("id", "rep"))
        )
        .select(
            (_F.col("vec_id") * REP + _F.col("rep")).alias("vec_id"),
            _F.transform(
                "embedding",
                lambda x: x + _F.col("rep").cast("float") * _F.lit(0.0001),
            )
            .cast("array<float>")
            .alias("embedding"),
        )
        .localCheckpoint()
    )
    base = big.filter(_F.col("vec_id") % 2000 != 0)
    emb_batch = big.filter(_F.col("vec_id") % 2000 == 0)  # ~100-vector batch

    # scratch dirs go through the registry's _index_tmp (pid-keyed name,
    # wipe-on-reuse, dead-pid sweep): bare mkdtemp leaked four index
    # copies per bench run into /tmp forever — the exact accumulation
    # failure r6 fixed on the registry side (review r7)
    from hours_api_clickup_spark.plans.registry_datapipe import _index_tmp

    ap_path = _index_tmp("bench_lsh_ap_", SF_DIR, "idx")
    lsh_index_write(base, "embedding", "vec_id", ap_path, dim=64)

    # The write paths are GEMM + multi-file commit, the noisiest work in
    # the suite: median of N_RUNS like the queries. Run-over-run state:
    # re-append bumps seq, the log's actual shape.
    def _append_once(seq: int) -> float:
        t0 = time.perf_counter()
        lsh_index_append(emb_batch, "embedding", "vec_id", ap_path, dim=64, seq=seq)
        return time.perf_counter() - t0

    t_append = statistics.median(_append_once(2 + i) for i in range(INGEST_RUNS))

    rb_path = _index_tmp("bench_lsh_rb_", SF_DIR, "idx")

    def _rebuild_once() -> float:
        t0 = time.perf_counter()
        lsh_index_write(big, "embedding", "vec_id", rb_path, dim=64)
        return time.perf_counter() - t0

    t_rebuild = statistics.median(_rebuild_once() for _ in range(INGEST_RUNS))

    rec.record("lsh_index_append_batch", t_append, trials=INGEST_RUNS)
    rec.record("lsh_index_full_rebuild_200k", t_rebuild, trials=INGEST_RUNS)
    rec.checkpoint("post_lsh_ingest", min(_calibrate_once(), _calibrate_once()))
    print(
        f"# lsh index ingest (200k corpus, 100-vector batch): append "
        f"{t_append:.3f}s, full rebuild "
        f"{t_rebuild:.3f}s",
        file=sys.stderr,
    )

    # Document near-dup ingest, same two grades: fold a 10% batch into
    # the persisted signature index (O(batch) text read, corpus side
    # never reshingled) vs the one-shot rebuild the *_cold row above
    # pays. Reported, not added to ``value``.
    from pyspark.sql import functions as _F2

    from hours_api_clickup_spark.datapipe.dedup import (
        doc_neardup_index_append,
        doc_neardup_index_write,
    )

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(_F2.col("doc_id") % 20 >= INGEST_RUNS)
    didx = _index_tmp("bench_docidx_", SF_DIR, "idx")
    doc_neardup_index_write(corpus, "doc_id", "text", didx)

    # median like the LSH rows above, but over DISJOINT ~5% slices:
    # doc_neardup_index_append's contract is new-ids-only (re-ingest
    # goes through a rebuild, dedup.py "Precondition"), so re-appending
    # the same batch timed a workload the API does not support — every
    # doc collided with its own prior copy in all bands, inflating runs
    # 2..N with degenerate self-pairs (review r7). Each run now folds a
    # fresh same-sized slice, the actual ingest cadence.
    def _doc_append_once(i: int, path: str = didx) -> float:
        doc_batch = docs.filter(_F2.col("doc_id") % 20 == i)
        t0 = time.perf_counter()
        doc_neardup_index_append(doc_batch, path, "doc_id", "text").count()
        return time.perf_counter() - t0

    t_doc_append = statistics.median(
        _doc_append_once(i) for i in range(INGEST_RUNS)
    )
    rec.record("doc_index_append_batch", t_doc_append, trials=INGEST_RUNS)
    rec.checkpoint("post_doc_ingest", min(_calibrate_once(), _calibrate_once()))

    # File-skip payoff, continuously measured (verdict r8 #5): the
    # manifest layer (zorder_write_manifested → read_pruned) was
    # gate-tested once in r8; these rows price it every round. One
    # z-ordered+manifested events layout (untimed ingest-class work),
    # then the SAME box probe through the manifest-pruned read vs the
    # plain read of the same files — the delta is whole-FILE skipping
    # at split planning, the layer vanilla parquet footers can't buy.
    from hours_api_clickup_spark.operators.zorder import (
        read_pruned,
        scan_stats,
        zorder_write_manifested,
    )

    zev = load_table(spark, SF_DIR, "events").select(
        "event_id",
        _F2.pmod("user_id", _F2.lit(256)).alias("x"),
        _F2.pmod(
            _F2.expr("unix_millis(ts) div 3600000"), _F2.lit(256)
        ).alias("y"),
    )
    zpath = _index_tmp("bench_zorder_", SF_DIR, "idx")
    zorder_write_manifested(
        zev, _F2.col("x"), _F2.col("y"), zpath, "x", "y", bits=8, n_files=64
    )
    zbox = _F2.col("x").between(96, 127) & _F2.col("y").between(64, 95)

    def _zread_pruned():
        return read_pruned(
            spark, zpath, {"x": (96, 127), "y": (64, 95)}
        ).filter(zbox)

    def _zread_plain():
        return spark.read.parquet(zpath).filter(zbox)

    # the numFiles gate, re-proven in-run: the pruned scan must plan
    # strictly fewer files AND return the identical row count (the
    # manifest only shrinks the file list; the real predicate stays)
    znf_pruned, znr_pruned = scan_stats(_zread_pruned())
    znf_plain, znr_plain = scan_stats(_zread_plain())
    if znf_pruned >= znf_plain or znr_pruned != znr_plain:
        print(
            f"# WARNING zorder manifest gate FAILED: pruned "
            f"{znf_pruned} files/{znr_pruned} rows vs plain "
            f"{znf_plain}/{znr_plain}",
            file=sys.stderr,
        )
    rec.record("zorder_files_planned_pruned", float(znf_pruned))
    rec.record("zorder_files_planned_plain", float(znf_plain))

    def _zprobe_once(reader) -> float:
        t0 = time.perf_counter()
        reader().write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    t_zpruned = statistics.median(
        _zprobe_once(_zread_pruned) for _ in range(N_RUNS)
    )
    t_zplain = statistics.median(
        _zprobe_once(_zread_plain) for _ in range(N_RUNS)
    )
    rec.record("zorder_pruned_probe", t_zpruned, trials=N_RUNS)
    rec.record("zorder_plain_probe", t_zplain, trials=N_RUNS)
    print(
        f"# zorder box probe: manifest-pruned {t_zpruned:.3f}s "
        f"({znf_pruned} files planned) vs plain {t_zplain:.3f}s "
        f"({znf_plain} files), rows identical ({znr_pruned})",
        file=sys.stderr,
    )
    print(
        f"# doc near-dup index: 5% batch fold {t_doc_append:.3f}s "
        f"(median of {INGEST_RUNS} disjoint slices) vs cold one-shot "
        f"(dedup_minhash_lsh_cold row)",
        file=sys.stderr,
    )

    # Inverted text index: ingest grades + the probe-vs-scan payoff on
    # a 100k-doc corpus (sf0.1 documents replicated 20×). Reported, not
    # added to ``value``. The scan form re-tokenizes the corpus per
    # query; the probe reads two terms' pruned postings — the gap is
    # the reason the index exists.
    from hours_api_clickup_spark.datapipe.textindex import (
        index_term_topk,
        inverted_index_append,
        inverted_index_read,
        inverted_index_write,
        tokenize,
    )

    REP_T = 20
    bigdocs = (
        docs.crossJoin(
            _F2.broadcast(spark.range(REP_T).withColumnRenamed("id", "rep"))
        )
        .select(
            (_F2.col("doc_id") * REP_T + _F2.col("rep")).alias("doc_id"),
            "text",
        )
        .localCheckpoint()
    )
    t_corpus = bigdocs.filter(_F2.col("doc_id") % 10 != 0)
    t_batch = bigdocs.filter(_F2.col("doc_id") % 10 == 0)
    tidx = _index_tmp("bench_textidx_", SF_DIR, "idx")

    # build/append were the last single-shot write rows; median them
    # like every other ingest row (review r7 — the single-shot GEMM +
    # multi-file-commit class bounced 2-4× between same-code runs).
    # Re-building overwrites via the staged swap (safe); re-appending
    # the same batch at a bumped seq is the text index's supported
    # re-ingest shape (merge-on-read, same as the LSH append row).
    def _text_build_once() -> float:
        t0 = time.perf_counter()
        inverted_index_write(t_corpus, "text", "doc_id", tidx)
        return time.perf_counter() - t0

    t_text_build = statistics.median(
        _text_build_once() for _ in range(INGEST_RUNS)
    )

    def _text_append_once(seq: int) -> float:
        t0 = time.perf_counter()
        inverted_index_append(t_batch, "text", "doc_id", tidx, seq=seq)
        return time.perf_counter() - t0

    t_text_append = statistics.median(
        _text_append_once(1 + i) for i in range(INGEST_RUNS)
    )
    # probe vs scan: the row's claim is STEADY-STATE query cost, so
    # both are medians of N_RUNS (a single-shot probe right after the
    # build bounced 1.1-8.2s across rounds — mostly first-read
    # partition-listing + ambient noise, not probe work)
    reader = inverted_index_read(spark, tidx)

    def _probe_once() -> float:
        t0 = time.perf_counter()
        index_term_topk(spark, reader, ["merge", "vector"], k=10).collect()
        return time.perf_counter() - t0

    # one untimed warm probe: the FIRST read of a fresh index pays
    # partition listing + parquet footers (~4s at this layout) that no
    # steady-state probe repays — fresh-session runs measured
    # [4.3, 1.4, 1.2, 1.2, 1.2]; the row's claim is the 1.2
    _probe_once()
    t_text_probe = statistics.median(_probe_once() for _ in range(N_RUNS))

    def _scan_once() -> float:
        # r12: one filter pass over the token array instead of two —
        # the two-HOF form evaluated split() TWICE per row (no common-
        # subexpression elimination across interpreted array lambdas;
        # measured 5.0-5.8s → 2.79s, identical top-k). Same score:
        # count(merge) + count(vector) ≡ count(x ∈ {merge, vector}).
        t0 = time.perf_counter()
        toks = tokenize("text")
        (
            bigdocs.select(
                "doc_id",
                _F2.size(
                    _F2.filter(
                        toks, lambda x: (x == "merge") | (x == "vector")
                    )
                ).cast("bigint").alias("score"),
            )
            .filter(_F2.col("score") > 0)
            .orderBy(_F2.col("score").desc(), _F2.col("doc_id").asc())
            .limit(10)
            .collect()
        )
        return time.perf_counter() - t0

    t_text_scan = statistics.median(_scan_once() for _ in range(N_RUNS))

    # Probe-under-churn: land a tombstone delete batch (DataFrame-shaped,
    # distributed marker write), then run the same term probe through the
    # merge-on-read view — the delta vs text_index_term_probe_100k pins
    # the tombstone-filter overhead a live index pays between compactions
    # (claimed ~0: the broadcast filter rides above the pruned scan).
    from hours_api_clickup_spark.datapipe.textindex import (
        inverted_index_delete,
    )

    inverted_index_delete(
        spark, tidx, bigdocs.filter(_F2.col("doc_id") % 97 == 0).select("doc_id")
    )
    churn_reader = inverted_index_read(spark, tidx)

    def _probe_churn_once() -> float:
        t0 = time.perf_counter()
        index_term_topk(spark, churn_reader, ["merge", "vector"], k=10).collect()
        return time.perf_counter() - t0

    _probe_churn_once()  # same untimed first-read warm as the clean probe
    t_probe_churn = statistics.median(_probe_churn_once() for _ in range(N_RUNS))
    rec.record("text_index_probe_under_churn", t_probe_churn, trials=N_RUNS)
    rec.record("text_index_build_90k", t_text_build, trials=INGEST_RUNS)
    rec.record("text_index_append_batch", t_text_append, trials=INGEST_RUNS)
    rec.record("text_index_term_probe_100k", t_text_probe, trials=N_RUNS)
    rec.record("text_scan_term_topk_100k", t_text_scan, trials=N_RUNS)
    print(
        f"# text index probe under tombstone churn: {t_probe_churn:.3f}s "
        f"(clean probe {t_text_probe:.3f}s)",
        file=sys.stderr,
    )

    # end-of-suite calibration twin: the start/end ratio exposes
    # WITHIN-run host drift the same way the cross-round ratio exposes
    # between-run drift
    cal1 = statistics.median(_calibrate_once() for _ in range(3))
    timings["calibration_fixed_work_end"] = round(cal1, 3)
    rec.checkpoint("end", cal1)
    print(f"# calibration_fixed_work (suite end): {cal1:.3f}s", file=sys.stderr)
    calp1 = statistics.median(_calibrate_python_once() for _ in range(3))
    timings["calibration_python_work_end"] = round(calp1, 3)
    print(
        f"# calibration_python_work (suite end): {calp1:.3f}s",
        file=sys.stderr,
    )

    # Continuous scale evidence (verdict r7 #8): re-measure the flat
    # probe/delete claims EVERY round in quick form (1x vs 8x corpus;
    # 0 vs ~5% tombstones) instead of trusting the one-off r7 curves.
    # Reported rows only; never added to ``value``. Runs AFTER the
    # end-of-suite calibration twins so its replica checkpoints and
    # index builds never sit under the drift rows (review r8).
    from scripts.ann_probe_scaling import run as _probe_scaling
    from scripts.neardup_delete_scaling import run as _delete_scaling

    for rep, _nv, _nd, t_lsh, _t_ivf, t_txt in _probe_scaling(
        spark, scales=(1, 8), n_runs=3, sf_dir=SF_DIR, include_ivf=False
    ):
        rec.record(f"scalecheck_lsh_probe_x{rep}", t_lsh, trials=3)
        rec.record(f"scalecheck_text_probe_x{rep}", t_txt, trials=3)
    for label, _nd, t_del, t_app, _tc in _delete_scaling(
        spark, levels=(("0pct", None), ("5pct", 19)), base=SF_DIR
    ):
        if t_del:
            rec.record(f"scalecheck_neardup_delete_{label}", t_del)
        rec.record(f"scalecheck_neardup_append_{label}", t_app)
    rec.checkpoint("final", min(_calibrate_once(), _calibrate_once()))
    print(
        "# scalecheck rows: probe x1/x8 + neardup delete/append at "
        "0/5% tombstones",
        file=sys.stderr,
    )
    print(
        f"# text index (100k docs): build {t_text_build:.3f}s, 10% "
        f"batch append {t_text_append:.3f}s, term probe "
        f"{t_text_probe:.3f}s vs scan-form {t_text_scan:.3f}s",
        file=sys.stderr,
    )

    # Post-suite audit (verdict r8): act on the checkpoint profile
    # instead of leaving a prose caveat. Plain query rows and the two
    # composites are re-runnable; as of r10 (VERDICT r9 #3) the
    # cold/ingest/probe rows carry re-run recipes too — each reproduces
    # the row's exact workload shape (recipes needing pristine index
    # state build a FRESH scratch index untimed first) — so a degraded
    # window no longer condemns that whole class to suspect-with-
    # contaminated-value and the r(N)-vs-r(N-1) residual triage needs
    # no idle-box prose. Only the scalecheck rows stay suspect-stamped:
    # secondary flat-cost evidence whose replica corpora are expensive
    # to rebuild.
    def _remeasure(name: str) -> float:
        # the cold rows above CLEARED the session index caches, so a
        # cache-consuming probe re-run here would time an index rebuild
        # and record it as a clean steady-state value — re-warm those
        # names untimed first, exactly like the pre-loop warm pass
        if name in CACHE_CONSUMERS:
            run_once(name)
        return statistics.median(run_once(name) for _ in range(N_RUNS))

    rerun_fns = {
        name: (lambda n=name: _remeasure(n)) for name in BENCH_QUERIES
    }
    rerun_fns["pipeline_refresh_composite"] = lambda: statistics.median(
        sum(run_once(n) for n in COMPOSITE) for _ in range(N_RUNS)
    )
    rerun_fns["pipeline_curation_composite"] = lambda: statistics.median(
        sum(run_once(n) for n in CURATION) for _ in range(N_RUNS)
    )
    for cname in COLD_ROWS:
        rerun_fns[cname + "_cold"] = lambda n=cname: statistics.median(
            _cold_once(n) for _ in range(INGEST_RUNS)
        )
    # merge-on-read appends re-use the ORIGINAL seq values: same-seq
    # duplicate rows are exactly the shape the max-seq read resolution
    # tolerates (and for the text index, staying at/below the churn
    # delete's seq never resurrects tombstoned docs), so the re-run
    # times the identical one-file-commit workload
    rerun_fns["lsh_index_append_batch"] = lambda: statistics.median(
        _append_once(2 + i) for i in range(INGEST_RUNS)
    )
    rerun_fns["lsh_index_full_rebuild_200k"] = lambda: statistics.median(
        _rebuild_once() for _ in range(INGEST_RUNS)
    )
    rerun_fns["text_index_append_batch"] = lambda: statistics.median(
        _text_append_once(1 + i) for i in range(INGEST_RUNS)
    )

    def _doc_append_rerun() -> float:
        # new-ids-only contract: the original slices are in the live
        # index by now, so fold them into a FRESH index built untimed
        fresh_didx = _index_tmp("bench_docidx_rr_", SF_DIR, "idx")
        doc_neardup_index_write(corpus, "doc_id", "text", fresh_didx)
        return statistics.median(
            _doc_append_once(i, fresh_didx) for i in range(INGEST_RUNS)
        )

    rerun_fns["doc_index_append_batch"] = _doc_append_rerun

    def _text_build_rerun() -> float:
        # tidx carries MOR tiers by the audit point (append log + churn
        # tombstones) and rebuild writers refuse those — build fresh
        fresh_tidx = _index_tmp("bench_textidx_rr_", SF_DIR, "idx")

        def once() -> float:
            t0 = time.perf_counter()
            inverted_index_write(t_corpus, "text", "doc_id", fresh_tidx)
            return time.perf_counter() - t0

        return statistics.median(once() for _ in range(INGEST_RUNS))

    rerun_fns["text_index_build_90k"] = _text_build_rerun

    def _warm_then_median(once_fn) -> float:
        once_fn()  # untimed first-read warm, as measured originally
        return statistics.median(once_fn() for _ in range(N_RUNS))

    rerun_fns["text_index_term_probe_100k"] = (
        lambda: _warm_then_median(_probe_once)
    )
    rerun_fns["text_index_probe_under_churn"] = (
        lambda: _warm_then_median(_probe_churn_once)
    )
    rerun_fns["text_scan_term_topk_100k"] = lambda: statistics.median(
        _scan_once() for _ in range(N_RUNS)
    )
    rerun_fns["zorder_pruned_probe"] = lambda: statistics.median(
        _zprobe_once(_zread_pruned) for _ in range(N_RUNS)
    )
    rerun_fns["zorder_plain_probe"] = lambda: statistics.median(
        _zprobe_once(_zread_plain) for _ in range(N_RUNS)
    )
    # min-of-two bracket samples, same blip-damping as the checkpoints:
    # a single slow sample must not condemn every re-run row to suspect
    suspect, reruns = audit_rows(
        rec, rerun_fns, lambda: min(_calibrate_once(), _calibrate_once())
    )
    if suspect or reruns:
        print(
            f"# degraded-window audit: {len(reruns)} rows re-run clean, "
            f"{len(suspect)} stamped suspect: {suspect}",
            file=sys.stderr,
        )
    else:
        print("# degraded-window audit: clean profile", file=sys.stderr)

    # The same audit on the STREAMING profile (VERDICT r10 #1a): the
    # streaming rows' windows are bounded by streaming-machinery
    # samples, so contamination the JVM profile can't see flags here.
    _scal2 = lambda: min(  # noqa: E731
        _calibrate_streaming_once(), _calibrate_streaming_once()
    )
    s_suspect, s_reruns = audit_rows(
        srec,
        {n: rerun_fns[n] for n in srec.timings if n in rerun_fns},
        _scal2,
    )
    for n in s_reruns:
        timings[n] = srec.timings[n]  # adopt the clean re-measure
    suspect = sorted(set(suspect) | set(s_suspect))
    reruns.update(s_reruns)
    if s_suspect or s_reruns:
        print(
            f"# streaming-window audit: {len(s_reruns)} rows re-run "
            f"clean, {len(s_suspect)} stamped suspect: {s_suspect}",
            file=sys.stderr,
        )
    else:
        print("# streaming-window audit: clean profile", file=sys.stderr)

    # Cross-check vs the committed same-code run (VERDICT r10 #1b):
    # within-run windows are blind when the WHOLE run is slow or when
    # the contamination never touches the calibration work; the
    # committed BENCH_DETAIL median is the cross-round reference. Only
    # byte-identical code (bench.py + package) compares — a code change
    # makes the committed value the WRONG expectation for a row.
    committed = load_committed_detail()
    fingerprint = code_fingerprint()
    cc_match = crosscheck_eligible(committed, fingerprint, sf, CPUS)
    cc_flagged: list[str] = []
    if cc_match:
        cq = committed.get("queries", {})
        # adopted (re-run) rows are NOT exempt (VERDICT r11 #1c): the
        # r11 loophole was exactly that degraded-window adoptions
        # landed in ``handled`` and their session-aged values escaped
        # the committed comparison — the FINAL value of every
        # non-suspect row is compared
        handled = set(suspect) | {
            n
            for n in timings
            if n.startswith(("calibration_", "zorder_files_planned_"))
        }
        streaming_names = {n for n in timings if n.startswith("streaming_")}
        base_jvm = statistics.median(s for _, s in rec.checkpoints)
        cs, cr, cf = crosscheck_rows(
            rec,
            cq,
            rerun_fns,
            lambda: min(_calibrate_once(), _calibrate_once()),
            base_jvm,
            skip=handled | streaming_names,
        )
        # streaming rows bracket with streaming samples against the
        # COMMITTED streaming calibration when available — a box that
        # slows only the streaming path must not self-certify with its
        # own inflated within-run base. The committed base is scaled by
        # the JVM-calibration drift ratio (ADVICE r11): on a host that
        # is legitimately UNIFORMLY slower than the committed one, a
        # raw committed base reads every bracket dirty and stamps
        # genuinely regressed rows suspect instead of measuring them —
        # whole-run drift belongs to the normalization factor, and the
        # JVM ratio carries it without letting a streaming-only
        # slowdown self-certify (clamped ≥1 so a faster host never
        # loosens the bracket).
        s_committed_cal = min(
            (
                cq[k]
                for k in (
                    "calibration_streaming_work",
                    "calibration_streaming_work_end",
                )
                if cq.get(k, 0) > 0
            ),
            default=0,
        )
        cq_jvm = [
            cq[k]
            for k in ("calibration_fixed_work", "calibration_fixed_work_end")
            if cq.get(k, 0) > 0
        ]
        drift = 1.0
        if cq_jvm and base_jvm > 0:
            drift = max(1.0, base_jvm / statistics.median(cq_jvm))
        base_s = (s_committed_cal * drift) or statistics.median(
            [s for _, s in srec.checkpoints] or [0]
        )
        cs2, cr2, cf2 = ([], {}, [])
        if base_s > 0:
            cs2, cr2, cf2 = crosscheck_rows(
                rec,
                cq,
                rerun_fns,
                _scal2,
                base_s,
                skip=handled | (set(timings) - streaming_names),
            )
        cc_flagged = sorted(cf + cf2)
        suspect = sorted(set(suspect) | set(cs) | set(cs2))
        reruns.update(cr)
        reruns.update(cr2)
        # the artifact invariant, enforced last (VERDICT r11 #1c): any
        # row whose FINAL value sits beyond the flag line and is not
        # already stamped (e.g. a streaming row when no streaming base
        # was derivable) goes to ``suspect`` — "no unflagged rows 2×
        # off the committed reference" with zero loopholes
        suspect = sorted(
            set(suspect)
            | {
                n
                for n, v in timings.items()
                if n not in handled
                and cq.get(n, 0) > 0
                and v > max(CROSSCHECK_RATIO * cq[n], CROSSCHECK_FLOOR)
            }
        )
        if cc_flagged:
            print(
                f"# committed cross-check: flagged {cc_flagged}, "
                f"{len(cr) + len(cr2)} re-run clean, "
                f"{len(cs) + len(cs2)} stamped suspect",
                file=sys.stderr,
            )
        else:
            print(
                "# committed cross-check: all rows within 2x of the "
                "committed same-code medians",
                file=sys.stderr,
            )
    else:
        print(
            "# committed cross-check: skipped (no committed same-code "
            "BENCH_DETAIL)",
            file=sys.stderr,
        )
    _shutil.rmtree(_scal_root, ignore_errors=True)

    total = sum(timings[name] for name in BENCH_QUERIES)

    # The driver tail-captures only the last ~2 KB of stdout; round 2's
    # 79-query line overflowed it and BENCH_r02.json recorded parsed:null.
    # Full per-query detail goes to BENCH_DETAIL.json; the final stdout
    # line keeps a "queries" dict but limited to the headline subset so
    # the line stays well under the capture window.
    detail = {
        "metric": "suite_wall_time",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # part of a timing's identity: a median is only a valid
        # expectation for a run at the same parallelism
        "cpus": CPUS,
        "n_queries": len(BENCH_QUERIES),
        "calibration_profile": [
            {"label": lbl, "sec": round(s, 3)} for lbl, s in rec.checkpoints
        ],
        "suspect": suspect,
        "reruns": {k: round(v, 3) for k, v in reruns.items()},
        # per-row sampling depth (VERDICT r9 #3): how many timed
        # samples each recorded value is a median of
        "row_trials": rec.row_trials,
        # streaming-class calibration profile (VERDICT r10 #1a) and the
        # committed-run cross-check record (#1b): the fingerprint lets
        # the NEXT same-code run compare its rows against this one's
        "streaming_calibration_profile": [
            {"label": lbl, "sec": round(s, 3)} for lbl, s in srec.checkpoints
        ],
        "code_fingerprint": fingerprint,
        "crosscheck": {
            "committed_match": cc_match,
            "flagged": cc_flagged,
            # how many same-fingerprint runs the committed reference's
            # per-row medians are merged across (VERDICT r11 #4); 1 =
            # a single-run BENCH_DETAIL reference
            "n_reference_runs": committed.get("n_reference_runs", 1)
            if cc_match
            else 0,
        },
    }
    detail_name = detail_filename(CPUS)  # per-cpus file, VERDICT r12 #7
    with open(os.path.join(os.path.dirname(__file__) or ".", detail_name), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    headline = dict(
        sorted(
            (
                kv
                for kv in timings.items()
                # counts, not seconds — a 64-file row would top a
                # seconds-ranked headline
                if not kv[0].startswith("zorder_files_planned_")
            ),
            key=lambda kv: kv[1],
            reverse=True,
        )[:12]
    )
    headline["pipeline_refresh_composite"] = timings["pipeline_refresh_composite"]
    print(
        json.dumps(
            {
                "metric": "suite_wall_time",
                "value": round(total, 3),
                "unit": "sec",
                "queries": headline,
                "sf": sf,
                "cpus": CPUS,
                "n_queries": len(BENCH_QUERIES),
                "suspect_rows": len(suspect),
                "rerun_rows": len(reruns),
                "crosschecked": cc_match,
                "detail": detail_name,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
