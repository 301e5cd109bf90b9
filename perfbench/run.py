"""Product-unit benchmark: time the sync, corpus-build and index-ingest
paths end to end, with a per-layer breakdown from the Spark event log.

    python3 perfbench/run.py --workload warehouse_sync --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. With ``--trace 0`` the last stdout line
holds the end-to-end metrics; with ``--trace 1`` the Spark event log is
on and it holds the per-layer metrics. The line before it is the full
report (stamp, per-workload metrics, per-span breakdown, checks). Every
file the run writes lives under one temp root inside the checkout,
removed at exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
# no __pycache__ in the checkout, from this process or the Python workers
sys.dont_write_bytecode = True


def gated_metrics() -> tuple[dict, dict]:
    """The end-to-end and per-layer metrics BENCHMARK.json lists, name
    to unit: the last line carries exactly these."""
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return tuple({m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer"))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="also write the report JSON to this file")
    return p.parse_args(argv)


def tail(values: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it, or
    None when there are fewer than eleven samples."""
    n = len(values)
    if n < 11:
        return None
    k = n - 11
    return {"value": sorted(values)[k], "percentile": 100.0 * (k + 1) / n, "samples": n}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=CHECKOUT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _descendants(pid: int) -> list[int]:
    """Pids of every live descendant of ``pid`` (via /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Session:
    """The Spark session and the JVM behind it, stopped and waited for
    on close together with the Python workers the JVM started."""

    def __init__(self, tmp: str, trace: bool, app: str):
        from hours_api_clickup_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
            # no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}/tmp -XX:-UsePerfData",
            "spark.hadoop.hadoop.tmp.dir": os.path.join(tmp, "hadoop"),
            "spark.ui.showConsoleProgress": "false",
        }
        self.event_dir = os.path.join(tmp, "events")
        if trace:
            os.makedirs(self.event_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.event_dir}",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark(app_name=app, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self.proc = getattr(SparkContext._gateway, "proc", None)

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the driver JVM plus this process."""
        jvm_kb = 0
        if self.proc is not None:
            with open(f"/proc/{self.proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    def close(self) -> None:
        from pyspark import SparkContext

        workers = _descendants(self.proc.pid) if self.proc is not None else []
        try:
            self.spark.stop()
        finally:
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if self.proc is not None:
                self.proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    self.proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    self.proc.kill()
                    self.proc.wait()
            deadline = time.time() + 20
            while any(_alive(p) for p in workers) and time.time() < deadline:
                time.sleep(0.1)
            for p in workers:
                if _alive(p):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass

    def event_log(self) -> str:
        logs = [os.path.join(self.event_dir, f) for f in os.listdir(self.event_dir)]
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log, found {logs}")
        return logs[0]


def reconcile(wl, rec, timed_ops, results) -> dict:
    """Span walls add up to the op wall, and (corpus_build) each stage
    span agrees with the manifest's stage_walls."""
    import workloads

    worst_sum = 0.0
    for op, res in zip(timed_ops, results):
        spans = rec.of_op(op)
        worst_sum = max(worst_sum, abs(sum(s.wall_s for s in spans) - res.walls["op_s"]))
    out = {"span_sum_max_abs_diff_s": worst_sum, "ok": worst_sum <= 0.05}
    if wl.name == "corpus_build":
        worst = 0.0
        diffs = {}
        for op, res in zip(timed_ops, results):
            by_name = {s.name: s.wall_s for s in rec.of_op(op)}
            for mod, fn, keys in workloads.CORPUS_STAGES:
                manifest_s = sum(res.stage_walls[k] for k in keys)
                d = by_name[f"{mod}.{fn}"] - manifest_s
                diffs[f"{mod}.{fn}"] = d
                worst = max(worst, abs(d) - 0.05 * manifest_s)
        out["stage_wall_diff_s"] = diffs
        out["stage_walls_ok"] = worst <= 0.25
        out["ok"] = out["ok"] and out["stage_walls_ok"]
    return out


def run(args, tmp: str) -> int:
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # the JVM spark-submit starts to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp}/tmp -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p
    )
    for d in ("tmp", "spark-local", "hadoop"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    sys.path.insert(0, CHECKOUT)
    try:
        import hours_api_clickup_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not in this checkout: {exc}", file=sys.stderr)
        return 2

    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    e2e_units, layer_units = gated_metrics()
    t0 = time.perf_counter()
    session = Session(tmp, bool(args.trace), f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    spark = session.spark
    rec = tracing.SpanRecorder()
    wl = workloads.WORKLOADS[args.workload](spark, os.path.join(tmp, "work"), args.seed, rec)
    try:
        t = time.perf_counter()
        wl.setup()
        workload_setup_s = time.perf_counter() - t

        for i in range(wl.warm_ops):  # untimed; see README.md, "One run"
            wl.op(i)
        results = []
        deadline = time.perf_counter() + args.seconds
        while not results or time.perf_counter() < deadline:
            rec.op = wl.warm_ops + len(results)
            results.append(wl.op(rec.op))
        rec.op = -1
        timed_ops = list(range(wl.warm_ops, wl.warm_ops + len(results)))
        finish = wl.finish()
        stored_mb = wl.stored_mb()
        peak_rss_mb = session.peak_rss_mb()
        stamp = {
            "commit": git_commit(),
            "nproc": nproc(),
            "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "spark_driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "sizes": wl.sizes,
        }
    finally:
        try:
            wl.teardown()
        finally:
            session.close()

    failed = sum(not r.ok for r in results)
    final_ok = all(v for k, v in finish.items() if k.endswith("_ok"))
    if not final_ok:
        failed = max(failed, 1)
    attempted = len(results)
    named = {
        "setup_s": {"value": session_s + workload_setup_s, "unit": "s"},
        "stored_mb": {"value": stored_mb, "unit": "MB"},
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        "ops_failed_ratio": {"value": failed / attempted, "unit": "ratio"},
    }
    for metric, key, kind in wl.report_metrics:
        vals = [r.walls[key] for r in results if key in r.walls]
        if kind == "tail":
            t = tail(vals)
            named[metric] = {"value": t and t["value"], "unit": "s",
                             "percentile": t and t["percentile"], "samples": len(vals)}
        else:
            named[metric] = {"value": statistics.median(vals) if vals else None,
                             "unit": "s", "samples": len(vals)}
    report = {
        "workload": wl.name,
        "stamp": stamp,
        "end_to_end": named,
        "op_samples_s": [r.walls["op_s"] for r in results],
        "setup": {"session_s": session_s, "workload_s": workload_setup_s},
        "checks": {
            "failed_ops": [
                {"op": op, "errors": r.errors} for op, r in zip(timed_ops, results) if not r.ok
            ],
            **finish,
        },
    }
    correct = failed == 0 and final_ok
    if args.trace:
        jobs = tracing.read_jobs(session.event_log())
        timed_spans = [s for s in rec.spans if s.op >= 0]
        att = tracing.attribute(timed_spans, jobs)
        op_windows = [
            (min(s.t0 for s in rec.of_op(op)), max(s.t1 for s in rec.of_op(op)))
            for op in timed_ops
        ]
        stray = sum(
            1 for j in jobs
            if any(lo <= j.submit < hi for lo, hi in op_windows)
        ) - sum(s["jobs"] for s in att.spans)
        rec_check = reconcile(wl, rec, timed_ops, results)
        rec_check["jobs_outside_spans_during_ops"] = stray
        rec_check["ok"] = rec_check["ok"] and stray == 0
        report["spans"] = spans = tracing.span_medians(att.spans)
        report["reconciliation"] = rec_check
        correct = correct and rec_check["ok"]
        # a span of another workload never ran here: 0 jobs, 0 seconds
        metrics = {}
        for name, unit in layer_units.items():
            span, metric = name.rsplit(".", 1)
            metrics[name] = {"value": spans.get(span, {}).get(metric, 0.0), "unit": unit}
    else:
        metrics = {
            name: {"value": named[name]["value"], "unit": unit}
            for name, unit in e2e_units.items()
        }
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
    print(json.dumps({"report": report}, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    tmp_root = os.path.join(CHECKOUT, ".perfbench_tmp")
    tmp = os.path.join(tmp_root, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    try:
        return run(args, tmp)
    except Exception:  # noqa: BLE001 — report, clean up, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass  # another run's temp root is still there


if __name__ == "__main__":
    sys.exit(main())
