"""Tracing overhead per workload: run each workload untraced and traced
on the same seed and print every end-to-end metric, traced minus
untraced.

    python3 perfbench/overhead.py [--seed N] [--seconds S] [workload ...]
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import compare  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1)
    p.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    args = p.parse_args(argv)
    with tempfile.TemporaryDirectory(dir=os.path.dirname(HERE), prefix=".perfbench_overhead_") as tmp:
        for wl in args.workloads:
            reports = []
            for trace in (0, 1):
                out = os.path.join(tmp, f"{wl}-{trace}.json")
                subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                     "--seed", str(args.seed), "--seconds", str(args.seconds),
                     "--trace", str(trace), "--out", out],
                    check=True, stdout=subprocess.DEVNULL,
                )
                reports.append(compare.load_report(out))
            print(f"{wl}: traced - untraced")
            for name, unit, base, traced, d in compare.diff(*reports):
                print(f"  {name:24s} {base:12.4f} {traced:12.4f} {d:+12.4f} {unit}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
