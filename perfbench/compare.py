"""Compare two perfbench reports metric by metric.

    python3 perfbench/compare.py BASE NEW

Each argument is a report written by ``run.py --out`` or the captured
stdout of a run. Reports taken at different core counts (``nproc`` or
``SPARK_GRAFT_CPUS``), or on different workloads, are refused: their
numbers are not comparable. Comparing an untraced report (BASE) with a
traced one (NEW) of the same workload and seed gives the tracing
overhead.
"""

from __future__ import annotations

import json
import sys


class NotComparable(ValueError):
    pass


def load_report(path: str) -> dict:
    with open(path) as f:
        text = f.read()
    try:
        doc = json.loads(text)
    except json.JSONDecodeError:
        doc = None
        for line in text.splitlines():
            if line.startswith('{"report"'):
                doc = json.loads(line)
    if not isinstance(doc, dict):
        raise NotComparable(f"{path}: no perfbench report found")
    doc = doc.get("report", doc)
    if "stamp" not in doc or "end_to_end" not in doc:
        raise NotComparable(f"{path}: not a perfbench report")
    return doc


def check_comparable(base: dict, new: dict) -> None:
    for key in ("nproc", "spark_graft_cpus"):
        if base["stamp"][key] != new["stamp"][key]:
            raise NotComparable(
                f"{key} differs ({base['stamp'][key]} vs {new['stamp'][key]}): "
                f"results taken at different core counts are not comparable"
            )
    if base["workload"] != new["workload"]:
        raise NotComparable(f"workloads differ: {base['workload']} vs {new['workload']}")


def diff(base: dict, new: dict) -> list[tuple[str, str, float, float, float]]:
    """(metric, unit, base, new, new - base) for every end-to-end metric
    both reports measured."""
    check_comparable(base, new)
    rows = []
    for name, b in sorted(base["end_to_end"].items()):
        n = new["end_to_end"].get(name)
        if n is None or b["value"] is None or n["value"] is None:
            continue
        rows.append((name, b["unit"], b["value"], n["value"], n["value"] - b["value"]))
    return rows


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    try:
        base, new = (load_report(p) for p in argv)
        rows = diff(base, new)
    except NotComparable as exc:
        print(f"compare: refused: {exc}", file=sys.stderr)
        return 2
    print(f"workload {base['workload']}: trace {base['stamp']['trace']} -> {new['stamp']['trace']}, "
          f"seed {base['stamp']['seed']} -> {new['stamp']['seed']}, cpus {base['stamp']['nproc']}")
    for name, unit, b, n, d in rows:
        pct = f"{100.0 * d / b:+.1f}%" if b else "n/a"
        print(f"  {name:24s} {b:12.4f} {n:12.4f} {d:+12.4f} {unit:6s} {pct}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
