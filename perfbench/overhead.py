"""Tracing overhead per workload, from the run records in .perfbench_out/.

For each workload and each end-to-end metric: the median over traced runs
minus the median over untraced runs (a traced run also measures the
end-to-end metrics, it just does not print them as its result).

    python3 perfbench/overhead.py
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [m["name"] for m in json.load(f)["end_to_end"]]
    runs: dict[tuple[str, int], list[dict]] = {}
    for path in glob.glob(os.path.join(ROOT, ".perfbench_out", "*.json")):
        with open(path) as f:
            rec = json.load(f)
        if not all(m in rec["e2e"] for m in names):
            continue                # a record of another benchmark version
        key = (rec["env"]["workload"], int(rec["env"]["trace"]))
        runs.setdefault(key, []).append(rec["e2e"])
    workloads = sorted({w for w, _ in runs})
    if not workloads:
        sys.stderr.write("no run records under .perfbench_out/\n")
        return 1
    out = {}
    for w in workloads:
        off, on = runs.get((w, 0), []), runs.get((w, 1), [])
        if not off or not on:
            continue
        out[w] = {"runs": {"untraced": len(off), "traced": len(on)}}
        for m in names:
            a = statistics.median(r[m] for r in off)
            b = statistics.median(r[m] for r in on)
            out[w][m] = {"untraced": a, "traced": b, "overhead": b - a,
                         "overhead_share": (b - a) / a if a else None}
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
