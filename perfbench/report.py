"""Summarize the side-car results of several runs.

    python3 perfbench/report.py [results_dir]

For each workload: every end-to-end metric's median over the untraced runs
and its spread (distance between the first and third quartile, as a share
of the median, as ``statistics.quantiles(values, n=4)`` gives them); the
tracing overhead (traced median minus untraced median, as a share of the
untraced median); and the per-layer medians of the traced runs.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def main() -> None:
    rdir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(HERE, ".work", "results")
    runs: dict[tuple[str, int], list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(rdir, "*.json"))):
        with open(path) as f:
            r = json.load(f)
        runs.setdefault((r["workload"], r["trace"]), []).append(r)
    for wl in sorted({w for w, _ in runs}):
        plain, traced = runs.get((wl, 0), []), runs.get((wl, 1), [])
        print(f"== {wl}: {len(plain)} untraced, {len(traced)} traced runs")
        failed = sum(r["failed"] for r in plain + traced)
        attempted = sum(r["attempted"] for r in plain + traced)
        print(f"   failed/attempted: {failed}/{attempted}")
        for k in (plain or traced)[0]["end_to_end"]:
            vals = [r["end_to_end"][k] for r in plain]
            tvals = [r["end_to_end"][k] for r in traced]
            line = f"   {k:22s}"
            if vals:
                med = statistics.median(vals)
                line += f" median {med:12.4f}  spread {spread(vals):6.3f}"
                if tvals:
                    line += f"  trace overhead {(statistics.median(tvals) - med) / med:+.3f}"
            print(line)
        if traced:
            print("   per-layer medians (traced runs):")
            for k in traced[0]["per_layer"]:
                vals = [r["per_layer"][k] for r in traced]
                print(f"     {k:36s} {statistics.median(vals):14.4f}")


if __name__ == "__main__":
    main()
