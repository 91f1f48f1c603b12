"""Steadiness of repeated benchmark runs against the bounds in BENCHMARK.json.

    python3 perfbench/spread.py RESULT_FILE... [--vs RESULT_FILE...]

Each file is the standard output of one ``run.py`` run (different seeds
of the same workloads).  For every workload and end-to-end metric it
prints the median, the spread (first-to-third-quartile distance over
the median) and the metric's bound from ``BENCHMARK.json``; a spread at
or above a third of the bound is flagged.  With ``--vs`` the files after
it are a second set of runs of the same code: it also prints how much
worse the second set's median is than the first's, as a share of the
first, and flags a shift beyond the bound."""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from perfbench.stats import relative_spread, worse_shift  # noqa: E402

Values = dict[str, dict[str, list[float]]]  # workload -> metric -> values


def load(paths: list[str]) -> tuple[Values, int]:
    """Metric values per workload from run outputs, and how many runs
    gave no result or an incorrect one."""
    values: Values = defaultdict(lambda: defaultdict(list))
    failed = 0
    for path in paths:
        with open(path) as f:
            lines = f.read().strip().splitlines()
        if len(lines) < 2:
            print(f"{path}: no result", file=sys.stderr)
            failed += 1
            continue
        workload = json.loads(lines[-2])["detail"]["workload"]
        result = json.loads(lines[-1])
        if not result["correct"]:
            print(f"{path}: incorrect ({result['failed']} of {result['attempted']} failed)")
            failed += 1
        for name, m in result["metrics"].items():
            values[workload][name].append(m["value"])
    return values, failed


def main(argv: list[str]) -> int:
    root = sys.path[0]
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        e2e = {m["name"]: m for m in json.load(f)["end_to_end"]}
    bounds = {name: m["bound"] for name, m in e2e.items()}
    cut = argv.index("--vs") if "--vs" in argv else len(argv)
    values, failed = load(argv[:cut])
    second, failed2 = load(argv[cut + 1 :])
    failed += failed2
    flagged = 0
    for workload, metrics in sorted(values.items()):
        for name, vals in metrics.items():
            if len(vals) < 2 or name not in bounds:
                continue
            spread = relative_spread(vals)
            mid = statistics.median(vals)
            flag = "" if spread < bounds[name] / 3 else "  <-- not below bound/3"
            flagged += bool(flag) and name != "setup_s"
            print(
                f"{workload:20s} {name:22s} n={len(vals):2d} median~{mid:<12.6g} "
                f"spread={spread:.4f} bound={bounds[name]}{flag}"
            )
            other = second.get(workload, {}).get(name)
            if other:
                shift = worse_shift(vals, other, e2e[name]["better"])
                beyond = shift > bounds[name]
                flagged += beyond
                print(
                    f"{'':20s} {'':22s} n={len(other):2d} median~{statistics.median(other):<12.6g} "
                    f"worse_by={shift:+.4f}{'  <-- beyond bound' if beyond else ''}"
                )
    return 1 if failed or flagged else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
