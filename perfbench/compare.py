#!/usr/bin/env python3
"""Summarize benchmark reports, and compare two sets of them.

    python3 perfbench/compare.py BASE_REPORTS... [--new NEW_REPORTS...]

Reports are the JSON files ``run.py`` writes to ``perfbench/.reports``.
For each workload and end-to-end metric this prints the run count, the
median, and the spread (Q3 - Q1) / median next to the metric's bound
from ``BENCHMARK.json``. With ``--new`` it also prints the change of
the median as a share of the base median. When a set holds traced
runs too, the tracing overhead is printed: the traced runs' ``trace.*``
medians minus the untraced medians. Reports taken at different core
counts or JVM heap settings are never compared: the script refuses and
exits with 2.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from spans import quartile_spread  # noqa: E402


def load(paths: list[str]) -> list[dict]:
    return [json.loads(Path(p).read_text()) for p in paths]


def by_workload(reports: list[dict], trace: int) -> dict[str, dict[str, list[float]]]:
    out: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    for r in reports:
        if r["trace"] == trace:
            for k, v in r["metrics"].items():
                out[r["workload"]][k].append(v)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("base", nargs="+")
    p.add_argument("--new", nargs="+", default=[])
    args = p.parse_args(argv)
    base, new = load(args.base), load(args.new)
    cores = {r["cores"] for r in base + new}
    if len(cores) > 1:
        print(f"refused: reports were taken at different core counts {sorted(cores)}",
              file=sys.stderr)
        return 2
    heaps = {r.get("heap") for r in base + new}
    if len(heaps) > 1:
        print(f"refused: reports were taken with different JVM heaps {sorted(map(str, heaps))}",
              file=sys.stderr)
        return 2
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    b0, n0 = by_workload(base, 0), by_workload(new, 0)
    b1 = by_workload(base, 1)
    print(f"cores={cores.pop() if cores else '?'} heap={heaps.pop() if heaps else '?'}")
    for wl in sorted(set(b0) | set(n0)):
        for name, bound in bounds.items():
            xs = b0.get(wl, {}).get(name, [])
            line = f"{wl:8s} {name:12s} n={len(xs):2d}"
            if xs:
                med = statistics.median(xs)
                line += f" median={med:.6g} spread={quartile_spread(xs):.3f} bound={bound}"
                ys = n0.get(wl, {}).get(name, [])
                if ys:
                    change = (statistics.median(ys) - med) / med
                    line += f" new_median={statistics.median(ys):.6g} change={change:+.3f}"
                tr = b1.get(wl, {}).get(f"trace.{name}", [])
                if tr:
                    line += f" trace_overhead={statistics.median(tr) - med:+.6g}"
            print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
