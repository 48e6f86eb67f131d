#!/usr/bin/env python3
"""Summarise recorded runs: per workload and metric, the median, the
quartiles and the spread (Q3 - Q1) / median that the benchmark's bounds
are judged against.

    python3 perfbench/spread.py [results.jsonl] [--traced]

Reads ``perfbench/out/results.jsonl`` by default (every run of
``run.py`` appends to it) and groups runs by workload and by the digests
of the engine and the benchmark code they ran, so runs of different code
never mix.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import iqr_share  # noqa: E402


def summarise(rows: list[dict], traced: bool) -> dict:
    groups: dict[tuple, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    for row in rows:
        ctx = row["detail"]["context"]
        if ctx["traced"] != traced:
            continue
        key = (ctx["workload"], ctx["src_digest"], ctx.get("bench_digest"))
        for name, m in row["result"]["metrics"].items():
            groups[key][name].append(m["value"])
    out = {}
    for (workload, src, bench), metrics in sorted(groups.items(), key=str):
        summary = {}
        for name, vs in metrics.items():
            entry = {"n": len(vs), "median": statistics.median(vs)}
            if len(vs) >= 2 and entry["median"]:
                q1, _, q3 = statistics.quantiles(vs, n=4)
                entry.update(q1=q1, q3=q3, spread=iqr_share(vs))
            summary[name] = entry
        out[f"{workload} engine={src} bench={bench}"] = summary
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    here = os.path.dirname(os.path.abspath(__file__))
    ap.add_argument("path", nargs="?", default=os.path.join(here, "out", "results.jsonl"))
    ap.add_argument("--traced", action="store_true", help="summarise traced runs instead")
    args = ap.parse_args(argv)
    with open(args.path) as fh:
        rows = [json.loads(line) for line in fh if line.strip()]
    print(json.dumps(summarise(rows, args.traced), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
