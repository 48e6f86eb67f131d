#!/usr/bin/env python3
"""The repository benchmark: one workload per run, outputs checked.

    python3 perfbench/run.py --workload cdc_follow|query_surface
        --seed N --seconds S --trace 0|1

Run from the repository root. Inputs are generated from ``--seed`` into
a run directory under ``perfbench/out/``, removed at the end (the
query tables are kept there for the next run). The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of BENCHMARK.json untraced, the
per-layer metrics traced). The line before it carries the run context
and details; each run also appends both to ``perfbench/out/results.jsonl``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_follow", "query_surface")


def load_json(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def e2e_metrics(spec: dict, res: dict) -> dict:
    values = {"ok_share": 1.0 - res["failed"] / res["attempted"], **res["e2e"]}
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}


def layer_metrics(spec: dict, layer: dict) -> dict:
    """Every per-layer metric of BENCHMARK.json; a layer this workload
    does not call reports 0."""
    return {
        m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec["per_layer"]
    }


def last_untraced(path: str, workload: str, seed: int) -> dict | None:
    """End-to-end metrics of the latest untraced run of this workload and
    seed recorded in ``results.jsonl``, if any."""
    found = None
    if os.path.exists(path):
        with open(path) as fh:
            for line in fh:
                row = json.loads(line)
                ctx = row["detail"]["context"]
                if ctx["workload"] == workload and ctx["seed"] == seed and not ctx["traced"]:
                    found = row["result"]["metrics"]
    return found


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "meepo_spark", "__init__.py")):
        print("perfbench: run from a checkout of the repository (meepo_spark/ not found)",
              file=sys.stderr)
        return 2
    spec = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    props = load_json(os.path.join(HERE, "properties.json"))["workloads"][args.workload]
    pct = props["tail_percentile"]
    sys.path[:0] = [HERE, ROOT]
    os.chdir(ROOT)

    import importlib

    from common import Run
    from tracing import Tracer

    tracer = Tracer(bool(args.trace))
    r = Run(args.workload, args.seed, args.seconds, pct, tracer, T_START)
    # every temporary file of the engine, Spark and Python workers stays
    # inside the run directory
    os.environ["TMPDIR"] = r.path("tmp")
    tempfile.tempdir = None
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = r.path("spark-local")
    workload = importlib.import_module(args.workload)
    try:
        res = workload.run(r)
        rss_mb = r.peak_rss_mb()
        ctx = r.context()
    except Exception:
        traceback.print_exc()
        r.stop()
        return 1
    events = r.stop()

    results_path = os.path.join(HERE, "out", "results.jsonl")
    if args.trace:
        layer = {"memory.peak_rss_mb": rss_mb, **res.get("layer", {})}
        if res.get("event_layer"):
            layer.update(res["event_layer"](events))
        durations: dict[str, float] = {}
        for sp in tracer.spans:
            durations[sp.name] = durations.get(sp.name, 0.0) + sp.end - sp.start
        for name, secs in durations.items():
            layer.setdefault(f"{name}_s", secs)
        for name, secs in tracer.self_time_by_name().items():
            layer.setdefault(f"{name}.self_s", secs)
        metrics = layer_metrics(spec, layer)
        tracer.dump(os.path.join(HERE, "out", f"spans-{args.workload}-{args.seed}.json"))
        traced = {k: v["value"] for k, v in e2e_metrics(spec, res).items()}
        res["extra"]["traced_end_to_end"] = traced
        untraced = last_untraced(results_path, args.workload, args.seed)
        if untraced:
            res["extra"]["tracing_overhead"] = {
                k: traced[k] - untraced[k]["value"] for k in traced if k in untraced}
    else:
        metrics = e2e_metrics(spec, res)
    failed = res["failed"]
    out = {
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": metrics,
    }
    detail = {
        "context": ctx,
        "samples": res["samples"],
        "peak_rss_mb": rss_mb,
        "wall_s": time.perf_counter() - T_START,
        "tail_percentile": pct,
        "failed_ops": res.get("failed_ops", []),
        **res.get("extra", {}),
    }
    with open(results_path, "a") as fh:
        fh.write(json.dumps({"detail": detail, "result": out}) + "\n")
    print(json.dumps({"detail": detail}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
