"""query_surface: graded queries at sf0.1 through the noop sink.

Set-up generates the sf0.1 tables (once per checkout), then runs one
warm-up pass over the sample: the cold executions (JVM codegen,
session caches, eager build-time jobs), whose rows are kept for the
oracle check. The timed phase runs the sample in whole passes, each in
a seeded order, measuring each query from the ``QUERIES[name]`` call to
the end of its noop write in engine CPU (``Run.cpu_s``) and wall time.
A query's CPU figure is the median of its timed executions; its wall
figure (per-layer only) is the fastest, as in ``bench.py``, since on a
shared host the noise (CPU steal, JIT compilation still settling) only
ever adds time. After the timed phase every kept result is compared
with its DuckDB oracle, using the canonicalization of
``tools/selfcheck.py``.
"""

from __future__ import annotations

import os
import random
import statistics
import time
import traceback

from common import force, group_counts, task_metrics_by_group

# Two of the eleven anchors of the ROADMAP re-anchor profile. The
# sample is fixed so its cost does not depend on the seed; properties.json
# says why these two.
SAMPLE = [
    "a25_out_of_order_depth",
    "sql11_scripting_quantile_bisect",
]


# The sf0.1 tables are the same for every run (like the graded fixtures,
# which are generated once with seed 42): query cost depends on the data,
# so a per-seed dataset would make the runs' figures differ by seed. The
# run seed orders each pass. The tables are cached under out/, keyed by
# the generator's source.
DATA_SEED = 42
MIN_PASSES = 3


def fixture_dir() -> str:
    import hashlib

    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py"), "rb") as fh:
        key = hashlib.sha256(fh.read()).hexdigest()[:12]
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), "out", f"sf0.1-{key}")


def _module(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def _phases_s(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s own
    QueryExecution (forces planning first)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1000.0


def run(r) -> dict:
    import gen

    tr = r.tracer
    extra = {"spark.sql.pyspark.udf.profiler": "perf"} if r.traced else {}
    spark = r.start_spark(extra)
    sc = spark.sparkContext
    from meepo_spark import registry

    with tr.span("registry.load_all", trace="setup"):
        registry.load_all()
    queries = registry.QUERIES

    t_gen, cpu_gen = time.perf_counter(), r.cpu_s()
    sf_dir = fixture_dir()
    if not os.path.exists(os.path.join(sf_dir, "_READY")):
        gen.write_tables(gen.tpch_tables(DATA_SEED, 0.1), sf_dir)
    gen_s, gen_cpu_s = time.perf_counter() - t_gen, r.cpu_s() - cpu_gen

    failed: set[str] = set()
    rows: dict[str, tuple[list[str], list[tuple]]] = {}
    cold: dict[str, int] = {}
    with tr.span("setup.warm_pass", trace="setup"):
        for name in SAMPLE:
            group = f"cold:{name}"
            sc.setJobGroup(group, group)
            try:
                with tr.span("queries.build", trace=group):
                    df = queries[name](spark, sf_dir)
                cold[name] = group_counts(sc, group)["jobs"] if r.traced else 0
                with tr.span("queries.collect", trace=group):
                    rows[name] = (df.columns, [tuple(x) for x in df.collect()])
            except Exception:
                traceback.print_exc()
                failed.add(name)
    sc.setJobGroup("bench", "bench")
    r.settle()
    setup_wall_s = time.perf_counter() - r.t_start - gen_s
    setup_cpu_s = r.cpu_s() - gen_cpu_s

    # whole passes, each in its own seeded order, until --seconds have
    # elapsed and every query has had MIN_PASSES timed executions
    rng = random.Random(r.seed)
    secs: dict[str, list[float]] = {n: [] for n in SAMPLE}
    cpu: dict[str, list[float]] = {n: [] for n in SAMPLE}
    layer: dict[str, dict] = {}
    t_timed = time.perf_counter()
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() - t_timed < r.seconds:
        passes += 1
        order = list(SAMPLE)
        rng.shuffle(order)
        for name in order:
            if name in failed:
                continue
            group = f"p{passes}:{name}"
            sc.setJobGroup(group, group)
            t0, c0 = time.perf_counter(), r.cpu_s()
            try:
                with tr.span("queries.query", trace=group) as sp:
                    with tr.span("queries.build"):
                        df = queries[name](spark, sf_dir)
                    if r.traced:
                        jobs_in_build = group_counts(sc, group)["jobs"]
                        with tr.span("queries.plan"):
                            plan_s = _phases_s(df)
                    with tr.span("queries.exec"):
                        force(df)
                secs[name].append(time.perf_counter() - t0)
                cpu[name].append(r.cpu_s() - c0)
                if r.traced:
                    layer[group] = {"plan_s": plan_s, "jobs_in_build": jobs_in_build,
                                    **group_counts(sc, group)}
                    sp.attrs.update(layer[group])
            except Exception:
                traceback.print_exc()
                failed.add(name)
    sc.setJobGroup("bench", "bench")

    mismatched = _oracle_check(sf_dir, rows, failed)
    failed |= mismatched
    # one figure per query: the median of its timed executions' CPU
    query_cpu_s = [statistics.median(v) for v in cpu.values() if v]
    best_s = [min(v) for v in secs.values() if v]
    res = {
        "attempted": len(SAMPLE) * passes,
        "failed": len(failed) * passes,
        "failed_ops": sorted(failed),
        "samples": sum(len(v) for v in cpu.values()),
        "e2e": {
            "setup_s": setup_cpu_s,
            "op_cpu_ms": statistics.median(query_cpu_s) * 1000.0 if query_cpu_s else 0.0,
        },
        "extra": {"sf": 0.1, "passes": passes, "gen_s": gen_s, "setup_wall_s": setup_wall_s,
                  "surface_s": sum(best_s),
                  "query_s": {n: [round(x, 4) for x in v] for n, v in secs.items()},
                  "query_cpu_s": {n: [round(x, 4) for x in v] for n, v in cpu.items()}},
    }
    if r.traced:
        res["extra"]["cold_jobs_in_build"] = cold
        res["layer"] = {"queries.python_udf_s": _udf_seconds(r, spark)}
        res["event_layer"] = lambda events: _layers(r, queries, secs, layer, cold, passes,
                                                    events)
    return res


def _oracle_check(sf_dir: str, rows: dict, failed: set[str]) -> set[str]:
    """Names whose kept Spark rows differ from the DuckDB oracle."""
    import duckdb

    import __spark_entry__ as entrymod
    from meepo_spark.catalog import TABLES
    from tools.selfcheck import _canon_rows

    oracles = entrymod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    bad: set[str] = set()
    for name, (cols, srows) in rows.items():
        if name in failed or name not in oracles:
            continue
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        if _canon_rows(cols, srows) != _canon_rows(dcols, res.fetchall()):
            print(f"query_surface: {name} differs from its oracle")
            bad.add(name)
    con.close()
    return bad


def _udf_seconds(r, spark) -> float:
    """Python UDF time from the perf profiler (cProfile per UDF)."""
    import glob
    import pstats

    out = r.path("udf-profile")
    os.makedirs(out, exist_ok=True)
    spark.profile.dump(out, type="perf")
    return sum(pstats.Stats(p).total_tt for p in glob.glob(os.path.join(out, "*")))


def _layers(r, queries, secs, layer, cold, passes, events) -> dict[str, float]:
    """Timed-pass layer figures per pass (cold jobs: the warm pass; p50
    and tail: the median and the slowest of each query's fastest wall
    time)."""
    spans = r.tracer.spans
    tm = task_metrics_by_group(events)
    m: dict[str, float] = {
        "queries.build_s": sum(
            s.end - s.start for s in spans
            if s.name == "queries.build" and not s.trace.startswith("cold:")
        ),
        "queries.p50_ms": statistics.median(min(xs) for xs in secs.values() if xs) * 1000.0,
        "queries.tail_ms": max(min(xs) for xs in secs.values() if xs) * 1000.0,
        "queries.jobs_in_build": sum(v["jobs_in_build"] for v in layer.values()),
        "queries.cold_jobs_in_build": sum(cold.values()),
        "queries.plan_s": sum(v["plan_s"] for v in layer.values()),
        "queries.exec_s": sum(r.tracer.durations("queries.exec")),
        "queries.jobs": sum(v["jobs"] for v in layer.values()),
        "queries.stages": sum(v["stages"] for v in layer.values()),
        "queries.tasks": sum(v["tasks"] for v in layer.values()),
    }
    for k in ("exec_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s"):
        m[f"queries.{k}"] = sum(tm.get(g, {}).get(k, 0.0) for g in layer)
    for n, xs in secs.items():
        key = f"queries.{_module(queries[n])}.s"
        m[key] = m.get(key, 0.0) + sum(xs)
    per_run = ("queries.cold_jobs_in_build", "queries.p50_ms", "queries.tail_ms")
    return {k: v if k in per_run else v / passes for k, v in m.items()}
