"""cdc_follow: a subscriber restarts behind a backlog, catches up and
follows live traffic; then fresh subscribers catch up on the backlog
alone; in the traced run a client reads the event store.

A consumer set is the topology on a source directory
(``read_change_stream``): three topic subscribers registered with
``Fanout.on``/``Fanout.start`` whose handlers publish the
``broadcast_payload`` wire format, plus one ``foreachBatch`` query
appending each micro-batch to a ``TransactionalEventStore`` with the
batch id as the epoch. Each set has its own checkpoints and store.

Set-up starts Spark and lands the seeded backlog of change-event
parquet files in the source directory (the generator's own work is not
counted). The following consumer set then starts behind the backlog,
which is the cold start of the consumer code in the JVM, and
``LIVE_WARM_FILES`` live files land one after another; this warm-up
still counts as set-up. The timed live phase lands one file per
cadence tick for ``--seconds`` and at least ``MIN_LIVE_FILES``; each
file lands once the previous one has reached every consumer, so at
most one file is in flight and a slow batch delays the next landing
instead of queueing behind it. Each timed file is measured in engine
CPU (``Run.cpu_s``) and in delivery latency, from its landing to the
return of the handler batch that delivered it. Then ``CATCHUPS`` fresh
consumer sets, one after the other, restart behind a copy of the
backlog alone and drain it, each measured in engine CPU and wall time.

Every set is checked for exactly-once delivery. The traced run adds
the store client of ``store_client.py`` (its script of reads beside
writes against the following set's store, for ``--seconds`` of
operation time, every read checked against a reference that models
compaction) and a final compaction, which must equal the generator's
latest image per primary key.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time

import numpy as np
import pyarrow.parquet as pq

import gen
import store_client
from stats import percentile

TABLES = ("users", "orders", "items")
TABLE_P = (0.5, 0.3, 0.2)
N_KEYS = 50_000
ZIPF_S = 1.1
ACTION_P = (0.15, 0.75, 0.10)
LATE_SHARE = 0.03
LATE_MAX_DAYS = 5
SPAN_DAYS = 20  # event time covered by the backlog
BACKLOG_EVENTS = 20_000
CATCHUPS = 3
RATE_EPS = 4_000
FILE_EVERY_S = 0.5
LIVE_WARM_FILES = 12
MIN_LIVE_FILES = 20
EVENTS_PER_FILE = int(RATE_EPS * FILE_EVERY_S)
TOPICS = ("users_update", "orders_update", "items_write")
STORE = "store"
DEADLINE_S = 60.0
CLIENT_EPOCH0 = 1_000_000  # store client epochs, clear of streaming batch ids
T0 = dt.datetime(2024, 1, 1)
PHASES = ("triggerExecution", "addBatch", "latestOffset", "getBatch", "queryPlanning",
          "walCommit", "commitOffsets")


def make_gen(seed: int):
    return gen.ChangeGen(seed, TABLES, TABLE_P, N_KEYS, ZIPF_S, ACTION_P, LATE_SHARE,
                         LATE_MAX_DAYS * gen.US_PER_DAY,
                         SPAN_DAYS * gen.US_PER_DAY // BACKLOG_EVENTS, T0)


class Consumers:
    """The consumer topology on one source directory, with per-batch
    return times recorded by every handler."""

    def __init__(self, r, src: str, name: str):
        from meepo_spark.cdc.event_store import TransactionalEventStore
        from meepo_spark.cdc.events import read_change_stream
        from meepo_spark.cdc.fanout import Fanout, payload_expr

        self.tr = r.tracer
        self.returns: dict[str, dict[int, float]] = {c: {} for c in (*TOPICS, STORE)}
        self.delivered: dict[str, list] = {t: [] for t in TOPICS}
        self.store = TransactionalEventStore(r.spark, r.path(name, "store"))
        self.ck = r.path(name, "checkpoints")
        changes = read_change_stream(r.spark, src)
        self.fanout = Fanout(changes, self.ck)
        for topic in TOPICS:
            self.fanout.on(topic)(self._handler(topic, payload_expr))
        self.changes = changes
        self.queries: dict[str, object] = {}

    def _handler(self, topic: str, payload_expr):
        def handle(batch, batch_id: int) -> None:
            with self.tr.span("cdc.fanout.handler", trace=f"{topic}:{batch_id}"):
                # the broadcast_payload wire format, with the offset kept
                # for exactly-once accounting
                out = batch.select("offset", payload_expr().alias("value")).toArrow()
            self.returns[topic][batch_id] = time.perf_counter()
            self.delivered[topic].append(out)

        return handle

    def _append(self, batch, batch_id: int) -> None:
        with self.tr.span("cdc.event_store.append_epoch", trace=f"{STORE}:{batch_id}"):
            self.store.append_epoch(batch, batch_id)
        self.returns[STORE][batch_id] = time.perf_counter()

    def start(self, available_now: bool) -> None:
        qs = self.fanout.start(trigger_available_now=available_now)
        self.queries = dict(zip(TOPICS, qs))
        w = self.changes.writeStream.foreachBatch(self._append).option(
            "checkpointLocation", f"{self.ck}/{STORE}")
        if available_now:
            w = w.trigger(availableNow=True)
        self.queries[STORE] = w.start()

    def drain(self) -> str | None:
        """Block until every consumer has processed and committed all the
        files in the source (``processAllAvailable``). Returns why it
        could not: a query failed, or ``DEADLINE_S`` passed and the
        queries were stopped."""
        timer = threading.Timer(DEADLINE_S, self.stop)
        timer.start()
        try:
            for q in self.queries.values():
                q.processAllAvailable()
        except Exception as exc:  # the query died; the run fails, it does not crash
            return repr(exc)
        finally:
            timer.cancel()
        if not all(q.isActive for q in self.queries.values()):
            return "deadline"
        return None

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()


def run(r) -> dict:
    from meepo_spark import registry

    tr = r.tracer
    # A stream with no new data lists its source again after
    # pollingDelay. At the default 10 ms the consumers that had finished
    # a file burnt most of a core between them while they waited for the
    # slowest one, so the CPU per file grew with the host's contention.
    spark = r.start_spark({"spark.sql.streaming.numRecentProgressUpdates": "100000",
                           "spark.sql.streaming.pollingDelay": "100ms"})
    with tr.span("registry.load_all", trace="setup"):
        registry.load_all()
    g = make_gen(r.seed)
    n_back = BACKLOG_EVENTS // EVENTS_PER_FILE
    n_stage = LIVE_WARM_FILES + max(MIN_LIVE_FILES, int(r.seconds / FILE_EVERY_S))

    t, cpu_gen = time.perf_counter(), r.cpu_s()
    src, stage, back = r.path("source"), r.path("staging"), r.path("backlog")
    for d in (src, stage, back):
        os.makedirs(d)

    def fname(f: int) -> str:
        return f"part-{f:06d}.parquet"

    for f in range(n_back + n_stage):
        tab = g.arrow(g.columns(f * EVENTS_PER_FILE, EVENTS_PER_FILE))
        pq.write_table(tab, os.path.join(src if f < n_back else stage, fname(f)))
    for f in range(n_back):  # the backlog alone, for the timed catch-ups
        os.link(os.path.join(src, fname(f)), os.path.join(back, fname(f)))
    gen_s, gen_cpu_s = time.perf_counter() - t, r.cpu_s() - cpu_gen

    # run_failures invalidate the whole run; op_failures count one each
    run_failures: list[str] = []
    op_failures: list[str] = []
    consumers = (*TOPICS, STORE)
    # when each phase ended, from process start (a diagnostic of the run)
    phases: dict[str, float] = {}

    # set-up, continued: the following consumer set starts behind the
    # backlog (the cold start of the consumer code in the JVM) and
    # LIVE_WARM_FILES live files land one after another
    with tr.span("setup.warm_streams", trace="setup"):
        c = Consumers(r, src, "follow")
        v0 = c.store.commits.version()
        c.start(available_now=False)
        why = c.drain()
        if why:
            run_failures.append(f"catch-up: {why}")
        for k in range(LIVE_WARM_FILES if not run_failures else 0):
            os.rename(os.path.join(stage, fname(n_back + k)), os.path.join(src, fname(n_back + k)))
            why = c.drain()
            if why:
                run_failures.append(f"live file {k}: {why}")
                break
    r.settle()
    setup_wall_s = time.perf_counter() - r.t_start - gen_s
    setup_cpu_s = r.cpu_s() - gen_cpu_s
    phases["setup"] = time.perf_counter() - r.t_start

    # live: one file per cadence tick for --seconds and at least
    # MIN_LIVE_FILES, each landing once the previous one has reached
    # every consumer, so at most one file is in flight
    n_timed = n_stage - LIVE_WARM_FILES
    due = np.full(n_timed, np.nan)
    landed = np.full(n_timed, np.nan)
    file_cpu = np.full(n_timed, np.nan)
    t_live = time.perf_counter()
    n_live = 0
    for k in range(n_timed if not run_failures else 0):
        if k >= MIN_LIVE_FILES and time.perf_counter() - t_live >= r.seconds:
            break
        due[k] = t_live + k * FILE_EVERY_S
        pause = due[k] - time.perf_counter()
        if pause > 0:
            time.sleep(pause)
        f = n_back + LIVE_WARM_FILES + k
        c0 = r.cpu_s()
        os.rename(os.path.join(stage, fname(f)), os.path.join(src, fname(f)))
        landed[k] = time.perf_counter()
        n_live = k + 1
        why = c.drain()
        file_cpu[k] = r.cpu_s() - c0
        if why:
            run_failures.append(f"live file {LIVE_WARM_FILES + k}: {why}")
            break
    due, landed, file_cpu = due[:n_live], landed[:n_live], file_cpu[:n_live]
    late_ms_max = float((landed - due).max() * 1000.0) if n_live else 0.0
    t_live_end = time.perf_counter()
    progress = {name: list(q.recentProgress) for name, q in c.queries.items()}
    run_failures += [f"{n}: {q.exception()}" for n, q in c.queries.items() if q.exception()]
    c.stop()
    stream_commits = c.store.commits.version() - v0
    phases["follow"] = time.perf_counter() - r.t_start

    # exactly-once per (file, consumer) and published payloads
    n_files = n_back + LIVE_WARM_FILES + n_live
    total = n_files * EVENTS_PER_FILE
    cols = g.columns(0, total)
    file_batch = _file_done(c, progress, n_files)
    op_failures += _check(c, cols, total, "follow")
    phases["checks"] = time.perf_counter() - r.t_start

    # catch-up: fresh consumer sets, each with its own checkpoints and
    # store, restart behind the backlog one after the other
    back_cols = g.columns(0, BACKLOG_EVENTS)
    catchups: list[float] = []
    catchup_cpu: list[float] = []
    for i in range(CATCHUPS if not run_failures else 0):
        cu = Consumers(r, back, f"catch-up{i}")
        t_start, c0 = time.perf_counter(), r.cpu_s()
        cu.start(available_now=False)
        why = cu.drain()
        catchup_cpu.append(r.cpu_s() - c0)
        cu_progress = {name: list(q.recentProgress) for name, q in cu.queries.items()}
        run_failures += [f"catch-up {i}: {why}"] if why else []
        cu.stop()
        if why:
            break
        catchups.append(_catchup_s(cu, cu_progress, n_back, t_start))
        op_failures += _check(cu, back_cols, BACKLOG_EVENTS, f"catch-up {i}")
    phases["catch-ups"] = time.perf_counter() - r.t_start
    catchup_s = min(catchups) if catchups else 0.0

    # traced run: the store client on the store the stream built, then
    # the final compaction
    ref = store_client.Reference(g.t0_us)
    ref.append(cols)
    client = store_client.Client(r, c.store, g, ref, total, CLIENT_EPOCH0)
    if r.traced:
        try:
            with tr.span("client.warm", trace="client"):
                client.warm()
            r.settle()
            client.run(r.seconds, r.seed)
            if _snapshot(c.store.compact_txn()) != gen.latest_image(ref.cols):
                op_failures.append("final compaction differs from the latest image per key")
        except Exception as exc:  # a broken store fails the run, it does not crash it
            run_failures.append(f"store: {exc!r}")
        phases["store"] = time.perf_counter() - r.t_start
    op_failures += client.failed_ops

    attempted = ((n_files + CATCHUPS * n_back) * len(consumers) + client.attempted
                 + int(r.traced))
    failed = attempted if run_failures else min(len(op_failures), attempted)
    timed = slice(n_back + LIVE_WARM_FILES, n_files)
    lat = np.concatenate([file_batch[n][timed] - landed for n in consumers]) * 1000.0
    lat = lat[np.isfinite(lat)]
    file_cpu = file_cpu[np.isfinite(file_cpu)]
    res = {
        "attempted": attempted,
        "failed": failed,
        "failed_ops": run_failures + op_failures,
        "samples": len(file_cpu),
        "e2e": {
            "setup_s": setup_cpu_s,
            # the lower quartile: host contention only ever adds to a
            # file's figure, through the idle polling of the consumers
            # that wait for the slowest one
            "op_cpu_ms": percentile(file_cpu, 25) * 1000.0 if len(file_cpu) else 0.0,
        },
        "extra": {"phase_end_s": phases, "setup_wall_s": setup_wall_s, "catchup_s": catchups,
                  "catchup_cpu_s": catchup_cpu, "gen_s": gen_s + client.gen_s,
                  "live_files": n_live,
                  "file_cpu_ms": [round(x * 1000.0) for x in file_cpu],
                  "deliver_p50_ms": float(np.median(lat)) if len(lat) else 0.0,
                  "deliver_ms_by_file": {
                      n: [None if np.isnan(x) else round(x) for x in
                          (file_batch[n][timed] - landed) * 1000.0]
                      for n in consumers},
                  "client_ms": {op: [round(x) for x in v] for op, v in client.lat.items()},
                  "late_ms_max": late_ms_max},
    }
    if r.traced:
        res["layer"] = {**_layers(r, progress, (t_live, t_live_end), late_ms_max, catchup_s,
                                  lat, stream_commits),
                        "cdc.catchup_cpu_eps": (BACKLOG_EVENTS / min(catchup_cpu)
                                                if catchup_cpu else 0.0),
                        **client.layer(100)}
    return res


def _file_done(c: Consumers, progress: dict, n_files: int) -> dict[str, np.ndarray]:
    """Per consumer, the return time of the batch that delivered each
    file, from the source row counts of its micro-batches."""
    out: dict[str, np.ndarray] = {}
    for name in (*TOPICS, STORE):
        done = np.full(n_files, np.nan)
        cum = 0
        for p in sorted(progress[name], key=lambda p: p["batchId"]):
            n = p["numInputRows"]
            if n:
                ret = c.returns[name].get(p["batchId"], np.nan)
                done[cum // EVENTS_PER_FILE:(cum + n) // EVENTS_PER_FILE] = ret
                cum += n
        out[name] = done
    return out


def _catchup_s(c: Consumers, progress: dict, n_back: int, t_start: float) -> float:
    """Time from the start of a consumer set until every consumer has
    returned from the batch holding the last backlog file."""
    done = _file_done(c, progress, n_back)
    return float(max(d[n_back - 1] for d in done.values()) - t_start)


def _check(c: Consumers, cols, total: int, label: str) -> list[str]:
    bad = _check_fanout(c, cols)
    bad[STORE] = _check_store_log(c, total)
    return [f"{label}: {n}: file {f} lost, duplicated or mis-published"
            for n, files in bad.items() for f in sorted(files)]


def _check_fanout(c: Consumers, cols) -> dict[str, set[int]]:
    """Files whose events did not reach a subscriber exactly once, or
    reached it with a wrong payload."""
    bad: dict[str, set[int]] = {}
    topic_of = np.char.add(
        np.char.add(np.array(TABLES)[cols["table"]], "_"), np.array(gen.ACTIONS)[cols["action"]])
    for topic in TOPICS:
        got_off = np.concatenate([t.column("offset").to_numpy() for t in c.delivered[topic]]
                                 or [np.zeros(0, np.int64)])
        got_val = np.concatenate([t.column("value").to_numpy(zero_copy_only=False)
                                  for t in c.delivered[topic]] or [np.zeros(0, object)])
        counts = np.bincount(got_off, minlength=len(topic_of))
        wrong = np.flatnonzero((counts != (topic_of == topic)))
        expect_val = np.char.add(topic + " ", cols["pk"][got_off].astype(str))
        wrong_val = got_off[got_val.astype(str) != expect_val]
        bad[topic] = set((np.concatenate([wrong, wrong_val]) // EVENTS_PER_FILE).tolist())
    return bad


def _check_store_log(c: Consumers, total: int) -> set[int]:
    """Files whose offsets the store consumer did not log exactly once."""
    offs = c.store.log().groupBy("offset").count().toArrow()
    counts = np.zeros(total, dtype=np.int64)
    counts[offs.column("offset").to_numpy()] = offs.column("count").to_numpy()
    return set((np.flatnonzero(counts != 1) // EVENTS_PER_FILE).tolist())


def _snapshot(df) -> dict[tuple[int, int], tuple[int, int, int]]:
    """A compacted store as (table, pk) -> (ts_us, offset, v)."""
    from pyspark.sql import functions as F

    snap = df.select(
        "table", "pk", F.unix_micros("ts").alias("ts"), "offset",
        F.col("row").getItem("v").cast("long").alias("v")).toArrow().to_pydict()
    table_idx = {t: i for i, t in enumerate(TABLES)}
    return {(table_idx[t], int(p)): (ts, off, v) for t, p, ts, off, v in
            zip(snap["table"], snap["pk"], snap["ts"], snap["offset"], snap["v"])}


def _layers(r, progress, live, late_ms_max, catchup_s, lat, stream_commits):
    """Per-layer figures of the timed live phase, which ran in the
    ``live`` (start, end) interval, and of the catch-ups."""
    # batch 0 of every query is the catch-up batch, one batch per live
    # file follows; the first LIVE_WARM_FILES are the untimed warm-up
    live_batches = [p for ps in progress.values() for p in ps
                    if p["numInputRows"] and p["batchId"] > LIVE_WARM_FILES]
    m: dict[str, float] = {}
    for ph in PHASES:
        xs = [p["durationMs"].get(ph, 0) for p in live_batches]
        m[f"streaming.{ph}_ms"] = percentile(xs, 50) if xs else 0.0
    m["streaming.batches"] = len(live_batches)
    m["streaming.rows_per_batch"] = (
        sum(p["numInputRows"] for p in live_batches) / len(live_batches) if live_batches else 0.0)
    m["generator.late_ms_max"] = late_ms_max

    def live_ms(name, trace_prefix=""):
        xs = [s.end - s.start for s in r.tracer.spans
              if s.name == name and live[0] <= s.start < live[1]
              and s.trace.startswith(trace_prefix)]
        return percentile(xs, 50) * 1000.0 if xs else 0.0

    m["cdc.fanout.handler_ms"] = live_ms("cdc.fanout.handler")
    m["cdc.fanout.queries"] = len(TOPICS)
    m["cdc.event_store.append_epoch_ms"] = live_ms("cdc.event_store.append_epoch", STORE + ":")
    m["cdc.commit_log.commits"] = stream_commits
    m["cdc.catchup_eps"] = BACKLOG_EVENTS / catchup_s if catchup_s > 0 else 0.0
    m["cdc.deliver_p50_ms"] = percentile(lat, 50) if len(lat) else 0.0
    m["cdc.deliver_tail_ms"] = percentile(lat, r.tail_pct) if len(lat) else 0.0
    return m
