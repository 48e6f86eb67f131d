"""The event-store client: one closed-loop reader and writer against a
TransactionalEventStore, checked against a generator-side reference.

The client runs a fixed script of ``replay`` (one-day range),
``last_change``, ``rebuild`` (as of a day), small ``append_epoch`` and
``compact_txn`` until a given amount of operation time has been spent,
each read forced through the noop sink. After each read, outside its
timing, a checksum aggregate over the same DataFrame is compared with a
reference of the visible event set that models compaction.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time

import numpy as np
import pyarrow.parquet as pq

from common import force, group_counts

READS = ("replay", "last_change", "rebuild")
APPEND_EVENTS = 1_000
DAY_US = 86_400_000_000

# The client script repeats one 20-operation block that holds the mix
# exactly (8 replay, 3 last_change, 3 rebuild, 5 append_epoch, 1
# compact_txn) in a fixed order, so every run makes the same kinds of
# operation in the same order. The compaction sits mid-block: reads
# before it span every epoch written so far, reads after it the snapshot plus
# the epochs appended since.
BLOCK = (
    "replay", "last_change", "append_epoch", "rebuild", "replay", "append_epoch", "replay",
    "compact_txn", "replay", "append_epoch", "last_change", "replay", "rebuild",
    "append_epoch", "replay", "last_change", "replay", "rebuild", "append_epoch", "replay",
)
OPS = ("replay", "last_change", "rebuild", "append_epoch", "compact_txn")


# Tables in the generator's proportions (5:3:2), cycled with the block.
TABLE_CYCLE = (0, 1, 0, 2, 0, 1, 0, 1, 2, 0)


def op_sequence(seed: int, n_blocks: int) -> list[tuple]:
    """The client script: (op, table index, uniform) triples. The
    operation and its table follow the fixed cycles; the seed draws the
    day each read or rebuild targets."""
    rng = random.Random(seed)
    ops = [op for _ in range(n_blocks) for op in BLOCK]
    return [(op, TABLE_CYCLE[i % len(TABLE_CYCLE)], rng.random()) for i, op in enumerate(ops)]


class Reference:
    """The visible event set as the store should serve it: everything
    appended, collapsed to the latest non-delete image per (table, pk)
    at each compaction."""

    def __init__(self, t0_us: int):
        self.t0_us = t0_us
        self.cols: dict[str, np.ndarray] | None = None

    def append(self, cols: dict[str, np.ndarray]) -> None:
        self.cols = cols if self.cols is None else {
            k: np.concatenate([self.cols[k], cols[k]]) for k in cols}

    def compact(self) -> None:
        c = self.cols
        order = np.lexsort((c["offset"], c["ts"], c["pk"], c["table"]))
        t, p = c["table"][order], c["pk"][order]
        last = np.ones(len(order), dtype=bool)
        last[:-1] = (t[1:] != t[:-1]) | (p[1:] != p[:-1])
        idx = order[last]
        idx = idx[c["action"][idx] != 2]
        self.cols = {k: v[idx] for k, v in c.items()}

    def _table(self, ti: int):
        m = self.cols["table"] == ti
        return {k: v[m] for k, v in self.cols.items()}

    def replay(self, ti, lo_us, hi_us):
        c = self._table(ti)
        m = (c["ts"] >= lo_us) & (c["ts"] < hi_us)
        return (int(m.sum()), int(c["offset"][m].sum()))

    def last_change(self, ti):
        c = self._table(ti)
        _, inv = np.unique(c["pk"], return_inverse=True)
        n = inv.max() + 1 if len(inv) else 0
        ts = np.full(n, np.iinfo(np.int64).min)
        off = np.full(n, -1, dtype=np.int64)
        np.maximum.at(ts, inv, c["ts"])
        np.maximum.at(off, inv, c["offset"])
        return (int(n), int(off.sum()), int((ts - self.t0_us).sum()))

    def rebuild(self, ti, as_of_us):
        c = self._table(ti)
        m = c["ts"] <= as_of_us
        c = {k: v[m] for k, v in c.items()}
        order = np.lexsort((c["offset"], c["ts"], c["pk"]))
        p = c["pk"][order]
        last = np.ones(len(order), dtype=bool)
        last[:-1] = p[1:] != p[:-1]
        idx = order[last]
        idx = idx[c["action"][idx] != 2]
        return (len(idx), int((c["ts"][idx] - self.t0_us).sum()), int(c["val"][idx].sum()))


def _checksum(op: str, df, t0_us: int):
    from pyspark.sql import functions as F

    if op == "replay":
        row = df.agg(F.count("*"), F.sum("offset")).first()
    elif op == "last_change":
        row = df.agg(F.count("*"), F.sum("last_offset"),
                     F.sum(F.unix_micros("last_ts") - F.lit(t0_us))).first()
    else:
        row = df.agg(F.count("*"), F.sum(F.unix_micros("ts") - F.lit(t0_us)),
                     F.sum(F.col("row").getItem("v").cast("long"))).first()
    return tuple(int(x or 0) for x in row)


def _tree_bytes(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size




class Client:
    """The scripted client against ``store``. Appended events come from
    generator ``g`` at offsets from ``next_offset`` on and are committed
    as epochs from ``first_epoch`` on; ``ref`` must hold every event the
    store already serves."""

    def __init__(self, r, store, g, ref: Reference, next_offset: int, first_epoch: int):
        self.r, self.store, self.g, self.ref = r, store, g, ref
        self.next_offset, self.epoch = next_offset, first_epoch
        self.sc = r.spark.sparkContext
        self.lat: dict[str, list[float]] = {op: [] for op in OPS}
        self.attempted = 0
        self.failed_ops: list[str] = []
        self.spent = 0.0
        self.gen_s = 0.0
        self.acc: dict[str, list[float]] = {
            k: [] for k in ("jobs", "live_files", "scan_files", "scan_rows_per_row",
                            "files_per_epoch")}

    def _land(self) -> tuple[str, dict]:
        """Generate the next epoch's events into a parquet file (untimed)."""
        t = time.perf_counter()
        cols = self.g.columns(self.next_offset, APPEND_EVENTS)
        path = self.r.path("client-input", f"epoch-{self.epoch}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(self.g.arrow(cols), path)
        self.next_offset += APPEND_EVENTS
        self.gen_s += time.perf_counter() - t
        return path, cols

    def _append(self, path: str) -> None:
        from meepo_spark.schemas import CHANGE_EVENT

        df = self.r.spark.read.schema(CHANGE_EVENT).parquet(path)
        if not self.store.append_epoch(df, self.epoch):
            raise RuntimeError(f"epoch {self.epoch} was not committed")
        self.epoch += 1

    def _read(self, op: str, ti: int, u: float):
        """A builder of the read DataFrame (building it lists the epoch
        dirs, so it belongs in the timed call) and the reference checksum
        the read must give."""
        t0_us = self.g.t0_us
        days = int((self.ref.cols["ts"].max() - t0_us) // DAY_US) + 1
        day = int(u * days)
        lo_us = t0_us + day * DAY_US
        lo = dt.datetime.fromtimestamp(lo_us / 1e6, dt.timezone.utc).replace(tzinfo=None)
        hi = lo + dt.timedelta(days=1)
        table = self.g.tables[ti]
        if op == "replay":
            return (lambda: self.store.replay(table, None, lo.isoformat(), hi.isoformat()),
                    self.ref.replay(ti, lo_us, lo_us + DAY_US))
        if op == "last_change":
            return lambda: self.store.last_change(table), self.ref.last_change(ti)
        return (lambda: self.store.rebuild(table, hi.isoformat()),
                self.ref.rebuild(ti, lo_us + DAY_US))

    def warm(self) -> None:
        """One untimed read of each kind."""
        for ti, op in enumerate(READS):
            force(self._read(op, ti % len(self.g.tables), 0.5)[0]())

    def _check(self, op: str, df, want) -> None:
        got = _checksum(op, df, self.g.t0_us)
        if got != want:
            raise AssertionError(f"{op}: got {got}, want {want}")

    def run(self, seconds: float, seed: int) -> None:
        """Run the script until ``seconds`` of operation time are spent."""
        tr = self.r.tracer
        traced = self.r.traced
        script = op_sequence(seed, 50)
        i = 0
        while self.spent < seconds and i < len(script):
            op, ti, u = script[i]
            i += 1
            self.attempted += 1
            trace = f"op{i}:{op}"
            t_op = time.perf_counter()
            try:
                if op == "append_epoch":
                    path, cols = self._land()
                elif op in READS:
                    build, want = self._read(op, ti, u)
                    if traced:
                        self.acc["live_files"].append(len(self.store.commits.files()))
                self.sc.setJobGroup(trace, trace)
                t = time.perf_counter()
                with tr.span(f"cdc.event_store.{op}", trace=trace):
                    if op == "append_epoch":
                        self._append(path)
                    elif op == "compact_txn":
                        self.store.compact_txn()
                    else:
                        df = build()
                        force(df)
                dt_s = time.perf_counter() - t
                self.sc.setJobGroup("check", "check")
                if op == "compact_txn":
                    self.ref.compact()
                elif op == "append_epoch":
                    self.ref.append(cols)
                    if traced:
                        self.acc["files_per_epoch"].append(
                            _tree_bytes(self.store.commits.files()[-1])[0])
                else:
                    if traced:
                        self.acc["jobs"].append(group_counts(self.sc, trace)["jobs"])
                    self._check(op, df, want)
                    if traced:
                        from meepo_spark.plan_metrics import scan_metric_sum

                        sm = scan_metric_sum(df)
                        self.acc["scan_files"].append(sm.get("numFiles", 0))
                        self.acc["scan_rows_per_row"].append(
                            sm.get("numOutputRows", 0) / max(want[0], 1))
                self.spent += dt_s
                self.lat[op].append(dt_s * 1000.0)
            except Exception as exc:  # counted, reported, and the client goes on
                print(f"store client: {trace} failed: {exc!r}")
                self.spent += time.perf_counter() - t_op
                self.failed_ops.append(trace)
        self.sc.setJobGroup("bench", "bench")

    def layer(self, pct: float) -> dict[str, float]:
        from stats import percentile

        reads = [x for op in READS for x in self.lat[op]]
        writes = self.lat["append_epoch"] + self.lat["compact_txn"]

        def pick(xs, p):
            return percentile(xs, p) if xs else 0.0

        def mean(xs):
            return float(np.mean(xs)) if xs else 0.0

        live_bytes = sum(_tree_bytes(d)[1] for d in self.store.commits.files())
        return {
            **{f"cdc.event_store.{op}_ms": pick(v, 50) for op, v in self.lat.items()
               if op != "append_epoch"},
            "store.read_p50_ms": pick(reads, 50),
            "store.read_tail_ms": pick(reads, pct),
            "store.write_p50_ms": pick(writes, 50),
            "store.write_tail_ms": pick(writes, pct),
            "store.ops_per_s": sum(len(v) for v in self.lat.values()) / self.spent
            if self.spent else 0.0,
            "cdc.event_store.jobs_per_read": mean(self.acc["jobs"]),
            "cdc.commit_log.live_files": mean(self.acc["live_files"]),
            "cdc.event_store.scan_files_per_read": mean(self.acc["scan_files"]),
            "cdc.event_store.scan_rows_per_result_row": mean(self.acc["scan_rows_per_row"]),
            "cdc.event_store.files_per_epoch": mean(self.acc["files_per_epoch"]),
            "cdc.event_store.bytes_per_event": live_bytes / max(len(self.ref.cols["offset"]), 1),
        }
