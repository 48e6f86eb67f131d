"""Run plumbing shared by the workloads: the per-run directory, the
Spark session, run context, memory high-water marks and the Spark
status/event-log surfaces the per-layer metrics are read from."""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


# JVM threads that compile code or collect garbage. Their CPU depends on
# how far JIT compilation has got and when the collector ran, not on the
# work asked of the engine.
JVM_SERVICE_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread", "GC Thread",
                       "G1 ", "VM Thread")
_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def engine_cpu_s(jvm_pid: int) -> float:
    """CPU seconds the engine has used so far: this Python process, the
    Spark JVM's threads other than JVM_SERVICE_THREADS, and the Python
    workers the JVM forked. On a virtual machine CPU time leaves out the
    time the hypervisor gave to other guests (steal), which wall time on
    a shared host does not."""
    total = time.process_time()
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/comm") as fh:
                if fh.read().startswith(JVM_SERVICE_THREADS):
                    continue
            with open(f"/proc/{jvm_pid}/task/{tid}/schedstat") as fh:
                total += int(fh.read().split()[0]) / 1e9
        except OSError:  # the thread ended
            continue
    for pid in _descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += (int(fields[11]) + int(fields[12])) * _TICK_S
    return total


def _descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the busy CPU time between two ``cpu_ticks()`` readings
    that the hypervisor gave to other guests (steal): how much the host
    was contended while the benchmark ran."""
    d = [b - a for a, b in zip(before, after)]
    busy = sum(d) - d[3] - d[4]
    return d[7] / busy if busy > 0 else 0.0


class Run:
    """One benchmark process: its scratch directory (inside the
    checkout, removed at the end), tracer, Spark session and the
    timestamps ``setup_s`` is measured between."""

    def __init__(self, workload: str, seed: int, seconds: float, tail_pct: int, tracer,
                 t_start: float):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.tail_pct = tail_pct
        self.tracer = tracer
        self.traced = tracer.enabled
        self.t_start = t_start
        self.dir = os.path.join(HERE, "out", f"run-{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("tmp", "spark-local", "eventlog", "warehouse"):
            os.makedirs(os.path.join(self.dir, sub))
        self.spark = None
        self.cpus = nproc()
        self.ticks0 = cpu_ticks()

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def start_spark(self, extra: dict[str, str] | None = None):
        from meepo_spark.session import get_spark

        conf = {
            "spark.local.dir": self.path("spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.path("eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        conf.update(extra or {})
        with self.tracer.span("session.get_spark", trace="setup"):
            self.spark = get_spark(f"perfbench-{self.workload}", cpus=self.cpus, extra_conf=conf)
        self.jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        return self.spark

    def cpu_s(self) -> float:
        """``engine_cpu_s`` of this run's Spark JVM."""
        return engine_cpu_s(self.jvm_pid)

    def settle(self) -> None:
        """Collect garbage in Python and the Spark JVM so every timed
        phase starts from the same heap state."""
        import gc

        gc.collect()
        self.spark._jvm.System.gc()

    def peak_rss_mb(self) -> float:
        """VmHWM of this Python process plus the Spark JVM."""
        pids = [os.getpid(), self.spark._jvm.ProcessHandle.current().pid()]
        total_kb = 0
        for pid in pids:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        return total_kb / 1024.0

    def context(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "traced": self.traced,
            "nproc": self.cpus,
            "master": sc.master,
            "git_sha": git_sha(),
            "src_digest": digest(os.path.join(ROOT, "meepo_spark"), "**/*.py"),
            "bench_digest": digest(HERE, "*.py"),
            "spark_version": self.spark.version,
            "java_version": self.spark._jvm.System.getProperty("java.version"),
            "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "steal_share": steal_share(self.ticks0, cpu_ticks()),
        }

    def stop(self) -> list[dict]:
        """Stop Spark, wait for the JVM to exit, return the event log
        (traced runs) and remove the run directory."""
        events: list[dict] = []
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            if self.traced:
                events = read_event_log(self.path("eventlog"))
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
        shutil.rmtree(self.dir, ignore_errors=True)
        return events


def git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")) or shutil.which("git") is None:
        return None
    out = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=30
    )
    return out.stdout.strip() or None


def digest(root: str, *patterns: str) -> str:
    """sha256 over the files matching ``patterns`` under ``root``: names
    the code a run measured even where the checkout is not a git
    repository."""
    h = hashlib.sha256()
    paths = {p for pat in patterns for p in glob.glob(os.path.join(root, pat), recursive=True)}
    for path in sorted(paths):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def force(df) -> None:
    """Execute a DataFrame fully through the no-op sink."""
    df.write.format("noop").mode("overwrite").save()


# --- Spark status tracker ---------------------------------------------------


def group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, executed stages and completed tasks of one job group."""
    tr = sc.statusTracker()
    jobs = list(tr.getJobIdsForGroup(group))
    stages = tasks = 0
    for jid in jobs:
        info = tr.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            si = tr.getStageInfo(sid)
            if si and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


# --- Spark event log --------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


TASK_KEYS = ("exec_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def task_metrics_by_group(events: list[dict]) -> dict[str, dict[str, float]]:
    """Per job group: executor CPU, GC, shuffle read/write and spill
    summed over every finished task (SparkListenerTaskEnd)."""
    stage_group: dict[int, str] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group or "")
    out: dict[str, dict[str, float]] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd" or not ev.get("Task Metrics"):
            continue
        m = ev["Task Metrics"]
        acc = out.setdefault(stage_group.get(ev.get("Stage ID"), ""), dict.fromkeys(TASK_KEYS, 0.0))
        sr = m.get("Shuffle Read Metrics", {})
        acc["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        acc["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out
