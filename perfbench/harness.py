"""Shared machinery of the benchmark: the Spark session it measures, span
tracing, Spark status-store counters and process-tree memory.

Nothing here runs at import time; ``run.py`` creates one ``Bench`` per
process and closes it on every exit path.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import shutil
import subprocess
import threading
import time

#: Spark runs ``local[N]`` with N = min(nproc, MAX_CORES): figures stay
#: comparable between hosts with more cores, and on a 4-core host the
#: benchmark's single generator thread shares the cores with Spark.
MAX_CORES = 4
#: JVM heap limit; the session factory's default (48g) does not fit a
#: 15 GiB host, and every workload's data fits in far less
JVM_HEAP = "2g"
#: interval of the process-tree memory sampler
MEM_SAMPLE_S = 0.1


def process_start_monotonic() -> float:
    """The monotonic-clock reading at which this process started
    (``/proc/self/stat`` start time, 10 ms resolution), so that set-up is
    timed from the process's start, interpreter start-up included."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    started_boot_s = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    age = time.clock_gettime(time.CLOCK_BOOTTIME) - started_boot_s
    return time.monotonic() - age


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks the Python worker
    daemon from a thread other than its main one)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
        except OSError:
            pass  # thread or process ended meanwhile
    return out


def process_tree(root: int) -> list[tuple[int, int]]:
    """(depth, pid) of ``root`` and all its descendants."""
    out, todo = [], [(0, root)]
    while todo:
        depth, pid = todo.pop()
        out.append((depth, pid))
        todo.extend((depth + 1, c) for c in _children(pid))
    return out


def tree_peak_rss(root: int) -> list[tuple[int, str, float]]:
    """(depth, process name, peak resident set in MB from VmHWM) for each
    process of the tree: this process (depth 0), the JVM (1) and
    the Python worker daemon and its workers (2 and deeper)."""
    out = []
    for depth, pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue  # exited between the walk and the read
        if "VmHWM" in status:  # absent once a process is a zombie
            out.append((depth, status["Name"].strip(), int(status["VmHWM"].split()[0]) / 1024.0))
    return out


def tree_rss_mb(root: int) -> tuple[float, float]:
    """Resident set, in MB, of ``root`` and all its descendants now, and of
    the descendants below the JVM alone (the Python worker daemon and its
    workers)."""
    total = workers = 0
    for depth, pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError):
            continue  # exited between the walk and the read
        total += pages
        if depth >= 2:
            workers += pages
    mb = os.sysconf("SC_PAGE_SIZE") / 2**20
    return total * mb, workers * mb


class MemorySampler(threading.Thread):
    """Samples the process tree's summed resident set every
    ``MEM_SAMPLE_S`` seconds and keeps the largest sums: the most that
    this process, the JVM and the Python workers held at one time, and the
    most the Python workers held."""

    def __init__(self):
        super().__init__(name="memory-sampler", daemon=True)
        self.peak_mb = self.workers_peak_mb = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            total, workers = tree_rss_mb(os.getpid())
            self.peak_mb = max(self.peak_mb, total)
            self.workers_peak_mb = max(self.workers_peak_mb, workers)
            self._stop_evt.wait(MEM_SAMPLE_S)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


class Tracer:
    """Spans recorded from the benchmark's own code around each call into
    a layer: name, start, end, parent, trace id.  Kept in memory and
    written out by ``dump``.  Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._t0 = time.monotonic()

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace if trace is not None else (parent["trace"] if parent else None),
            "start": time.monotonic() - self._t0,
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.monotonic() - self._t0
            with self._lock:
                self.spans.append(rec)

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds (duration minus
        the part covered by child spans)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            d = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            dur = s["end"] - s["start"]
            d["count"] += 1
            d["total_s"] += dur
            d["self_s"] += dur - child_s.get(s["id"], 0.0)
        return out


class EngineCounters:
    """Cumulative task counters from Spark's status store (the executor
    summary the listener bus maintains; the UI itself stays off)."""

    FIELDS = ("tasks", "task_ms", "gc_ms", "shuffle_write_b", "shuffle_read_b", "input_b", "jobs")

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()

    def snapshot(self) -> dict[str, int]:
        execs = self._store.executorList(True)
        snap = dict.fromkeys(self.FIELDS, 0)
        for i in range(execs.size()):
            e = execs.apply(i)
            snap["tasks"] += e.totalTasks()
            snap["task_ms"] += e.totalDuration()
            snap["gc_ms"] += e.totalGCTime()
            snap["shuffle_write_b"] += e.totalShuffleWrite()
            snap["shuffle_read_b"] += e.totalShuffleRead()
            snap["input_b"] += e.totalInputBytes()
        jobs = self._store.jobsList(None)
        snap["jobs"] = jobs.apply(0).jobId() + 1 if jobs.size() else 0
        return snap

    @staticmethod
    def delta(a: dict, b: dict) -> dict[str, int]:
        return {k: b[k] - a[k] for k in a}

    def spill_bytes(self) -> int:
        """Memory + disk spill summed over the stages the store retains."""
        store = self._store
        defaults = [getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
        stages = store.stageList(None, *defaults)
        total = 0
        for i in range(stages.size()):
            s = stages.apply(i)
            total += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return total


def engine_per_op(delta: dict[str, int], ops: int) -> dict[str, float]:
    """Spark engine work per attempted operation over the measured phase,
    the per-layer metrics every workload reports besides memory."""
    return {
        "spark.jobs_per_op": delta["jobs"] / ops,
        "spark.tasks_per_op": delta["tasks"] / ops,
        "spark.task_ms_per_op": delta["task_ms"] / ops,
        "spark.gc_ms_per_op": delta["gc_ms"] / ops,
        "spark.shuffle_write_kb_per_op": delta["shuffle_write_b"] / 1024 / ops,
        "spark.shuffle_read_kb_per_op": delta["shuffle_read_b"] / 1024 / ops,
        "spark.input_kb_per_op": delta["input_b"] / 1024 / ops,
    }


class Bench:
    """One benchmark process: its work directory, Spark session, tracer
    and set-up clock.  ``close`` stops every streaming query, the session
    and the JVM, and removes the work directory."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.trace = trace
        self.started = process_start_monotonic()
        self._excluded_s = 0.0
        self.setup_s: float | None = None
        self.layer: dict[str, float] = {}  # layer-specific figures for the trace file
        self.steps: list[dict] = []  # per-step engine counters (traced runs)
        os.makedirs(os.path.join(root, "perfbench", "work"), exist_ok=True)
        self.work = os.path.join(root, "perfbench", "work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(self.work, sub))
        self.spark = None
        self.counters: EngineCounters | None = None
        self.cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @contextlib.contextmanager
    def excluded(self):
        """Benchmark-only work (input generation) inside set-up: its time
        is taken out of ``setup_s``."""
        t = time.monotonic()
        try:
            yield
        finally:
            self._excluded_s += time.monotonic() - t

    def start_spark(self):
        tmp = self.path("tmp")
        # everything the JVM and its Python workers write stays in the work dir
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
        from depositaja_spark.session import get_spark

        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                master=f"local[{self.cores}]",
                shuffle_partitions=self.cores,
                extra_conf={
                    "spark.driver.memory": JVM_HEAP,
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                    "spark.local.dir": self.path("spark-local"),
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        self.counters = EngineCounters(self.spark)
        return self.spark

    def setup_done(self) -> None:
        self.setup_s = time.monotonic() - self.started - self._excluded_s

    def step_counters(self, name: str, before: dict) -> None:
        """Record the engine counters of one workload step (traced runs)."""
        if self.trace:
            self.steps.append({"step": name, **self.counters.delta(before, self.counters.snapshot())})

    def dump_trace(self) -> str:
        out_dir = os.path.join(self.root, "perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.workload}-seed{self.seed}.json")
        doc = {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "layer_metrics": self.layer,
            "span_self_times": self.tracer.self_times(),
            "steps": self.steps,
            "spans": self.tracer.spans,
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)
        return path

    def close(self) -> None:
        spark, self.spark = self.spark, None
        try:
            if spark is not None:
                self._stop_spark(spark)
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(self.work))  # only if no other run uses it

    @staticmethod
    def _stop_spark(spark) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            for q in spark.streams.active:
                with contextlib.suppress(Exception):
                    q.stop()
            spark.stop()
        finally:
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                with contextlib.suppress(Exception):
                    gateway.shutdown()
                if proc is not None:
                    with contextlib.suppress(Exception):
                        proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait(timeout=30)
