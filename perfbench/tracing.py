"""Tracing for the benchmark: spans, Spark status-store counters, RSS.

Spans are kept in memory and written out when the run ends. Each span
records its name, start, end and parent, and all spans of one run
share a run id. Spans are recorded only from the benchmark's own files,
around the calls it makes into each module's public functions.

Counters come from Spark's status store (``AppStatusStore``), which is
populated with ``spark.ui.enabled=false``. Jobs and stages are
attributed to an operation by their submission time, which is safe
because the benchmark runs one operation at a time.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
import uuid


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"run": self.run_id, "id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus its children's."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for s, c in zip(self.spans, child):
            out.setdefault(s["name"], []).append(s["end"] - s["start"] - c)
        return out

    def write(self, out_dir: str) -> str:
        """Write the spans as JSON lines; returns the file's path."""
        path = os.path.join(out_dir, f"spans-{self.run_id}.jsonl")
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
        return path


@contextlib.contextmanager
def patched(module, attr: str, wrapper_factory):
    """Replace ``module.attr`` and every module-level alias of it in the
    already-imported ``xsarsea_spark`` modules, restoring on exit."""
    import sys

    orig = getattr(module, attr)
    wrapped = wrapper_factory(orig)
    sites = [m for name, m in list(sys.modules.items())
             if name.startswith("xsarsea_spark") and m is not None
             and getattr(m, attr, None) is orig]
    for m in sites:
        setattr(m, attr, wrapped)
    try:
        yield
    finally:
        for m in sites:
            setattr(m, attr, orig)


class StatusStore:
    """Reads jobs and stages out of Spark's status store as JSON."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        om = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = self._jvm.com.fasterxml.jackson.module.scala
        om.registerModule(getattr(getattr(scala, "DefaultScalaModule$"),
                                  "MODULE$"))
        self._om = om

    def _json(self, obj):
        return json.loads(self._om.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stages(self) -> list[dict]:
        empty = self._gw.new_array(self._jvm.double, 0)
        return self._json(self._store.stageList(None, False, False, empty,
                                                None))

    def task_skew(self, stage: dict) -> float | None:
        """Max / median task run time of one stage (None if < 2 tasks)."""
        if stage.get("numTasks", 0) < 2:
            return None
        q = self._gw.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summ = self._json(self._store.taskSummary(
            stage["stageId"], stage["attemptId"], q))
        if not summ:
            return None
        med, mx = summ["executorRunTime"]
        return mx / med if med > 0 else None


def in_window(items: list[dict], t0: float, t1: float) -> list[dict]:
    """Status-store records submitted within [t0, t1] (epoch seconds)."""
    lo, hi = t0 * 1000.0, t1 * 1000.0
    return [x for x in items
            if x.get("submissionTime") is not None
            and lo <= x["submissionTime"] <= hi]


def stream_listener(spark):
    """Register a listener that records each micro-batch's duration."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Batches(StreamingQueryListener):
        def __init__(self):
            self.batches: list[tuple[float, float]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.batches.append(
                (time.time(), float(p.durationMs.get("triggerExecution", 0))))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    lst = _Batches()
    spark.streams.addListener(lst)
    return lst


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def tree_hwm_mb(root: int | None = None) -> float:
    """Sum of VmHWM (peak RSS) over a process and all its descendants:
    the driver interpreter, the JVM and the Python workers."""
    todo, total = [root or os.getpid()], 0
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
        todo += _children(pid)
    return total / 1024.0


def _stat(path: str) -> list[str]:
    """Fields of a /proc stat file after the command name."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


class CpuMeter:
    """CPU seconds (user + system) used so far by this process and every
    process it has started: the driver, the JVM and the Python workers;
    and, apart, by the JVM's JIT compiler threads. Each process's and
    compiler thread's own time is remembered under its id and start
    time, so one that exits between two readings keeps what it had
    used at the last; reaped children's time is not read, so nothing
    counts twice."""

    def __init__(self):
        self._procs: dict[tuple[int, int], int] = {}
        self._jit: dict[tuple[int, int], int] = {}
        self._tick = os.sysconf("SC_CLK_TCK")

    def read(self) -> tuple[float, float]:
        """(all CPU seconds, JIT compiler threads' CPU seconds)."""
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            try:
                fields = _stat(f"/proc/{pid}/stat")
                with open(f"/proc/{pid}/comm") as f:
                    java = f.read().strip() == "java"
            except OSError:
                continue
            # utime, stime and the start time (ticks after boot)
            self._procs[(pid, int(fields[19]))] = (int(fields[11])
                                                   + int(fields[12]))
            if java:
                self._read_jit(pid)
            todo += _children(pid)
        return (sum(self._procs.values()) / self._tick,
                sum(self._jit.values()) / self._tick)

    def _read_jit(self, pid: int) -> None:
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if "CompilerThre" not in f.read():
                        continue
                fields = _stat(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            self._jit[(int(tid), int(fields[19]))] = (int(fields[11])
                                                      + int(fields[12]))


def host_steal_s() -> float:
    """Seconds the hypervisor has withheld from this machine's CPUs
    (the ``steal`` column of /proc/stat, summed over its
    ``os.cpu_count()`` CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def calibration_s() -> float:
    """Fixed NumPy workload; labels runs made on a contended host."""
    import numpy as np

    rng = np.random.default_rng(0)
    a = rng.standard_normal((256, 256))
    t0 = time.perf_counter()
    for _ in range(20):
        a = np.tanh(a @ a.T / 256.0)
    return time.perf_counter() - t0


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ten samples beyond it, once that percentile reaches p90
    (100 samples or more); below that, the maximum (p100)."""
    v = sorted(values)
    n = len(v)
    if n < 100:
        return v[-1], 100.0
    return v[n - 11], 100.0 * (n - 10) / n


def per_label_medians(recs: list[dict], key: str) -> list[float]:
    """One median per query (the op's label) of ``key`` over its ops."""
    by_q: dict[str, list[float]] = {}
    for r in recs:
        by_q.setdefault(r["label"], []).append(r[key])
    return [median(v) for v in by_q.values()]


def steal_frac(recs: list[dict]) -> float:
    """Steal during the ops over their wall time times the CPUs."""
    return (sum(r["steal"] for r in recs)
            / (sum(r["dur"] for r in recs) * os.cpu_count()))


def median(values) -> float:
    return statistics.median(values) if values else 0.0
