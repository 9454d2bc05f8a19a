"""Spans, progress capture and host/Spark counters for the benchmark.

Spans are kept in memory (name, start, end, parent) and written out when
the run ends. A span's self time is its duration minus the part of it its
children cover. The Spark-side numbers are read after the fact from Spark's
own status stores (stage metrics and SQL plan metrics), over the time window
of a span, so nothing inside the package is instrumented.
"""
from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


# -- spans -------------------------------------------------------------------
@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Spans nest by call order on one thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        self.spans.append(
            Span(name, time.time(), parent=self._stack[-1] if self._stack else None, attrs=attrs)
        )
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def children(self, sid: int | None) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == sid]

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        covered = sum(self.spans[c].end - self.spans[c].start for c in self.children(sid))
        return (s.end - s.start) - covered

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """A span whose bounds are known only afterwards (for instance the
        warm-up and timed phases of one streaming query), under the current
        span."""
        self.spans.append(
            Span(name, start, end, parent=self._stack[-1] if self._stack else None, attrs=attrs)
        )

    def dump(self, path: str, extra: dict | None = None) -> None:
        rows = [
            {
                "id": i,
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "self_s": self.self_time(i),
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, **(extra or {})}, f, indent=1)


# -- streaming progress ----------------------------------------------------------
class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch's full progress JSON (``durationMs``,
    ``stateOperators``, sources), which ``streaming.metrics.ProgressCapture``
    drops."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def for_query(self, run_id: str) -> list[dict]:
        with self._lock:
            return [p for p in self.progress if p.get("runId") == run_id]

    def wait_for(self, run_id: str, last_batch_id: int, timeout: float = 30.0) -> list[dict]:
        """Progress events arrive asynchronously; wait until the event of
        ``last_batch_id`` has been delivered."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            got = self.for_query(run_id)
            if any(p["batchId"] >= last_batch_id for p in got):
                return got
            time.sleep(0.05)
        raise TimeoutError(f"no progress for batch {last_batch_id} of {run_id}")


def progress_end_time(p: dict) -> float:
    """Wall time at which a micro-batch finished: trigger start plus
    triggerExecution duration."""
    from datetime import datetime

    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    epoch = (start - datetime(1970, 1, 1)).total_seconds()
    return epoch + p["durationMs"].get("triggerExecution", 0) / 1000.0


def progress_start_time(p: dict) -> float:
    """Wall time at which a micro-batch was triggered."""
    return progress_end_time(p) - p["durationMs"].get("triggerExecution", 0) / 1000.0


def median_of(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


# -- host counters -----------------------------------------------------------------
def proc_stat_cpu() -> dict:
    """Busy and steal CPU-seconds since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    user, nice, system, idle, iowait, irq, softirq, steal = (int(x) for x in parts[1:9])
    hz = os.sysconf("SC_CLK_TCK")
    return {
        "busy": (user + nice + system + irq + softirq) / hz,
        "steal": steal / hz,
    }


def process_start_time() -> float:
    """Epoch seconds at which this process started (/proc/self/stat)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _process_tree_hwm_kb(root: int) -> dict[int, tuple[str, int]]:
    """pid -> (command name, peak resident set in kB (VmHWM)) of ``root``
    and its descendants."""
    children: dict[int, list[int]] = {}
    hwm: dict[int, tuple[str, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/status") as f:
                status = f.read()
        except OSError:
            continue
        ppid = re.search(r"^PPid:\s+(\d+)", status, re.M)
        peak = re.search(r"^VmHWM:\s+(\d+)", status, re.M)
        comm = re.search(r"^Name:\s+(\S+)", status, re.M)
        pid = int(name)
        if ppid:
            children.setdefault(int(ppid.group(1)), []).append(pid)
        hwm[pid] = (comm.group(1) if comm else "?", int(peak.group(1)) if peak else 0)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in hwm:
            out[pid] = hwm[pid]
        todo.extend(children.get(pid, []))
    return out


class RssSampler:
    """Peak resident memory of this process and its JVM and Python
    descendants (the Spark driver JVM and its Python workers): the sum of
    each process's own kernel-tracked peak (VmHWM), polled every
    ``interval`` s so that workers which exit early are counted too."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self._peaks: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak_kb(self) -> int:
        return sum(kb for _, kb in self._peaks.values())

    def by_command(self) -> dict[str, int]:
        """Peak kB summed per command name (java, python3, ...)."""
        out: dict[str, int] = {}
        for comm, kb in self._peaks.values():
            out[comm] = out.get(comm, 0) + kb
        return out

    def _sample(self) -> None:
        for pid, (comm, kb) in _process_tree_hwm_kb(os.getpid()).items():
            # only the JVM and Python processes: a child the JVM forks to run
            # a helper (chmod, readlink) carries the forking thread's name
            # and, until it execs, reports the JVM's whole resident set
            if comm == "java" or comm.startswith("python"):
                self._peaks[pid] = (comm, max(self._peaks.get(pid, ("", 0))[1], kb))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -- Spark status stores ---------------------------------------------------------------
_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1000.0, "m": 60_000.0, "min": 60_000.0, "h": 3_600_000.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}


def parse_metric_total(text: str) -> float:
    """Total of a rendered SQL metric ("6.6 s (265 ms, ...)", "782.9 KiB",
    "100,000"): timings in ms, sizes in bytes."""
    text = text.strip()
    if text.startswith("total"):
        text = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"([-0-9.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


STAGE_FIELDS = {
    "spark.executor_cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "spark.gc_ms": lambda s: s.jvmGcTime(),
    "spark.shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "spark.shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "spark.fetch_wait_ms": lambda s: s.shuffleFetchWaitTime(),
    "spark.spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
}
PYTHON_METRICS = {
    "python.run_ms": "time to run Python workers",
    "python.bytes_sent": "data sent to Python workers",
    "python.bytes_received": "data returned from Python workers",
}


class SparkCounters:
    """Stage and SQL-plan metrics of everything that completed inside a
    wall-time window."""

    def __init__(self, spark) -> None:
        self.spark = spark

    def drain(self) -> None:
        """Let the listener bus deliver pending events to the status stores."""
        from py4j.protocol import Py4JError

        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Py4JError:  # the bus is Spark-internal; its signature may move
            time.sleep(0.5)

    def window(self, start: float, end: float) -> dict:
        self.drain()
        out = {k: 0.0 for k in [*STAGE_FIELDS, *PYTHON_METRICS]}
        gw = self.spark.sparkContext._gateway
        jvm = self.spark._jvm
        store = self.spark.sparkContext._jsc.sc().statusStore()
        stages = store.stageList(
            None, False, False, gw.new_array(jvm.double, 0), jvm.java.util.ArrayList()
        )
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            done = s.completionTime()
            if str(s.status()) != "COMPLETE" or done.isEmpty():
                continue
            t = done.get().getTime() / 1000.0
            if start <= t <= end:
                for k, f in STAGE_FIELDS.items():
                    out[k] += float(f(s))
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        wanted = {v: k for k, v in PYTHON_METRICS.items()}
        for i in range(execs.size()):
            e = execs.apply(i)
            if not (start <= e.submissionTime() / 1000.0 <= end):
                continue
            values = sql.executionMetrics(e.executionId())
            nodes = sql.planGraph(e.executionId()).allNodes()
            for j in range(nodes.size()):
                metrics = nodes.apply(j).metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    name = wanted.get(m.name())
                    if name is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[name] += parse_metric_total(v.get())
        return out
