"""Measurement from outside the program: spans, /proc sampling, event log.

* ``Tracer`` records a span (id, name, start, end, parent) around each
  call the benchmark makes into a layer's public functions, keeps them
  in memory and tags every Spark job started inside a span with the
  span id (a SparkContext local property), so task metrics from the
  event log can be attributed to spans afterwards.
* ``ProcSampler`` polls /proc for the resident memory and CPU time of
  the driver JVM and every process below it (the Python workers).
* ``read_event_log`` folds a Spark event log into per-span task records.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager, nullcontext
from pathlib import Path

SPAN_PROPERTY = "perfbench.span"

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


class NullTracer:
    """Untraced repetitions: spans cost nothing and record nothing."""

    def span(self, name: str):
        return nullcontext()


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setLocalProperty(SPAN_PROPERTY, str(rec["id"]))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROPERTY, str(self._stack[-1]) if self._stack else None
            )

    def under(self, span_id: int | None, ancestor_id: int) -> bool:
        while span_id is not None:
            if span_id == ancestor_id:
                return True
            span_id = self.spans[span_id]["parent"]
        return False

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time its
        direct children cover."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = (
                    child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1))


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and every live process below it."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _rss_and_cpu(pid: int) -> tuple[int, float] | None:
    try:
        with open(f"/proc/{pid}/statm") as f:
            rss = int(f.read().split()[1]) * _PAGE
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    fields = stat[stat.rindex(")") + 2:].split()
    return rss, (int(fields[11]) + int(fields[12])) / _TICK


class ProcSampler:
    """Peak summed RSS and CPU seconds of a process tree while active.

    ``with sampler.window() as w:`` samples every ``interval`` seconds
    on a background thread; afterwards ``w["peak_rss"]`` (bytes) and
    ``w["cpu_s"]`` hold the window's peak resident memory and the CPU
    time the tree used inside it.
    """

    def __init__(self, root_pid: int, interval: float = 0.05,
                 rescan_every: int = 10):
        self.root = root_pid
        self.interval = interval
        self.rescan_every = rescan_every

    def _sample(self, pids, cpu_first, cpu_last) -> int:
        total = 0
        for pid in pids:
            got = _rss_and_cpu(pid)
            if got is None:
                continue
            total += got[0]
            cpu_first.setdefault(pid, got[1])
            cpu_last[pid] = got[1]
        return total

    @contextmanager
    def window(self):
        res = {"peak_rss": 0, "cpu_s": 0.0}
        stop = threading.Event()
        cpu_first: dict[int, float] = {}
        cpu_last: dict[int, float] = {}

        def loop():
            n = 0
            pids = process_tree(self.root)
            while True:
                if n % self.rescan_every == 0:
                    pids = process_tree(self.root)
                res["peak_rss"] = max(
                    res["peak_rss"], self._sample(pids, cpu_first, cpu_last)
                )
                n += 1
                if stop.wait(self.interval):
                    break
            # one closing sample so CPU used up to the window end counts
            self._sample(process_tree(self.root), cpu_first, cpu_last)

        t = threading.Thread(target=loop, daemon=True)
        t.start()
        try:
            yield res
        finally:
            stop.set()
            t.join()
            res["cpu_s"] = sum(cpu_last[p] - cpu_first[p] for p in cpu_last)


class JvmHeap:
    """The driver JVM's heap, read through its MXBeans.

    The heap is fixed and pre-touched (see ``run.start_session``), so
    all of it is resident whatever the program keeps there and its RSS
    says nothing. ``reset()`` collects, so each window starts from the
    live data alone, and restarts the pools' peaks; ``peak_used()`` is
    the most of each heap pool the program used since, summed.
    """

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._mem = mf.getMemoryMXBean()
        self._pools = [p for p in mf.getMemoryPoolMXBeans()
                       if p.getType().name() == "HEAP"]
        self.committed = self._mem.getHeapMemoryUsage().getCommitted()

    def reset(self) -> None:
        self._mem.gc()
        for p in self._pools:
            p.resetPeakUsage()

    def peak_used(self) -> int:
        # a pool's peak is recorded at collections; between them its
        # usage only grows, so the current usage covers the rest
        return sum(max(p.getPeakUsage().getUsed(), p.getUsage().getUsed())
                   for p in self._pools)


def read_event_log(log_dir: Path) -> list[dict]:
    """One record per finished task: the span id of the job that ran
    it, duration, spill and shuffle-write bytes, and the Python UDF SQL
    metrics (bytes sent to / returned from the Python workers). GC time
    is read from the JVM instead: in local mode every task shares one
    JVM, so per-task GC time counts each pause once per running task."""
    stage_span: dict[int, int | None] = {}
    tasks = []
    for path in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                    for sid in ev["Stage IDs"]:
                        stage_span[sid] = int(span) if span else None
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    acc = {
                        a["Name"]: int(a.get("Update", 0) or 0)
                        for a in info.get("Accumulables", [])
                        if "Name" in a and str(a.get("Update", "")).lstrip("-").isdigit()
                    }
                    tasks.append({
                        "span": stage_span.get(ev["Stage ID"]),
                        "dur_s": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                        "spill_b": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "shuffle_w_b": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        "py_sent_b": acc.get("data sent to Python workers", 0),
                        "py_recv_b": acc.get("data returned from Python workers", 0),
                    })
    return tasks


class EventLog:
    """The Spark event log, attached only while a traced repetition runs.

    Each ``attached()`` block adds an EventLoggingListener writing one
    uncompressed JSON-lines file under ``log_dir``, drains the listener
    bus on exit and removes the listener again, so untraced repetitions
    in the same session pay nothing for it.
    """

    def __init__(self, spark, log_dir: Path):
        self.sc = spark.sparkContext
        self.dir = log_dir
        self.n = 0

    @contextmanager
    def attached(self):
        jvm, jsc = self.sc._jvm, self.sc._jsc.sc()
        self.dir.mkdir(parents=True, exist_ok=True)
        self.n += 1
        conf = (jsc.conf().clone()
                .set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false"))
        listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            f"trace-{self.n}", jvm.scala.Option.apply(None),
            jvm.java.net.URI(self.dir.as_uri()), conf,
            self.sc._jsc.hadoopConfiguration(),
        )
        listener.start()
        jsc.addSparkListener(listener)
        try:
            yield
        finally:
            jsc.listenerBus().waitUntilEmpty()
            jsc.removeSparkListener(listener)
            listener.stop()
