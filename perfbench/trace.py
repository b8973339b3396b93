"""Spans, job-group labels and process counters, taken from outside the
package around the calls the benchmark makes into it.

A span records name, start, end, parent and pass.  While ``detail`` is on,
every span also labels the Spark jobs started inside it with a job group
(``parent-label:name``) so the event log can be rolled up per span, and
call spans record process CPU and the persisted RDDs the call left behind.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time
from collections import defaultdict
from contextlib import contextmanager

from graphscope_spark.superstep import SuperstepRunner

_TICKS = os.sysconf("SC_CLK_TCK")


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(children of each pid, user+system+reaped-children CPU ticks of
    each pid), read from /proc."""
    kids: dict[int, list[int]] = defaultdict(list)
    cpu: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed /proc
            continue
        f = stat[stat.rfind(")") + 2 :].split()
        kids[int(f[1])].append(int(d))
        cpu[int(d)] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return kids, cpu


def _subtree(kids: dict[int, list[int]], root: int):
    todo = [root]
    while todo:
        pid = todo.pop()
        yield pid
        todo.extend(kids.get(pid, ()))


def descendants(root: int) -> list[int]:
    kids, _ = _proc_table()
    return [pid for pid in _subtree(kids, root) if pid != root]


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of ``root`` (default: this process) and all
    its descendants.  Covers the Spark JVM and its Python workers; reaped
    children count through their parent's cutime/cstime."""
    kids, cpu = _proc_table()
    root = os.getpid() if root is None else root
    return sum(cpu.get(pid, 0) for pid in _subtree(kids, root)) / _TICKS


def persistent_rdd_ids(sc) -> set[int]:
    return {int(k) for k in sc._jsc.getPersistentRDDs().keys()}


def storage_mb(sc) -> float:
    """Memory + disk held by persisted RDDs and cached DataFrames.  Block
    updates reach the status store through the listener bus, so drain it
    first."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def stop_spark(spark, timeout: float = 60) -> None:
    """Stop Spark, close the Py4J gateway and wait until the JVM and every
    Python worker it started have exited (killing any still alive after
    ``timeout``)."""
    gateway = spark.sparkContext._gateway
    procs = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    jvm = gateway.proc
    jvm.stdin.close()  # the JVM exits when its stdin closes
    try:
        jvm.wait(timeout)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.time() + timeout
    for pid in procs:
        while _running(pid) and time.time() < deadline:
            time.sleep(0.1)
        if _running(pid):
            os.kill(pid, signal.SIGKILL)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


def drop_caches(spark) -> None:
    """Uncache every DataFrame and unpersist every RDD, blocking."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.detail = False
        self.spans: list[dict] = []  # finished spans worth keeping
        self.own_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[dict] = []
        self._seq = 0

    def _label(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["group"])

    @contextmanager
    def span(self, name: str, counters: bool = False, **attrs):
        """Time a block.  Root spans (passes) always label their jobs;
        inner spans only while ``detail`` is on."""
        t0 = time.time()
        parent = self._stack[-1] if self._stack else None
        labelled = parent is None or self.detail
        self._seq += 1
        rec = {
            "id": self._seq,
            "name": name,
            "group": f"{parent['group']}:{name}" if parent else name,
            "parent": parent["id"] if parent else None,
            "pass": parent["pass"] if parent else name,
            **attrs,
        }
        counters = counters and self.detail
        if counters:
            cpu0, rdds0 = tree_cpu_s(), persistent_rdd_ids(self.sc)
        self._stack.append(rec)
        if labelled:
            self._label(rec)
        rec["start"] = time.time()
        self.own_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if labelled:
                self._label(parent)
                self.spans.append(rec)
            if counters:
                rec["cpu_s"] = tree_cpu_s() - cpu0
                rec["leaked_rdds"] = len(persistent_rdd_ids(self.sc) - rdds0)
            self.own_s += time.time() - rec["end"]

    def runner(self, spark, name: str, **kw) -> SuperstepRunner:
        """The runner to pass into ``pagerank(runner=...)``: one span per
        superstep while ``detail`` is on, the plain runner otherwise."""
        if self.detail:
            return SpanRunner(spark, name, self, **kw)
        return SuperstepRunner(spark, name, **kw)


class SpanRunner(SuperstepRunner):
    """A SuperstepRunner that opens a span per superstep.

    The runner calls ``_record`` once each iteration is materialized, so a
    superstep span runs from the previous record (or the start of ``run``)
    to this one.  The span left open after the last record covers only the
    return path; it is kept but marked ``tail``."""

    def __init__(self, spark, name: str, tracer: Tracer, **kw) -> None:
        super().__init__(spark, name, **kw)
        self.tracer = tracer
        self._open = None

    def _begin(self) -> None:
        self._open = self.tracer.span(f"ss{self.tracer._seq + 1}", step=True)
        self._rec = self._open.__enter__()

    def _end(self, iteration: int | None) -> None:
        if iteration is None:
            self._rec["tail"] = True
        else:
            self._rec["iteration"] = iteration
        self._open.__exit__(None, None, None)

    def run(self, *args, **kw):
        self._begin()
        try:
            return super().run(*args, **kw)
        finally:
            self._end(None)

    def _record(self, rec: dict) -> None:
        super()._record(rec)
        self._end(rec["iteration"])
        self._begin()
