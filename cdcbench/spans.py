"""Outside-in tracing and Spark-side probes for the CDC benchmark.

Spans are recorded around the calls the benchmark makes into the
library; nothing inside ``debezium_spark`` is instrumented. Counters
come from Spark itself through py4j:

- a ``QueryExecutionListener`` hands over every executed
  ``QueryExecution``; its final adaptive plan carries the operator SQL
  metrics (rows, scan/sort time, shuffle bytes, spill, peak memory)
  and its ``tracker()`` the Catalyst phase times;
- a ``StreamingQueryListener`` records one progress event per epoch;
- ``statusTracker`` counts the jobs started under a job group;
- the JVM's MXBeans give GC time, ``/proc`` gives peak RSS, CPU time
  of the process tree and the host's steal time, which ``busy_cpu``
  takes out of the CPU time.
"""

from __future__ import annotations

import contextlib
import json
import os
import resource
import threading
import time
from collections import defaultdict
from typing import NamedTuple

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory spans: name, layer, start, end, parent span, plus the
    workload and run id. A disabled tracer records nothing."""

    def __init__(self, enabled: bool, workload: str, run_id: str):
        self.enabled = enabled
        self.workload = workload
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "layer": layer,
            "workload": self.workload,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, root: int) -> dict[str, float]:
        """Per-layer self time under span ``root``: each span's duration
        minus the part of it its children cover (children never overlap,
        because the benchmark is single-threaded)."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        todo = [self.spans[root]]
        while todo:
            s = todo.pop()
            kids = children.get(s["id"], [])
            covered = sum(k["end"] - k["start"] for k in kids)
            out[s["layer"]] += (s["end"] - s["start"]) - covered
            todo.extend(kids)
        return dict(out)

    def write_jsonl(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")


class QueryExecutions:
    """Collects the ``QueryExecution`` of every action while active.

    Registered once per session through the py4j callback server; the
    listener bus delivers asynchronously, so ``drain`` first waits for
    the bus to empty."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._sc = spark.sparkContext
        self._lock = threading.Lock()
        self._got: list = []  # py4j QueryExecution objects
        self.active = False
        ensure_callback_server_started(self._sc._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        if self.active:
            with self._lock:
                self._got.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    def drain(self) -> list:
        wait_listener_bus(self._sc)
        with self._lock:
            got, self._got = self._got, []
        return got

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class EpochListener(StreamingQueryListener):
    """One record per streaming epoch that read input."""

    def __init__(self):
        self.epochs: list[dict] = []
        self.mark: Stamp | None = None  # clocks at the previous epoch end

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        now = stamp()
        if p.numInputRows > 0:
            self.epochs.append(
                {
                    "run_id": str(p.runId),
                    "batch_id": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "cpu_s": busy_cpu(self.mark, now),
                }
            )
        self.mark = now

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


def wait_listener_bus(sc) -> None:
    sc._jsc.sc().listenerBus().waitUntilEmpty()


# --------------------------------------------------------------------------
# Plan metrics
# --------------------------------------------------------------------------
def _walk(plan, out: list) -> None:
    metrics = {}
    it = plan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        metrics[kv._1()] = (m.value(), m.metricType())
    out.append((plan.nodeName(), metrics))
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        _walk(plan.executedPlan(), out)
    elif cls.endswith("QueryStageExec"):
        _walk(plan.plan(), out)
    elif cls != "ReusedExchangeExec":  # its metrics belong to the original
        ch = plan.children().iterator()
        while ch.hasNext():
            _walk(ch.next(), out)


def plan_summary(qe) -> dict:
    """Operator counters of one executed query, read from its final
    adaptive plan, plus its Catalyst phase times."""
    nodes: list = []
    _walk(qe.executedPlan(), nodes)
    s: dict[str, float] = defaultdict(float)
    for name, ms in nodes:
        val = lambda k: ms[k][0] if k in ms else 0  # noqa: E731
        if name.startswith("Scan"):
            s["scan_ms"] += val("scanTime")
            s["scan_rows"] += val("numOutputRows")
            s["scan_bytes"] += val("filesSize")
        if name == "Sort":
            s["sort_ms"] += val("sortTime")
        if name == "Exchange":
            s["shuffle_bytes"] += val("shuffleBytesWritten")
        if name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
            s["write_rows"] += val("numOutputRows")
            s["write_files"] += val("numFiles")
            s["write_bytes"] += val("numOutputBytes")
        s["spill_bytes"] += val("spillSize")
        s["peak_mem_bytes"] = max(s["peak_mem_bytes"], val("peakMemory"))
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        s[f"{kv._1()}_ms"] += kv._2().durationMs()
    return dict(s)


# --------------------------------------------------------------------------
# JVM and process probes
# --------------------------------------------------------------------------
def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak RSS of the driver JVM plus this Python process."""
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def tree_cpu_seconds() -> float:
    """User plus system CPU time of this process, its reaped children
    and every live descendant (the driver JVM and any Python workers it
    forks), less what the JVM's JIT compiler threads spent.

    Compilation is warm-up work whose amount in a short run depends on
    how long the JVM has been up and how busy the host is, not on the
    work timed: in ``query_mix`` passes after a five-pass warm-up the
    compiler threads still took about half of the process's CPU, and
    the spread of that share across runs was most of the spread of the
    total."""
    me = os.getpid()
    tick = os.sysconf("SC_CLK_TCK")
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    jvms: set[int] = set()
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:  # the process ended while we looked
            continue
        f = raw.rsplit(")", 1)[1].split()
        parent[int(d)] = int(f[1])
        ticks[int(d)] = int(f[11]) + int(f[12])
        if raw.split(" ", 1)[1].startswith("(java)"):
            jvms.add(int(d))
    mine = [pid for pid in ticks if _descends(pid, me, parent)]
    t = os.times()
    cpu = sum(ticks[pid] for pid in mine) / tick + t.children_user + t.children_system
    return cpu - sum(jit_cpu_seconds(pid) for pid in mine if pid in jvms)


def _descends(pid: int, root: int, parent: dict[int, int]) -> bool:
    while pid > 1 and pid != root:
        pid = parent.get(pid, 0)
    return pid == root


def jit_cpu_seconds(pid: int) -> float:
    """CPU time of a JVM's JIT compiler threads. The session is started
    with ``-XX:-UseDynamicNumberOfCompilerThreads``, so these threads
    live as long as the JVM and none of their time is lost when one
    would otherwise exit."""
    ticks = 0
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for t in tasks:
        try:
            with open(f"/proc/{pid}/task/{t}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        if raw[raw.index("(") + 1:].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            f = raw.rsplit(")", 1)[1].split()
            ticks += int(f[11]) + int(f[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _count_cpus() -> int:
    """CPUs the steal in ``/proc/stat`` is summed over."""
    with open("/proc/stat") as fh:
        return sum(1 for ln in fh if ln.startswith("cpu") and ln[3].isdigit())


N_CPUS = _count_cpus()


class Stamp(NamedTuple):
    wall: float
    cpu: float  # tree_cpu_seconds()
    steal: float  # steal_seconds()


def stamp() -> Stamp:
    return Stamp(time.perf_counter(), tree_cpu_seconds(), steal_seconds())


def busy_cpu(a: Stamp, b: Stamp) -> float:
    """Process-tree CPU seconds between two stamps, less the share of
    the host's steal that fell on them.

    On a guest whose CPUs the hypervisor shares, the CPU time the guest
    reports for a process rises with steal. Measured on a 4-vCPU guest:
    a drain that saw 25 s of steal read 27.4 CPU-s, against 18-21 CPU-s
    for drains of the same size with under 2 s; scaled by the share of
    vCPU time not stolen, ``1 - steal / (cpus * wall)``, it read 20.1.
    """
    wall = b.wall - a.wall
    cpu = b.cpu - a.cpu
    if wall <= 0:
        return cpu
    stolen = min(1.0, (b.steal - a.steal) / (N_CPUS * wall))
    return cpu * (1.0 - stolen)


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
