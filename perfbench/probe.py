"""Measurement probes the benchmark takes from outside the program.

- ``ProcTree``: CPU seconds and resident memory of this process and its
  whole live subtree, read from /proc and split into JVM time (the
  py4j-launched ``java`` process, where local-mode executors run) and
  Python time (this process, pyspark.daemon and its workers, and the fit
  pool this process forks).
- ``RssSampler``: a thread that polls the subtree's resident memory
  (summed PSS) and keeps the peak.
- ``gc_seconds``: total JVM garbage-collection time, from
  ``ManagementFactory.getGarbageCollectorMXBeans()`` over py4j.
- ``codegen_compiles``: whole-stage codegen compilations, from Spark's
  ``CodegenMetrics`` over py4j.
- ``group_counts``: Spark jobs and completed tasks of one job group, read
  through ``SparkContext.statusTracker()`` (works with the UI disabled).
- ``Tracer``: in-memory spans (name, start, end, parent, pass id) with
  counts attached, written out once at the end of a run.

Known under-count of the /proc walk: a descendant that is orphaned
(reparented to PID 1) or daemonizes leaves the subtree, and its CPU is
then in no walked process and no walked ancestor's cutime/cstime.  A
pyspark.daemon worker can outlive its parent this way, so deltas are a
floor, not an exact census.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, comm, cpu ticks incl. reaped children, rss pages)."""
    out: dict[int, tuple[int, str, int, int]] = {}
    for ent in os.listdir("/proc"):
        if not ent.isdigit():
            continue
        try:
            with open(f"/proc/{ent}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue  # raced a process exit
        head, _, rest = raw.rpartition(") ")
        comm = head.partition(" (")[2]
        f = rest.split()
        # fields after "(comm) ": state(0) ppid(1) ... utime(11) stime(12)
        # cutime(13) cstime(14) ... rss(21)
        out[int(ent)] = (
            int(f[1]),
            comm,
            int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]),
            int(f[21]),
        )
    return out


def _pss_kb(pid: int) -> int | None:
    """Proportional set size of one process, or None when unreadable."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


class ProcTree:
    """Snapshot reader for the subtree rooted at this process."""

    def __init__(self, root_pid: int | None = None):
        self.root = root_pid or os.getpid()

    def _subtree(self):
        table = _proc_table()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, *_rest) in table.items():
            kids.setdefault(ppid, []).append(pid)
        stack = [self.root]
        while stack:
            pid = stack.pop()
            if pid in table:
                yield pid, table[pid]
                stack.extend(kids.get(pid, ()))

    def descendants(self) -> list[int]:
        return [pid for pid, _ in self._subtree() if pid != self.root]

    def cpu(self) -> dict[str, float]:
        """{"jvm": s, "python": s} consumed so far by the subtree."""
        jvm = py = 0
        for _pid, (_ppid, comm, ticks, _rss) in self._subtree():
            if comm == "java":
                jvm += ticks
            else:
                py += ticks
        return {"jvm": jvm / _HZ, "python": py / _HZ}

    def rss_mb(self) -> float:
        """Resident memory of the subtree: the sum of each process's PSS,
        which splits a shared page among the processes sharing it.  A sum
        of RSS would count the driver's pages again in every child it
        forks (the fit pool, pyspark.daemon's workers) and jump by
        gigabytes while such children live."""
        kb = 0
        for pid, e in self._subtree():
            pss = _pss_kb(pid)
            kb += e[3] * _PAGE // 1024 if pss is None else pss
        return kb / 1024


class RssSampler:
    """Background poll of the subtree's resident memory; ``peak_mb`` is the
    largest sum seen since the last ``reset``."""

    def __init__(self, tree: ProcTree, period_s: float = 0.2):
        self._tree = tree
        self._period = period_s
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._peak = 0.0
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            mb = self._tree.rss_mb()
            with self._lock:
                self._peak = max(self._peak, mb)

    def reset(self) -> None:
        with self._lock:
            self._peak = self._tree.rss_mb()

    @property
    def peak_mb(self) -> float:
        with self._lock:
            return self._peak


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def codegen_compiles(spark) -> int:
    """Generated classes compiled so far in this JVM, from Spark's
    ``CodegenMetrics``; a hit in the codegen cache compiles nothing."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


def group_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, completed tasks) recorded under one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numCompletedTasks
    return len(jobs), tasks


class Tracer:
    """Spans kept in memory.  Each span runs its Spark jobs under its own
    job group, so jobs and tasks are counted per span; its CPU split and
    GC time are deltas taken at its boundaries.  ``enabled=False`` turns
    ``span`` into a no-op that still yields a dict for counts."""

    def __init__(self, spark, tree: ProcTree, enabled: bool):
        self.spark = spark
        self.tree = tree
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0
        self.pass_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._seq,
            "name": name,
            "parent": parent["id"] if parent else None,
            "pass_id": self.pass_id,
            "group": f"span-{os.getpid()}-{self._seq}",
        }
        sc = self.spark.sparkContext
        sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        cpu0, gc0 = self.tree.cpu(), gc_seconds(self.spark)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            cpu1, gc1 = self.tree.cpu(), gc_seconds(self.spark)
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            rec["wall_s"] = rec["end"] - rec["start"]
            rec["cpu_jvm_s"] = cpu1["jvm"] - cpu0["jvm"]
            rec["cpu_py_s"] = cpu1["python"] - cpu0["python"]
            rec["gc_s"] = gc1 - gc0
            rec["jobs"], rec["tasks"] = group_counts(self.spark, rec["group"])
            self.spans.append(rec)

    def materialize(self, df):
        """Traced passes cut the plan at each layer boundary, so the next
        layer's span starts from computed rows; untraced passes keep
        Spark's fused plan."""
        return df.localCheckpoint(eager=True) if self.enabled else df
