"""Counters read from outside the engine: ``/proc`` for the process tree,
the Spark status store and the JVM management beans for the session.

Nothing here touches package code; every value comes from the operating
system or from Spark's own bookkeeping.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# /proc: process tree, CPU split, memory
# --------------------------------------------------------------------------

def _stat(pid: int):
    """``(ppid, comm, cpu_seconds)`` from /proc/<pid>/stat, or None."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2:].split()
    # rest[0] is field 3 (state); utime..cstime are fields 14..17
    ticks = sum(int(x) for x in rest[11:15])
    return int(rest[1]), comm, ticks / _TICK


def tree(root: int) -> dict[int, tuple[str, float]]:
    """Every live process under ``root`` (inclusive): pid → (comm, cpu_s).

    CPU includes reaped children (cutime/cstime), so a worker that exits
    still counts against its parent."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = (stats[pid][1], stats[pid][2])
            todo.extend(kids.get(pid, ()))
    return out


def cpu_split(root: int) -> dict[str, float]:
    """CPU seconds so far of the driver process, the JVM and the Python
    workers (every other descendant)."""
    split = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0}
    for pid, (comm, cpu) in tree(root).items():
        if pid == root:
            split["driver"] += cpu
        elif comm == "java":
            split["jvm"] += cpu
        else:
            split["python_workers"] += cpu
    return split


def pss_mb(pids) -> float:
    """Summed proportional set size: resident memory with every shared
    page split among the processes mapping it, so a forked child (a
    Python worker, a process the JVM spawns) does not count its parent's
    pages twice, as summed RSS would."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            pass  # the process ended between listing and reading
    return total_kb / 1024


def loadavg() -> float:
    with open("/proc/loadavg", encoding="ascii") as f:
        return float(f.read().split()[0])


def machine() -> dict:
    with open("/proc/meminfo", encoding="ascii") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_gb": round(mem_kb / 2**20, 1)}


class MemSampler:
    """Samples the tree's summed PSS every ``period`` seconds on a daemon
    thread; ``peak_mb`` is the largest sample since the last ``reset``.
    One sample of a 3 GB JVM costs ~30 ms of kernel time, charged to
    this process, hence the low rate."""

    def __init__(self, root: int, period: float = 1.0):
        self.root = root
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="mem-sampler",
                                        daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, pss_mb(tree(self.root)))

    def reset(self) -> None:
        self.peak_mb = 0.0
        self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# --------------------------------------------------------------------------
# Spark status store and JVM beans (py4j, driver side)
# --------------------------------------------------------------------------

def _iter(jvm, seq):
    """Iterate a Scala ``Seq`` returned over py4j."""
    return iter(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


class SparkCounters:
    """Per-op deltas from the application status store: jobs, stages,
    tasks and failed tasks, plus input and shuffle bytes of the stages
    those jobs ran. Call ``mark`` before an op and ``since_mark`` after."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self._last_job = self._max_job()

    def _drain(self) -> None:
        # the store is fed by an asynchronous listener queue
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _jobs(self):
        return _iter(self.jvm, self.sc._jsc.sc().statusStore().jobsList(None))

    def _max_job(self) -> int:
        self._drain()
        return max((j.jobId() for j in self._jobs()), default=-1)

    def mark(self) -> None:
        self._last_job = self._max_job()

    def since_mark(self) -> dict:
        self._drain()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0,
               "input_bytes": 0, "shuffle_bytes": 0}
        stage_ids = set()
        last = self._last_job
        for j in self._jobs():
            if j.jobId() <= last:
                continue
            self._last_job = max(self._last_job, j.jobId())
            out["jobs"] += 1
            out["stages"] += j.numCompletedStages() + j.numFailedStages()
            out["tasks"] += j.numCompletedTasks() + j.numFailedTasks()
            out["tasks_failed"] += j.numFailedTasks()
            stage_ids.update(int(s) for s in _iter(self.jvm, j.stageIds()))
        if stage_ids:
            store = self.sc._jsc.sc().statusStore()
            gw = self.sc._gateway
            # stageList(statuses, details, withSummaries, quantiles, taskStatus)
            stages = store.stageList(None, False, False,
                                     gw.new_array(self.jvm.double, 0),
                                     self.jvm.java.util.ArrayList())
            for st in _iter(self.jvm, stages):
                if st.stageId() in stage_ids:
                    out["input_bytes"] += st.inputBytes()
                    out["shuffle_bytes"] += st.shuffleReadBytes()
        return out


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0
