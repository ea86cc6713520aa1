"""Outside-in counters for one Spark session.

Everything here reads state the session already keeps, after the action
has finished, so none of it adds a Spark job to the measured path:

- job, stage and task counts per operation, from ``setJobGroup`` and the
  status tracker, plus executor CPU and GC time per stage from the
  application status store;
- exchanges, shuffle bytes, spill bytes and scan bytes from the SQL
  metrics of a DataFrame's executed plan, walked through adaptive query
  stages and subqueries;
- block-manager bytes held by persisted and checkpointed RDDs;
- resident memory (PSS) of the JVM and its Python workers, sampled from
  /proc.
"""

from __future__ import annotations

import os
import threading

EXCHANGES = ("ShuffleExchangeExec", "BroadcastExchangeExec")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def plan_counts(df) -> dict[str, int]:
    """Exchanges, shuffle/spill/scan bytes of ``df``'s executed plan.

    Read after an action on ``df``: the adaptive plan is final then and
    its SQL metrics hold the values of that execution."""
    out = {"exchanges": 0, "shuffle_bytes": 0, "spill_bytes": 0, "scan_bytes": 0}
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        m = _metrics(node)
        if cls in EXCHANGES:
            out["exchanges"] += 1
        out["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        out["spill_bytes"] += m.get("spillSize", 0)
        if cls == "FileSourceScanExec":
            out["scan_bytes"] += m.get("filesSize", 0)
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return out


class JobCounter:
    """Job/stage/task counts and stage CPU/GC time per job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    def group(self, name: str) -> str:
        self.sc.setJobGroup(name, name)
        return name

    def counts(self, group: str) -> dict[str, float]:
        """Jobs of ``group``; stages and tasks that ran (AQE leaves
        skipped stages in a job's stage list, they count as zero)."""
        jobs = self.tracker.getJobIdsForGroup(group)
        stages: set[int] = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0}
        for s in stages:
            info = self.tracker.getStageInfo(s)
            if info is None or info.numCompletedTasks == 0:
                continue
            out["stages"] += 1
            out["tasks"] += info.numCompletedTasks
            data = self.store.stageAttempt(s, info.currentAttemptId, False, None, False, None)._1()
            out["cpu_s"] += data.executorCpuTime() / 1e9
            out["gc_s"] += data.jvmGcTime() / 1e3
        return out


def block_bytes(spark) -> int:
    """Bytes the block manager holds for persisted/checkpointed RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            kids.append(int(entry))
    return kids


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each shared page split
    among the processes that map it, so forked Python workers that share
    their parent's pages are not counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory (PSS) of a process tree, the JVM and the
    Python workers it forks, sampled on a background thread."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root = root_pid
        self.exe = _exe(root_pid)
        self.interval = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        total, todo = _pss_bytes(self.root), _children(self.root)
        while todo:
            pid = todo.pop()
            # a child still running the root's binary is a process spawn
            # in progress (vfork), which shares the root's address space
            # until it execs; counting it would count the JVM twice
            if _exe(pid) != self.exe:
                total += _pss_bytes(pid)
            todo.extend(_children(pid))
        self.peak = max(self.peak, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> RssSampler:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
