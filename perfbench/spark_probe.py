"""Counters read from outside the program: Spark's status stores, the
final physical plans, the JVM's GC beans and /proc.

Every reader here runs outside the timed windows, after draining the
listener bus, so the stores hold the finished jobs and executions."""

from __future__ import annotations

import os
import re

EXCHANGES = {"Exchange", "BroadcastExchange", "ShuffleExchange"}
PYTHON_EVAL = re.compile(r"EvalPython|InPandas|InArrow|PythonUDTF")
_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


class Probe:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = spark._jvm
        self.app_store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        self._skew_quantiles = self.sc._gateway.new_array(self.jvm.double, 2)
        self._skew_quantiles[0], self._skew_quantiles[1] = 0.5, 1.0

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    # ---------------- jobs and stages ----------------

    def group_jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_stats(self, jobs: list[int]) -> dict:
        """Tasks, busy time, shuffle bytes and worst task skew of the
        stages the jobs ran (skipped stages ran nothing)."""
        out = {"tasks": 0, "busy_s": 0.0, "shuffle_write_bytes": 0, "skew": 1.0}
        seen: set[int] = set()
        for j in jobs:
            stages = self.app_store.job(j).stageIds()
            for i in range(stages.size()):
                sid = stages.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self.app_store.stageData(
                    sid, False, self.jvm.java.util.ArrayList(), False,
                    self._no_quantiles)
                for k in range(attempts.size()):
                    sd = attempts.apply(k)
                    if sd.status().toString() != "COMPLETE":
                        continue
                    out["tasks"] += sd.numCompleteTasks()
                    out["busy_s"] += sd.executorRunTime() / 1000.0
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    if sd.numCompleteTasks() > 1:
                        out["skew"] = max(out["skew"], self._skew(sid, sd.attemptId()))
        return out

    def _skew(self, stage: int, attempt: int) -> float:
        summary = self.app_store.taskSummary(stage, attempt, self._skew_quantiles)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return top / med if med > 0 else 1.0

    # ---------------- SQL executions ----------------

    def last_execution_id(self) -> int:
        n = self.sql_store.executionsCount()
        if n == 0:
            return -1
        return self.sql_store.executionsList(int(n) - 1, 1).apply(0).executionId()

    def executions_after(self, first_excluded: int) -> list:
        n = int(self.sql_store.executionsCount())
        newest = self.sql_store.executionsList(max(0, n - 64), 64)
        return [newest.apply(i) for i in range(newest.size())
                if newest.apply(i).executionId() > first_excluded]

    @staticmethod
    def completion_s(execution) -> float | None:
        done = execution.completionTime()
        return done.get().getTime() / 1000.0 if done.isDefined() else None

    def plan_stats(self, executions: list) -> dict:
        """Counts over the final (AQE) plan graphs, and the spill and sort
        fallback metrics of their nodes."""
        out = {"exchanges": 0, "python_eval_nodes": 0,
               "spill_bytes": 0, "sort_fallback_tasks": 0}
        for e in executions:
            eid = e.executionId()
            nodes = self.sql_store.planGraph(eid).allNodes()
            values = self.sql_store.executionMetrics(eid)
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name = node.name()
                if name in EXCHANGES:
                    out["exchanges"] += 1
                if PYTHON_EVAL.search(name):
                    out["python_eval_nodes"] += 1
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    if m.name() not in ("spill size", "number of sort fallback tasks"):
                        continue
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    if m.name() == "spill size":
                        out["spill_bytes"] += parse_size(v.get())
                    else:
                        out["sort_fallback_tasks"] += parse_count(v.get())
        return out

    def gc_ms(self) -> int:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size()))

def parse_size(text: str) -> int:
    """Total of a size metric as the SQL store spells it: a bare '1.5 MiB'
    or 'total (min, med, max ...)\\n1.5 MiB (...)'."""
    line = (text.strip().splitlines() or [""])[-1]
    m = _SIZE.search(line)
    return int(float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]) if m else 0


def parse_count(text: str) -> int:
    line = (text.strip().splitlines() or [""])[-1]
    m = re.search(r"[\d,]+", line)
    return int(m.group(0).replace(",", "")) if m else 0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_ram_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 2**20, 1)
    return 0.0


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:  # the process ended between listing and reading
        return None


def tree_cpu_s(root: int | None) -> float:
    """User plus system CPU seconds of this process, process `root` and
    every live descendant of `root` (the JVM's Python workers).  Time the
    host lends to other guests is not charged to a process, so on a
    shared machine this varies less than wall time."""
    me = _stat("self")
    own = int(me[11]) + int(me[12])
    if root is None:
        return own / _TICK
    stats = {p: _stat(p) for p in os.listdir("/proc") if p.isdigit()}
    children: dict[str, list[str]] = {}
    for pid, st in stats.items():
        if st:
            children.setdefault(st[1], []).append(pid)
    todo, ticks = [str(root)], 0
    while todo:
        pid = todo.pop()
        if stats.get(pid):
            ticks += int(stats[pid][11]) + int(stats[pid][12])
        todo.extend(children.get(pid, ()))
    return (ticks + own) / _TICK


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: steal is time the host gave
    to other guests, the main source of noise on a shared machine."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def git_commit(root: str) -> str | None:
    """HEAD of the checkout, read from .git without running git; None
    when the checkout is not a repository."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(git, ref)
        if os.path.exists(path):
            with open(path) as fh:
                return fh.read().strip()
        with open(os.path.join(git, "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None
