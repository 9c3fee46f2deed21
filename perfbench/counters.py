"""Counter readers that sit outside the package.

Spark side: stage counters from the core status store and per-operator SQL
metrics from the SQL status store, both attributed to a job group (the
caller wraps each measured call in ``sc.setJobGroup``). Both stores are
filled with the UI disabled. The Scala ``Seq`` results are walked with
``size()``/``apply(i)``; Python iteration over them raises ``TypeError``.

Process side: CPU and peak RSS of the Spark JVM and its Python workers,
read from ``/proc``.
"""

from __future__ import annotations

import os
from pathlib import Path

STAGE_FIELDS = (
    "cpu_s", "busy_s", "shuffle_write_mb", "output_mb", "input_rows", "stages", "failed_tasks"
)


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _count(v: str) -> int:
    # sum metrics print as "12,345"; multi-task ones as "total (...)\n12,345 (...)"
    return int(v.splitlines()[-1].split(" ")[0].replace(",", ""))


class SparkCounters:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._tracker = self.sc.statusTracker()
        self._stages = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)

    def job_ids(self, groups) -> set[int]:
        out: set[int] = set()
        for g in groups:
            out.update(self._tracker.getJobIdsForGroup(g))
        return out

    def stage_totals(self, groups) -> dict:
        """Sums over every stage attempt of the groups' jobs. Skipped stages
        (reused shuffle output) carry no work and are not counted."""
        stage_ids: set[int] = set()
        for j in self.job_ids(groups):
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        tot = dict.fromkeys(STAGE_FIELDS, 0.0)
        if not stage_ids:
            return tot
        for s in _seq(self._stages.stageList(None, False, False, self._no_quantiles, None)):
            if s.stageId() not in stage_ids or s.status().toString() == "SKIPPED":
                continue
            tot["cpu_s"] += s.executorCpuTime() / 1e9
            tot["busy_s"] += s.executorRunTime() / 1e3
            tot["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
            tot["output_mb"] += s.outputBytes() / 1e6
            tot["input_rows"] += s.inputRecords()
            tot["stages"] += 1
            tot["failed_tasks"] += s.numFailedTasks()
        return tot

    def sql_rows(self, groups) -> dict:
        """Row counts from the SQL plans of the groups' jobs:

        - ``rows_out``: the top-most operator that counts output rows (the
          writer, or the operator under a ``noop`` sink);
        - ``python_rows``: rows returned by Arrow/batch Python UDF operators;
        - ``scan_rows``: rows produced by file scans.
        """
        jobs = self.job_ids(groups)
        out = {"rows_out": 0, "python_rows": 0, "scan_rows": 0}
        for e in _seq(self._sql.executionsList()):
            if not any(e.jobs().contains(j) for j in jobs):
                continue
            eid = e.executionId()
            values = self._sql.executionMetrics(eid)
            top = None
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                for m in _seq(node.metrics()):
                    if m.name() != "number of output rows":
                        continue
                    v = values.get(m.accumulatorId())
                    n = _count(v.get()) if v.isDefined() else 0
                    if top is None:
                        top = n
                    if "EvalPython" in name:
                        out["python_rows"] += n
                    elif name.startswith("Scan "):
                        out["scan_rows"] += n
            out["rows_out"] += top or 0
        return out


# ---------------------------------------------------------------- /proc ----

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    raw = Path(f"/proc/{pid}/stat").read_text()
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
    return comm, int(f[1]), sum(int(x) for x in f[11:15]) / _TICK


def _procs() -> dict[int, tuple]:
    out = {}
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            try:
                out[int(p.name)] = _stat(int(p.name))
            except (OSError, ValueError):
                pass  # exited while scanning
    return out


def java_pids() -> list[int]:
    return [pid for pid, (comm, _, _) in _procs().items() if comm == "java"]


def descendants(root: int, procs: dict | None = None) -> list[int]:
    procs = procs if procs is not None else _procs()
    kids: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def worker_cpu_s(jvm_pid: int) -> float:
    """CPU of the JVM's Python workers, including reaped ones (the worker
    daemon's ``cutime``). Stage ``executorCpuTime`` counts JVM threads only."""
    procs = _procs()
    return sum(procs[p][2] for p in descendants(jvm_pid, procs) if p in procs)


def _hwm_kb(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS of the JVM plus that of each live Python worker."""
    return sum(_hwm_kb(p) for p in [jvm_pid, *descendants(jvm_pid)]) / 1024
