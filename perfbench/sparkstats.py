"""Spark-side numbers read from outside the program: job and stage task
metrics from the status store, the SQL metrics of each plan node, and the
resident memory of the Python worker processes from ``/proc``."""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from pathlib import Path

_UNITS = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """SQL metric display string → number (bytes, seconds or a count).

    Aggregated metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first value on the last line."""
    m = _VALUE_RE.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class StatusReader:
    """Per job group: jobs, stage task metrics and SQL node metrics."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self._sql_index: dict[str, list] | None = None

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, group: str) -> list[dict]:
        out = []
        for j in self.job_ids(group):
            info = self.sc.statusTracker().getJobInfo(j)
            for sid in info.stageIds if info else []:
                data = self.store.stageData(sid, False, None, False, self._no_quantiles)
                for k in range(data.size()):
                    s = data.apply(k)
                    if str(s.status()) != "COMPLETE":
                        continue  # skipped stages (reused shuffle output)
                    tasks = self.store.taskList(sid, s.attemptId(), 100_000)
                    durs = []
                    for t in range(tasks.size()):
                        d = tasks.apply(t).duration()
                        if d.isDefined():
                            durs.append(d.get() / 1e3)
                    sub, done = s.submissionTime(), s.completionTime()
                    out.append({
                        "stage": sid,
                        "run_s": s.executorRunTime() / 1e3,
                        "wall_s": (done.get().getTime() - sub.get().getTime()) / 1e3
                        if sub.isDefined() and done.isDefined() else 0.0,
                        "shuffle_write_b": s.shuffleWriteBytes(),
                        "shuffle_read_b": s.shuffleReadBytes(),
                        "task_s": durs,
                    })
        return out

    def sql_metrics(self, group_desc: str) -> list[tuple[str, str, float]]:
        """(node name, metric name, value) for every SQL execution whose
        description is ``group_desc``. The store is indexed on first use,
        so read it after the passes it should cover."""
        if self._sql_index is None:
            self._sql_index = {}
            execs = self.sql.executionsList()
            for i in range(execs.size()):
                e = execs.apply(i)
                rows = self._sql_index.setdefault(e.description(), [])
                values = self.sql.executionMetrics(e.executionId())
                nodes = self.sql.planGraph(e.executionId()).allNodes()
                for n in range(nodes.size()):
                    node = nodes.apply(n)
                    metrics = node.metrics()
                    for k in range(metrics.size()):
                        m = metrics.apply(k)
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            rows.append((node.name().strip(), m.name(), parse_metric(v.get())))
        return self._sql_index.get(group_desc, [])


def heaviest_stage_skew(stages: list[dict]) -> float:
    """max ÷ median task wall of the stage with the most task time."""
    if not stages:
        return 0.0
    top = max(stages, key=lambda s: s["run_s"])
    med = statistics.median(top["task_s"]) if top["task_s"] else 0.0
    return max(top["task_s"]) / med if med > 0 else 0.0


def _ppid(pid: int) -> int | None:
    try:
        return int(Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None  # the process ended between listing and reading


def _descendants(root: int, parents: dict[int, int | None] | None = None) -> set[int]:
    """Every process under ``root``. ``parents`` caches each pid's parent
    across calls, so a repeated walk reads only the stat of new pids."""
    parents = {} if parents is None else parents
    children: dict[int | None, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            pid = int(name)
            if pid not in parents:
                parents[pid] = _ppid(pid)
            children.setdefault(parents[pid], []).append(pid)
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every process under it (the
    JVM, the Python workers), including their reaped children."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _descendants(root) | {root}:
        try:
            f = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue  # the process ended between listing and reading
    return total / tick


def host_cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host since boot, from /proc/stat."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return sum(f), f[7]


def _is_python_worker(pid: int) -> bool:
    try:
        cmd = Path(f"/proc/{pid}/cmdline").read_bytes()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


class RssSampler:
    """Background sampler of the summed resident memory of the PySpark
    worker processes under this process; keeps the peak. Each sample lists
    ``/proc`` but reads the parent and command line of a pid only once, and
    ``cpu_s`` holds the sampler's own CPU time, so callers can leave it
    out of theirs."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0.0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        t0 = time.thread_time()
        me, page = os.getpid(), os.sysconf("SC_PAGE_SIZE")
        parents: dict[int, int | None] = {}
        worker: dict[int, bool] = {}
        while not self._stop.wait(self.interval_s):
            total = 0
            for pid in _descendants(me, parents):
                if pid not in worker:
                    worker[pid] = _is_python_worker(pid)
                if worker[pid]:
                    try:
                        total += int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * page
                    except (OSError, IndexError, ValueError):
                        continue  # the worker ended between listing and reading
            self.peak = max(self.peak, float(total))
        self.cpu_s = time.thread_time() - t0

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
