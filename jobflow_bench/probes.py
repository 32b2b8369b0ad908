"""Counters read from outside the program: the process tree in
``/proc`` and Spark's driver-side status store.

The status store is read through ``statusTracker().getJobIdsForGroup``
and ``statusStore().lastStageAttempt``, both of which work with
``spark.ui.enabled=false``.  The store keeps only the last
``spark.ui.retainedJobs`` / ``retainedStages`` entries, so callers read
the counters of a job flow right after it ends.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()  # fields from `state` on


def process_tree() -> list[int]:
    """This process and all its descendants: the driver JVM and the
    Python workers it forks."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(int(st[1]), []).append(int(name))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s() -> float:
    """User+sys CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in process_tree():
        st = _stat(pid)
        if st:
            total += sum(int(v) for v in st[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_rss_mb() -> float:
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError):
            pass
    return total * _PAGE / 2**20


def disk_bytes(path) -> int:
    """Bytes of the file ``path`` or of the regular files under it (0 if
    it is missing)."""
    path = Path(path)
    if path.is_file():
        return path.stat().st_size
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class RssSampler:
    """Samples the tree's resident memory every 0.25 s on a daemon
    thread; ``peak`` holds the maximum seen inside the ``with`` block."""

    def __init__(self):
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(0.25):
            self.peak = max(self.peak, tree_rss_mb())

    def __enter__(self) -> "RssSampler":
        self.peak = tree_rss_mb()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


@dataclass
class StageTotals:
    """Sums over the stages of a set of Spark jobs."""

    jobs: int = 0
    tasks: int = 0
    shuffle_write_records: int = 0
    shuffle_write_bytes: int = 0
    executor_run_ms: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0


class SparkCounters:
    """Job and stage counters of one SparkContext."""

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()

    def job_ids(self, group: str) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def totals(self, job_ids) -> StageTotals:
        out = StageTotals(jobs=len(job_ids))
        stage_ids = set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                s = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 -- evicted or never attempted
                continue
            out.tasks += s.numCompleteTasks()
            out.shuffle_write_records += s.shuffleWriteRecords()
            out.shuffle_write_bytes += s.shuffleWriteBytes()
            out.executor_run_ms += s.executorRunTime()
            out.gc_ms += s.jvmGcTime()
            out.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out


def python_worker_ms(spark, df) -> int:
    """Spark's ``pythonTotalTime`` SQL metric (summed over tasks) of the
    Python UDF nodes in the plan that built ``df``'s cache."""
    jdf = df._jdf
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(jdf)
    if cached.isEmpty():
        return 0
    todo = [cached.get().cachedRepresentation().cacheBuilder().cachedPlan()]
    total = 0
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls.endswith("EvalPythonExec"):
            metric = node.metrics().get("pythonTotalTime")
            if not metric.isEmpty():
                total += metric.get().value()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return total

