"""Measurement probes the benchmark takes from outside the package.

Nothing here changes what the program does: the probes read the JVM's
management beans, Spark's status store and ``/proc``. The host-noise
counters (``_jiffies``, ``_tree_cpu_sec``) and the JVM churn reader
(``_jvm_churn_ms``) are the ones ``bench.py`` already uses.
"""

from __future__ import annotations

import os
import re
import threading
import time

from bench import _jiffies, _jvm_churn_ms, _tree_cpu_sec

# physical plan nodes that run Python workers (SNIPPETS [2]); a stage
# holding one of them is charged to providers.python_run_s
PYTHON_NODES = (
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandasWithState",
    "TransformWithStateInPandas",
)

STAGE_FIELDS = (
    "stages",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "peak_mem_mb",
    "input_mb",
    "python_run_s",
)

MB = 1024.0 * 1024.0


class Spans:
    """Trace spans kept in memory and written out when the run ends.

    Each span has a name, start and end (seconds since the tracer was
    made), the id of the span that caused it, and optional counts."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.items: list[dict] = []

    def begin(self, name: str, parent: int | None = None) -> int:
        self.items.append(
            {
                "id": len(self.items),
                "parent": parent,
                "name": name,
                "start_s": time.perf_counter() - self.t0,
            }
        )
        return len(self.items) - 1

    def end(self, span: int, **counts) -> float:
        """Close ``span``; returns its duration in seconds."""
        item = self.items[span]
        item["end_s"] = time.perf_counter() - self.t0
        item.update(counts)
        return item["end_s"] - item["start_s"]


class Noise:
    """Host contention over a window: steal and iowait share of all CPU
    jiffies, and CPU-seconds burned by the whole process tree."""

    def __init__(self) -> None:
        self.j0 = _jiffies()
        self.c0 = _tree_cpu_sec()
        self.t0 = time.perf_counter()

    def report(self) -> dict:
        j1, c1 = _jiffies(), _tree_cpu_sec()
        wall = time.perf_counter() - self.t0
        out: dict = {"wall_s": wall}
        if self.j0 and j1 and j1[0] > self.j0[0]:
            total = j1[0] - self.j0[0]
            out["steal_pct"] = 100.0 * (j1[1] - self.j0[1]) / total
            out["iowait_pct"] = 100.0 * (j1[2] - self.j0[2]) / total
        if self.c0 is not None and c1 is not None and c1 >= self.c0 and wall > 0:
            out["cpu_over_wall"] = (c1 - self.c0) / wall
        return out


def jvm_gc_jit_s(spark) -> tuple[float, float]:
    """Cumulative (gc_s, jit_s) of the local-mode JVM, kept apart."""
    churn = _jvm_churn_ms(spark)
    if churn is None:
        return 0.0, 0.0
    return churn[0] / 1000.0, churn[1] / 1000.0


def tree_rss_mb() -> float:
    """Resident memory of this process and all its descendants: the
    Python process, the JVM and the Arrow/Python workers the JVM forks."""
    page = os.sysconf("SC_PAGE_SIZE")
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        parent[int(entry)] = int(raw[raw.rindex(")") + 2 :].split()[1])
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    total = 0
    stack = [os.getpid()]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
        stack.extend(kids.get(pid, []))
    return total / MB


class RssSampler:
    """Peak process-tree RSS over a window, sampled on a daemon thread."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def _graph_names(status_store, stage_id: int) -> list[str]:
    """Names of the plan-node clusters in one stage's RDD graph."""
    names: list[str] = []
    stack = [status_store.operationGraphForStage(stage_id).rootCluster()]
    while stack:
        cluster = stack.pop()
        it = cluster.childClusters().iterator()
        while it.hasNext():
            child = it.next()
            names.append(child.name())
            stack.append(child)
    return names


def stage_metrics(spark, job_ids) -> dict[str, float]:
    """Sum the executor metrics of every stage the given jobs ran.

    Path: job -> stage ids (status tracker) -> last stage attempt in the
    app status store, which is kept with the UI disabled. Stages AQE
    skipped report no tasks and add nothing."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    seen: set[int] = set()
    for job in job_ids:
        info = sc.statusTracker().getJobInfo(job)
        if info is None:
            continue
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j: stage evicted from the store
                continue
            if st.numCompleteTasks() == 0:
                continue
            run_s = st.executorRunTime() / 1000.0
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["task_run_s"] += run_s
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
            out["peak_mem_mb"] = max(out["peak_mem_mb"], st.peakExecutionMemory() / MB)
            out["input_mb"] += st.inputBytes() / MB
            if any(n.split(" (")[0] in PYTHON_NODES for n in _graph_names(store, sid)):
                out["python_run_s"] += run_s
    return out


def group_jobs(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def batch_jobs_by_description(spark, group: str) -> dict[int, list[int]]:
    """A streaming query's jobs (its job group is the query's runId),
    keyed by the micro-batch id Spark writes into each job's
    description (``... batch = N``)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out: dict[int, list[int]] = {}
    for job in group_jobs(spark, group):
        try:
            desc = store.job(job).description()
        except Exception:  # py4j: job evicted from the store
            continue
        match = re.search(r"batch = (\d+)", desc.get() if desc.isDefined() else "")
        if match:
            out.setdefault(int(match.group(1)), []).append(job)
    return out
