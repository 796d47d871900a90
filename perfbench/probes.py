"""Read-only probes the benchmark attaches from outside the program:
spans around its own calls, a streaming-progress listener, a walk of
the AQE final plan's SQL metrics, per-stage task counts from the
status tracker, and a host record.  Nothing here changes what the
engine computes.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory.

    With ``enabled`` false, ``span`` records nothing, so an untraced
    run pays one context-manager entry per call.
    """

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()


class ProgressListener(StreamingQueryListener):
    """Collects every query's progress events, keyed by query id.

    ``run_bounded`` keeps the query handle to itself, so callers take
    the id of the last query started and ``wait`` for its terminated
    event, after which all of its progress events have arrived.
    """

    def __init__(self):
        self._cond = threading.Condition()
        self.started: list[tuple[str, str]] = []  # (query id, name)
        self.progress: dict[str, list[dict]] = {}
        self.terminated: dict[str, str | None] = {}  # id -> exception text

    def onQueryStarted(self, event):
        with self._cond:
            self.started.append((str(event.id), event.name))

    def onQueryProgress(self, event):
        with self._cond:
            self.progress.setdefault(str(event.progress.id), []).append(
                json.loads(event.progress.json)
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cond:
            self.terminated[str(event.id)] = event.exception
            self._cond.notify_all()

    def last_started(self) -> tuple[str, str]:
        with self._cond:
            return self.started[-1]

    def wait(self, query_id: str, timeout: float = 120.0) -> tuple[list[dict], str | None]:
        """Progress events and exception text of a finished query."""
        with self._cond:
            if not self._cond.wait_for(lambda: query_id in self.terminated, timeout):
                raise TimeoutError(f"no terminated event for query {query_id}")
            return self.progress.pop(query_id, []), self.terminated.pop(query_id)


# --- AQE final-plan SQL metrics ----------------------------------------

_PYTHON_NODES = ("MapInPandas", "MapInArrow", "PythonMapInArrow", "ArrowEvalPython",
                 "BatchEvalPython", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                 "AggregateInPandas", "WindowInPandas")


def _metric_ms(metric) -> float:
    kind = metric.metricType()
    value = metric.value()
    return value / 1e6 if kind == "nsTiming" else float(value)


def plan_counters(plan) -> dict[str, float]:
    """Sum an executed physical plan's SQL metrics into layer counters.

    Query stages are entered through ``.plan()``; a reused exchange is
    skipped, its metrics belong to the exchange it reuses.  Timings are
    summed over tasks, so on several cores they can exceed wall time.
    """
    c = dict.fromkeys(("scan_ms", "agg_ms", "sort_ms", "shuffle_write_ms", "shuffle_bytes",
                       "spill_bytes", "python_rows", "python_bytes", "bnlj_count"), 0.0)
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
            continue
        if name.startswith("ReusedExchange"):
            continue
        if name.startswith("BroadcastNestedLoopJoin"):
            c["bnlj_count"] += 1
        python = name.startswith(_PYTHON_NODES)
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key, metric = kv._1(), kv._2()
            if key == "scanTime":
                c["scan_ms"] += _metric_ms(metric)
            elif key == "aggTime":
                c["agg_ms"] += _metric_ms(metric)
            elif key == "sortTime":
                c["sort_ms"] += _metric_ms(metric)
            elif key == "shuffleWriteTime":
                c["shuffle_write_ms"] += _metric_ms(metric)
            elif key == "shuffleBytesWritten":
                c["shuffle_bytes"] += metric.value()
            elif key == "spillSize":
                c["spill_bytes"] += metric.value()
            elif python and key == "pythonNumRowsReceived":
                c["python_rows"] += metric.value()
            elif python and key in ("pythonDataSent", "pythonDataReceived"):
                c["python_bytes"] += metric.value()
        if name.endswith("QueryStage"):
            stack.append(node.plan())
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    c["node_ms"] = c["scan_ms"] + c["agg_ms"] + c["sort_ms"] + c["shuffle_write_ms"]
    return c


class PlanListener:
    """A ``QueryExecutionListener`` (through py4j) that walks the final
    plan of every query the session executes while it is attached.

    An op's eager jobs (k-means training, ``first()`` probes) are
    queries of their own, so ``take`` returns the counters of every
    query since the previous ``take``, up to the op's final one.  While
    detached it is not registered, so no query calls back into Python.
    """

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark):
        self._cond = threading.Condition()
        self._done: list[tuple[object, dict]] = []  # (QueryExecution, counters)
        self._manager = spark._jsparkSession.listenerManager()
        self._proxy = None  # the Java side of this listener
        self.attached = False

    def attach(self, on: bool) -> None:
        if on == self.attached:
            return
        if on and self._proxy is None:
            self._manager.register(self)
            # py4j makes a new Java proxy on every call, so keep the one
            # registered: unregister only matches it.
            self._proxy = list(self._manager.listListeners())[-1]
        elif on:
            self._manager.register(self._proxy)
        else:
            self._manager.unregister(self._proxy)
        self.attached = on

    def _record(self, qe):
        counters = plan_counters(qe.executedPlan())
        with self._cond:
            self._done.append((qe, counters))
            self._cond.notify_all()

    def onSuccess(self, func_name, qe, duration_ns):
        self._record(qe)

    def onFailure(self, func_name, qe, exception):
        self._record(qe)

    def take(self, final_qe, timeout: float = 60.0) -> list[dict]:
        """Counters of the queries up to and including ``final_qe``."""
        def arrived():
            return any(qe.equals(final_qe) for qe, _ in self._done)

        with self._cond:
            if not self._cond.wait_for(arrived, timeout):
                raise TimeoutError("the op's final query never reached the listener")
            last = next(i for i, (qe, _) in enumerate(self._done) if qe.equals(final_qe))
            taken, self._done = self._done[: last + 1], self._done[last + 1:]
        return [c for _, c in taken]


def stage_tasks(sc, group: str) -> list[int]:
    """Task count of every stage run under job group ``group``."""
    tracker = sc.statusTracker()
    tasks = []
    for job_id in sorted(tracker.getJobIdsForGroup(group)):
        job = tracker.getJobInfo(job_id)
        for stage_id in sorted(job.stageIds if job else ()):
            info = tracker.getStageInfo(stage_id)
            if info is not None:
                tasks.append(info.numTasks)
    return tasks


# --- process and host --------------------------------------------------

def jvm_pid(sc) -> int | None:
    """Pid of the JVM behind ``sc`` (``spark-submit`` execs into java)."""
    proc = getattr(sc._gateway, "proc", None)
    if proc is None:
        return None
    with open(f"/proc/{proc.pid}/comm") as f:
        return proc.pid if f.read().strip() == "java" else None


def vm_hwm_mb(pid: int | None) -> float:
    if pid is None:
        return 0.0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def heap_live_mb(spark) -> float:
    """JVM heap in use right after a full collection: what the engine
    still holds once the workload is done (peak RSS follows the
    collector's sizing choices, not the program)."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # user..steal; guest time is already in user
    return 100.0 * delta[7] / total if total > 0 else 0.0


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and every
    process under it: the JVM, the Python workers it forks, and the
    children they have reaped.  Time the hypervisor stole from the
    vCPUs is not charged to a process, so this reads the same on a
    busy host and an idle one, as far as the work itself stays the same."""
    stats: dict[int, tuple[int, int]] = {}  # pid -> (ppid, ticks)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        # after the comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
        stats[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    ticks = 0
    for pid, (ppid, t) in stats.items():
        p = pid
        while p and p != root:
            p = stats.get(p, (0, 0))[0]
        if p == root:
            ticks += t
    return ticks / _CLK_TCK


def calibrate_cpu_s() -> float:
    """CPU seconds this process spends sorting a fixed array: the host's
    speed right now, to read a pass's CPU seconds against."""
    import numpy as np

    a = np.random.default_rng(0).integers(0, 1 << 30, 200_000)
    best = float("inf")
    for _ in range(3):
        t = time.process_time()
        np.sort(a, kind="quicksort")
        best = min(best, time.process_time() - t)
    return best


def git_head(root: str) -> str:
    """HEAD commit from the .git dir, or "unknown" outside a git checkout."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if head.startswith("ref: "):
            ref = head[5:]
            path = os.path.join(git, ref)
            if os.path.exists(path):
                with open(path) as f:
                    return f.read().strip()
            with open(os.path.join(git, "packed-refs")) as f:
                for line in f:
                    if line.rstrip().endswith(" " + ref):
                        return line.split()[0]
            return "unknown"
        return head
    except OSError:
        return "unknown"
