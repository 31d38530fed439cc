"""Readings taken from outside the engine: Spark's status store and
streaming progress events, process memory from /proc, and the span
recorder of the traced run."""

from __future__ import annotations

import os
import re
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

PAGE = os.sysconf("SC_PAGE_SIZE")
_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_NUM = re.compile(r"([-\d,.]+)\s*([A-Za-z]+)?")
PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")


def metric_value(text: str) -> float:
    """Parse one SQL metric as the status store renders it: ``1,234``,
    ``12.5 MiB (...)`` or ``total (min, med, max)\\n1.2 s (...)``.
    Sizes come back in bytes, durations in seconds."""
    m = _NUM.match(text.rsplit("\n", 1)[-1].strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class StatusStore:
    """Spark's public status stores, read after a traced pass and
    attributed to its spans by submission time."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self.app = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    def settle(self) -> None:
        """Wait until the status listener has seen every event so far."""
        self._bus.waitUntilEmpty()

    def _stages(self):  # newest first
        return self.app.stageList(None, False, False, self._no_quantiles, None)

    def mark(self) -> dict[str, int]:
        """Newest stage, job and SQL execution ids (after :meth:`settle`)."""
        stages, jobs = self._stages(), self.app.jobsList(None)
        n = self.sql.executionsCount()
        return {
            "stage": stages.apply(0).stageId() if stages.size() else -1,
            "job": jobs.apply(0).jobId() if jobs.size() else -1,
            "sql": self.sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1,
        }

    def since(self, mark: dict[str, int]) -> dict[str, list]:
        """(submission time in s, counts) of every stage, job and SQL
        execution newer than ``mark``."""
        out: dict[str, list] = {"stage": [], "job": [], "sql": []}
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= mark["stage"]:
                break
            if s.submissionTime().isEmpty():
                continue
            out["stage"].append((s.submissionTime().get().getTime() / 1000.0, {
                "tasks": s.numCompleteTasks(),
                "task_s": s.executorRunTime() / 1000.0,
                "gc_s": s.jvmGcTime() / 1000.0,
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }))
        jobs = self.app.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= mark["job"]:
                break
            if not j.submissionTime().isEmpty():
                out["job"].append((j.submissionTime().get().getTime() / 1000.0, {"jobs": 1}))
        n = self.sql.executionsCount()
        execs = self.sql.executionsList(max(0, n - 1000), 1000)
        for i in range(execs.size()):
            e = execs.apply(i)
            if e.executionId() > mark["sql"]:
                out["sql"].append((e.submissionTime() / 1000.0,
                                   {"sql_executions": 1, **self.python_metrics(e.executionId())}))
        return out

    def python_metrics(self, eid: int) -> dict[str, float]:
        """SQL metrics of the Python operator nodes of one execution."""
        out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        values = self.sql.executionMetrics(eid)
        nodes = self.sql.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if not PYTHON_NODE.search(node.name()):
                continue
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                key = PYTHON_METRICS.get(m.name())
                v = values.get(m.accumulatorId())
                if key and not v.isEmpty():
                    out[key] += metric_value(v.get())
        return out


PYTHON_METRICS = {
    "number of output rows": "python_rows",
    "data sent to Python workers": "python_bytes_in",
    "data returned from Python workers": "python_bytes_out",
    "time to run Python workers": "python_s",
}


class ProgressLog(StreamingQueryListener):
    """Collects every micro-batch progress event, keyed by query run."""

    def __init__(self):
        self._cond = threading.Condition()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: dict[str, list] = {}

    def onQueryStarted(self, event):
        with self._cond:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event):
        with self._cond:
            self.progress.setdefault(str(event.progress.runId), []).append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cond:
            self.terminated.add(str(event.runId))
            self._cond.notify_all()

    def mark(self) -> int:
        with self._cond:
            return len(self.started)

    def since(self, mark: int, timeout: float = 30.0) -> list:
        """Progress of the queries started after ``mark``, once each has
        reported termination (events arrive asynchronously)."""
        deadline = time.monotonic() + timeout
        with self._cond:
            runs = self.started[mark:]
            while not self.terminated.issuperset(runs):
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError("streaming listener did not report termination")
                self._cond.wait(left)
            return [p for r in runs for p in self.progress.get(r, [])]


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants (/proc)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Background peak of :func:`tree_rss_bytes` for this process tree."""

    def __init__(self, interval: float = 0.2):
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(root))
            if self._stop.wait(self._interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class Spans:
    """In-memory span recorder: name, layer, parent, wall-clock start
    and end (s), and counts attributed to the span."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def open(self, name: str, layer: str) -> int:
        sid = self.add(name, layer, time.time(), None, self._stack[-1] if self._stack else None)
        self._stack.append(sid)
        return sid

    def close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.time()
        self._stack.remove(sid)

    def add(self, name: str, layer: str, start: float, end: float | None,
            parent: int | None, **counts) -> int:
        self.spans.append({"id": len(self.spans), "parent": parent, "name": name,
                           "layer": layer, "start": start, "end": end, "counts": counts})
        return len(self.spans) - 1

    def attribute(self, items: dict[str, list], layers: tuple[str, ...]) -> None:
        """Add each (time, counts) item to the span of ``layers`` whose
        interval holds its time; items outside every such span are dropped."""
        targets = sorted((s for s in self.spans if s["layer"] in layers),
                         key=lambda s: s["start"])
        for rows in items.values():
            for t, counts in rows:
                for s in targets:
                    if s["start"] <= t <= s["end"]:
                        for k, v in counts.items():
                            s["counts"][k] = s["counts"].get(k, 0) + v
                        break
