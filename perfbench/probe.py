"""What the benchmark reads from outside the program: the JVM process tree
in ``/proc``, Spark's status stores, and an in-memory span recorder.

Nothing here is imported by the package; the package is not instrumented.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
import uuid
from collections import deque
from contextlib import contextmanager
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# process tree: the JVM and the Python workers it forks
# ---------------------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    return raw.rsplit(")", 1)[1].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    total = 0
    for p in tree_pids(root):
        st = _stat(p)
        if st is not None:
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def python_pids(root: int) -> list[int]:
    """The Python workers (and their daemon) under the JVM ``root``."""
    out = []
    for p in tree_pids(root):
        try:
            if p != root and Path(f"/proc/{p}/comm").read_text().startswith("python"):
                out.append(p)
        except OSError:
            pass
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and its Python descendants.  Other
    descendants are the JVM's short-lived helper forks (Hadoop's shell
    calls), which until they exec report the whole JVM's pages again."""
    total = 0
    for p in [root, *python_pids(root)]:
        try:
            total += int(Path(f"/proc/{p}/statm").read_text().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def wait_gone(pids: list[int], timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    while any(Path(f"/proc/{p}").exists() for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)


class PeakRss:
    """Background sampler of the tree's resident memory.  ``peak`` (bytes)
    is the highest rolling median of ``window`` consecutive samples, so a
    worker that lives for a moment beside its replacement does not count."""

    def __init__(self, root: int, period_s: float = 0.1, window: int = 10):
        self.root, self.period_s, self.peak = root, period_s, 0
        self._recent: deque[int] = deque(maxlen=window)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self._recent.append(tree_rss_bytes(self.root))
            self.peak = max(self.peak, int(statistics.median(self._recent)))

    def close(self) -> int:
        """Stop sampling (idempotent); returns the peak."""
        self._stop.set()
        self._thread.join()
        return self.peak


# ---------------------------------------------------------------------------
# Spark status stores (readable with spark.ui.enabled=false)
# ---------------------------------------------------------------------------

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
          "B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30, "TiB": 2 ** 40}


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it -> seconds, bytes or a
    count.  Aggregated metrics read ``total (min, med, max ...)\\n<total> (...)``."""
    line = text.strip().splitlines()[-1].split(" (", 1)[0].strip()
    m = re.fullmatch(r"([\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class StatusStore:
    """SQL executions with their plan-node metrics, stages and jobs."""

    def __init__(self, spark):
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = spark.sparkContext._jsc.sc().statusStore()

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def last_id(self) -> int:
        ids = [e.executionId() for e in self._list(self._sql.executionsList())]
        return max(ids, default=-1)

    def executions_after(self, after_id: int, wait_s: float = 5.0) -> list[dict]:
        """Completed executions with id > ``after_id``, one dict each."""
        deadline = time.monotonic() + wait_s
        while True:
            es = [e for e in self._list(self._sql.executionsList())
                  if e.executionId() > after_id]
            if all(e.completionTime().isDefined() for e in es) \
                    or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        return [self._execution(e) for e in es if e.completionTime().isDefined()]

    def _execution(self, e) -> dict:
        eid = e.executionId()
        values = self._sql.executionMetrics(eid)
        nodes = []
        for n in self._list(self._sql.planGraph(eid).allNodes()):
            metrics = {}
            for m in self._list(n.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            nodes.append({"name": n.name(), "metrics": metrics})
        stages = {}
        for sid in self._list(e.stages()):
            s = self._app.lastStageAttempt(sid)
            stages[sid] = {
                "attempt": s.attemptId(), "status": str(s.status()),
                "tasks": s.numCompleteTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "gc_s": s.jvmGcTime() / 1e3,
                "deserialize_s": s.executorDeserializeTime() / 1e3,
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "shuffle_write_s": s.shuffleWriteTime() / 1e9,
                "fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
                "input_records": s.inputRecords(),
            }
        jobs = []
        for jid in sorted(self._list(e.jobs().keys())):
            j = self._app.job(jid)
            wall = (j.completionTime().get().getTime()
                    - j.submissionTime().get().getTime()) / 1e3 \
                if j.completionTime().isDefined() and j.submissionTime().isDefined() else 0.0
            jobs.append({"id": jid, "stages": self._list(j.stageIds()), "wall_s": wall})
        return {"id": eid, "description": e.description(),
                "wall_s": (e.completionTime().get().getTime() - e.submissionTime()) / 1e3,
                "nodes": nodes, "stages": stages, "jobs": jobs}

    def task_durations_s(self, stage_id: int, attempt: int) -> list[float]:
        out = []
        for t in self._list(self._app.taskList(stage_id, attempt, 1 << 20)):
            if t.duration().isDefined():
                out.append(t.duration().get() / 1e3)
        return out


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """Spans (name, start, end, parent, run id, attributes) kept in memory
    and written out once at the end.  Disabled, it records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "attrs": dict(attrs)}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["attrs"]
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: Path) -> None:
        if self.enabled:
            path.parent.mkdir(parents=True, exist_ok=True)
            path.write_text(json.dumps(self.spans, indent=1, default=str))
