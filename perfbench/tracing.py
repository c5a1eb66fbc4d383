"""Spans, Spark status-store counters and process memory, all read from
outside the program under test.

- :class:`Tracer` keeps spans (name, start, end, parent) in memory; the
  run writes them out once, at the end.  When tracing is off every span is
  still timed (the workloads need the durations) but nothing else is kept.
- :class:`Counters` reads Spark's own status stores -- ``AppStatusStore``
  for jobs, stages and tasks (with task metrics: bytes/rows read, shuffle,
  spill, bytes written) and ``SQLAppStatusStore`` for the SQL node metrics
  (files read, rows output by scans, files written).  Both stores are kept
  by the SparkContext whether or not the web UI is enabled.
- :func:`peak_rss_mb` sums the kernel's per-process peak RSS (``VmHWM``)
  over this process and its descendants (the driver JVM, Python workers).
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTER_NAMES = (
    "jobs",
    "stages",
    "tasks",
    "bytes_read",
    "rows_read",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "bytes_written",
    "files_read",
    "rows_scanned",
    "files_written",
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, counters: "Counters | None" = None):
        """Time the block; with tracing on, record it as a span (and, given
        *counters*, the Spark work it caused)."""
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, 0.0, parent=parent)
        if self.enabled:
            self.spans.append(sp)
            self._stack.append(len(self.spans) - 1)
            mark = counters.mark() if counters else None
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()
                if counters:
                    sp.counts = counters.since(mark)

    def self_seconds(self, i: int) -> float:
        """Span *i*'s duration minus the part its direct children cover."""
        kids = sum(s.seconds for s in self.spans if s.parent == i)
        return self.spans[i].seconds - kids

    def dump(self, path: str) -> None:
        rows = [
            {
                "id": i,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "self_s": self.self_seconds(i),
                "counts": s.counts,
            }
            for i, s in enumerate(self.spans)
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(rows, f)


_NUM = re.compile(r"^\s*([\d,]+(?:\.\d+)?)\s*([KMGT]i)?B?")
_UNIT = {None: 1, "Ki": 1 << 10, "Mi": 1 << 20, "Gi": 1 << 30, "Ti": 1 << 40}


def _metric_value(text: str) -> float:
    """SQL metric strings: ``"1,234"``, ``"5.0 MiB"``, or a total followed
    by ``(min, med, max ...)`` -- the leading total is the value."""
    m = _NUM.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


class Counters:
    """Per-span Spark work, as a difference of status-store contents
    between :meth:`mark` and :meth:`since`.  One client issues every job,
    so everything with a newer job / execution id belongs to the span."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self._sc = spark._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def _drain(self) -> None:
        # status stores are fed asynchronously by the listener bus
        self._sc.listenerBus().waitUntilEmpty()

    def _job_ids(self) -> list[int]:
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    def mark(self) -> tuple[int, int]:
        self._drain()
        ids = self._job_ids()
        return (max(ids) if ids else -1, int(self._sql.executionsCount()))

    def jobs_since(self, mark: tuple[int, int]) -> int:
        """Only the job count: cheap enough to take inside a timed span."""
        self._drain()
        return sum(1 for j in self._job_ids() if j > mark[0])

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        self._drain()
        last_job, n_exec = mark
        c = dict.fromkeys(COUNTER_NAMES, 0.0)
        stage_ids: set[int] = set()
        for jid in self._job_ids():
            if jid <= last_job:
                continue
            c["jobs"] += 1
            stage_ids.update(int(s) for s in self._conv.asJava(self._store.job(jid).stageIds()))
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if str(st.status()) == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += st.numTasks()
            c["bytes_read"] += st.inputBytes()
            c["rows_read"] += st.inputRecords()
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            c["bytes_written"] += st.outputBytes()
        total = int(self._sql.executionsCount())
        if total > n_exec:
            for ex in self._conv.asJava(self._sql.executionsList(n_exec, total - n_exec)):
                self._sql_metrics(ex.executionId(), c)
        return c

    def _sql_metrics(self, eid: int, c: dict) -> None:
        # one py4j round trip per execution: the plan graph rendered with its
        # metric values (per-node/per-metric calls cost seconds per span)
        dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
        for node, body in _DOT_NODE.findall(dot):
            for item in body.split("<br>"):
                name, _, value = item.partition(": ")
                key = _SQL_KEYS.get(name)
                if key is None and name == "number of output rows" and node.startswith("Scan"):
                    key = "rows_scanned"
                if key is not None:
                    c[key] += _metric_value(value)


_DOT_NODE = re.compile(r'label="(?:<br>)?<b>([^<]*)</b><br><br>([^"]*)"')
_SQL_KEYS = {"number of files read": "files_read", "number of written files": "files_written"}


def _descendants(pid: int) -> list[int]:
    kids = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    out, todo = [], [pid]
    while todo:
        q = todo.pop()
        out.append(q)
        todo.extend(kids.get(q, []))
    return out


def peak_rss_mb() -> float:
    """Sum of ``VmHWM`` (peak resident set) over this process tree, in MiB."""
    kb = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0
