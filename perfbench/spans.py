"""Spans around layer calls, Spark counters per span, process-tree RSS.

A span is opened by the benchmark around a call into one layer. Each
span runs its Spark jobs under its own job group, so after the timed
loop the jobs are read back from ``statusTracker`` and their stage
counters from the application status store. Spans stay in memory
until the run ends; :meth:`Tracer.dump` writes them as JSON.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_GROUP = "spark.jobGroup.id"

#: per-stage counters read from the status store, summed over a span
COUNTER_KEYS = (
    "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "executor_run_ms",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int  # id of the operation (root span) this span belongs to
    start: float
    end: float = 0.0
    group: str = ""
    counters: dict = field(default_factory=dict)
    job_names: list = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``layers=False`` keeps only the per-operation root
    spans, which is what an untraced run needs to attribute jobs and
    shuffle bytes to each operation."""

    def __init__(self, spark, layers: bool):
        self.sc = spark.sparkContext
        self.layers = layers
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, root: bool = False):
        if not root and not self.layers:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans), name=name,
            parent=parent.id if parent else None,
            op=parent.op if parent else len(self.spans),
            start=0.0,
        )
        s.group = f"perfbench-{os.getpid()}-{s.id}"
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty(_GROUP, None)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the part its (sequential) children cover."""
        return span.seconds - sum(c.seconds for c in self.children(span))

    def resolve_counters(self, timeout_s: float = 30.0) -> None:
        """Fill the Spark counters of every span not resolved yet (jobs of
        its own group only, so a parent's counters exclude its children's)."""
        ids = {s.id: [int(j) for j in self.sc.statusTracker().getJobIdsForGroup(s.group)]
               for s in self.spans if not s.counters}
        all_jobs = sorted(j for js in ids.values() for j in js)
        _wait_jobs_done(self.sc, all_jobs, timeout_s)
        stages = _stage_metrics(self.sc)
        store = self.sc._jsc.sc().statusStore()
        for s in self.spans:
            if s.id not in ids:
                continue
            c = dict.fromkeys(COUNTER_KEYS, 0)
            seen: set[int] = set()
            for j in ids[s.id]:
                jd = store.job(j)
                c["jobs"] += 1
                s.job_names.append(str(jd.name()))
                for sid in _seq_ints(jd.stageIds()):
                    if sid in seen or sid not in stages:
                        continue
                    seen.add(sid)
                    m = stages[sid]
                    if m["tasks"] == 0:  # skipped: its shuffle output was reused
                        continue
                    c["stages"] += 1
                    for k in COUNTER_KEYS[2:]:
                        c[k] += m[k]
            s.counters = c

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        doc = dict(extra, spans=[
            dict(asdict(s), seconds=s.seconds, self_seconds=self.self_seconds(s))
            for s in self.spans
        ])
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)


def _seq_ints(seq) -> list[int]:
    text = str(seq.mkString(","))
    return [int(x) for x in text.split(",") if x]


def _wait_jobs_done(sc, job_ids: list[int], timeout_s: float) -> None:
    """The status store is fed by the asynchronous listener bus: wait
    until it has seen every job end before reading counters."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + timeout_s
    pending = list(job_ids)
    while pending:
        pending = [j for j in pending
                   if (info := tracker.getJobInfo(j)) is None
                   or info.status not in ("SUCCEEDED", "FAILED")]
        if not pending:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"status store never saw jobs {pending[:5]} end")
        time.sleep(0.05)


def _stage_metrics(sc) -> dict[int, dict]:
    """Counters of every stage attempt in the status store, summed per
    stage id."""
    gw = sc._gateway
    jvm = sc._jvm
    lst = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        gw.new_array(gw.jvm.double, 0), jvm.java.util.ArrayList(),
    )
    out: dict[int, dict] = {}
    for i in range(lst.length()):
        st = lst.apply(i)
        m = out.setdefault(int(st.stageId()), dict.fromkeys(COUNTER_KEYS[2:], 0))
        m["tasks"] += int(st.numCompleteTasks())
        m["shuffle_read_bytes"] += int(st.shuffleReadBytes())
        m["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
        m["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
        m["executor_run_ms"] += int(st.executorRunTime())
    return out


class RssSampler:
    """Peak resident set size of this process and all its descendants
    (the JVM and its Python workers), sampled from /proc while active."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            pid = int(d)
            children.setdefault(int(fields[1]), []).append(pid)
            rss[pid] = int(fields[21]) * self._page
        total, todo = 0, [os.getpid()]
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            todo.extend(children.get(p, ()))
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self.peak_bytes = self._tree_rss()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())
