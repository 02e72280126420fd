"""Span tracer for the benchmark's traced runs.

A span is opened around a call into one layer's public function. While
it is open, the calling thread's Spark job group is the span's own, so
every job, stage and task launched inside it is attributed to it. The
stores are read after the listener bus drains:

- jobs and stages: ``SparkContext.statusTracker`` over the job group;
- per-stage tasks, executor run time, shuffle and spill bytes: the JVM
  ``AppStatusStore.lastStageAttempt``;
- Python-worker time and bytes, shuffle bytes as SQL metrics, and plan
  node row counts: the SQL status store (``SQLAppStatusStore``).

Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import itertools
import re
import threading
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE_RE = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")

PY_TIME = "time to run Python workers"
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
SHUFFLE_WRITTEN = "shuffle bytes written"
ROWS = "number of output rows"
_WANTED = (PY_TIME, SHUFFLE_WRITTEN, *PY_BYTES)
_METRIC_RE = re.compile(r"SQLPlanMetric\(([^,()]+),(\d+),\w+\)")


def parse_metric(text: Optional[str]) -> float:
    """Value of one formatted SQL metric string, in bytes, seconds or
    plain units. Aggregated metrics read ``total (min, med, max ...)``
    on the first line and the total on the second."""
    if not text:
        return 0.0
    line = text.split("\n")[1] if "\n" in text else text
    m = _VALUE_RE.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


class Span:
    __slots__ = ("id", "name", "parent", "thread", "start", "end", "group",
                 "counts", "jobs", "stages", "tasks", "executor_run_s",
                 "shuffle_write_bytes", "spill_bytes", "sql")

    def __init__(self, sid: int, name: str, parent: Optional[int],
                 thread: str):
        self.id, self.name, self.parent, self.thread = sid, name, parent, thread
        self.start = time.perf_counter()
        self.end: Optional[float] = None
        self.group = f"perfbench-span-{sid}"
        self.counts: Dict[str, float] = {}
        self.jobs: List[int] = []
        self.stages = self.tasks = 0
        self.executor_run_s = 0.0
        self.shuffle_write_bytes = self.spill_bytes = 0
        self.sql: Dict[str, float] = {}

    def as_dict(self, t0: float) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent,
            "thread": self.thread, "start_s": self.start - t0,
            "end_s": (self.end or self.start) - t0, "jobs": len(self.jobs),
            "job_ids": self.jobs, "stages": self.stages, "tasks": self.tasks,
            "executor_run_s": self.executor_run_s,
            "shuffle_write_bytes": self.shuffle_write_bytes,
            "spill_bytes": self.spill_bytes, "sql": self.sql,
            "counts": self.counts,
        }


class Tracer:
    """Owns the spans of one run and the patches that open them."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.t0 = time.perf_counter()
        self.spans: List[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._tl = threading.local()
        self._main = self._stack()
        self._patches: list = []
        self._resolved = 0
        self._seen_execs = -1
        self._job_span: Dict[int, Span] = {}

    # -- spans -------------------------------------------------------------
    def _stack(self) -> List[Span]:
        st = getattr(self._tl, "stack", None)
        if st is None:
            st = self._tl.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a pool thread's first span hangs under the main thread's
        # innermost open span (the caller that submitted the work)
        parent = stack[-1] if stack else (self._main[-1] if self._main
                                          else None)
        with self._lock:
            sp = Span(next(self._ids), name,
                      parent.id if parent else None,
                      threading.current_thread().name)
            self.spans.append(sp)
        prev = (self.sc.getLocalProperty("spark.jobGroup.id"),
                self.sc.getLocalProperty("spark.job.description"))
        self.sc.setLocalProperty("spark.jobGroup.id", sp.group)
        self.sc.setLocalProperty("spark.job.description", name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev[0])
            self.sc.setLocalProperty("spark.job.description", prev[1])

    def wrap(self, owner, attr: str, namer, *, static: bool = False,
             inner=None) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span
        named ``namer(*args, **kwargs)``. ``inner(fn, span, *args,
        **kwargs)``, when given, makes the call and may record counts on
        the span before it closes."""
        orig = owner.__dict__[attr] if static else getattr(owner, attr)
        fn = orig.__func__ if static else orig

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(namer(*args, **kwargs)) as sp:
                if inner is None:
                    return fn(*args, **kwargs)
                return inner(fn, sp, *args, **kwargs)

        setattr(owner, attr, staticmethod(traced) if static else traced)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- store reads -------------------------------------------------------
    def resolve(self) -> None:
        """Attribute jobs, stage metrics and SQL metrics to every span
        closed since the last call. Runs outside the timed regions."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        pending = self.spans[self._resolved:]
        self._resolved = len(self.spans)
        for sp in pending:
            sp.jobs = sorted(tracker.getJobIdsForGroup(sp.group))
            for jid in sp.jobs:
                self._job_span[jid] = sp
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    st = store.lastStageAttempt(sid)
                    if st.status().toString() == "SKIPPED":
                        continue
                    sp.stages += 1
                    sp.tasks += st.numCompleteTasks()
                    sp.executor_run_s += st.executorRunTime() / 1000.0
                    sp.shuffle_write_bytes += st.shuffleWriteBytes()
                    sp.spill_bytes += st.diskBytesSpilled()
        self._read_sql()

    def _read_sql(self) -> None:
        sq = self.spark._jsparkSession.sharedState().statusStore()
        execs = sq.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self._seen_execs:
                continue
            self._seen_execs = eid
            job_ids = [int(j) for j in
                       re.findall(r"\d+", e.jobs().keys().toString())]
            owner = next((self._job_span[j] for j in job_ids
                          if j in self._job_span), None)
            if owner is None:
                continue
            vals = sq.executionMetrics(eid)
            # one py4j call for the whole metric list; a metric may be
            # listed once per plan version (AQE re-plans), so count
            # each accumulator once
            wanted = {int(aid): name for name, aid in _METRIC_RE.findall(
                e.metrics().toString()) if name in _WANTED}
            for aid, name in wanted.items():
                v = vals.get(aid)
                if v.isDefined():
                    key = "python_bytes" if name in PY_BYTES else name
                    owner.sql[key] = owner.sql.get(key, 0.0) + parse_metric(
                        v.get())
            if owner.name == "operators.dedup_assignments":
                self._dedup_rows(sq, eid, vals, owner)

    @staticmethod
    def _dedup_rows(sq, eid, vals, owner: Span) -> None:
        """Row counts of the minhash band join, the candidate-pair
        dedup and the Jaccard verify node of one execution."""
        nodes = sq.planGraph(eid).allNodes()
        aggs = []
        for k in range(nodes.size()):
            n = nodes.apply(k)
            name, desc = n.name(), n.desc()
            rows = None
            ms = n.metrics()
            for q in range(ms.size()):
                m = ms.apply(q)
                if m.name() == ROWS:
                    v = vals.get(m.accumulatorId())
                    rows = parse_metric(v.get()) if v.isDefined() else None
            if rows is None:
                continue
            c = owner.counts
            if "Join" in name and "[band#" in desc and "bucket#" in desc:
                c["band_join_rows"] = c.get("band_join_rows", 0) + rows
            elif name == "HashAggregate" and re.search(
                    r"keys=\[id_a#\d+L?, id_b#\d+L?\], functions=\[\]", desc):
                aggs.append(rows)
            elif ("Join" in name or name == "Filter") and \
                    "array_intersect(" in desc:
                c["verified_pairs"] = c.get("verified_pairs", 0) + rows
        if aggs:
            # partial and final aggregate: the final (global) one is the
            # distinct candidate-pair count
            c = owner.counts
            c["candidate_pairs"] = c.get("candidate_pairs", 0) + min(aggs)

    # -- reports -----------------------------------------------------------
    def children(self) -> Dict[Optional[int], List[Span]]:
        out: Dict[Optional[int], List[Span]] = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    @staticmethod
    def subtree(sp: Span, kids) -> List[Span]:
        """``sp`` and every span below it (``kids`` from children())."""
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out

    @staticmethod
    def self_time(sp: Span, kids) -> float:
        """Span duration minus the union of its children's intervals
        (children on pool threads may overlap each other)."""
        ivs = sorted((c.start, c.end or c.start) for c in kids.get(sp.id, []))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp.end or sp.start) - sp.start - covered

    def dump(self) -> List[dict]:
        return [s.as_dict(self.t0) for s in self.spans]
