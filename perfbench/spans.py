"""Measurement from outside the program: spans around the public
functions the benchmark's calls reach, Spark's executed-plan metrics,
task counts and disk writes.

Spans are opened by wrappers installed at the module attribute the
caller looks up (relops resolves dedup.*, ann.* and session.* as
attributes; pipeline calls textx.with_ingest_jvm, tiles.* and lineage.*
as attributes and imports pip_join by name, so pipeline.pip_join is the
one to patch). DataFrames are lazy, so a wrapper around a DataFrame-
returning function persists the frame and materializes it inside its
span; the frames are released after the operation. Only the traced run
installs wrappers; the end-to-end numbers come from untraced runs.

Plan metrics are read from Spark's SQL status store: the final
(adaptive) plan graph of every SQL execution and its metric values. The
same accumulator can appear in several executions (a cached plan shows
under every scan of the cache), so values are kept once per accumulator.
"""

from __future__ import annotations

import functools
import os
import re
import time
from contextlib import contextmanager

PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
            "FlatMapCoGroupsInPandas", "MapInPandas", "MapInArrow",
            "AggregateInPandas", "WindowInPandas", "PythonMapInArrow")
MEM_NODES = ("Sort", "HashAggregate", "ObjectHashAggregate",
             "SortAggregate", "Window")
#: node kind -> the metrics read from it
WANTED = {
    "exchange": {"shuffle bytes written"},
    "python": {"number of output rows", "data sent to Python workers"},
    "memory": {"spill size", "peak memory"},
}


def node_kind(name: str) -> str | None:
    if name == "Exchange":
        return "exchange"
    if name.startswith(PY_NODES):
        return "python"
    if name.startswith(MEM_NODES):
        return "memory"
    return None


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "h": 3600.0}
_NUM = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A value as the SQL status store formats it: '1,234', '12.3 MiB',
    '45 ms', or 'total (min, med, max ...)\\n<total> (...)'. Sizes come
    back in bytes, times in seconds."""
    if text is None:
        return 0.0
    line = text.split("\n", 1)[-1].strip()
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class Span:
    __slots__ = ("name", "start", "end", "parent", "run_id", "counts",
                 "plan")

    def __init__(self, name, start, parent, run_id):
        self.name, self.start, self.end = name, start, None
        self.parent, self.run_id = parent, run_id
        self.counts: dict[str, float] = {}
        self.plan: dict[str, float] = {}

    @property
    def module(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_dict(self, index) -> dict:
        return {"name": self.name, "start": self.start, "end": self.end,
                "parent": index.get(id(self.parent)), "run_id": self.run_id,
                "counts": self.counts, "plan": self.plan}


class PlanReader:
    """New SQL executions since the last read, summed by node type."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.bus.waitUntilEmpty()
        self.read = int(self.store.executionsCount())
        self.seen_acc: set[int] = set()

    def skip(self) -> None:
        """Leave the executions so far unread."""
        self.bus.waitUntilEmpty()
        self.read = int(self.store.executionsCount())

    def new_metrics(self) -> dict[str, float]:
        """Metrics of the executions since the last read. Only the nodes
        and metrics in WANTED are fetched: each is a py4j round trip."""
        self.bus.waitUntilEmpty()
        n = int(self.store.executionsCount())
        out = {"exchanges": 0.0, "shuffle_bytes": 0.0, "spill_bytes": 0.0,
               "peak_mem_bytes": 0.0, "python_rows": 0.0,
               "python_bytes": 0.0}
        if n <= self.read:
            return out
        execs = self.store.executionsList(self.read, n - self.read)
        self.read = n
        for k in range(execs.size()):
            eid = execs.apply(k).executionId()
            values = self.store.executionMetrics(eid)
            nodes = self.store.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                kind = node_kind(node.name())
                if kind:
                    self._add(kind, self._values(node, kind, values), out)
        return out

    def _values(self, node, kind: str, values) -> dict[str, float]:
        """The node's wanted metrics not already counted elsewhere."""
        from py4j.protocol import Py4JError

        got = {}
        metrics = node.metrics()
        for j in range(metrics.size()):
            m = metrics.apply(j)
            name = m.name()
            if name not in WANTED[kind]:
                continue
            acc = m.accumulatorId()
            if acc in self.seen_acc:
                continue
            self.seen_acc.add(acc)
            try:
                got[name] = parse_metric(values.apply(acc))
            except Py4JError:  # no value recorded for this accumulator
                pass
        return got

    @staticmethod
    def _add(kind: str, got: dict, out: dict) -> None:
        if not got:
            return
        if kind == "exchange":
            out["exchanges"] += 1
            out["shuffle_bytes"] += got.get("shuffle bytes written", 0.0)
        elif kind == "python":
            out["python_rows"] += got.get("number of output rows", 0.0)
            out["python_bytes"] += got.get("data sent to Python workers",
                                           0.0)
        else:
            out["spill_bytes"] += got.get("spill size", 0.0)
            out["peak_mem_bytes"] = max(out["peak_mem_bytes"],
                                        got.get("peak memory", 0.0))


def task_counts(sc, group: str) -> tuple[int, int]:
    """(tasks run, tasks failed) over every job of a job group."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    done = failed = 0
    for j in st.getJobIdsForGroup(group):
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else []):
            si = st.getStageInfo(s)
            if si:
                done += si.numCompletedTasks
                failed += si.numFailedTasks
    return done, failed


class Tracer:
    """Spans in memory plus the wrappers that open them."""

    def __init__(self, spark, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.held: list = []
        self.plan = PlanReader(spark)
        self._restore: list = []

    @contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else None
        sp = Span(name, time.monotonic(), parent, self.run_id)
        self.spans.append(sp)
        self.stack.append(sp)
        try:
            yield sp
        finally:
            # executions not yet claimed by a child span ran in this one
            for k, v in self.plan.new_metrics().items():
                sp.plan[k] = sp.plan.get(k, 0.0) + v
            sp.end = time.monotonic()
            self.stack.pop()

    def wrap(self, module, attr: str, name: str, materialize: bool = True,
             counters=None, input_counter: str | None = None,
             count_hits: bool = False):
        """Replace module.attr by a spanned version. With materialize,
        a returned DataFrame is persisted and materialized inside the
        span by one aggregation computing `counters` ({name: Column},
        default a row count under 'rows'); input_counter counts the
        first argument's rows first; count_hits counts a call that
        returns another object than its first argument (a cache hit)."""
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name) as sp:
                if input_counter and args and isinstance(args[0], DataFrame):
                    sp.counts[input_counter] = float(args[0].count())
                out = fn(*args, **kwargs)
                if count_hits:
                    sp.counts["hits"] = float(out is not args[0])
                if materialize and isinstance(out, DataFrame):
                    out = out.persist()
                    self.held.append(out)
                    cols = counters() if counters else {
                        "rows": F.count(F.lit(1))}
                    row = out.agg(*[c.alias(k) for k, c in cols.items()]
                                  ).collect()[0]
                    for k in cols:
                        sp.counts[k] = float(row[k] or 0)
                return out

        setattr(module, attr, spanned)
        self._restore.append((module, attr, fn))

    def release(self) -> None:
        """Unpersist the frames the wrappers materialized."""
        while self.held:
            self.held.pop().unpersist(blocking=True)

    def unwrap(self) -> None:
        while self._restore:
            module, attr, fn = self._restore.pop()
            setattr(module, attr, fn)

    def dump(self, path: str) -> None:
        import json

        index = {id(s): i for i, s in enumerate(self.spans)}
        with open(path, "w") as f:
            json.dump([s.as_dict(index) for s in self.spans], f)


def self_times(spans) -> dict[str, float]:
    """Per-module self time: each span's duration minus the part of its
    interval covered by its direct children."""
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(id(s.parent), []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, last = 0.0, s.start
        for c in sorted(children.get(id(s), []), key=lambda c: c.start):
            lo, hi = max(c.start, last), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        out[s.module] = out.get(s.module, 0.0) + s.duration - covered
    return out


def write_bytes(pid: int) -> int:
    """Bytes the process has caused to be written to storage."""
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            if line.startswith("write_bytes:"):
                return int(line.split()[1])
    return 0
