"""Spans, layer instrumentation and Spark event-log attribution.

The traced run wraps the public entry points of each layer from the
benchmark's side (nothing inside the package changes) and records one
span per call: name, start, end, parent and the id of the round (or
export) it belongs to.  Calls that return a lazy DataFrame get a
materialization barrier (persist + count) so the span covers the
layer's real work; eager calls are timed as they are.

Every span also tags the Spark jobs its thread submits through the
local property ``perfbench.span``; the event log the traced session
writes then gives per-span task counters (executor CPU, GC, shuffle,
spill, input bytes).  Jobs submitted by untagged threads fall back to
the round whose time window holds them.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    sid: int
    name: str
    start: float  # epoch seconds (same clock as the Spark event log)
    end: float | None
    parent: int | None
    unit: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  Spans are kept until the run ends."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self.persisted: list = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._unit: Span | None = None
        self._unit_thread: threading.Thread | None = None
        self._phase: Span | None = None

    # -- span bookkeeping --------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _tag(self, span: Span | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                SPAN_PROPERTY, None if span is None else str(span.sid)
            )

    def _default_parent(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else self._unit

    def _new(self, name: str, parent: Span | None, attrs: dict) -> Span:
        return Span(
            next(self._ids), name, time.time(), None,
            parent.sid if parent else None,
            self._unit.sid if self._unit else None, dict(attrs),
        )

    def _finish(self, span: Span) -> None:
        span.end = time.time()
        with self._lock:
            self.spans.append(span)

    def _close_phase(self) -> None:
        with self._lock:
            phase, self._phase = self._phase, None
        if phase is not None:
            self._finish(phase)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        self._close_phase()
        sp = self._new(name, self._default_parent(), attrs)
        st = self._stack()
        st.append(sp)
        self._tag(sp)
        try:
            yield sp
        finally:
            st.pop()
            self._tag(self._default_parent()
                      if st or threading.current_thread() is self._unit_thread
                      else None)
            self._finish(sp)

    def open_phase(self, name: str, **attrs) -> None:
        """Open a span that ends at the next layer boundary (the next
        span to start on any thread) or at the end of the unit — for a
        layer whose work the engine itself materializes later."""
        self._close_phase()
        sp = self._new(name, self._default_parent(), attrs)
        with self._lock:
            self._phase = sp
        self._tag(sp)

    @contextlib.contextmanager
    def unit(self, name: str, **attrs):
        """Root span of one measured round or export."""
        sp = self._new(name, None, attrs)
        sp.unit = sp.sid
        self._unit, self._unit_thread = sp, threading.current_thread()
        self._tag(sp)
        try:
            yield sp
        finally:
            self._close_phase()
            for df in self.persisted:
                df.unpersist()
            self.persisted.clear()
            self._unit = self._unit_thread = None
            self._tag(None)
            self._finish(sp)

    def barrier(self, df):
        """Materialize a lazy DataFrame; returns (persisted df, rows)."""
        df = df.persist()
        self.persisted.append(df)
        return df, df.count()


# -- instrumentation of the layers' public entry points ---------------------


def _commit_files(table, version: int) -> tuple[int, int]:
    """(parquet files, bytes) a commit added, from its manifest."""
    snap = table.snapshot(version)
    prev = table.snapshot(version - 1) if version > 1 else None
    added = set(snap.file_sets) - set(prev.file_sets if prev else ())
    files = size = 0
    for entry in added:
        path = entry if os.path.isabs(entry) else os.path.join(
            table.data_dir, entry
        )
        if os.path.isdir(path):
            paths = [
                os.path.join(d, f)
                for d, _, fs in os.walk(path)
                for f in fs
                if f.endswith(".parquet")
            ]
        else:
            paths = [path] if os.path.exists(path) else []
        files += len(paths)
        size += sum(os.path.getsize(p) for p in paths)
    return files, size


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the layers' entry points for the duration of the block."""
    from pyspark.sql import functions as F

    from legislation_scraper_spark import tables
    from legislation_scraper_spark.operators import politeness, seen
    from legislation_scraper_spark.plans import crawl

    patched: list[tuple[object, str, object]] = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        patched.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def commit(kind):
        def make(orig):
            def wrapper(self, df, *a, **kw):
                with tracer.span("tables." + kind, table=self.name) as sp:
                    v = orig(self, df, *a, **kw)
                sp.attrs["files"], sp.attrs["bytes"] = _commit_files(self, v)
                return v
            return wrapper
        return make

    def eager(name):
        def make(orig):
            def wrapper(self, *a, **kw):
                with tracer.span(name, owner=type(self).__name__):
                    return orig(self, *a, **kw)
            return wrapper
        return make

    def filter_unseen(orig):
        def wrapper(self, candidates, url_col="url"):
            with tracer.span("crawl.frontier_merge"):
                cand, n_in = tracer.barrier(candidates)
            with tracer.span("seen.filter_unseen") as sp:
                out, n_out = tracer.barrier(orig(self, cand, url_col))
            sp.attrs.update(candidates_in=n_in, unseen_out=n_out)
            return out
        return wrapper

    def pending(orig):
        def wrapper(self):
            with tracer.span("crawl.pending"):
                return orig(self)
        return wrapper

    def schedule_round(orig):
        def wrapper(*a, **kw):
            with tracer.span("politeness.schedule") as sp:
                out, n = tracer.barrier(orig(*a, **kw))
                sizes = [
                    r["n"] for r in out.groupBy(
                        F.spark_partition_id().alias("p")
                    ).agg(F.count("*").alias("n")).collect()
                ]
            parts = out.rdd.getNumPartitions()
            sp.attrs.update(
                selected_rows=n,
                partition_skew=(max(sizes) / (n / parts)) if n else 0.0,
            )
            return out
        return wrapper

    def fetch(orig):
        def wrapper(*a, **kw):
            with tracer.span("fetch.resolve") as sp:
                out, n = tracer.barrier(orig(*a, **kw))
            sp.attrs["rows"] = n
            return out
        return wrapper

    def make_parse_page(orig):
        def wrapper(*a, **kw):
            # the engine materializes the parse in its own metrics
            # collect; the span runs until the next layer starts
            tracer.open_phase("extract.parse")
            return orig(*a, **kw)
        return wrapper

    patch(tables.Table, "append", commit("append"))
    patch(tables.Table, "overwrite", commit("overwrite"))
    patch(tables.Table, "compact", eager("tables.compact"))
    patch(tables.BucketedLog, "compact", eager("tables.compact"))
    patch(tables.Catalog, "save_checkpoint", eager("tables.checkpoint"))
    patch(seen.SeenSet, "add", eager("seen.add"))
    patch(seen.SeenSet, "compact_filters", eager("tables.compact"))
    patch(seen.SeenSet, "filter_unseen", filter_unseen)
    patch(crawl.CrawlEngine, "pending", pending)
    patch(politeness, "schedule_round", schedule_round)
    patch(crawl, "fetch", fetch)
    patch(crawl, "make_parse_page", make_parse_page)
    try:
        yield tracer
    finally:
        for owner, attr, orig in reversed(patched):
            setattr(owner, attr, orig)


# -- span arithmetic ------------------------------------------------------


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        cover = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.sid, ())
            if c.end > s.start and c.start < s.end
        ]
        out[s.sid] = s.duration - _union_length(cover)
    return out


def blocking_path(root: Span, spans: list[Span]) -> dict[str, float]:
    """Split the root's wall time over span names: each instant goes to
    the deepest open span, and among parallel spans of one depth to the
    one that ends last (the one the root waits for).  The parts sum to
    the root's duration; the root's own name gets what no span covers."""
    by_id = {s.sid: s for s in spans}

    def depth(s: Span) -> int:
        d = 0
        while s.parent is not None and s.parent in by_id:
            s = by_id[s.parent]
            d += 1
        return d

    inside = [
        s for s in spans
        if s.unit == root.unit and s.end > root.start and s.start < root.end
    ]
    if root not in inside:
        inside.append(root)
    ranked = [(depth(s), s) for s in inside]
    cuts = sorted(
        {root.start, root.end}
        | {max(root.start, min(root.end, t)) for s in inside
           for t in (s.start, s.end)}
    )
    out: dict[str, float] = {}
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        mid = (a + b) / 2
        live = [(d, s.end, s) for d, s in ranked if s.start <= mid < s.end]
        _, _, owner = max(live, key=lambda x: (x[0], x[1]))
        out[owner.name] = out.get(owner.name, 0.0) + (b - a)
    return out


# -- Spark event log --------------------------------------------------------


@dataclass
class SparkTask:
    stage: int
    launch: float
    finish: float
    cpu_s: float
    gc_s: float
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    spill_bytes: int
    input_bytes: int


@dataclass
class EventLog:
    jobs: dict[int, dict]  # job id -> {submit, span}
    stages: dict[int, dict]  # stage id -> {job, span, submit, done}
    tasks: list[SparkTask]


def parse_event_log(path: str) -> EventLog:
    """Jobs, executed stages and finished tasks of one event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: list[SparkTask] = []
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "submit": e["Submission Time"] / 1000.0,
                    "span": _span_prop(props),
                }
                for sid in e.get("Stage IDs", ()):
                    stage_job.setdefault(sid, e["Job ID"])
            elif ev == "SparkListenerStageSubmitted":
                si = e["Stage Info"]
                st = stages.setdefault(si["Stage ID"], {})
                st["span"] = _span_prop(e.get("Properties") or {})
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                st = stages.setdefault(si["Stage ID"], {})
                st["submit"] = si.get("Submission Time", 0) / 1000.0
                st["done"] = si.get("Completion Time", 0) / 1000.0
                st["tasks"] = si.get("Number of Tasks", 0)
            elif ev == "SparkListenerTaskEnd":
                ti, tm = e.get("Task Info") or {}, e.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                tasks.append(SparkTask(
                    stage=e["Stage ID"],
                    launch=ti.get("Launch Time", 0) / 1000.0,
                    finish=ti.get("Finish Time", 0) / 1000.0,
                    cpu_s=tm.get("Executor CPU Time", 0) / 1e9,
                    gc_s=tm.get("JVM GC Time", 0) / 1000.0,
                    shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                    shuffle_read_bytes=sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    spill_bytes=tm.get("Memory Bytes Spilled", 0)
                    + tm.get("Disk Bytes Spilled", 0),
                    input_bytes=(tm.get("Input Metrics") or {}).get(
                        "Bytes Read", 0
                    ),
                ))
    for sid, st in stages.items():
        job = stage_job.get(sid)
        st["job"] = job
        if st.get("span") is None and job is not None:
            st["span"] = jobs[job]["span"]
    return EventLog(jobs, stages, tasks)


def _span_prop(props: dict) -> int | None:
    v = props.get(SPAN_PROPERTY)
    return int(v) if v not in (None, "") else None


def find_event_log(directory: str) -> str:
    logs = [
        os.path.join(directory, f)
        for f in os.listdir(directory)
        if not f.startswith(".")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {directory}: {logs}")
    return logs[0]


SPARK_COUNTERS = (
    "cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "input_bytes",
)


def attribute_tasks(log: EventLog, spans: list[Span]) -> dict[int, dict]:
    """Task counters summed per span id.  A task whose stage carries no
    span tag goes to the unit (root span) whose interval holds the
    stage's submission; tasks outside every unit are dropped."""
    known = {s.sid for s in spans}
    roots = [s for s in spans if s.parent is None]
    out: dict[int, dict] = {}
    for t in log.tasks:
        st = log.stages.get(t.stage, {})
        sid = st.get("span")
        if sid not in known:
            when = st.get("submit") or t.launch
            sid = next(
                (r.sid for r in roots if r.start <= when <= r.end), None
            )
        if sid is None:
            continue
        acc = out.setdefault(sid, dict.fromkeys(SPARK_COUNTERS, 0))
        for k in SPARK_COUNTERS:
            acc[k] += getattr(t, k)
    return out


def jobs_in_window(log: EventLog, start: float, end: float) -> dict:
    """Jobs, executed stages and tasks submitted inside [start, end]."""
    jobs = {j for j, d in log.jobs.items() if start <= d["submit"] <= end}
    stages = {
        s for s, d in log.stages.items()
        if "done" in d and start <= d["submit"] <= end
    }
    tasks = sum(1 for t in log.tasks if start <= t.launch <= end)
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}
