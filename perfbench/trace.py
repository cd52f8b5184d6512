"""Layer trace of one discovery, taken from outside the engine.

``Tracer.discovery()`` replaces the layer entry points *as the engine
modules see them* (``operators.cind`` and ``operators.staged`` import the
shared functions by name, so each module's attribute is patched) with
wrappers that record a span per call: name, layer, start, end, parent and
thread.  The patches are undone when the discovery ends.

Spark work is attributed through a job-local property carrying the open
span's id; ``layer_metrics`` joins it with the event log this session
wrote.  Two rules complete the attribution:

* When a top-level call returns, its span id stays on the thread, so the
  jobs the engine submits before its next layer call (which execute the
  lazy plan the call returned, e.g. the overlap table's persist+count)
  count to that layer as its *tail*: the span extends to the end of the
  last such job.  The engine's code between two calls into the same
  layer belongs to that layer too.  All other wall time of the discovery
  is ``engine.self_s``.
* Jobs started on threads the engine spawns do not inherit local
  properties; they form the ``engine.unattributed`` bucket.

Row counts of stage outputs are taken after the discovery has ended
(``Tracer.count_rows``, before the run's cache cleanup), so counting adds
no time and no jobs to the traced discovery.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from perfbench.report import ratio

PROP = "perfbench.span"
COUNT = "count"

# Top-level materializations of the staged engine, by the label the
# engine gives them; other labels are lattice candidate classes.
LABEL_LAYER = {
    "hot_masks": "hot",
    "hot_overflow": "hot",
    "ov_uu": "pair",
    "cind12_21_22": "verify",
}
# Materializations whose row count is a per-layer metric.
LABEL_ROWS = {
    "cand:21": "lattice.cand21_rows",
    "all21_seed": "lattice.seed21_rows",
    "cand:12+21+22": "verify.candidates",
    "cind12_21_22": "verify.verified",
}
LAYERS = ("prefix", "hot", "pair", "lattice", "verify", "minimality", "sink")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    thread: str
    start: float
    end: float = 0.0
    label: str = ""
    census: bool = False  # a capture_overlaps call that ran its own hot census


class Tracer:
    """Spans and row counts of one traced discovery."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._pending: list[tuple[str, object]] = []  # (metric, thunk)
        self.window = (0.0, 0.0)
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str, layer: str, label: str = "") -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            span = Span(
                id=len(self.spans),
                name=name,
                # a nested call is part of the layer that made it
                layer=parent.layer if parent else layer,
                parent=parent.id if parent else None,
                thread=threading.current_thread().name,
                start=time.time(),
                label=label,
            )
            self.spans.append(span)
        stack.append(span)
        self.sc.setLocalProperty(PROP, str(span.id))
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        stack = self._stack()
        stack.pop()
        if stack:
            self.sc.setLocalProperty(PROP, str(stack[-1].id))
        # a top-level span keeps its id on the thread: see the module doc

    @contextmanager
    def span(self, name: str, layer: str):
        s = self._open(name, layer)
        try:
            yield s
        finally:
            self._close(s)

    # -- counts ---------------------------------------------------------

    def _later(self, metric: str, thunk) -> None:
        with self._lock:
            self._pending.append((metric, thunk))

    def count_rows(self) -> None:
        """Take the row counts the wrappers recorded, under a ``count``
        job property.  Call after the discovery, before dropping its
        cached and checkpointed outputs."""
        self.sc.setLocalProperty(PROP, COUNT)
        try:
            for metric, thunk in self._pending:
                self.counts[metric] = self.counts.get(metric, 0) + thunk()
        finally:
            self.sc.setLocalProperty(PROP, None)
            self._pending = []

    # -- patches ---------------------------------------------------------

    def _wrap(self, fn, layer: str, after=None, labeled: bool = False):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            bound = sig.bind(*args, **kwargs)
            label = ""
            if labeled:
                # the staged engine names its stage outputs in the
                # calling frame's ``label`` argument
                label = bound.arguments.get("label") or sys._getframe(1).f_locals.get("label", "")
            span = self._open(fn.__name__, LABEL_LAYER.get(label, layer), label)
            try:
                out = fn(*args, **kwargs)
            finally:
                self._close(span)
            if after is not None:
                after(bound.arguments, out, span)
            return out

        return wrapper

    def _after_prefix(self, args, out, span) -> None:
        _cand, dcap_h, freq_h, _frequent, _capf = out
        self._later("prefix.distinct_captures", dcap_h.select("h1", "h2").distinct().count)
        self._later("prefix.frequent_captures", freq_h.count)

    def _after_pair(self, args, out, span) -> None:
        from pyspark.sql import functions as F

        from rdfind_spark.operators.cind import HOT_LINE_K

        hot = args.get("hot_values")
        span.census = hot is None
        if hot is None:
            census = args["capf"].groupBy("jv1", "jv2").count().filter(F.col("count") > HOT_LINE_K)
            self._later("hot.lines", census.count)
        else:
            self._later("hot.lines", lambda: len(hot))
        # the all-at-once engine persists ``out.coalesce(defaultParallelism)``
        # and leaves it cached, so this count reads the cache, not the pair stage
        self._later("pair.overlap_rows", out.coalesce(self.sc.defaultParallelism).count)

    def _after_minimality(self, args, out, span) -> None:
        self._later("minimality.rows_in", args["cinds"].count)
        self._later("minimality.rows_out", out.count)

    def _after_materialize(self, args, out, span) -> None:
        metric = LABEL_ROWS.get(span.label)
        if metric is None:
            return
        self._later(metric, out.count)
        if metric == "verify.candidates" and "dep_h1" in out.columns:
            self._later("verify.plain_gate", lambda: _plain_gate(out))

    def _patches(self) -> list[tuple[object, str, object]]:
        from rdfind_spark.operators import cind, staged

        out = []
        for mod in (cind, staged):
            out += [
                (mod, "build_capture_tables",
                 self._wrap(mod.build_capture_tables, "prefix", self._after_prefix)),
                (mod, "capture_overlaps", self._wrap(mod.capture_overlaps, "pair", self._after_pair)),
                (mod, "remove_implied_cinds",
                 self._wrap(mod.remove_implied_cinds, "minimality", self._after_minimality)),
                (mod, "materialize",
                 self._wrap(mod.materialize, "lattice", self._after_materialize, labeled=True)),
            ]
        if hasattr(staged, "_verify_candidates"):
            out.append((staged, "_verify_candidates", self._wrap(staged._verify_candidates, "verify")))
        return out

    @contextmanager
    def discovery(self):
        """Trace everything inside: patch, record the window, unpatch."""
        patches = self._patches()
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
        for mod, attr, fn in patches:
            setattr(mod, attr, fn)
        t0 = time.time()
        try:
            yield self
        finally:
            self.window = (t0, time.time())
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)
            self.sc.setLocalProperty(PROP, None)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"window": self.window, "spans": [asdict(s) for s in self.spans], **extra}, f)


def _plain_gate(cands) -> int:
    """The verify hub gate's choice, recomputed from the materialized
    candidate table the engine decides on: the plain join runs when
    distinct dep captures x distinct ref captures <= HOT_LINE_K^2."""
    from pyspark.sql import functions as F

    from rdfind_spark.operators.cind import HOT_LINE_K

    g = cands.select(
        F.count_distinct("dep_h1", "dep_h2").alias("nd"),
        F.count_distinct("ref_h1", "ref_h2").alias("nr"),
    ).collect()[0]
    return int(g.nd * g.nr <= HOT_LINE_K * HOT_LINE_K)


# -- interval arithmetic -------------------------------------------------


def merge(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def measure(intervals, window) -> float:
    """Length of the union of ``intervals`` inside ``window``."""
    lo, hi = window
    return sum(b - a for a, b in merge((max(a, lo), min(b, hi)) for a, b in intervals))


# -- event log -----------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks of the event log(s) under ``log_dir``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    paths = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and "appstatus" not in os.path.basename(p)]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "start": e["Submission Time"] / 1000,
                        "end": None,
                        "prop": (e.get("Properties") or {}).get(PROP),
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    stages[info["Stage ID"]] = {
                        "start": (info.get("Submission Time") or 0) / 1000,
                        "prop": (e.get("Properties") or {}).get(PROP),
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    read = m.get("Shuffle Read Metrics") or {}
                    tasks.append({
                        "stage": e["Stage ID"],
                        "run_s": m.get("Executor Run Time", 0) / 1000,
                        "gc_s": m.get("JVM GC Time", 0) / 1000,
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "shuffle_read": read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                    })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _task_skew(tasks: list[dict]) -> float:
    """max / median task time of the heaviest stage among ``tasks``."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_s"])
    runs = [r for r in by_stage.values() if len(r) > 1]
    if not runs:
        return 1.0
    heaviest = max(runs, key=sum)
    return max(heaviest) / max(statistics.median(heaviest), 0.001)


def layer_metrics(tracer: Tracer, log: dict, cores: int) -> dict[str, float]:
    """Per-layer metrics of the traced discovery from its spans, row
    counts and event log."""
    window = tracer.window
    wall = window[1] - window[0]
    spans = {s.id: s for s in tracer.spans}
    jobs = [j for j in log["jobs"].values()
            if window[0] <= j["start"] <= window[1] and j["prop"] != COUNT]
    for j in jobs:
        j["end"] = j["end"] or window[1]
    stages = {sid: s for sid, s in log["stages"].items()
              if window[0] <= s["start"] <= window[1] and s["prop"] != COUNT}
    tasks = [t for t in log["tasks"] if t["stage"] in stages]

    # a span covers its call and then its tail: up to the end of the last
    # job its thread submitted under its id after the call returned
    span_end = {s.id: s.end for s in tracer.spans}
    for j in jobs:
        if j["prop"] is not None:
            sid = int(j["prop"])
            span_end[sid] = max(span_end[sid], j["end"])
    intervals: dict[str, list] = {layer: [] for layer in LAYERS}
    for s in tracer.spans:
        intervals[s.layer].append((s.start, span_end[s.id]))
        if s.census:
            intervals["hot"].append((s.start, s.end))
    # the engine's code between two consecutive calls into the same layer
    # (composing the next stage output of that layer) belongs to it
    top = sorted((s for s in tracer.spans if s.parent is None), key=lambda s: (s.thread, s.start))
    for a, b in zip(top, top[1:]):
        if a.thread == b.thread and a.layer == b.layer:
            intervals[a.layer].append((span_end[a.id], b.start))

    def layer_tasks(layer):
        return [t for t in tasks
                if stages[t["stage"]]["prop"] is not None
                and spans[int(stages[t["stage"]]["prop"])].layer == layer]

    m: dict[str, float] = {f"{layer}.wall_s": measure(intervals[layer], window) for layer in LAYERS}
    prefix, pair = layer_tasks("prefix"), layer_tasks("pair")
    m["prefix.task_s"] = sum(t["run_s"] for t in prefix)
    m["prefix.shuffle_write_mb"] = sum(t["shuffle_write"] for t in prefix) / 1e6
    m["prefix.spill_mb"] = sum(t["spill"] for t in prefix) / 1e6
    m["pair.task_s"] = sum(t["run_s"] for t in pair)
    m["pair.shuffle_read_mb"] = sum(t["shuffle_read"] for t in pair) / 1e6
    m["pair.task_skew"] = _task_skew(pair)

    for name in ("prefix.distinct_captures", "prefix.frequent_captures", "hot.lines",
                 "pair.overlap_rows", "lattice.cand21_rows", "lattice.seed21_rows",
                 "verify.candidates", "verify.verified", "verify.plain_gate",
                 "minimality.rows_in", "minimality.rows_out"):
        m[name] = tracer.counts.get(name, 0)
    m["prefix.frequent_ratio"] = ratio(m["prefix.frequent_captures"], m["prefix.distinct_captures"])
    m["verify.yield"] = ratio(m["verify.verified"], m["verify.candidates"])

    covered = measure([i for layer in LAYERS for i in intervals[layer]], window)
    m["engine.jobs"] = len(jobs)
    m["engine.task_s"] = sum(t["run_s"] for t in tasks)
    m["engine.gc_s"] = sum(t["gc_s"] for t in tasks)
    m["engine.core_util"] = ratio(m["engine.task_s"], wall * cores)
    m["engine.driver_gap_s"] = wall - measure([(j["start"], j["end"]) for j in jobs], window)
    m["engine.self_s"] = wall - covered
    m["engine.unattributed_jobs"] = sum(1 for j in jobs if j["prop"] is None)
    m["engine.unattributed_task_s"] = sum(
        t["run_s"] for t in tasks if stages[t["stage"]]["prop"] is None
    )
    m["trace.coverage"] = ratio(covered, wall)
    m["trace.discover_s"] = wall
    return m
