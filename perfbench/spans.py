"""Traced-run instrumentation: an in-memory span recorder, wrappers that
open a span around each layer's public entry points, and the attribution
of Spark's job and task metrics (from the event log) and streaming
progress (from a StreamingQueryListener) to those spans.

A span belongs to one layer. Its parent is the innermost span open when
it starts, whichever thread opened it (foreachBatch callbacks run on a
py4j callback thread while the driver thread waits inside the drain).
A span's self time is its duration minus the part its children cover.
A Spark job belongs to the innermost span open at its submission, a
task to the innermost span open at its launch.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

LAYERS = ("session", "tables", "plans", "operators", "sources",
          "streaming", "pipeline")
LAYER_FIELDS = ("calls", "self_s", "outside_job_s", "jobs", "tasks",
                "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
                "spill_bytes")
PLAN_FIELDS = ("build_s", "execute_s")
STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
                 "latestOffset")
STREAM_FIELDS = (("batches", "input_rows")
                 + tuple(f"{p}_s" for p in STREAM_PHASES)
                 + ("state_rows", "sink_partitions"))

# (module, attribute, layer): each wrapper sits at the binding its caller
# looks up at call time.
ENTRY_POINTS = (
    ("asvsp_spark.session", "get_session", "session"),
    ("asvsp_spark.tables", "load", "tables"),
    ("asvsp_spark.operators.rollups", "daily_rollup", "operators"),
    ("asvsp_spark.operators.rollups", "monthly_rollup", "operators"),
    ("asvsp_spark.operators.rollups", "baselines", "operators"),
    ("asvsp_spark.operators.rollups", "annual_nation_rollup", "operators"),
    ("asvsp_spark.operators.dedup", "exact_dedup", "operators"),
    ("asvsp_spark.operators.dedup", "minhash_lsh_pairs", "operators"),
    ("asvsp_spark.operators.components", "dedup_clusters", "operators"),
    ("asvsp_spark.operators.sampling", "mixture_rebalance", "operators"),
    ("asvsp_spark.pipeline", "write_partitioned", "sources"),
    ("asvsp_spark.streaming.queries", "events_stream_reader", "streaming"),
    ("asvsp_spark.streaming.queries", "drain_to_parquet", "streaming"),
    ("asvsp_spark.streaming.queries", "incremental_hourly_drain",
     "streaming"),
    ("asvsp_spark.pipeline", "run_batch_chain", "pipeline"),
    ("asvsp_spark.pipeline", "run_corpus_pipeline", "pipeline"),
)
# factories whose returned foreachBatch callback gets a span per batch
CALLBACK_FACTORIES = (
    ("asvsp_spark.sources.batch", "foreach_batch_overwrite_partitions",
     "sources"),
)


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float = 0.0
    parent: Span | None = None
    children: list[Span] = field(default_factory=list)


class Recorder:
    """Keeps spans in memory while ``active``; thread-safe."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self._open: list[Span] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.active:
            yield
            return
        with self._lock:
            parent = max(self._open, key=lambda s: s.start, default=None)
            sp = Span(layer, name, time.time(), parent=parent)
            self._open.append(sp)
        try:
            yield
        finally:
            with self._lock:
                sp.end = time.time()
                self._open.remove(sp)
                if parent is not None:
                    parent.children.append(sp)
                self.spans.append(sp)

    def innermost_at(self, t: float) -> Span | None:
        """The latest-started span open at epoch time ``t``."""
        best = None
        for sp in self.spans:
            if sp.start <= t <= sp.end and (best is None
                                            or sp.start > best.start):
                best = sp
        return best


def _wrap(fn, rec: Recorder, layer: str, name: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with rec.span(layer, name):
            return fn(*args, **kwargs)
    return wrapper


def _wrap_factory(fn, rec: Recorder, layer: str, name: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        return _wrap(fn(*args, **kwargs), rec, layer, name)
    return wrapper


@contextlib.contextmanager
def instrument(rec: Recorder):
    """Install the span wrappers for the duration of the block."""
    saved = []
    for table, wrap in ((ENTRY_POINTS, _wrap),
                        (CALLBACK_FACTORIES, _wrap_factory)):
        for mod_name, attr, layer in table:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            setattr(mod, attr, wrap(fn, rec, layer, attr))
    try:
        yield
    finally:
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{os.path.abspath(log_dir)}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> tuple[list[tuple], list[tuple]]:
    """(jobs, tasks) from the finished event log under ``log_dir``.

    jobs: (submitted_s, completed_s); tasks: (launch_s, run_s, cpu_s,
    gc_s, shuffle_write_bytes, spill_bytes), times as epoch seconds.
    """
    submitted, completed, tasks = {}, {}, []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    submitted[ev["Job ID"]] = ev["Submission Time"] / 1e3
                elif kind == "SparkListenerJobEnd":
                    completed[ev["Job ID"]] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    tasks.append((
                        ev["Task Info"]["Launch Time"] / 1e3,
                        m.get("Executor Run Time", 0) / 1e3,
                        m.get("Executor CPU Time", 0) / 1e9,
                        m.get("JVM GC Time", 0) / 1e3,
                        (m.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written", 0),
                        m.get("Disk Bytes Spilled", 0),
                    ))
    jobs = [(submitted[j], completed.get(j, submitted[j]))
            for j in sorted(submitted)]
    return jobs, tasks


def _merge(intervals):
    out = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _subtract(intervals, cuts):
    """Parts of the merged ``intervals`` not covered by merged ``cuts``."""
    out = []
    for a, b in intervals:
        for c, d in cuts:
            if d <= a or c >= b:
                continue
            if c > a:
                out.append([a, c])
            a = max(a, d)
            if a >= b:
                break
        if a < b:
            out.append([a, b])
    return out


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def layer_metrics(rec: Recorder, jobs: list[tuple],
                  tasks: list[tuple]) -> dict[str, float]:
    """Every ``L.field`` metric for every layer, plus plans.build_s and
    plans.execute_s; layers with no spans read 0."""
    out = {f"{layer}.{f}": 0 for layer in LAYERS for f in LAYER_FIELDS}
    out.update({f"plans.{f}": 0.0 for f in PLAN_FIELDS})
    job_cover = _merge([[a, b] for a, b in jobs])
    for sp in rec.spans:
        own = _subtract([[sp.start, sp.end]],
                        _merge([[c.start, c.end] for c in sp.children]))
        out[f"{sp.layer}.calls"] += 1
        out[f"{sp.layer}.self_s"] += _length(own)
        out[f"{sp.layer}.outside_job_s"] += _length(_subtract(own, job_cover))
        if sp.layer == "plans":
            out[f"plans.{sp.name}_s"] += sp.end - sp.start
    for submitted, _ in jobs:
        sp = rec.innermost_at(submitted)
        if sp is not None:
            out[f"{sp.layer}.jobs"] += 1
    for launch, run_s, cpu_s, gc_s, shuffle_b, spill_b in tasks:
        sp = rec.innermost_at(launch)
        if sp is None:
            continue
        out[f"{sp.layer}.tasks"] += 1
        out[f"{sp.layer}.task_run_s"] += run_s
        out[f"{sp.layer}.task_cpu_s"] += cpu_s
        out[f"{sp.layer}.gc_s"] += gc_s
        out[f"{sp.layer}.shuffle_write_bytes"] += shuffle_b
        out[f"{sp.layer}.spill_bytes"] += spill_b
    return out


def progress_listener():
    """A StreamingQueryListener that keeps every progress report as
    (trigger epoch s, numInputRows, durationMs, state rows)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[tuple] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            trigger = datetime.fromisoformat(
                p.timestamp.replace("Z", "+00:00")).timestamp()
            state_rows = sum(s.numRowsTotal for s in p.stateOperators)
            self.progress.append((trigger, p.numInputRows,
                                  dict(p.durationMs), state_rows))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


def streaming_metrics(progress: list[tuple], window: tuple[float, float],
                      sink_partitions: int) -> dict[str, float]:
    """streaming.* metrics over the progress reports whose trigger fell
    inside ``window``; state_rows is the last report's state size."""
    out = {f"streaming.{f}": 0 for f in STREAM_FIELDS}
    inside = sorted(p for p in progress if window[0] <= p[0] <= window[1])
    for _, rows, dur, _ in inside:
        out["streaming.batches"] += 1
        out["streaming.input_rows"] += rows
        for phase in STREAM_PHASES:
            out[f"streaming.{phase}_s"] += dur.get(phase, 0) / 1e3
    if inside:
        out["streaming.state_rows"] = inside[-1][3]
    out["streaming.sink_partitions"] = sink_partitions
    return out
