"""Spans around calls into the engine's layers, with Spark counts per span.

A span times one call made from the benchmark's own code: the workload,
one op, the op's build / plan / exec phases, one pipeline stage, and,
during a traced run, every call into a public function of an
``operators.*`` module, ``SnapshotTable`` or ``IncrementalAggMV``.

Each span sets its id as the Spark job group of the calling thread, so
every job belongs to exactly one span: the innermost one open when the
job was submitted.  Streaming queries run their jobs under their own
group (the query's run id); a span adopts those groups for the queries
started inside it.  Right after a span closes its jobs are read from
``statusTracker`` and their stages from the UI REST API (``/jobs/<id>``
and ``/stages/<id>``), so counts are per job group and never deltas of
cumulative totals.  Spans stay in memory and are written out once, at
the end of the run.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import threading
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime

#: Stage-level REST fields summed into span counts.
STAGE_FIELDS = ("inputBytes", "outputBytes", "shuffleWriteBytes",
                "diskBytesSpilled", "executorRunTime", "jvmGcTime",
                "numCompleteTasks", "numFailedTasks")


@dataclass
class Span:
    id: str
    name: str
    layer: str
    parent: str | None
    start: float
    end: float = 0.0
    #: seconds spent inside child spans and in the tracer's own reads
    covered: float = 0.0
    stream_groups: list = field(default_factory=list)
    streams: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_seconds(self) -> float:
        return self.seconds - self.covered


class SparkCounts:
    """Job, stage and task counts of a set of job groups."""

    def __init__(self, spark, timeout_s: float = 30.0):
        sc = spark.sparkContext
        self.tracker = sc.statusTracker()
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")
        self.timeout_s = timeout_s
        self.seen_stages: set[int] = set()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def _finished_job(self, job_id: int) -> dict:
        """The REST store is fed asynchronously by the listener bus:
        wait until it has the job's end event."""
        deadline = time.monotonic() + self.timeout_s
        while True:
            job = self._get(f"/jobs/{job_id}")
            if job["status"] not in ("RUNNING", "UNKNOWN"):
                return job
            if time.monotonic() > deadline:
                raise TimeoutError(f"job {job_id} never finished in the "
                                   "UI status store")
            time.sleep(0.01)

    def collect(self, groups) -> dict:
        c = dict.fromkeys(("jobs", "stages", "stages_skipped",
                           *STAGE_FIELDS), 0)
        c["longest_stage"] = None          # (wall_ms, stage_id, attempt)
        for g in groups:
            for job_id in self.tracker.getJobIdsForGroup(g):
                job = self._finished_job(job_id)
                c["jobs"] += 1
                c["stages"] += len(job["stageIds"])
                c["stages_skipped"] += job["numSkippedStages"]
                for sid in job["stageIds"]:
                    self._add_stage(c, sid)
        return c

    def _add_stage(self, c: dict, sid: int) -> None:
        # a map stage computed by an earlier job and skipped by this one
        # keeps its id: count its work once, where it ran
        if sid in self.seen_stages:
            return
        for att in self._get(f"/stages/{sid}"):
            if att["status"] not in ("COMPLETE", "FAILED"):
                continue
            self.seen_stages.add(sid)
            for k in STAGE_FIELDS:
                c[k] += att.get(k, 0)
            wall = _wall_ms(att)
            if c["longest_stage"] is None or wall > c["longest_stage"][0]:
                c["longest_stage"] = (wall, sid, att["attemptId"])

    def task_skew(self, stage) -> float:
        """max ÷ median task run time of one stage attempt."""
        _, sid, attempt = stage
        q = self._get(f"/stages/{sid}/{attempt}/taskSummary"
                      "?quantiles=0.5,1.0")["executorRunTime"]
        return q[1] / q[0] if q[0] > 0 else 1.0

    def cached(self) -> tuple[int, float]:
        """RDDs left in the block manager, and their MB."""
        rdds = self._get("/storage/rdd")
        return len(rdds), sum(r["memoryUsed"] + r["diskUsed"]
                              for r in rdds) / 1e6


def _wall_ms(att: dict) -> float:
    fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
    try:
        t0 = datetime.strptime(att["submissionTime"], fmt)
        t1 = datetime.strptime(att["completionTime"], fmt)
    except (KeyError, ValueError):
        return 0.0
    return (t1 - t0).total_seconds() * 1e3


class Tracer:
    """Span recorder.  Disabled, ``span`` yields ``None`` and touches
    nothing, so an untraced run pays no tracing cost."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.overhead_s = 0.0
        self._n = 0
        self.counts = SparkCounts(spark) if enabled else None

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.id, span.name)

    def span(self, name: str, layer: str):
        # only the client thread is traced: a streaming query's
        # foreachBatch callbacks run on other threads, and their jobs
        # reach the open span through the query's own job group
        if (self.enabled
                and threading.current_thread() is threading.main_thread()):
            return _SpanCtx(self, name, layer)
        return _NULL

    def _open(self, name: str, layer: str) -> Span:
        self._n += 1
        parent = self.stack[-1] if self.stack else None
        s = Span(f"pb{self._n}", name, layer,
                 parent.id if parent else None, time.perf_counter())
        self.stack.append(s)
        self._set_group(s)
        self.overhead_s += time.perf_counter() - s.start
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self.stack.pop()
        parent = self.stack[-1] if self.stack else None
        self._set_group(parent)
        s.counts = self.counts.collect([s.id, *s.stream_groups])
        s.counts["progress"] = [json.loads(p.json) for q in s.streams
                                for p in q.recentProgress]
        self.spans.append(s)
        if parent is not None:
            parent.covered += time.perf_counter() - s.start
        self.overhead_s += time.perf_counter() - s.end

    def adopt_stream(self, query) -> None:
        """Attribute a streaming query's jobs and progress to the open span."""
        if self.enabled and self.stack:
            self.stack[-1].stream_groups.append(str(query.runId))
            self.stack[-1].streams.append(query)

    def watch_streams(self) -> None:
        """Adopt every streaming query started from now on."""
        from pyspark.sql.streaming.readwriter import DataStreamWriter
        for name in ("start", "toTable"):
            orig = getattr(DataStreamWriter, name)

            def started(writer, *args, _orig=orig, **kwargs):
                query = _orig(writer, *args, **kwargs)
                self.adopt_stream(query)
                return query
            setattr(DataStreamWriter, name, started)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                d = {k: v for k, v in vars(s).items() if k != "streams"}
                json.dump(d, fh, default=str)
                fh.write("\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self) -> Span:
        self.s = self.tracer._open(self.name, self.layer)
        return self.s

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.s)


class _NullCtx:
    def __enter__(self):
        return None

    def __exit__(self, *exc) -> None:
        return None


_NULL = _NullCtx()


class _Traced:
    """A public function replaced by a span around it.  Pickles as the
    original function, so a UDF closure that references it ships the
    engine's own code to Python workers, never the tracer."""

    def __init__(self, tracer: Tracer, fn, layer: str, name: str):
        functools.update_wrapper(self, fn)
        self._fn, self._tracer, self._layer, self._name = (
            fn, tracer, layer, name)

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name, self._layer):
            return self._fn(*args, **kwargs)

    def __get__(self, obj, owner=None):
        return self if obj is None else functools.partial(self, obj)

    def __reduce__(self):
        return _original, (self._fn,)


def _original(fn):
    return fn


def instrument(tracer: Tracer, modules: dict, classes: dict) -> None:
    """Wrap every public function defined in ``modules`` ({layer:
    module}) and every public method of ``classes`` ({layer: class}),
    and rebind each name that other loaded engine modules imported, so
    ``from ..operators.cdc import apply_changes`` call sites are traced
    too."""
    swaps = {}
    for layer, mod in modules.items():
        for name, obj in list(vars(mod).items()):
            if (not name.startswith("_") and inspect.isfunction(obj)
                    and obj.__module__ == mod.__name__):
                w = _Traced(tracer, obj, layer, f"{layer}.{name}")
                setattr(mod, name, w)
                swaps[id(obj)] = w
    for layer, cls in classes.items():
        for name, obj in list(vars(cls).items()):
            if not name.startswith("_") and inspect.isfunction(obj):
                setattr(cls, name, _Traced(tracer, obj, layer,
                                           f"{cls.__name__}.{name}"))
    root = next(iter(modules.values())).__name__.split(".")[0]
    for mname, mod in list(sys.modules.items()):
        if mname.split(".")[0] != root or mod is None:
            continue
        for name, obj in list(vars(mod).items()):
            if id(obj) in swaps and swaps[id(obj)]._fn is obj:
                setattr(mod, name, swaps[id(obj)])
