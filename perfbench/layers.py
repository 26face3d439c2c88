"""Metric catalogue and the per-layer metrics computed from spans.

Every metric names the end-to-end metric it should move and the
workload it should move it on (``moves`` / ``on``); ``BENCHMARK.json``
lists the same names, units and directions.  Per-layer sums are over
the run's one pass over the workload's op set.
"""

from __future__ import annotations

from collections import defaultdict

from stats import core_busy_ratio, median

#: (name, unit, better, bound): metrics a user of the engine sees.  The
#: pass time is CPU seconds of the whole process tree (driver, JVM,
#: Python workers): on a host whose CPUs other guests share, a pass's
#: wall-clock time moved up to 2x with their load.  The wall-clock
#: figures are the per-layer ``client.*`` metrics.
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("pass_cpu_s", "s", "lower", 0.25),
)

OPERATOR_MODULES = ("relational", "aggregate", "windows", "arrays",
                    "cleanse", "cdc", "curation", "dedup", "dimensional",
                    "fuzzy", "multimodal", "mv", "similarity", "text")
_OP_ON = {"dedup": "curation", "similarity": "curation", "text": "curation",
          "curation": "curation", "multimodal": "curation",
          "fuzzy": "curation"}

#: (name, unit, better, moves, on)
PER_LAYER = (
    ("session.start_s", "s", "lower", "setup_s", "all"),
    ("sources.catalog_s", "s", "lower", "setup_s", "all"),
    ("sources.stage_s", "s", "lower", "setup_s", "marts"),
    ("sources.scan_mb", "MB", "lower", "pass_cpu_s", "marts"),
    ("sources.write_mb", "MB", "lower", "pass_cpu_s", "marts"),
    ("queries.build_s", "s", "lower", "pass_cpu_s", "marts"),
    ("queries.build_jobs", "count", "lower", "pass_cpu_s", "marts"),
    ("catalyst.plan_s", "s", "lower", "pass_cpu_s", "marts"),
    ("exec.run_s", "s", "lower", "pass_cpu_s", "marts, curation"),
    ("exec.jobs", "count", "lower", "pass_cpu_s", "marts"),
    ("exec.stages", "count", "lower", "pass_cpu_s", "marts"),
    ("exec.stages_skipped", "count", "higher", "pass_cpu_s", "marts"),
    ("exec.tasks", "count", "lower", "pass_cpu_s", "marts, curation"),
    ("exec.tasks_failed", "count", "lower", "pass_cpu_s", "all"),
    ("exec.task_busy_s", "s", "lower", "pass_cpu_s", "curation"),
    ("exec.core_busy_ratio", "ratio", "higher", "pass_cpu_s", "curation"),
    ("exec.shuffle_write_mb", "MB", "lower", "pass_cpu_s", "curation"),
    ("exec.spill_mb", "MB", "lower", "pass_cpu_s", "curation"),
    ("exec.gc_s", "s", "lower", "pass_cpu_s", "curation"),
    ("exec.task_skew", "ratio", "lower", "pass_cpu_s", "curation"),
    ("cache.rdds_left", "count", "lower", "pass_cpu_s",
     "curation"),
    ("cache.mb_left", "MB", "lower", "pass_cpu_s", "curation"),
    *((f"operators.{m}.{k}", u, "lower", e, _OP_ON.get(m, "marts"))
      for m in OPERATOR_MODULES
      for k, u, e in (("calls", "count", "pass_cpu_s"),
                      ("self_s", "s", "pass_cpu_s"),
                      ("jobs", "count", "pass_cpu_s"),
                      ("ops_s", "s", "pass_cpu_s"))),
    ("pipeline.overhead_s", "s", "lower", "pass_cpu_s", "marts"),
    ("pipeline.retries", "count", "lower", "pass_cpu_s", "marts"),
    ("snapshots.commit_s", "s", "lower", "pass_cpu_s", "marts"),
    ("snapshots.read_s", "s", "lower", "pass_cpu_s", "marts"),
    ("snapshots.compact_s", "s", "lower", "pass_cpu_s", "marts"),
    ("snapshots.vacuum_s", "s", "lower", "pass_cpu_s", "marts"),
    ("snapshots.files_live", "count", "lower", "pass_cpu_s", "marts"),
    ("snapshots.write_amp", "ratio", "lower", "pass_cpu_s", "marts"),
    ("snapshots.space_amp", "ratio", "lower", "pass_cpu_s", "marts"),
    ("mv.refresh_s", "s", "lower", "pass_cpu_s", "marts"),
    ("mv.read_s", "s", "lower", "pass_cpu_s", "marts"),
    ("mv.delta_files", "count", "lower", "pass_cpu_s", "marts"),
    ("streaming.batches", "count", "lower", "pass_cpu_s", "marts"),
    ("streaming.rows_per_s", "rows/s", "higher", "pass_cpu_s",
     "marts"),
    ("streaming.batch_p50_ms", "ms", "lower", "pass_cpu_s", "marts"),
    ("streaming.add_batch_ms", "ms", "lower", "pass_cpu_s", "marts"),
    ("streaming.commit_ms", "ms", "lower", "pass_cpu_s", "marts"),
    ("streaming.planning_ms", "ms", "lower", "pass_cpu_s", "marts"),
    ("trace.overhead_s", "s", "lower", "none (tracing cost)", "all"),
    # the closed-loop client's wall clock, traced: the untraced run's
    # figures are in its context line
    ("client.wall_s", "s", "lower", "pass_cpu_s", "all"),
    ("client.ops_per_min", "ops/min", "higher", "pass_cpu_s", "all"),
    ("client.op_p50_s", "s", "lower", "pass_cpu_s", "all"),
    ("client.op_cpu_p50_s", "s", "lower", "pass_cpu_s", "all"),
    # peak RSS (VmHWM) of the driver JVM plus the Python process: it did
    # not repeat within a tenth on marts (two modes, 1.85 and 2.25 GB)
    ("process.peak_rss_mb", "MB", "lower", "none", "all"),
)

UNITS = {n: u for n, u, *_ in END_TO_END + PER_LAYER}

#: layer name of each span kind recorded by the harness
OP, BUILD, PLAN, EXEC, STAGE = ("op", "queries.build", "catalyst.plan",
                                "exec", "pipeline.stage")
MB = 1e6


def _subtree(spans):
    """{span id: [span and every descendant]}"""
    kids = defaultdict(list)
    for s in spans:
        kids[s.parent].append(s)
    out = {}

    def walk(s):
        acc = [s]
        for k in kids[s.id]:
            acc.extend(walk(k))
        out[s.id] = acc
        return acc
    for s in kids[None]:
        walk(s)
    return out


def _sum(spans, key):
    return sum(s.counts.get(key, 0) for s in spans)


def from_spans(spans, op_latency: dict, cores: int, skew_of) -> dict:
    """Per-layer metrics from one traced run's spans.

    ``op_latency``: {op span id: seconds}; ``skew_of``: callable giving
    max ÷ median task time of a stage (``SparkCounts.task_skew``)."""
    tree = _subtree(spans)
    by_layer = defaultdict(list)
    for s in spans:
        by_layer[s.layer].append(s)
    m = {}
    builds, plans, execs = by_layer[BUILD], by_layer[PLAN], by_layer[EXEC]
    m["queries.build_s"] = sum(s.seconds for s in builds)
    m["queries.build_jobs"] = sum(
        _sum(tree[s.id], "jobs") for s in builds)
    m["catalyst.plan_s"] = sum(s.seconds for s in plans)
    run_s = sum(s.seconds for s in execs)
    m["exec.run_s"] = run_s
    under_exec = [x for s in execs for x in tree[s.id]]
    for name, key, scale in (
            ("exec.jobs", "jobs", 1), ("exec.stages", "stages", 1),
            ("exec.stages_skipped", "stages_skipped", 1),
            ("exec.tasks", "numCompleteTasks", 1),
            ("exec.tasks_failed", "numFailedTasks", 1),
            ("exec.task_busy_s", "executorRunTime", 1e3),
            ("exec.shuffle_write_mb", "shuffleWriteBytes", MB),
            ("exec.spill_mb", "diskBytesSpilled", MB),
            ("exec.gc_s", "jvmGcTime", 1e3)):
        m[name] = _sum(under_exec, key) / scale
    m["exec.core_busy_ratio"] = (
        core_busy_ratio(_sum(under_exec, "executorRunTime") / 1e3,
                        run_s, cores) if run_s > 0 else 0.0)
    ops = by_layer[OP]
    under_ops = [x for s in ops for x in tree[s.id]]
    m["sources.scan_mb"] = _sum(under_ops, "inputBytes") / MB
    m["sources.write_mb"] = _sum(under_ops, "outputBytes") / MB

    skews = []
    for s in ops:
        longest = max((x.counts["longest_stage"] for x in tree[s.id]
                       if x.counts.get("longest_stage")), default=None)
        if longest is not None:
            skews.append(skew_of(longest))
    m["exec.task_skew"] = median(skews)

    # operator modules: calls, self time and own jobs; an op's primary
    # module is the one with the most self time inside it
    ops_s = defaultdict(float)
    for s in ops:
        own = defaultdict(float)
        for x in tree[s.id]:
            if x.layer.startswith("operators."):
                own[x.layer] += x.self_seconds
        if own:
            ops_s[max(own, key=own.get)] += op_latency[s.id]
    for mod in OPERATOR_MODULES:
        layer = f"operators.{mod}"
        mine = by_layer[layer]
        m[f"{layer}.calls"] = len(mine)
        m[f"{layer}.self_s"] = sum(x.self_seconds for x in mine)
        m[f"{layer}.jobs"] = _sum(mine, "jobs")
        m[f"{layer}.ops_s"] = ops_s[layer]

    def named(suffix):
        return sum(s.seconds for s in spans if s.name.endswith(suffix))
    m["snapshots.commit_s"] = named("SnapshotTable.write")
    m["snapshots.read_s"] = named("SnapshotTable.read")
    m["snapshots.compact_s"] = named("SnapshotTable.compact")
    m["snapshots.vacuum_s"] = named("SnapshotTable.vacuum")
    m["mv.refresh_s"] = named("IncrementalAggMV.refresh")
    m["mv.read_s"] = named("IncrementalAggMV.read")

    progress = [p for s in spans for p in s.counts.get("progress", [])]
    m.update(streaming_metrics(progress))
    return m


def streaming_metrics(progress: list) -> dict:
    """Streaming-layer metrics from ``StreamingQueryProgress`` dicts."""
    def dur(key):
        return median(p["durationMs"].get(key, 0) for p in progress
                      if key in p["durationMs"])
    return {
        "streaming.batches": len(progress),
        "streaming.batch_p50_ms": dur("triggerExecution"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.commit_ms": dur("commitOffsets"),
        "streaming.planning_ms": dur("queryPlanning"),
    }
