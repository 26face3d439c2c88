#!/usr/bin/env python3
"""Per-query figures over the whole corpus, to choose a workload's ops.

    python3 perfbench/survey.py q > survey-q.jsonl     # ~5 min at sf0.01

Runs every batch query whose name starts with the given prefix once, in
one session, in corpus order, with caches cleared before each.  Prints
one JSON line per query: build and exec seconds, the Spark jobs run
while the DataFrame is built and while its result is consumed, and the
``operators.*`` modules it calls.  The ``marts`` ops in ``workloads.py``
were chosen from this output.
"""

from __future__ import annotations

import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def main(prefix: str) -> int:
    work = os.path.join(ROOT, ".perfbench", f"survey-p{os.getpid()}")
    run.configure_env(work, len(os.sched_getaffinity(0)))
    sys.path.insert(0, ROOT)
    import datagen
    import layers
    import workloads as W
    from spans import Tracer, instrument

    from bi_etl_and_integration_spark import get_session
    from bi_etl_and_integration_spark import queries as Q
    sf_dir = os.path.join(work, "data")
    datagen.write_fixtures(sf_dir, run.SF)
    spark = get_session("perfbench-survey")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark, enabled=True)
    instrument(tracer, {f"operators.{m}": importlib.import_module(
        f"bi_etl_and_integration_spark.operators.{m}")
        for m in layers.OPERATOR_MODULES}, {})
    try:
        for name in Q.QUERIES:
            if not name.startswith(prefix) or name in Q.STREAMING_QUERIES:
                continue
            spark.catalog.clearCache()
            Q.remark_session_caches(spark)
            first = len(tracer.spans)
            t0 = time.perf_counter()
            with tracer.span("build", layers.BUILD) as build:
                df = Q.QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
            with tracer.span("exec", layers.EXEC) as ex:
                W.consume(df).collect()
            t2 = time.perf_counter()
            new = tracer.spans[first:]

            def jobs(outer):
                return sum(s.counts["jobs"] for s in new
                           if outer.start <= s.start and s.end <= outer.end)
            print(json.dumps({
                "name": name, "build_s": t1 - t0, "exec_s": t2 - t1,
                "build_jobs": jobs(build), "exec_jobs": jobs(ex),
                "modules": sorted({s.layer for s in new
                                   if s.layer.startswith("operators.")})}),
                flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "q"))
