#!/usr/bin/env python3
"""Benchmark driver: one workload, one seed, one process.

    python3 perfbench/run.py --workload marts --seed 1 --seconds 15 --trace 0

Run from the repository root.  Generates the inputs under
``.perfbench/`` (fixtures at a fixed seed, a change batch from
``--seed``), sets up the engine several times, then runs one pass over
the workload's ops with one client; on a 4-core host a pass takes
20-35 s.  ``--seconds`` is recorded in the context line, and a pass is
never cut short or repeated, so that every run measures the same work.
Every op's output is checked.  The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The line
before it carries the run's context (cores, load, set-ups, each op's
latency).  Exit status is 0 only if every check passed.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

#: scale factor of the generated fixtures
SF = 0.01


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("marts", "curation"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=SF,
                   help="fixture scale factor (the smoke tests use 0.001; "
                        "expected.json has results for these two only)")
    return p.parse_args(argv)


def configure_env(work: str, cores: int) -> None:
    """Everything the engine writes goes under ``work``; the session is
    sized to this host's cores."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_UI": "true",
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_IP": "127.0.0.1",
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "SPARK_GRAFT_CONF_JSON": json.dumps({
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
                # a fixed heap: growing it is a GC-timing decision that
                # moved peak RSS by a fifth from run to run.  C1 only: in
                # a run this short, C2 compiler threads burned half the
                # CPU seconds and most of their run-to-run spread
                "-Xms2g -XX:TieredStopAtLevel=1 -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }),
    })


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # find_spec does not import the package: its session module reads
    # the core count from the environment at import time
    if importlib.util.find_spec("bi_etl_and_integration_spark") is None:
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench",
                        f"{args.workload}-s{args.seed}-p{os.getpid()}")
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        configure_env(work, cores)
        from harness import Bench           # after the environment is set
        bench = Bench(args, work, cores)
        try:
            result, context = bench.run()
        finally:
            bench.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(context))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
