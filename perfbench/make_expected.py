#!/usr/bin/env python3
"""Regenerate ``perfbench/expected.json`` from the engine as checked out.

    python3 perfbench/make_expected.py

For each scale factor the benchmark runs at (``run.SF``, and the smoke
tests' 0.001), every query op is run in two fresh sessions.  The row
count and ``xxhash64`` digest of the first are the expected result; an
op whose digest differs between the two sessions is checked on its row
count only and listed under ``rows_only``.  At ``run.SF`` every op with
an ``ORACLE`` entry is also cross-checked once against DuckDB with
``tools/oracle_check.py``; its verdict is recorded under ``oracle``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402

NAMES = W.MARTS + W.CURATION
SCALES = (run.SF, 0.001)


def collect(sf_dir: str) -> dict:
    """{op: [rows, digest]} from one fresh session."""
    from bi_etl_and_integration_spark import get_session
    from bi_etl_and_integration_spark import queries as Q
    spark = get_session("perfbench-expected")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name in NAMES:
        spark.catalog.clearCache()
        Q.remark_session_caches(spark)
        row = W.consume(Q.QUERIES[name](spark, sf_dir)).collect()[0]
        out[name] = [row["n"], row["digest"]]
    spark.stop()
    return out


def in_subprocess(work: str, *args) -> subprocess.CompletedProcess:
    env = dict(os.environ, TMPDIR=os.path.join(work, "tmp"), PYTHONPATH=ROOT,
               SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    os.makedirs(env["TMPDIR"], exist_ok=True)
    return subprocess.run([sys.executable, *args], cwd=work, env=env,
                          capture_output=True, text=True, check=False)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--collect", metavar="SF_DIR")
    args = p.parse_args()
    if args.collect:
        run.configure_env(os.getcwd(), len(os.sched_getaffinity(0)))
        sys.path.insert(0, ROOT)
        print(json.dumps(collect(args.collect)))
        return 0
    expected = {}
    for sf in SCALES:
        work = os.path.join(ROOT, ".perfbench", "expected", f"sf{sf}")
        sf_dir = os.path.join(work, "data")
        datagen.write_fixtures(sf_dir, sf)
        runs = []
        for i in range(2):
            r = in_subprocess(work, os.path.abspath(__file__),
                              "--collect", sf_dir)
            if r.returncode:
                sys.stderr.write(r.stderr[-4000:])
                return 1
            runs.append(json.loads(r.stdout.strip().splitlines()[-1]))
        first, second = runs
        bad = [n for n in NAMES if first[n][0] != second[n][0]]
        if bad:
            print(f"row counts differ between sessions: {bad}",
                  file=sys.stderr)
            return 1
        entry = {"ops": {n: {"rows": first[n][0], "digest": first[n][1]}
                         for n in NAMES},
                 "rows_only": sorted(n for n in NAMES
                                     if first[n][1] != second[n][1])}
        if sf == run.SF:
            entry["oracle"] = oracle_verdicts(work, sf_dir)
        expected[str(sf)] = entry
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


def oracle_verdicts(work: str, sf_dir: str) -> dict:
    sys.path.insert(0, ROOT)
    from bi_etl_and_integration_spark.queries import ORACLE
    names = [n for n in NAMES if n in ORACLE]
    r = in_subprocess(work, os.path.join(ROOT, "tools", "oracle_check.py"),
                      sf_dir, *names)
    verdicts = {}
    for line in r.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL"):
            verdicts[rest.split(":")[0]] = word
    missing = set(names) - set(verdicts)
    if missing:
        raise RuntimeError(f"oracle_check gave no verdict for {missing}")
    return verdicts


if __name__ == "__main__":
    sys.exit(main())
