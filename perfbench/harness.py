"""One benchmark run: set up the engine, run a workload's ops, check them.

Imported by ``run.py`` after the process environment is configured
(core count, scratch directories), because the engine's session module
reads it at import time.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

import datagen
import layers
import stats
import workloads as W
from spans import Tracer, instrument

from bi_etl_and_integration_spark import get_session
from bi_etl_and_integration_spark import queries as Q
from bi_etl_and_integration_spark.operators.cdc import (
    apply_changes_transactional)
from bi_etl_and_integration_spark.operators.mv import IncrementalAggMV
from bi_etl_and_integration_spark.pipeline import Pipeline
from bi_etl_and_integration_spark.sources import Catalog
from bi_etl_and_integration_spark.sources.snapshots import SnapshotTable
from bi_etl_and_integration_spark.streaming.runner import (
    foreach_batch_upsert_snapshot)

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")
#: set-ups per run; ``setup_s`` is their median, which leaves out the
#: first one's JVM start
SETUPS = 3


def now() -> float:
    return time.perf_counter()


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and its Python workers), reaped children included."""
    me, parent, ticks = os.getpid(), {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:                     # exited while listing
            continue
        parent[int(d)] = int(f[1])
        ticks[int(d)] = sum(int(x) for x in f[11:15])
    total = 0
    for pid in ticks:
        p = pid
        while p and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += ticks[pid]
    return total / os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    """The host's cumulative CPU time per state (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def load_expected(sf: float) -> dict:
    with open(EXPECTED) as fh:
        expected = json.load(fh)
    if str(sf) not in expected:
        raise SystemExit(f"perfbench: no expected results at sf{sf}; "
                         "run perfbench/make_expected.py")
    return expected[str(sf)]


class Bench:
    def __init__(self, args, work: str, cores: int):
        self.args, self.work, self.cores = args, work, cores
        self.sf_dir = os.path.join(work, "data", f"sf{args.sf}")
        self.spark = None
        self.expected = load_expected(args.sf)
        self.op_seconds: dict = {}       # op -> latency
        self.op_latency: dict = {}
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.leaked_rdds: dict = {}      # op -> RDDs it left persisted
        self.last_op = None
        self.cache_left: list = []
        self.op_cpu: list[float] = []    # CPU seconds of each op
        self.extra: dict = {}            # layer metrics measured directly

    # ----------------------------------------------------------- set-up

    def _setup(self) -> dict:
        cpu0 = tree_cpu_s()
        t0 = now()
        self.spark = get_session(f"perfbench-{self.args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = now()
        cat = Catalog(self.spark, self.sf_dir, register_views=False)
        for t in datagen.TABLES:
            cat.table(t)
        t2 = now()
        if self.args.workload == "marts":
            self._fresh_tables()
        t3 = now()
        return {"session_s": t1 - t0, "catalog_s": t2 - t1,
                "stage_s": t3 - t2, "total_s": t3 - t0,
                "cpu_s": tree_cpu_s() - cpu0}

    def _stop_session(self) -> None:
        self.spark.stop()
        self.spark = None

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()          # the JVM exits on stdin EOF
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    def _peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{jvm_pid}/status") as fh:
            hwm_kb = next(int(line.split()[1]) for line in fh
                          if line.startswith("VmHWM:"))
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (hwm_kb + py_kb) / 1024

    # -------------------------------------------------------------- run

    def run(self):
        a = self.args
        datagen.write_fixtures(self.sf_dir, a.sf)
        if a.workload == "marts":
            self.cdc_dir = os.path.join(self.work, "cdc")
            self.batch = datagen.make_cdc_batch(
                self.cdc_dir, self.sf_dir, a.seed)
        setups = []
        for i in range(SETUPS):
            if i:
                self._stop_session()
            setups.append(self._setup())
        self.tracer = Tracer(self.spark, enabled=bool(a.trace))
        if a.trace:
            self._instrument()
        ops = self._ops()
        with self.tracer.span(a.workload, "workload"):
            p = self._pass(ops)
        rss = self._peak_rss_mb()
        context = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "sf": a.sf, "seconds": a.seconds,
            "nproc": len(os.sched_getaffinity(0)),
            "cores_used": self.cores, "pass": p,
            "ops_per_pass": len(ops),
            "setups": setups,
            "rows_only": sorted(self.rows_only),
            "leaked_rdds": self.leaked_rdds,
            "errors": self.errors,
            "op_seconds": self.op_seconds,
            "comparable_with_BENCH_DETAIL": False,
        }
        latencies = list(self.op_seconds.values())
        client = {"client.wall_s": p["wall_s"],
                  "client.ops_per_min": 60.0 * len(latencies) / p["wall_s"],
                  "client.op_p50_s": statistics.median(latencies),
                  "client.op_cpu_p50_s": statistics.median(self.op_cpu),
                  "process.peak_rss_mb": rss}
        context["client"] = client
        if a.trace:
            metrics = self._layer_metrics(setups) | client
            metrics = {name: metrics[name] for name, *_ in layers.PER_LAYER}
            path = os.path.join(os.path.dirname(self.work), "traces",
                                f"{a.workload}-s{a.seed}.jsonl")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            self.tracer.dump(path)
            context["spans"] = os.path.relpath(path, os.getcwd())
        else:
            metrics = {
                "setup_s": statistics.median(s["cpu_s"] for s in setups),
                "pass_cpu_s": p["cpu_s"],
            }
        out = {k: {"value": v, "unit": layers.UNITS[k]}
               for k, v in metrics.items()}
        stats.check_counts(out)
        result = {"correct": self.failed == 0, "attempted": self.attempted,
                  "failed": self.failed, "metrics": out}
        return result, context

    # -------------------------------------------------------------- ops

    @property
    def rows_only(self) -> set:
        return set(self.expected["rows_only"])

    def _ops(self):
        w = self.args.workload
        ops = [(n, lambda n=n: self._query(n))
               for n in W.query_order(w, self.args.seed)]
        if w == "marts":
            ops += [("cdc_batch", self._batch),
                    ("cdc_stream_replay", self._replay)]
        return ops

    def _isolate(self, name: str) -> bool:
        """Drop every cache an earlier op left and re-mark the declared
        session staging (the q24b/q24c pair memo).  RDD-level persists
        that ``clearCache`` cannot reach (``localCheckpoint``) are
        unpersisted and reported against the op that left them."""
        self.spark.catalog.clearCache()
        Q.remark_session_caches(self.spark)
        rdds = self.spark.sparkContext._jsc.getPersistentRDDs()
        if rdds.size():
            self.leaked_rdds[self.last_op] = (
                self.leaked_rdds.get(self.last_op, 0) + rdds.size())
            for rid in list(rdds.keySet().toArray()):
                rdds.get(rid).unpersist(True)
        self.last_op = name
        return self.spark.sparkContext._jsc.getPersistentRDDs().size() == 0

    def _pass(self, ops) -> dict:
        load0, cpu0, tree0 = os.getloadavg()[0], cpu_times(), tree_cpu_s()
        t0 = now()
        for name, fn in ops:
            self._op(name, fn)
        self._end_of_pass()
        wall = now() - t0
        cpu = [b - a for a, b in zip(cpu0, cpu_times())]
        return {"wall_s": wall, "cpu_s": tree_cpu_s() - tree0,
                "loadavg_before": load0,
                "loadavg_after": os.getloadavg()[0],
                # share of the host's CPU time taken by other guests
                "steal_share": cpu[7] / sum(cpu) if sum(cpu) else 0.0}

    def _op(self, name: str, fn) -> None:
        error = (None if self._isolate(name)
                 else "cached RDDs left at op start")
        self.attempted += 1
        span = None
        cpu0 = tree_cpu_s()
        t0 = now()
        try:
            with self.tracer.span(name, layers.OP) as span:
                if not fn():
                    error = error or "wrong result"
        except Exception:                   # noqa: BLE001 — counted, reported
            error = traceback.format_exc(limit=3)
        latency = now() - t0
        self.op_cpu.append(tree_cpu_s() - cpu0)
        self.op_seconds[name] = latency
        if span is not None:
            self.op_latency[span.id] = latency
            self.cache_left.append(self.tracer.counts.cached())
        if error:
            self.failed += 1
            self.errors.append(f"{name}: {error}")
            print(self.errors[-1], file=sys.stderr)

    def _query(self, name: str) -> bool:
        tr = self.tracer
        with tr.span("build", layers.BUILD):
            df = Q.QUERIES[name](self.spark, self.sf_dir)
        with tr.span("plan", layers.PLAN):
            digest = W.consume(df)
            digest._jdf.queryExecution().executedPlan()
        with tr.span("exec", layers.EXEC):
            row = digest.collect()[0]
        want = self.expected["ops"][name]
        return row["n"] == want["rows"] and (
            name in self.rows_only or row["digest"] == want["digest"])

    # ------------------------------------------------- incremental loads

    def _fresh_tables(self) -> None:
        """New snapshot tables bootstrapped from ``orders``, an empty MV."""
        base = os.path.join(self.work, "tables")
        shutil.rmtree(base, ignore_errors=True)  # an earlier set-up's tables
        orders = self.spark.read.parquet(
            os.path.join(self.sf_dir, "orders.parquet"))
        self.table = SnapshotTable(self.spark, os.path.join(base, "orders"))
        self.replay_table = os.path.join(base, "orders_replay")
        self.table.write(orders)
        SnapshotTable(self.spark, self.replay_table).write(orders)
        self.mv = IncrementalAggMV(os.path.join(base, "mv"),
                                   ["o_orderpriority"], W.mv_measures())
        self.ckpt = os.path.join(base, "ckpt")
        self.seen_commits: set = set(os.listdir(
            os.path.join(self.table.path, "data")))
        self.written = 0

    def _batch(self) -> bool:
        tr, spark = self.tracer, self.spark
        p = Pipeline("cdc_batch")

        @p.stage("read")
        def read(ctx):
            with tr.span("read", layers.STAGE):
                return spark.read.parquet(self.batch)

        @p.stage("apply", depends_on=["read"])
        def apply(ctx):
            with tr.span("apply", layers.STAGE):
                return apply_changes_transactional(
                    self.table, ctx["read"], W.KEYS, "offset", "op")

        @p.stage("refresh", depends_on=["read"])
        def refresh(ctx):
            with tr.span("refresh", layers.STAGE):
                self.mv.refresh(ctx["read"])

        @p.stage("read_after_commit", depends_on=["apply"])
        def read_after_commit(ctx):
            from pyspark.sql import functions as F
            with tr.span("read_after_commit", layers.STAGE):
                full = (self.table.read().groupBy("o_orderpriority")
                        .agg(F.count(F.lit(1)), F.sum("o_totalprice"))
                        .collect())
                lo, hi = self.key_range
                hit = (self.table.read(prune=[("o_orderkey", ">=", lo),
                                              ("o_orderkey", "<", hi)])
                       .where(F.col("o_orderkey").between(lo, hi - 1))
                       .count())
                return len(full), hit

        @p.stage("maintain", depends_on=["read_after_commit", "refresh"])
        def maintain(ctx):
            with tr.span("maintain", layers.STAGE):
                self.table.compact()
                self.table.vacuum()
                self.mv.compact(spark)

        with tr.span("run", layers.EXEC):
            t0 = now()
            ctx = p.run(spark, max_parallel=1)
            wall = now() - t0
        stages = {k: v for k, v in ctx.metrics.items() if k != "__status"}
        self.extra["pipeline_overhead_s"] = (
            wall - sum(v["seconds"] for v in stages.values()))
        self.extra["pipeline_retries"] = sum(
            v["attempts"] - 1 for v in stages.values())
        self._count_written()
        return all(s == "ok" for s in ctx.metrics["__status"].values())

    @property
    def key_range(self) -> tuple[int, int]:
        n = datagen.fixture_sizes(self.args.sf)["orders"]
        return n // 2, n // 2 + max(1, n // 100)

    def _count_written(self) -> None:
        data = os.path.join(self.table.path, "data")
        for d in set(os.listdir(data)) - self.seen_commits:
            self.written += stats.tree_bytes(os.path.join(data, d))
            self.seen_commits.add(d)

    def _replay(self) -> bool:
        spark = self.spark
        schema = spark.read.parquet(self.batch).schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(self.cdc_dir))
        with self.tracer.span("run", layers.EXEC):
            t0 = now()
            q = (foreach_batch_upsert_snapshot(
                    stream, table_path=self.replay_table, keys=W.KEYS,
                    offset_col="offset", checkpoint_dir=self.ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            wall = now() - t0
        rows = datagen.pq.ParquetFile(self.batch).metadata.num_rows
        self.extra["stream_rows_per_s"] = rows / wall
        return q.exception() is None

    def _end_of_pass(self) -> None:
        if self.args.workload != "marts":
            return
        import duckdb
        con = duckdb.connect()
        orders = os.path.join(self.sf_dir, "orders.parquet")
        oracle = W.oracle_final_state(orders, self.batch)

        def files(table):
            return [f.removeprefix("file:") for f in table.read().inputFiles()]
        replay = SnapshotTable(self.spark, self.replay_table)
        checks = {
            "final snapshot vs DuckDB": lambda: W.table_mismatch(
                con, files(self.table), oracle) == 0,
            "stream replay vs DuckDB": lambda: W.table_mismatch(
                con, files(replay), oracle) == 0,
            "MV vs DuckDB": lambda: self._mv_rows() == {
                r[0]: (r[1], r[2]) for r in con.sql(
                    W.oracle_mv(self.batch)).fetchall()},
        }
        for what, check in checks.items():
            self.attempted += 1
            try:
                ok = check()
            except Exception:               # noqa: BLE001 — counted, reported
                ok = False
                print(traceback.format_exc(limit=3), file=sys.stderr)
            if not ok:
                self.failed += 1
                self.errors.append(f"end of pass: {what} mismatch")
        live = files(self.table)
        self.extra.update({
            "space_amp": stats.space_amp(
                stats.tree_bytes(self.table.path),
                sum(os.path.getsize(f) for f in live)),
            "write_amp": stats.write_amp(self.written,
                                         os.path.getsize(self.batch)),
            "files_live": len(live),
            "mv_delta_files": self.mv.n_delta_files()})

    def _mv_rows(self) -> dict:
        return {r[0]: (r[1], r[2]) for r in self.mv.read(self.spark)
                .select("o_orderpriority", "n", "amount").collect()}

    # ----------------------------------------------------------- traced

    def _instrument(self) -> None:
        import importlib
        mods = {f"operators.{m}": importlib.import_module(
                    f"bi_etl_and_integration_spark.operators.{m}")
                for m in layers.OPERATOR_MODULES}
        instrument(self.tracer, mods, {"snapshots": SnapshotTable,
                                       "operators.mv": IncrementalAggMV})
        self.tracer.watch_streams()

    def _layer_metrics(self, setups) -> dict:
        m = layers.from_spans(self.tracer.spans, self.op_latency,
                              self.cores, self.tracer.counts.task_skew)

        def med(key):
            return statistics.median(s[key] for s in setups)

        def extra(key):
            return self.extra.get(key, 0.0)
        m.update({
            "session.start_s": med("session_s"),
            "sources.catalog_s": med("catalog_s"),
            "sources.stage_s": med("stage_s"),
            "cache.rdds_left": stats.median(c[0] for c in self.cache_left),
            "cache.mb_left": stats.median(c[1] for c in self.cache_left),
            "pipeline.overhead_s": extra("pipeline_overhead_s"),
            "pipeline.retries": extra("pipeline_retries"),
            "snapshots.files_live": extra("files_live"),
            "snapshots.write_amp": extra("write_amp"),
            "snapshots.space_amp": extra("space_amp"),
            "mv.delta_files": extra("mv_delta_files"),
            "streaming.rows_per_s": extra("stream_rows_per_s"),
            "trace.overhead_s": self.tracer.overhead_s,
        })
        return m
