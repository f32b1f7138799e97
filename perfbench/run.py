#!/usr/bin/env python3
"""End-to-end benchmark of the engine: the market pipeline and the query suite.

Usage (from the repository root)::

    python3 perfbench/run.py --workload market_day --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json and perfbench/README.md):

- ``market_day``  — day-1 batch, streaming ticks with vault increments,
  day-2 batch with a replay of day 1 (perfbench/market.py);
- ``query_suite`` — a fixed sample of the registered queries over seeded
  tables (perfbench/queries.py).

One Spark session on ``local[<cores>]`` per run, driven from this process.
Setup (session start, warm-up, and the workload's input preparation, the
last repeated ``SETUP_REPEATS`` times) is outside the measured region. The
measured region runs passes of the workload until ``--seconds`` have passed,
at least one; every operation is checked outside its own timing.

``--trace 1`` also records spans and Spark status-store counters per engine
call (perfbench/spans.py) and prints the per-layer metrics instead of the
end-to-end ones; the spans go to ``perfbench/_out/``.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The line before it is a report with the workload's own figures (batch days,
tick and query medians, failed_ratio, failures, leaks, sizes).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "stock_crypto_data_pipeline_public_spark"
WORKLOADS = ("market_day", "query_suite")
SETUP_REPEATS = 3
DRIVER_MEMORY = "2g"

E2E_UNITS = {"setup_s": "s", "total_s": "s", "peak_rss_mb": "MB"}
LAYERS = ("flows.ingest_raw", "flows.transform", "quality", "streaming.pipeline", "vault_incremental")
FAMILIES = ("relational", "eventops", "finance", "graphops", "multimodal", "streamops",
            "textops", "vault", "vectorops")
COUNTER_UNITS = {"jobs": "count", "tasks": "count", "executor_run_s": "s", "executor_cpu_s": "s",
                 "shuffle_bytes": "bytes", "driver_s": "s"}
LEAKS = ("streams", "persistent_rdds", "cached_relations", "scratch_dirs")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, in BENCHMARK.json order."""
    units = {"session.s": "s"}
    for layer in LAYERS:
        units[f"{layer}.s"] = "s"
        units.update({f"{layer}.{k}": u for k, u in COUNTER_UNITS.items()})
    units.update({f"streaming.pipeline.{p}_ms": "ms" for p in
                  ("latestOffset", "addBatch", "walCommit", "commitOffsets", "queryPlanning")})
    for fam in FAMILIES:
        units[f"plans.{fam}.build_s"] = "s"
        units[f"plans.{fam}.execute_s"] = "s"
        units.update({f"plans.{fam}.{k}": u for k, u in COUNTER_UNITS.items()})
    units.update({f"leaks.{k}": "count" for k in LEAKS})
    units["all.spill_bytes"] = "bytes"
    units["trace.overhead_s"] = "s"
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sizes for the benchmark's own tests")
    return ap.parse_args(argv)


def configure_env(work: str) -> dict[str, str]:
    """Keep every file Spark, the engine and Python write inside ``work``."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "scratch", "spark-warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_SCRATCH_DIR": dirs["scratch"],
        "SPARK_WAREHOUSE_DIR": dirs["spark-warehouse"],
        # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir says
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        # Python workers unpickle UDFs that import the engine package
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    })
    sys.path[:0] = [ROOT, HERE]
    return dirs


class RssSampler(threading.Thread):
    """Peak of (this process + the JVM) resident memory, from /proc."""

    def __init__(self, pids: list[int], interval: float = 0.05):
        super().__init__(daemon=True)
        self.pids, self.interval, self.peak_kb = pids, interval, 0
        self._stop_event = threading.Event()

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def run(self):
        while not self._stop_event.is_set():
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in self.pids))
            self._stop_event.wait(self.interval)

    def stop(self) -> float:
        self._stop_event.set()
        self.join()
        return self.peak_kb / 1024


def clear_leaks(spark, scratch: str) -> dict[str, int]:
    """Count what the last operation left behind, then remove it."""
    jsc = spark.sparkContext._jsc
    streams = spark.streams.active
    for q in streams:
        q.stop()
    rdds = jsc.getPersistentRDDs()
    counts = {
        "streams": len(streams),
        "persistent_rdds": len(rdds),
        "cached_relations": 0 if spark._jsparkSession.sharedState().cacheManager().isEmpty() else 1,
        "scratch_dirs": len(os.listdir(scratch)),
    }
    spark.catalog.clearCache()
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)
    for entry in os.listdir(scratch):
        shutil.rmtree(os.path.join(scratch, entry), ignore_errors=True)
    return counts


class Bench:
    def __init__(self, args, work: str, dirs: dict[str, str]):
        self.args, self.work, self.dirs = args, work, dirs
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.leaks = dict.fromkeys(LEAKS, 0)
        self.ops: list[tuple[int, str, str, float]] = []  # (pass, op, kind, seconds)
        self.check_s = 0.0

    # -- setup --------------------------------------------------------------
    def start_session(self):
        from stock_crypto_data_pipeline_public_spark.session import get_spark

        self.cores = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", cpus=self.cores, shuffle_partitions=self.cores,
            extra_conf={"spark.driver.memory": DRIVER_MEMORY,
                        # a fixed, pre-touched heap: resident memory then moves with
                        # off-heap and driver use, not with the collector's sizing
                        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.dirs['tmp']} "
                                                         f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
                        "spark.ui.showConsoleProgress": "false"},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark.sparkContext._gateway.proc
        # one tiny action so JVM start-up is not billed to the first operation
        self.spark.range(1000).selectExpr("sum(id)").collect()
        self.session_s = time.perf_counter() - t0

    def prepare(self):
        """Workload inputs, built SETUP_REPEATS times; the last one is used."""
        times = []
        for i in range(SETUP_REPEATS):
            path = os.path.join(self.work, f"setup{i}")
            t0 = time.perf_counter()
            self.expected = self.setup_inputs(path)
            times.append(time.perf_counter() - t0)
            if i < SETUP_REPEATS - 1:
                shutil.rmtree(path)
        self.inputs = path
        self.setup_s = self.session_s + statistics.median(times)

    # -- measured region ----------------------------------------------------
    def measure(self):
        from spans import Tracer

        run_id = f"{self.args.workload}-{self.args.seed}"
        self.tracer = Tracer(self.spark, run_id, bool(self.args.trace), self.cores)
        sampler = RssSampler([os.getpid(), self.jvm.pid])
        sampler.start()
        t0 = time.perf_counter()
        n = 0
        while n == 0 or time.perf_counter() - t0 < self.args.seconds:
            self.run_pass(n)
            n += 1
        self.peak_rss_mb = sampler.stop()
        self.passes = n

    def run_op(self, n: int, op: str, kind: str, fn) -> None:
        """Time one operation, then check it and clear its leftovers."""
        self.attempted += 1
        problems: list[str] = []
        with self.tracer.span(op) as span:
            try:
                check = fn()
            except Exception as e:  # noqa: BLE001 — a failed op is a result
                check, problems = None, [f"{type(e).__name__}: {str(e)[:300]}"]
        t0 = time.perf_counter()
        if check is not None:
            try:
                problems = check()
            except Exception as e:  # noqa: BLE001
                problems = [f"check raised {type(e).__name__}: {str(e)[:300]}"]
        for key, count in clear_leaks(self.spark, self.dirs["scratch"]).items():
            self.leaks[key] += count
        self.check_s += time.perf_counter() - t0
        if problems:
            self.failed += 1
            self.failures += [f"pass {n} {op}: {p}" for p in problems]
        self.ops.append((n, op, kind, span.seconds))

    # -- results ------------------------------------------------------------
    def op_times(self, kind: str) -> list[float]:
        return [s for _, _, k, s in self.ops if k == kind]

    def end_to_end(self) -> dict[str, float]:
        per_pass = [sum(s for p, _, _, s in self.ops if p == n) for n in range(self.passes)]
        return {
            "setup_s": self.setup_s,
            "total_s": statistics.median(per_pass),
            "peak_rss_mb": self.peak_rss_mb,
        }

    def per_layer(self) -> dict[str, float]:
        totals = self.tracer.layer_totals()
        out = dict.fromkeys(per_layer_units(), 0.0)
        out["session.s"] = self.session_s
        spill = 0.0
        for layer, agg in totals.items():
            spill += agg.get("spill_bytes", 0.0)
            if layer in LAYERS:
                out[f"{layer}.s"] = agg["s"]
                for key in COUNTER_UNITS:
                    out[f"{layer}.{key}"] = agg.get(key, 0.0)
                if layer == "streaming.pipeline":
                    for key, value in agg.items():
                        if key.endswith("_ms"):
                            out[f"{layer}.{key}"] = value
            elif layer.startswith("plans."):
                fam, phase = layer.rsplit(".", 1)
                out[f"{fam}.{phase}_s"] = agg["s"]
                for key in COUNTER_UNITS:
                    out[f"{fam}.{key}"] += agg.get(key, 0.0)
        for key, count in self.leaks.items():
            out[f"leaks.{key}"] = count
        out["all.spill_bytes"] = spill
        out["trace.overhead_s"] = self.tracer.overhead_s
        return out

    def report(self, e2e: dict[str, float]) -> dict:
        return {
            "workload": self.args.workload, "seed": self.args.seed, "trace": self.args.trace,
            "passes": self.passes, "cores": self.cores, "sizes": self.describe(),
            "figures": {k: round(v, 4) for k, v in {**e2e, **self.figures(e2e)}.items()},
            "failed_ratio": self.failed / max(1, self.attempted),
            "trace_overhead_s": round(self.tracer.overhead_s, 4),
            "leaks": self.leaks,
            "check_s": round(self.check_s, 3),
            "ops": [[op, round(s, 3)] for _, op, _, s in self.ops],
            "failures": self.failures[:20],
        }


class MarketBench(Bench):
    def __init__(self, *args):
        super().__init__(*args)
        import market

        self.market = market
        self.sizes = market.SMOKE_SIZES if self.args.smoke else market.SIZES

    def setup_inputs(self, path):
        return self.market.setup(path, self.args.seed, self.sizes)

    def describe(self):
        return self.market.describe(self.sizes)

    def run_pass(self, n: int) -> None:
        day = self.market.MarketDay(self.spark, self.tracer, self.inputs, self.expected,
                                    os.path.join(self.work, f"pass{n}"), self.sizes.ticks)
        for op, kind, deliver, fn in day.ops():
            deliver()
            self.run_op(n, op, kind, fn)

    def figures(self, e2e: dict[str, float]) -> dict[str, float]:
        return {
            "batch_initial_s": statistics.median(s for _, op, _, s in self.ops if op == "day1"),
            "batch_daily_s": statistics.median(s for _, op, _, s in self.ops if op == "day2"),
            "tick_p50_s": statistics.median(self.op_times("tick")),
        }


class QueryBench(Bench):
    def __init__(self, *args):
        super().__init__(*args)
        import queries

        self.queries = queries
        self.names = queries.sample(queries.SMOKE_STRIDE if self.args.smoke else queries.STRIDE)

    def start_session(self):
        super().start_session()
        # one Arrow round trip so Python-worker start-up is not billed to
        # whichever UDF query happens to run first
        t0 = time.perf_counter()
        self.spark.range(64).repartition(self.cores).mapInPandas(
            lambda it: it, "id long"
        ).write.format("noop").mode("overwrite").save()
        self.session_s += time.perf_counter() - t0

    def prepare(self):
        super().prepare()
        t0 = time.perf_counter()
        self.queries.warm_up(self.spark, self.inputs)
        self.setup_s += time.perf_counter() - t0

    def setup_inputs(self, path):
        return self.queries.setup(path, self.args.seed, self.names)

    def describe(self):
        return self.queries.describe(self.names)

    def run_pass(self, n: int) -> None:
        order = list(self.names)
        random.Random(self.args.seed * 1000 + n).shuffle(order)
        for name in order:
            def op(name=name):
                df = self.queries.run_query(self.tracer, name, self.inputs)
                return lambda: self.queries.check(name, df, self.expected[name])

            self.run_op(n, name, "query", op)

    def figures(self, e2e: dict[str, float]) -> dict[str, float]:
        return {"query_total_s": e2e["total_s"],
                "query_p50_s": statistics.median(self.op_times("query"))}


def stop_jvm(bench: Bench) -> None:
    """Stop Spark and wait until the JVM (and its Python workers) ended."""
    spark = getattr(bench, "spark", None)
    if spark is None:
        return
    proc = bench.jvm
    spark.stop()
    from pyspark import SparkContext

    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
        SparkContext._gateway = None
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the engine package {PACKAGE}/ is not next to perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, "_out")
    os.makedirs(out_dir, exist_ok=True)
    dirs = configure_env(work)
    bench = (MarketBench if args.workload == "market_day" else QueryBench)(args, work, dirs)
    try:
        bench.start_session()
        bench.prepare()
        bench.measure()
        e2e = bench.end_to_end()
        if args.trace:
            trace_path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl")
            bench.tracer.write(trace_path)
            metrics, units = bench.per_layer(), per_layer_units()
        else:
            metrics, units = e2e, E2E_UNITS
        report = bench.report(e2e)
    finally:
        stop_jvm(bench)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
