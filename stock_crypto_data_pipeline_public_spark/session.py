"""SparkSession factory with scale-aware defaults.

The engine targets a large multi-executor cluster reading ~100 TB; locally it
runs on ``local[N]``. The defaults below are chosen so the *same plan shapes*
hold at both scales:

- AQE on (runtime re-plan: broadcast conversion, partition coalescing, skew
  join splitting) — stands in for Snowflake/Trino's adaptive optimizers that
  the reference delegates to (SURVEY.md §4).
- ``spark.sql.session.timeZone=UTC`` — the reference pins Asia/Bangkok wall
  time (reference kafka_producer.py:21-22); we pin UTC for oracle parity and
  expose tz conversion as an operator instead (functions/timeops.py).
- Arrow enabled — all pandas interchange (Pandas UDFs, toPandas) is vectorized.
- shuffle partitions sized to cores locally; on a real cluster this should be
  set to ~2-3x total executor cores, and AQE coalesces the rest.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

T = TypeVar("T")


def get_spark(
    app_name: str = "spark-market-engine",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. On a real cluster the
    ``master`` is supplied by the environment (spark-submit); we only force
    local[] when no master is configured.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    shuffle = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver testdata stores events.ts as TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long and convert in the loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # 80+ distinct queries per session: the default 100-entry generated-
        # class cache evicts mid-run and recompile storms hit late queries
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # managed-table root (bucketed vault tables); keep out of the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark-warehouse"),
        )
    )
    # shuffle/spill/broadcast scratch on the fastest local storage (guide
    # §6): production clusters point spark.local.dir / SPARK_LOCAL_DIRS at
    # node-local NVMe; locally scratch.scratch_base() prefers the RAM-backed
    # tmpfs. Env (SPARK_LOCAL_DIRS) and explicit conf still win.
    if "SPARK_LOCAL_DIRS" not in os.environ and not (extra_conf or {}).get(
        "spark.local.dir"
    ):
        from .scratch import scratch_base

        local_dir = os.path.join(scratch_base(), "spark-local")
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    if "SPARK_MASTER" not in os.environ and not os.environ.get("MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def run_concurrently(spark: SparkSession, fns: Iterable[Callable[[], T]]) -> list[T]:
    """Call the zero-argument functions concurrently, up to one thread each,
    so independent Spark actions overlap on the cores; return the results
    in input order.

    Each target inherits the caller's local properties and tags (job group,
    job description), wrapped one by one so no two threads share a
    properties object. Every call finishes before this returns; the first
    failure in input order is then re-raised."""
    targets = [inheritable_thread_target(spark)(fn) for fn in fns]
    if not targets:
        return []
    with ThreadPoolExecutor(max_workers=len(targets)) as pool:
        futures = [pool.submit(target) for target in targets]
    return [f.result() for f in futures]
