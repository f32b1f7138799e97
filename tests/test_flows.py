"""End-to-end batch flow test: faker → CSV landing → typed raw tables →
vault/mart DAG → quality suite, plus idempotent re-run and a second
incremental batch (flows.py = the reference's Prefect orchestration
collapsed into one Spark driver program). Also covers the concurrent
per-table and per-check jobs: job groups, partial failure, result order."""

from __future__ import annotations

import os
import threading
import time
import warnings
from datetime import datetime

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from stock_crypto_data_pipeline_public_spark.flows import BatchFlow
from stock_crypto_data_pipeline_public_spark.quality import run_market_quality_suite
from stock_crypto_data_pipeline_public_spark.schemas import SCHEMAS
from stock_crypto_data_pipeline_public_spark.session import run_concurrently
from stock_crypto_data_pipeline_public_spark.sources.faker import MarketDataFaker

#: run_market_quality_suite's checks, in definition order
CHECKS = [
    "hub_customer_unique", "hub_asset_unique", "hub_transaction_unique",
    "hub_customer_not_null", "fct_tx_customer_fk", "fct_tx_asset_fk",
    "transaction_type_valid", "customer_tier_valid", "risk_tolerance_valid",
    "asset_type_valid", "transaction_amount_calc", "transaction_fee_reasonable",
    "transaction_date_consistency", "volume_positive", "price_positive",
    "stock_price_range_valid", "week52_range_valid", "price_comparison_variance",
    "news_impact_returns_calc", "scd2_effective_dates", "history_no_overlaps",
    "exactly_one_current", "year_founded_reasonable", "email_format_valid",
    "url_format_valid", "news_not_future", "price_freshness",
]


def _small_day(spark, tmp_path, seed=5):
    flow = BatchFlow(landing_dir=str(tmp_path / "landing"), warehouse_dir=str(tmp_path / "warehouse"))
    raw = MarketDataFaker(seed=seed, n_corporates=3, n_customers=12, n_transactions=30,
                          n_price_days=3, n_news=4).generate(spark)
    flow.land(raw, datetime(2024, 2, 1, 20, 0, 0))
    return flow


@pytest.fixture(scope="module")
def flow(tmp_path_factory):
    base = tmp_path_factory.mktemp("wh")
    return BatchFlow(landing_dir=str(base / "landing"), warehouse_dir=str(base / "warehouse"))


@pytest.fixture(scope="module")
def first_run(spark, flow):
    raw = MarketDataFaker(seed=11, n_corporates=6, n_customers=30, n_transactions=120,
                          n_price_days=8, n_news=10).generate(spark)
    flow.land(raw, datetime(2024, 2, 1, 20, 0, 0))
    appended = flow.ingest_raw(spark)
    return raw, appended


def test_ingest_appends_all_tables(spark, first_run, flow):
    raw, appended = first_run
    assert list(appended) == [name for name in SCHEMAS if name in raw]
    for name, df in raw.items():
        # all distinct keyed rows landed (dropDuplicates on the load keys;
        # load_timestamp is re-stamped at ingest so key dedup is per batch)
        assert appended[name] > 0
        got = spark.read.parquet(f"{flow.warehouse_dir}/{name}")
        assert set(got.columns) == set(df.columns)


def test_typed_round_trip(spark, first_run, flow):
    back = spark.read.parquet(f"{flow.warehouse_dir}/raw_transaction_personal")
    dtypes = dict(back.dtypes)
    assert dtypes["quantity"] == "decimal(20,8)"
    assert dtypes["transaction_amount"] == "decimal(20,2)"
    assert dtypes["transaction_timestamp"] == "timestamp"
    assert dtypes["data_date"] == "date"
    assert back.filter(F.col("transaction_id").isNull()).count() == 0


def test_rerun_is_idempotent(spark, first_run, flow):
    # same landing files -> same run-suffix load stamps -> zero new rows
    appended = flow.ingest_raw(spark)
    assert all(n == 0 for n in appended.values()), appended


def test_transform_and_quality(spark, first_run, flow):
    ctx = flow.transform(spark, persist=True)
    assert ctx["fct_transactions"].count() > 0
    results = flow.test(ctx, as_of="2024-03-01")
    assert list(results) == CHECKS
    failures = {k: v for k, v in results.items() if v != 0}
    assert failures == {}, failures


def test_second_batch_increments(spark, flow, first_run):
    # a later generator run lands new files; only new business keys append
    raw2 = MarketDataFaker(seed=99, n_corporates=3, n_customers=10, n_transactions=40,
                           n_price_days=8, n_news=5).generate(spark)
    before = spark.read.parquet(f"{flow.warehouse_dir}/raw_customers").count()
    flow.land(raw2, datetime(2024, 2, 2, 20, 0, 0))
    appended = flow.ingest_raw(spark)
    assert appended["raw_customers"] > 0
    after = spark.read.parquet(f"{flow.warehouse_dir}/raw_customers").count()
    assert after == before + appended["raw_customers"]
    # the DAG still builds green over the merged warehouse
    ctx = flow.transform(spark, select=["hub_customer", "dim_customer"])
    assert ctx["dim_customer"].count() == ctx["hub_customer"].count()


def _job_id_bound(spark) -> int:
    """Id the next Spark job will get, once every earlier job is visible
    to the status tracker."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.dagScheduler().nextJobId()


def test_concurrent_jobs_keep_the_callers_job_group(spark, tmp_path):
    flow = _small_day(spark, tmp_path)
    assert not spark.streams.active  # no other job source while counting
    sc = spark.sparkContext
    first = _job_id_bound(spark)
    sc.setJobGroup("g", "ingest and quality suite")
    try:
        flow.ingest_raw(spark)
        ctx = flow.transform(spark, persist=True)
        first_quality = _job_id_bound(spark)
        run_market_quality_suite(ctx)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    end = _job_id_bound(spark)
    for df in ctx.values():
        df.unpersist()
    assert first < first_quality < end
    missing = set(range(first, end)) - set(sc.statusTracker().getJobIdsForGroup("g"))
    assert not missing, sorted(missing)


def test_failed_table_does_not_stop_the_others(spark, tmp_path):
    flow = _small_day(spark, tmp_path)
    # a middle table: tables before and after it in SCHEMAS order must land
    broken = os.path.join(flow.warehouse_dir, "raw_customers")
    os.makedirs(flow.warehouse_dir)
    with open(broken, "wb") as f:
        f.write(b"not a parquet table")
    threads = threading.active_count()
    with pytest.raises(Py4JJavaError):
        flow.ingest_raw(spark)
    assert threading.active_count() == threads
    for name in SCHEMAS:
        if name != "raw_customers":
            assert spark.read.parquet(os.path.join(flow.warehouse_dir, name)).count() > 0, name

    os.remove(broken)
    appended = flow.ingest_raw(spark)
    assert appended.pop("raw_customers") > 0
    assert all(n == 0 for n in appended.values()), appended


def test_run_concurrently_waits_for_all_and_raises_the_first_failure(spark):
    done = []

    def ok(i, delay=0.0):
        time.sleep(delay)
        done.append(i)
        return i

    def fail(i):
        done.append(i)
        raise ValueError(f"call {i}")

    with warnings.catch_warnings():
        # the session-less wrapper warns that tags are not inherited
        warnings.filterwarnings("error", message="Spark session is not provided")
        assert run_concurrently(spark, [lambda: ok(0, 0.2), lambda: ok(1), lambda: ok(2)]) == [0, 1, 2]
    assert run_concurrently(spark, []) == []
    done.clear()
    with pytest.raises(ValueError, match="call 1"):
        run_concurrently(spark, [lambda: ok(0, 0.2), lambda: fail(1), lambda: fail(2),
                                 lambda: ok(3, 0.3)])
    assert sorted(done) == [0, 1, 2, 3]
