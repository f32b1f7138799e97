"""Incremental vault materialization: appends across batches, hashdiff
change detection, replay idempotence, marts over the materialized layer."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from stock_crypto_data_pipeline_public_spark.flows import BatchFlow
from stock_crypto_data_pipeline_public_spark.schemas import SCHEMAS
from stock_crypto_data_pipeline_public_spark.sources.faker import MarketDataFaker
from stock_crypto_data_pipeline_public_spark.vault_incremental import VAULT_KEYS, VaultMaterializer


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("vinc")
    flow = BatchFlow(landing_dir=str(base / "landing"), warehouse_dir=str(base / "wh"))
    vm = VaultMaterializer(warehouse_dir=flow.warehouse_dir, vault_dir=str(base / "vault"))
    raw = MarketDataFaker(seed=31, n_corporates=5, n_customers=25, n_transactions=70,
                          n_price_days=5, n_news=6).generate(spark)
    flow.land(raw, datetime(2024, 2, 1, 20, 0, 0))
    flow.ingest_raw(spark)
    first = vm.run_increment(spark)
    return flow, vm, first


def test_first_increment_populates_vault(spark, setup):
    _, vm, first = setup
    assert list(first) == list(VAULT_KEYS)
    assert all(n > 0 for n in first.values()), first
    hub = spark.read.parquet(f"{vm.vault_dir}/hub_customer")
    assert hub.count() == hub.select("customer_bk").distinct().count()


def test_replay_appends_nothing(spark, setup):
    _, vm, _ = setup
    again = vm.run_increment(spark)
    assert all(n == 0 for n in again.values()), again


def test_second_batch_appends_only_new(spark, setup):
    flow, vm, _ = setup
    hub_before = spark.read.parquet(f"{vm.vault_dir}/hub_customer").count()

    # new landing: brand-new customers + one attribute change for an
    # existing customer (same business key -> hub unchanged, sat +1 version)
    existing = spark.read.parquet(f"{flow.warehouse_dir}/raw_customers").orderBy("customer_id").first()
    t2 = datetime(2024, 2, 2, 20, 0, 0)
    rows = [
        (f"NEWCUST{i:03d}", f"New{i}", f"Cust{i}", f"n{i}@example.com", "F", "26-35",
         "US", datetime(2020, 1, 1).date(), "Gold", "Moderate", "PERSONAL", None,
         t2 + timedelta(minutes=i), "BATCH_DATA")
        for i in range(5)
    ]
    rows.append((
        existing.customer_id, existing.first_name, existing.last_name, existing.email,
        existing.gender, existing.age_group, existing.country, existing.registration_date,
        "Platinum",  # tier change -> new hashdiff
        existing.risk_tolerance, existing.customer_type, existing.company_id,
        t2, "KAFKA_DATA",
    ))
    batch2 = spark.createDataFrame(rows, SCHEMAS["raw_customers"])
    flow.land({"raw_customers": batch2}, t2)
    flow.ingest_raw(spark)

    appended = vm.run_increment(spark)
    assert appended["hub_customer"] == 5  # only the new business keys
    assert appended["sat_customer_profile"] == 6  # 5 new + 1 changed version
    assert spark.read.parquet(f"{vm.vault_dir}/hub_customer").count() == hub_before + 5

    # the changed customer now has 2 satellite versions with distinct hashdiffs
    sat = spark.read.parquet(f"{vm.vault_dir}/sat_customer_profile")
    from stock_crypto_data_pipeline_public_spark.functions.keys import surrogate_key
    hk = spark.createDataFrame([(existing.customer_id,)], "customer_id string").select(
        surrogate_key("customer_id").alias("hk")
    ).first().hk
    versions = sat.filter(F.col("hk_customer") == hk)
    assert versions.count() == 2
    assert versions.select("hashdiff").distinct().count() == 2


def test_unchanged_redelivery_is_not_a_new_version(spark, setup):
    flow, vm, _ = setup
    # re-deliver an existing customer with IDENTICAL attributes, later load ts
    existing = spark.read.parquet(f"{flow.warehouse_dir}/raw_customers").orderBy(
        F.desc("customer_id")
    ).first()
    t3 = datetime(2024, 2, 3, 20, 0, 0)
    dup = spark.createDataFrame(
        [tuple(existing[c] for c in SCHEMAS["raw_customers"].fieldNames()[:-2]) + (t3, "KAFKA_DATA")],
        SCHEMAS["raw_customers"],
    )
    flow.land({"raw_customers": dup}, t3)
    flow.ingest_raw(spark)
    appended = vm.run_increment(spark)
    assert appended["hub_customer"] == 0
    assert appended["sat_customer_profile"] == 0  # same hashdiff -> no version


def test_markers_cover_empty_models(spark, setup):
    """The processed-through marker must advance for EVERY model — including
    one whose feed produced no rows — so a permanently-empty satellite never
    forces full-history reprocessing (its data HWM stays None forever; the
    marker is what bounds the next run's raw slice)."""
    import json

    _, vm, _ = setup
    with open(f"{vm.vault_dir}/_processed_through.json") as f:
        markers = json.load(f)
    assert set(markers) == set(VAULT_KEYS)
    # one uniform frontier: the landing run stamp all rows carry
    assert len(set(markers.values())) == 1


def test_empty_feed_model_still_gets_sliced_runs(spark, tmp_path):
    """End-to-end ADVICE regression: with the news feed absent (hub_news &
    co permanently empty), the SECOND increment must still apply a cutoff
    slice — before the marker fix, `all(hwm is not None)` failed forever and
    every run reprocessed full raw history."""
    flow = BatchFlow(landing_dir=str(tmp_path / "landing"), warehouse_dir=str(tmp_path / "wh"))
    vm = VaultMaterializer(warehouse_dir=flow.warehouse_dir, vault_dir=str(tmp_path / "vault"))
    raw = MarketDataFaker(seed=77, n_corporates=3, n_customers=10, n_transactions=20,
                          n_price_days=2, n_news=2).generate(spark)
    raw["raw_news"] = raw["raw_news"].limit(0)  # news feed never produces rows
    flow.land(raw, datetime(2024, 3, 1, 12, 0, 0))
    flow.ingest_raw(spark)
    first = vm.run_increment(spark)
    assert first["hub_news"] == 0  # empty model materialized empty
    assert first["hub_customer"] > 0

    # second run with no new data: marker-derived cutoffs are all set, so
    # the slice applies and the replay appends nothing
    again = vm.run_increment(spark)
    assert all(n == 0 for n in again.values()), again
    cutoffs_path = f"{vm.vault_dir}/_processed_through.json"
    import json

    with open(cutoffs_path) as f:
        assert "hub_news" in json.load(f)


def test_marts_over_materialized_vault(spark, setup):
    _, vm, _ = setup
    marts = vm.marts(spark)
    dim = marts["dim_customer"]
    hub = spark.read.parquet(f"{vm.vault_dir}/hub_customer")
    assert dim.count() == hub.count()
    # SCD2 over materialized satellite: the tier-changed customer has history
    hist = marts["dim_customer_history"]
    multi = hist.groupBy("hk_customer").count().filter(F.col("count") > 1)
    assert multi.count() >= 1


def test_compaction_pass_preserves_vault_and_reduces_files(spark, setup):
    """The maintenance pass must rewrite fragmented models into few files
    with bit-identical contents, skip already-compact ones, and leave the
    incremental machinery (markers, replay idempotence) untouched."""
    from stock_crypto_data_pipeline_public_spark.operators.maintenance import table_stats

    flow, vm, _ = setup
    before = {
        name: df.orderBy(*df.columns).collect()
        for name, df in vm.vault_tables(spark).items()
    }
    assert before
    stats = vm.compact(spark, min_files=2)
    assert stats, "fixture vault should have at least one fragmented model"
    for model, s in stats.items():
        assert s["n_files_after"] < s["n_files_before"]
        assert table_stats(vm._path(model))["n_files"] == s["n_files_after"]
    after = {
        name: df.orderBy(*df.columns).collect()
        for name, df in vm.vault_tables(spark).items()
    }
    assert after == before
    # replay after compaction still appends nothing
    assert all(n == 0 for n in vm.run_increment(spark).values())
