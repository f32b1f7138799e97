"""The ``market_day`` workload: one trading day of the reference pipeline.

A pass is, in order and closed loop:

1. **day 1** — the daily batch into an empty warehouse:
   ``BatchFlow.ingest_raw`` → ``BatchFlow.transform(persist=True)`` →
   ``run_market_quality_suite`` over landing CSVs for every raw table;
2. **ticks** — the 5-minute streaming deployment, into its own warehouse:
   per tick one new file on each of four topics (customers, personal and
   corporate transactions, Binance prices) plus at-least-once redeliveries
   of the previous tick's rows; ``StreamingFlow.consume`` drains every topic
   (availableNow) and ``VaultMaterializer.run_increment`` appends the
   HWM-sliced vault;
3. **day 2** — the next daily batch: day 1's landing files are replayed
   beside day 2's new ones, onto the full warehouse.

Inputs come from ``MarketDataFaker`` rows, written as landing CSVs and topic
parquet files during setup; the expected appends are computed from the same
rows in Python, so the checks do not trust the engine's own counts.
"""

from __future__ import annotations

import csv
import os
import shutil
from dataclasses import dataclass
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from stock_crypto_data_pipeline_public_spark.flows import RAW_KEYS, BatchFlow, StreamingFlow
from stock_crypto_data_pipeline_public_spark.quality import run_market_quality_suite
from stock_crypto_data_pipeline_public_spark.schemas import SCHEMAS
from stock_crypto_data_pipeline_public_spark.sources.faker import MarketDataFaker
from stock_crypto_data_pipeline_public_spark.vault_incremental import VaultMaterializer



@dataclass(frozen=True)
class Sizes:
    #: MarketDataFaker knobs per batch day; day 2 doubles n_price_days, so
    #: half its price keys replay day 1's
    day: dict
    #: MarketDataFaker knobs per tick, before redeliveries
    tick: dict
    ticks: int


SIZES = Sizes(
    day=dict(n_corporates=40, n_customers=400, n_transactions=4000, n_price_days=30, n_news=40),
    tick=dict(n_corporates=4, n_customers=40, n_transactions=300, n_price_days=1, n_news=1),
    ticks=2,
)
SMOKE_SIZES = Sizes(
    day=dict(n_corporates=5, n_customers=30, n_transactions=120, n_price_days=8, n_news=10),
    tick=dict(n_corporates=2, n_customers=8, n_transactions=20, n_price_days=1, n_news=1),
    ticks=2,
)
#: share of the previous tick's rows redelivered with each tick
REDELIVERY = 0.1
TOPICS = ("raw_customers", "raw_transaction_personal", "raw_transaction_corporate",
          "raw_cryptoprices_binance")
DAY_STAMPS = (datetime(2024, 2, 1, 20, 0, 0), datetime(2024, 2, 2, 20, 0, 0))
TICK_T0 = datetime(2024, 3, 1, 9, 0, 0)
QUALITY_CHECKS = 25
#: a drain that has not finished by then counts as a failed tick
STREAM_TIMEOUT_S = 120


def describe(sizes: Sizes) -> str:
    return (f"day={sizes.day} tick={sizes.tick} ticks={sizes.ticks} redelivery={REDELIVERY} "
            f"topics={len(TOPICS)}")


def _columns(name: str) -> list[str]:
    return [f.name for f in SCHEMAS[name].fields]


def _faker_rows(faker: MarketDataFaker) -> dict[str, list[tuple]]:
    """The rows ``MarketDataFaker.generate`` would turn into DataFrames."""
    corporates = faker.corporates()
    customers = faker.customers(corporates)
    personal, corporate = faker.transactions(customers)
    crypto = faker.crypto_prices()
    return {
        "raw_corporates": corporates,
        "raw_customers": customers,
        "raw_transaction_personal": personal,
        "raw_transaction_corporate": corporate,
        "raw_cryptoprices_binance": crypto["binance"],
        "raw_cryptoprices_coingecko": crypto["coingecko"],
        "raw_cryptoprices_yfinance": crypto["yfinance"],
        "raw_stockprices_yfinance": faker.stock_prices(),
        "raw_news": faker.news(),
    }


def _keys(name: str, rows: list[tuple], stamp: datetime | None = None) -> set[tuple]:
    """Business keys of ``rows``; landing rows take ``stamp`` as their
    load_timestamp (ingest derives it from the file name)."""
    cols = _columns(name)
    idx = [cols.index(k) for k in RAW_KEYS[name]]
    lt = cols.index("load_timestamp")
    return {tuple(stamp if (stamp and i == lt) else r[i] for i in idx) for r in rows}


def _write_landing(landing: str, rows: dict[str, list[tuple]], stamp: datetime) -> None:
    """One CSV per table in the layout ``BatchFlow.land`` writes:
    ``{table}/{table}_{YYYYMMDD_HHMMSS}.csv`` without the load_timestamp."""
    suffix = stamp.strftime("%Y%m%d_%H%M%S")
    for name, table_rows in rows.items():
        cols = _columns(name)
        keep = [i for i, c in enumerate(cols) if c != "load_timestamp"]
        os.makedirs(os.path.join(landing, name), exist_ok=True)
        with open(os.path.join(landing, name, f"{name}_{suffix}.csv"), "w", newline="") as f:
            out = csv.writer(f)
            out.writerow([cols[i] for i in keep])
            for r in table_rows:
                out.writerow(["" if r[i] is None else r[i] for i in keep])


def _arrow_type(dtype) -> pa.DataType:
    name = dtype.typeName()
    if name == "decimal":
        return pa.decimal128(dtype.precision, dtype.scale)
    return {
        "string": pa.string(), "timestamp": pa.timestamp("us", tz="UTC"),
        "date": pa.date32(), "integer": pa.int32(),
    }[name]


def _write_topic_file(path: str, name: str, rows: list[tuple]) -> None:
    fields = SCHEMAS[name].fields
    cols = {f.name: pa.array([r[i] for r in rows], _arrow_type(f.dataType))
            for i, f in enumerate(fields)}
    pq.write_table(pa.table(cols), path)


def _tick_rows(seed: int, tick: int, sizes: Sizes) -> dict[str, list[tuple]]:
    """Fresh rows for one tick, stamped with the tick's time (the Kafka
    consumer's load stamp); one row per customer id."""
    faker = MarketDataFaker(seed=seed * 1000 + tick, **sizes.tick)
    stamp = TICK_T0 + timedelta(minutes=5 * tick)
    seen: set[str] = set()
    customers = []
    for r in faker.customers(faker.corporates()):
        if r[0] not in seen:
            seen.add(r[0])
            customers.append(r[:12] + (stamp, "KAFKA_DATA"))
    personal, corporate = faker.transactions(customers)
    prices = faker.crypto_prices()["binance"]
    return {
        "raw_customers": customers,
        "raw_transaction_personal": [r[:15] + (stamp, "KAFKA_DATA") for r in personal],
        "raw_transaction_corporate": [r[:15] + (stamp, "KAFKA_DATA") for r in corporate],
        "raw_cryptoprices_binance": [r[:6] + (stamp, stamp) for r in prices],
    }


def setup(work: str, seed: int, sizes: Sizes) -> dict:
    """Write the landing CSVs and tick files under ``work``; return the
    expected appends for every step."""
    day_rows = [
        _faker_rows(MarketDataFaker(seed=seed * 10 + 1, **sizes.day)),
        _faker_rows(MarketDataFaker(seed=seed * 10 + 2,
                                    **{**sizes.day, "n_price_days": 2 * sizes.day["n_price_days"]})),
    ]
    expected_days, loaded = [], {name: set() for name in SCHEMAS}
    for rows, stamp in zip(day_rows, DAY_STAMPS):
        _write_landing(os.path.join(work, "landing", stamp.strftime("day%Y%m%d")), rows, stamp)
        delta = {}
        for name, table_rows in rows.items():
            new = _keys(name, table_rows, stamp) - loaded[name]
            delta[name] = len(new)
            loaded[name] |= new
        expected_days.append(delta)

    expected_ticks, seen, prev = [], {name: set() for name in TOPICS}, None
    seen_customers: set[str] = set()
    seen_txns: set[str] = set()
    for tick in range(sizes.ticks):
        fresh = _tick_rows(seed, tick, sizes)
        raw = {}
        tick_dir = os.path.join(work, "ticks", f"{tick:03d}")
        os.makedirs(tick_dir)
        for name in TOPICS:
            new = _keys(name, fresh[name]) - seen[name]
            raw[name] = len(new)
            seen[name] |= new
            redelivered = prev[name][: max(1, int(len(prev[name]) * REDELIVERY))] if prev else []
            _write_topic_file(os.path.join(tick_dir, f"{name}.parquet"), name,
                              fresh[name] + redelivered)
        customers = {r[0] for r in fresh["raw_customers"]} - seen_customers
        txns = {r[0] for name in ("raw_transaction_personal", "raw_transaction_corporate")
                for r in fresh[name]} - seen_txns
        seen_customers |= customers
        seen_txns |= txns
        vault = {"hub_customer": len(customers), "sat_customer_profile": len(customers),
                 "hub_transaction": len(txns), "sat_transaction_detail": len(txns),
                 "link_customer_transaction": len(txns)}
        expected_ticks.append({"raw": raw, "vault": vault})
        prev = fresh
    return {"days": expected_days, "ticks": expected_ticks}


class MarketDay:
    """One pass of the workload over fresh warehouse directories."""

    def __init__(self, spark, tracer, inputs: str, expected: dict, work: str, ticks: int):
        self.spark, self.tracer, self.inputs, self.expected = spark, tracer, inputs, expected
        self.ticks = ticks
        self.batch = BatchFlow(landing_dir=os.path.join(work, "landing"),
                               warehouse_dir=os.path.join(work, "warehouse"))
        self.stream = StreamingFlow(warehouse_dir=os.path.join(work, "stream_wh"),
                                    checkpoint_dir=os.path.join(work, "checkpoints"))
        self.vault = VaultMaterializer(warehouse_dir=self.stream.warehouse_dir,
                                       vault_dir=os.path.join(work, "vault"))
        self.topics = os.path.join(work, "topics")

    def ops(self):
        """(op name, kind, untimed delivery of its inputs, timed callable);
        each timed callable returns the untimed check, which returns the
        list of failed expectations."""
        yield "day1", "batch", lambda: self._land(0), lambda: self._day(0)
        for tick in range(self.ticks):
            yield (f"tick{tick:03d}", "tick", lambda tick=tick: self._publish(tick),
                   lambda tick=tick: self._tick(tick))
        yield "day2", "batch", lambda: self._land(1), lambda: self._day(1)

    def _land(self, day: int) -> None:
        """Copy the day's landing CSVs beside the ones already landed."""
        src_day = os.path.join(self.inputs, "landing", DAY_STAMPS[day].strftime("day%Y%m%d"))
        for name in SCHEMAS:
            dst = os.path.join(self.batch.landing_dir, name)
            os.makedirs(dst, exist_ok=True)
            for f in os.listdir(os.path.join(src_day, name)):
                shutil.copy(os.path.join(src_day, name, f), dst)

    def _publish(self, tick: int) -> None:
        """Put the tick's file on every topic."""
        for name in TOPICS:
            os.makedirs(os.path.join(self.topics, name), exist_ok=True)
            shutil.copy(os.path.join(self.inputs, "ticks", f"{tick:03d}", f"{name}.parquet"),
                        os.path.join(self.topics, name, f"tick{tick:03d}.parquet"))

    # -- timed steps ----------------------------------------------------------
    def _day(self, day: int):
        t, spark = self.tracer, self.spark
        appended = t.call("flows.ingest_raw", self.batch.ingest_raw, spark)
        ctx = t.call("flows.transform", self.batch.transform, spark, persist=True)
        results = t.call("quality", run_market_quality_suite, ctx)
        return lambda: self._check_day(day, appended, results)

    def _tick(self, tick: int):
        t, spark = self.tracer, self.spark

        def drain():
            queries = [self.stream.consume(spark, os.path.join(self.topics, name), name)
                       for name in TOPICS]
            for q in queries:
                if not q.awaitTermination(STREAM_TIMEOUT_S):
                    raise TimeoutError(f"stream {q.id} still running after {STREAM_TIMEOUT_S} s")
            return queries

        queries = t.call("streaming.pipeline", drain)
        t.stream_phases(queries)
        appended = t.call("vault_incremental", self.vault.run_increment, spark)
        return lambda: self._check_tick(tick, queries, appended)

    # -- untimed checks -------------------------------------------------------
    @staticmethod
    def _counts(warehouse: str, names) -> dict[str, int]:
        """Rows per table, from the parquet footers (no Spark job)."""
        return {n: ds.dataset(os.path.join(warehouse, n), format="parquet").count_rows()
                for n in names}

    def _check_day(self, day: int, appended: dict, results: dict) -> list[str]:
        failed = [f"quality:{k}={v}" for k, v in results.items() if v != 0]
        if len(results) != QUALITY_CHECKS:
            failed.append(f"quality:ran {len(results)} checks, want {QUALITY_CHECKS}")
        want = self.expected["days"][day]
        if appended != want:
            failed.append(f"ingest appended {appended}, want {want}")
        totals = {n: sum(d[n] for d in self.expected["days"][: day + 1]) for n in SCHEMAS}
        counts = self._counts(self.batch.warehouse_dir, SCHEMAS)
        if counts != totals:
            failed.append(f"warehouse rows {counts}, want {totals}")
        return failed

    def _check_tick(self, tick: int, queries, appended: dict) -> list[str]:
        failed = [f"stream {q.name or q.id} failed: {q.exception()}" for q in queries
                  if q.exception() is not None]
        want = self.expected["ticks"][tick]
        if appended != want["vault"]:
            failed.append(f"vault appended {appended}, want {want['vault']}")
        totals = {n: sum(t["raw"][n] for t in self.expected["ticks"][: tick + 1]) for n in TOPICS}
        counts = self._counts(self.stream.warehouse_dir, TOPICS)
        if counts != totals:
            failed.append(f"stream rows {counts}, want {totals}")
        return failed
