"""End-to-end flows: the reference's Prefect orchestration collapsed into
single Spark driver programs (SURVEY.md §3.1, §3.2).

Reference batch flow (`batch-data-pipeline`, reference prefect.yaml:11-12,
docs/prefect_flows.md:17-89): generate → CSV → MinIO → Snowflake COPY/MERGE →
Postgres insert → dbt build. Here: the CSV landing directory is read once
with declared schemas, safe-cast, stamped with lineage, idempotently appended
to partitioned raw Parquet, and the vault/mart DAG runs in-process — the
process hops (steps 3-5) disappear, dbt's topo-sort is dag.ModelRegistry.

Reference streaming flow (`trino_incremental_dbt_flow`, reference
b1_1_trino_incremental_dbt.py:64-120): Kafka → consumer → Postgres → 5-min
incremental dbt over two engines. Here: Structured Streaming
foreachBatch appends to the same raw tables (streaming/pipeline.py), then
the SAME transform step re-runs incrementally — one engine, one code path
for batch and streaming (the raw Parquet table is the meeting point).

Every step is restart-safe: appends are keyed anti-joins (M2/M3), so
re-running a flow over already-loaded landing files appends zero rows.
Independent tables and quality checks run as concurrent Spark jobs, and a
failed table does not stop the others.
"""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.incremental import idempotent_append
from .plans.market import registry as market_registry
from .quality import run_market_quality_suite
from .schemas import SCHEMAS
from .session import run_concurrently
from .sources import ingest
from .streaming.pipeline import file_stream, run_incremental_sink

#: business key(s) used for idempotent raw-table appends, per table
#: (reference merge/conflict keys, a1_4_batch_s3_to_snowflake.py:138-144 +
#: consumer ON CONFLICT keys kafka_consumer.py:294-303)
RAW_KEYS: dict[str, tuple[str, ...]] = {
    "raw_transaction_personal": ("transaction_id", "load_timestamp"),
    "raw_transaction_corporate": ("transaction_id", "load_timestamp"),
    "raw_customers": ("customer_id", "load_timestamp"),
    "raw_corporates": ("company_id", "load_timestamp"),
    "raw_cryptoprices_binance": ("symbol", "observed_at"),
    "raw_cryptoprices_coingecko": ("symbol", "observed_at"),
    "raw_cryptoprices_yfinance": ("symbol", "observed_at"),
    "raw_stockprices_yfinance": ("ticker", "date", "observed_at"),
    "raw_news": ("url", "ticker", "asset_type", "load_timestamp"),
}


def _string_schema(schema: T.StructType, exclude: tuple[str, ...]) -> T.StructType:
    """Landing CSVs are untyped text; the declared names (minus server-side
    lineage columns) with StringType."""
    return T.StructType(
        [T.StructField(f.name, T.StringType(), True) for f in schema.fields if f.name not in exclude]
    )


def _cast_map(schema: T.StructType, exclude: tuple[str, ...]) -> dict[str, str]:
    return {
        f.name: f.dataType.simpleString()
        for f in schema.fields
        if f.name not in exclude and f.dataType.simpleString() != "string"
    }


#: stripped from landing CSVs and re-derived at load time; ``source`` stays a
#: data column (for prices it names the feed, for batches the delivery kind)
LINEAGE = ("load_timestamp",)

#: mid-DAG models every mart/semantic/quality consumer re-reads; caching
#: them turns N downstream actions into one vault build (the Spark analogue
#: of dbt's table-materialized warehouse layer)
HOT_MODELS = ("fct_transactions", "fct_asset_prices", "dim_customer",
              "dim_customer_history", "sat_asset_price_stock")


def load_raw_tables(spark: SparkSession, warehouse_dir: str) -> dict[str, DataFrame]:
    """Read whichever raw tables exist in the warehouse directory."""
    out: dict[str, DataFrame] = {}
    for name in SCHEMAS:
        path = os.path.join(warehouse_dir, name)
        if os.path.exists(path):
            out[name] = spark.read.parquet(path)
    return out


def transform_warehouse(
    spark: SparkSession, warehouse_dir: str, select=None, tags=None, persist: bool = False
) -> dict[str, DataFrame]:
    """dbt-build equivalent: run the vault/mart DAG over the raw tables
    (reference a1_6:50-90; tag selection ≡ selectors.yml). ``persist``
    caches the hot mid-DAG models — use when many downstream consumers
    (the quality suite, the analyst API) will act on the same context.

    Shared by the batch and streaming flows — the raw Parquet tables are the
    meeting point, so ONE transform code path serves both (the reference
    needs two dbt targets + Trino federation for this, b1_1:87-113)."""
    raw = load_raw_tables(spark, warehouse_dir)
    if select is None and tags is None:
        # a partially-populated warehouse (streaming flow writing only some
        # topics, a half-landed batch day) builds every model whose raw
        # inputs exist instead of failing the whole run on the first absent
        # table; explicit select/tags still error on missing inputs
        select = market_registry.buildable(raw)
    ctx = market_registry.run(raw, select=select, tags=tags)
    if persist:
        for name in HOT_MODELS:
            if name in ctx:
                ctx[name] = ctx[name].cache()
    return ctx


@dataclass
class BatchFlow:
    """generate/land → ingest → transform → test, over a warehouse directory.

    ``warehouse_dir`` holds one partitioned Parquet directory per raw table;
    marts stay virtual (DataFrames) exactly like the reference's view-
    materialized semantic layer (reference dbt_project.yml:30-42).
    """

    landing_dir: str
    warehouse_dir: str

    def land(self, raw: dict[str, DataFrame], run_ts) -> None:
        """Write generator output as timestamped landing CSVs (reference
        a1_1:525-567 writes `{name}_{YYYYMMDD_HHMMSS}.csv`). The
        ``load_timestamp`` lineage column is stripped — it is re-derived at
        load time from the file's run suffix (S13 server-side stamping)."""
        suffix = ingest.run_suffix(run_ts)
        for name, df in raw.items():
            path = os.path.join(self.landing_dir, name, f"{name}_{suffix}.csv")
            df.drop(*LINEAGE).write.mode("overwrite").option("header", True).csv(path)

    def ingest_raw(self, spark: SparkSession) -> dict[str, int]:
        """CSV landing → typed raw tables: declared schema, TRY_ casts,
        lineage stamp, HWM + keyed idempotent append (steps 3-5 of §3.1
        collapsed). Returns rows appended per table.

        ``load_timestamp`` comes from each landing file's run suffix — one
        load run = one stamp, so replays produce the identical rows and the
        keyed anti-join makes re-ingestion a no-op *by construction* (the
        reference gets the same property from MERGE keys that include
        LOAD_TIMESTAMP, a1_4:138-144).

        Tables load as concurrent Spark jobs; a failed table does not stop
        the others, and the first failure is raised once all have run."""
        tables = [name for name in SCHEMAS if os.path.exists(os.path.join(self.landing_dir, name))]
        counts = run_concurrently(
            spark, [functools.partial(self._ingest_table, spark, name) for name in tables]
        )
        return dict(zip(tables, counts))

    def _ingest_table(self, spark: SparkSession, name: str) -> int:
        schema = SCHEMAS[name]
        src_dir = os.path.join(self.landing_dir, name)
        text = ingest.read_landing_csv(spark, src_dir, _string_schema(schema, LINEAGE))
        # ON_ERROR='CONTINUE' semantics: a malformed line arrives as
        # all-nulls + populated _corrupt_record — skip it, don't load a
        # null row into the warehouse
        if "_corrupt_record" in text.columns:
            text = text.filter(F.col("_corrupt_record").isNull())
        typed = ingest.try_cast_columns(text, _cast_map(schema, LINEAGE))
        typed = typed.drop("_corrupt_record").withColumn(
            "load_timestamp",
            F.to_timestamp(
                F.regexp_extract(F.input_file_name(), r"_(\d{8}_\d{6})\.csv", 1),
                "yyyyMMdd_HHmmss",
            ),
        )
        typed = ingest.align_columns(typed, schema)
        # keyed anti-join only — NO high-water-mark pre-filter here: the
        # stamp is filename-derived, not a monotonic server-side clock,
        # so an out-of-order backfill landing file (older run suffix
        # than the warehouse max) must still load. Replays stay no-ops
        # via the anti-join alone; the HWM short-cut belongs to sources
        # with monotonic stamps (vault_incremental over the warehouse).
        return idempotent_append(
            spark,
            typed,
            os.path.join(self.warehouse_dir, name),
            keys=RAW_KEYS[name],
        )

    def raw_tables(self, spark: SparkSession) -> dict[str, DataFrame]:
        return load_raw_tables(spark, self.warehouse_dir)

    def transform(self, spark: SparkSession, select=None, tags=None, persist: bool = False) -> dict[str, DataFrame]:
        return transform_warehouse(spark, self.warehouse_dir, select=select, tags=tags, persist=persist)

    def test(self, ctx: dict[str, DataFrame], as_of=None) -> dict[str, int]:
        """dbt-test equivalent: the ported quality suite."""
        return run_market_quality_suite(ctx, as_of=as_of)

    def run(self, spark: SparkSession, raw: dict[str, DataFrame], run_ts) -> dict[str, DataFrame]:
        """The whole daily batch: land → ingest → transform."""
        self.land(raw, run_ts)
        self.ingest_raw(spark)
        return self.transform(spark)


@dataclass
class StreamingFlow:
    """Kafka/file topics → idempotent raw-table sinks → the SAME transform
    (SURVEY.md §3.2). The reference routes this through a Kafka consumer,
    Postgres, Trino federation and a second dbt target; here the streaming
    sink appends into the very tables the batch flow owns, and
    :func:`transform_warehouse` is the one transform path for both.
    """

    warehouse_dir: str
    checkpoint_dir: str

    def consume(self, spark: SparkSession, topic_path: str, table: str, fmt: str = "parquet"):
        """One topic → one raw table. File-based stream locally (the Kafka
        reader in streaming/pipeline.py is a drop-in at deploy time); the
        sink is the keyed anti-join append — at-least-once replays land
        zero duplicate rows (M2 parity). Returns the StreamingQuery."""
        if table not in SCHEMAS:
            raise KeyError(f"unknown raw table {table!r}")
        stream = file_stream(spark, topic_path, SCHEMAS[table], fmt)
        return run_incremental_sink(
            stream,
            os.path.join(self.warehouse_dir, table),
            keys=RAW_KEYS[table],
            checkpoint=os.path.join(self.checkpoint_dir, table),
        )

    def transform(self, spark: SparkSession, select=None, tags=None, persist: bool = False) -> dict[str, DataFrame]:
        """The 5-minute incremental transform (reference prefect.yaml:39-40)
        — identical code path to the batch flow's."""
        return transform_warehouse(spark, self.warehouse_dir, select=select, tags=tags, persist=persist)
