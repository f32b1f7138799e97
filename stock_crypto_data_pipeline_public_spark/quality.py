"""Data-quality checks: the reference's dbt test suite ported (SURVEY.md §5).

Generic checks mirror dbt's not_null / unique / relationships /
accepted_values; the singular checks port the 21 assert-zero-rows SQL tests
in the reference ``tests/`` directory. Every check returns the DataFrame of
VIOLATING rows (empty = pass), exactly like a dbt singular test.

``run_market_quality_suite`` wires all of them to the market DAG's models and
returns {check_name: violation_count}.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .session import run_concurrently


# -- generic checks (reference models/*/schema.yml) -------------------------
def profile_table(df: DataFrame, hll_rsd: float = 0.05) -> DataFrame:
    """One-pass column profile (the deequ/dbt-profiler shape): per column —
    row count, null count, approx distinct (HLL, ``hll_rsd`` relative
    error), min/max rendered as strings. ALL columns profile in a SINGLE
    aggregation job (one scan, map-side partials), not one job per column;
    at 100 TB that is the difference between one pass and |columns| passes.
    Returns one row per column: (column, n_rows, n_nulls, approx_distinct,
    min_str, max_str) — small enough to collect, alert on, or snapshot
    next to the table for drift comparison."""
    aggs = []
    for c in df.columns:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.approx_count_distinct(c, hll_rsd).alias(f"{c}__distinct"),
            # min/max on the NATIVE type (numeric order, not lexicographic),
            # rendered to string only for the uniform output schema
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__rows").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("approx_distinct"),
                F.col(f"{c}__min").alias("min_str"),
                F.col(f"{c}__max").alias("max_str"),
            )
            for c in df.columns
        ]
    )
    return wide.select(F.explode(per_col).alias("p")).select("p.*")


def not_null(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    cond = None
    for c in cols:
        x = F.col(c).isNull()
        cond = x if cond is None else (cond | x)
    return df.filter(cond)


def unique(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """dbt unique / unique_combination_of_columns (reference
    sources.yml:69-72)."""
    return (
        df.groupBy(*cols).agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1)
    )


def accepted_values(df: DataFrame, col: str, values: Sequence[str]) -> DataFrame:
    return df.filter(~F.col(col).isin(list(values)) & F.col(col).isNotNull())


def relationships(df: DataFrame, col: str, ref: DataFrame, ref_col: str) -> DataFrame:
    """FK check: every df[col] exists in ref[ref_col] (anti-join)."""
    return df.filter(F.col(col).isNotNull()).join(
        ref.select(F.col(ref_col).alias(col)).distinct(), on=col, how="left_anti"
    )


# -- singular checks (reference tests/*.sql) --------------------------------
def check_transaction_type_valid(fct: DataFrame) -> DataFrame:
    """reference tests/test_transaction_type_valid.sql:3-8 (BUY/SELL)."""
    return accepted_values(fct, "transaction_type", ["BUY", "SELL"])


def check_customer_tier_valid(dim: DataFrame) -> DataFrame:
    """reference tests/test_customer_tier_valid.sql:3-10."""
    return accepted_values(dim, "customer_tier", ["Bronze", "Silver", "Gold", "Platinum"])


def check_risk_tolerance_valid(dim: DataFrame) -> DataFrame:
    """reference tests/test_risk_tolerance_valid.sql:3-10."""
    return accepted_values(dim, "risk_tolerance", ["Conservative", "Moderate", "Aggressive"])


def check_asset_type_valid(dim_asset: DataFrame) -> DataFrame:
    """reference tests/test_asset_type_valid.sql:3-8."""
    return accepted_values(dim_asset, "asset_type", ["STOCK", "CRYPTO"])


def check_transaction_amount_calculation(fct: DataFrame, tol: float = 0.01) -> DataFrame:
    """amount == round(quantity × price, 2) within tolerance (README_TESTS.md:9)."""
    expected = F.col("quantity").cast("double") * F.col("price_per_unit").cast("double")
    return fct.filter(
        F.abs(F.col("transaction_amount").cast("double") - expected) > tol
    )


def check_transaction_fee_reasonable(fct: DataFrame) -> DataFrame:
    """reference tests/test_transaction_fee_reasonable.sql:3-13 (fee ≤ 10%)."""
    return fct.filter(
        F.col("fee_amount").cast("double")
        > 0.10 * F.col("transaction_amount").cast("double")
    )


def check_transaction_date_consistency(fct: DataFrame) -> DataFrame:
    """reference tests/test_transaction_date_consistency.sql:3-9
    (data_date == date(transaction_timestamp))."""
    return fct.filter(F.col("data_date") != F.to_date("transaction_timestamp"))


def check_volume_positive(prices: DataFrame) -> DataFrame:
    """reference tests/test_volume_positive.sql:3-11."""
    return prices.filter(F.col("volume").cast("double") < 0)


def check_price_positive(prices: DataFrame) -> DataFrame:
    return prices.filter(F.col("price").cast("double") <= 0)


def check_stock_price_range_valid(sat_stock: DataFrame) -> DataFrame:
    """reference tests/test_stock_price_range_valid.sql:3-18 (high ≥ low,
    open/close within [low, high])."""
    hi, lo = F.col("high_price").cast("double"), F.col("low_price").cast("double")
    op, cl = F.col("open_price").cast("double"), F.col("close_price").cast("double")
    return sat_stock.filter(
        (hi < lo) | (op < lo) | (op > hi) | (cl < lo) | (cl > hi)
    )


def check_week52_price_range_valid(sat_stock: DataFrame) -> DataFrame:
    """reference tests/test_week52_price_range_valid.sql:3-12."""
    return sat_stock.filter(
        F.col("week_52_high").cast("double") < F.col("week_52_low").cast("double")
    )


def check_price_comparison_variance(cmp_df: DataFrame, max_ratio: float = 0.20) -> DataFrame:
    """reference tests/test_price_comparison_variance.sql:3-32 (cross-source
    spread ≤ 20%)."""
    return cmp_df.filter(F.col("max_variance_ratio") > max_ratio)


def check_news_impact_returns_calculation(impact: DataFrame, tol: float = 1e-4) -> DataFrame:
    """reference tests/test_news_impact_returns_calculation.sql:3-17 —
    recompute return_1d and compare within tolerance."""
    p0 = F.col("price_t0").cast("double")
    p1 = F.col("price_t1").cast("double")
    recomputed = (p1 - p0) / F.nullif(p0, F.lit(0.0))
    return impact.filter(
        F.col("return_1d").isNotNull() & (F.abs(F.col("return_1d") - recomputed) > tol)
    )


def check_news_published_date_not_future(news: DataFrame, now=None) -> DataFrame:
    """reference tests/test_news_published_date_not_future.sql:3-9."""
    bound = F.lit(now).cast("timestamp") if now else F.current_timestamp()
    return news.filter(F.col("published_at") > bound)


def check_scd2_effective_dates(hist: DataFrame) -> DataFrame:
    """reference tests/test_scd2_effective_dates.sql:3-11 (from < to)."""
    return hist.filter(F.col("effective_from") >= F.col("effective_to"))


def check_customer_history_no_overlaps(hist: DataFrame) -> DataFrame:
    """reference tests/test_customer_history_no_overlaps.sql:3-26 — next
    version must start exactly where this one ends (lead window)."""
    w = W.partitionBy("hk_customer").orderBy(F.asc("effective_from"))
    nxt = F.lead("effective_from").over(w)
    return hist.withColumn("next_from", nxt).filter(
        F.col("next_from").isNotNull() & (F.col("next_from") != F.col("effective_to"))
    )


def check_exactly_one_current(hist: DataFrame) -> DataFrame:
    return (
        hist.groupBy("hk_customer")
        .agg(F.sum(F.when(F.col("is_current"), 1).otherwise(0)).alias("n_current"))
        .filter(F.col("n_current") != 1)
    )


def check_year_founded_reasonable(dim_company: DataFrame) -> DataFrame:
    """reference tests/test_year_founded_reasonable.sql:3-14."""
    return dim_company.filter(
        (F.col("year_founded") < 1800) | (F.col("year_founded") > F.year(F.current_date()))
    )


def check_email_format_valid(dim: DataFrame, col: str = "email") -> DataFrame:
    """reference tests/test_email_format_valid.sql:3-16."""
    return dim.filter(
        F.col(col).isNotNull() & ~F.col(col).rlike(r"^[^@\s]+@[^@\s]+\.[^@\s]+$")
    )


def check_url_format_valid(news: DataFrame, col: str = "news_bk") -> DataFrame:
    """reference tests/test_url_format_valid.sql:3-13 ('http%://%')."""
    return news.filter(F.col(col).isNotNull() & ~F.col(col).like("http%://%"))


def check_price_data_freshness(prices: DataFrame, as_of, max_age_days: int = 7) -> DataFrame:
    """reference tests/test_price_data_freshness.sql:4-11 — per-asset
    max(observed_at) must be recent (groupBy + HAVING)."""
    # timestamp_add keeps full timestamp precision: date_sub would truncate
    # as_of to a DATE (midnight), shifting the staleness boundary by up to
    # a day and letting genuinely stale assets pass
    bound = F.timestamp_add("DAY", F.lit(-max_age_days), F.lit(as_of).cast("timestamp"))
    return (
        prices.groupBy("hk_asset")
        .agg(F.max("observed_at").alias("last_observed"))
        .filter(F.col("last_observed") < bound)
    )


def run_market_quality_suite(ctx: dict[str, DataFrame], as_of=None) -> dict[str, int]:
    """Run every applicable check against the built market DAG context; the
    checks count their violations as concurrent Spark jobs."""
    checks: dict[str, DataFrame] = {
        # generic
        "hub_customer_unique": unique(ctx["hub_customer"], ["customer_bk"]),
        "hub_asset_unique": unique(ctx["hub_asset"], ["asset_symbol", "asset_type"]),
        "hub_transaction_unique": unique(ctx["hub_transaction"], ["transaction_bk"]),
        "hub_customer_not_null": not_null(ctx["hub_customer"], ["hk_customer", "customer_bk"]),
        "fct_tx_customer_fk": relationships(
            ctx["fct_transactions"], "hk_customer", ctx["hub_customer"], "hk_customer"
        ),
        "fct_tx_asset_fk": relationships(
            ctx["fct_transactions"], "hk_asset", ctx["hub_asset"], "hk_asset"
        ),
        # singular
        "transaction_type_valid": check_transaction_type_valid(ctx["fct_transactions"]),
        "customer_tier_valid": check_customer_tier_valid(ctx["dim_customer"]),
        "risk_tolerance_valid": check_risk_tolerance_valid(ctx["dim_customer"]),
        "asset_type_valid": check_asset_type_valid(ctx["dim_asset"]),
        "transaction_amount_calc": check_transaction_amount_calculation(
            ctx["fct_transactions"]
        ),
        "transaction_fee_reasonable": check_transaction_fee_reasonable(
            ctx["fct_transactions"]
        ),
        "transaction_date_consistency": check_transaction_date_consistency(
            ctx["fct_transactions"]
        ),
        "volume_positive": check_volume_positive(ctx["fct_asset_prices"]),
        "price_positive": check_price_positive(ctx["fct_asset_prices"]),
        "stock_price_range_valid": check_stock_price_range_valid(
            ctx["sat_asset_price_stock"]
        ),
        "week52_range_valid": check_week52_price_range_valid(ctx["sat_asset_price_stock"]),
        "price_comparison_variance": check_price_comparison_variance(
            ctx["fct_asset_price_comparison"]
        ),
        "news_impact_returns_calc": check_news_impact_returns_calculation(
            ctx["fct_asset_news_impact"]
        ),
        "scd2_effective_dates": check_scd2_effective_dates(ctx["dim_customer_history"]),
        "history_no_overlaps": check_customer_history_no_overlaps(
            ctx["dim_customer_history"]
        ),
        "exactly_one_current": check_exactly_one_current(ctx["dim_customer_history"]),
        "year_founded_reasonable": check_year_founded_reasonable(ctx["dim_company"]),
        "email_format_valid": check_email_format_valid(ctx["dim_customer"]),
        "url_format_valid": check_url_format_valid(ctx["hub_news"], "news_bk"),
    }
    if as_of is not None:
        checks["news_not_future"] = check_news_published_date_not_future(
            ctx["fct_news_events"], now=as_of
        )
        checks["price_freshness"] = check_price_data_freshness(
            ctx["fct_asset_prices"], as_of, max_age_days=365
        )
    counts = run_concurrently(ctx["hub_customer"].sparkSession, [df.count for df in checks.values()])
    return dict(zip(checks, counts))
