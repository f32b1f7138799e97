"""The ``query_suite`` workload: analyst and training-data queries.

The suite is a fixed systematic sample of ``registry.QUERIES``: every
``STRIDE``-th query of each plan module in name order, starting with the
first, so all nine families (and their Python-worker, iterative, streaming
and sub-second members) stay represented at a fixed share. Each run draws
fresh tables from its seed and runs the sample in a seed-shuffled order.

Billing is one rule for every query: the whole call, plan build plus a
``noop`` write. Correctness is checked outside the timed region against the
DuckDB oracle's value hash, computed once during setup; the rows-only
queries must return rows.
"""

from __future__ import annotations

import duckdb

from stock_crypto_data_pipeline_public_spark.oracle_compare import canon, duck_pdf, spark_pdf, value_hash
from stock_crypto_data_pipeline_public_spark.plans import registry

import tpchgen

STRIDE = 16
SMOKE_STRIDE = 100
SF = 0.001
#: the driver contract's flagship query; every 16th-query sample skips it
WARM_UP = "q02_top_revenue_orders"


def family(name: str) -> str:
    """``plans.<module>`` of a registered query."""
    return "plans." + registry.QUERIES[name].__module__.rsplit(".", 1)[1]


def sample(stride: int) -> list[str]:
    registry.load_all()
    by_family: dict[str, list[str]] = {}
    for name in sorted(registry.QUERIES):
        by_family.setdefault(family(name), []).append(name)
    return sorted(n for names in by_family.values() for n in names[::stride])


def describe(names: list[str]) -> str:
    return f"sf={SF} queries={len(names)}/{len(registry.QUERIES)} ({', '.join(n.split('_')[0] for n in names)})"


def setup(data_dir: str, seed: int, names: list[str]) -> dict[str, str | None]:
    """Write the tables and return the oracle hash per query in ``names``
    (None for the rows-only ones)."""
    tpchgen.generate(data_dir, seed=seed, sf=SF)
    con = duckdb.connect()
    for t in tpchgen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    expected: dict[str, str | None] = {}
    for name in names:
        sql = registry.ORACLES.get(name)
        expected[name] = value_hash(canon(duck_pdf(con, sql))[1]) if sql else None
    con.close()
    return expected


def warm_up(spark, data_dir: str) -> None:
    """Run the flagship query, which is outside the sample, once: the JIT
    and code generation then warm on it rather than on whichever sampled
    query the seed puts first, as they would in a long-lived session."""
    registry.QUERIES[WARM_UP](spark, data_dir).write.format("noop").mode("overwrite").save()


def run_query(tracer, name: str, data_dir: str):
    """Timed: build the query, then execute it through the noop sink."""
    layer = family(name)
    df = tracer.call(f"{layer}.build", registry.QUERIES[name], tracer.spark, data_dir)
    tracer.call(f"{layer}.execute", df.write.format("noop").mode("overwrite").save)
    return df


def check(name: str, df, expected: str | None) -> list[str]:
    """Untimed: the result against the oracle hash (or non-empty)."""
    rows = canon(spark_pdf(df))[1]
    if expected is None:
        return [] if rows else [f"{name}: rows-only query returned no rows"]
    got = value_hash(rows)
    return [] if got == expected else [f"{name}: value hash {got} != oracle {expected}"]
