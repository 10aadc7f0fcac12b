"""Driver contract for the spark-graft builder (PySpark target).

``queries()``/``oracle_sql()`` are built from
``dbt_customer360_spark.plans.queries`` — one entry per implemented
operator family from SURVEY.md §2, each Spark implementation paired
with a DuckDB oracle (same aliases both sides). EVERY roster query
has an oracle — the end-to-end pipeline's oracle is a full SQL
transliteration (plans/pipeline_oracle.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: golden-record confidence ranking (the reference's core
    serving idiom, customer360__name.sql:110-139) on sf0.001."""
    from dbt_customer360_spark.plans.queries import QUERIES

    return QUERIES["golden_event_type"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from dbt_customer360_spark.plans.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from dbt_customer360_spark.plans.queries import ORACLES

    return dict(ORACLES)
