"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship query smoke check at sf0.001.
`queries()` — every registered entry, keyed by name; each callable is
(spark, sf_dir) -> DataFrame and pins the session timezone to UTC.
`oracle_sql()` — matching ANSI SQL for DuckDB (same aliases, same
rounding); every entry carries one.

Both are views over `debezium_spark.registry`, filled by importing the
operator modules below. Their order is fixed: module import order,
then registration order inside each module.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from debezium_spark import registry
from debezium_spark.cdc import (  # noqa: F401
    converters, materialize, schema_history, signals, transforms,
)
from debezium_spark.functions import skew  # noqa: F401
from debezium_spark.operators import (  # noqa: F401
    analytics, dedup, multimodal, pipeline, quality, relational,
    similarity, sketches, text, tpch,
)
from debezium_spark.sources import dialects, sinks  # noqa: F401
from debezium_spark.streaming import ingest  # noqa: F401


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: CDC latest-state materialization of the synthesized
    change stream at sf0.001 (SURVEY §2 'latest-state
    materialization')."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return materialize.cdc_latest_state_q(spark, "/root/testdata/sf0.001")


def _utc(fn: Callable[[SparkSession, str], DataFrame]):
    """Pin the session timezone before building any plan: the oracle
    comparison (and the CDC timestamp math) assumes UTC; the driver's
    own SparkSession may not set it (the container is UTC, so this is
    defense-in-depth)."""

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _utc(fn) for name, fn in registry.builders().items()}


def oracle_sql() -> dict[str, str]:
    return registry.oracles()
