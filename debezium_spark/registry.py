"""The query registry: every driver-gated entry and its DuckDB oracle.

Each operator module declares an entry once, at import, with
`query(name, builder, oracle_sql)`. `builders()` and `oracles()` are
views over the registry in registration order: module import order,
then the order of the `query` calls inside each module.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

_ENTRIES: dict[str, tuple[Builder, str]] = {}


def query(name: str, builder: Builder, oracle_sql: str) -> Builder:
    """Register `builder` under `name` with the DuckDB SQL that must
    return the same rows, and return `builder` unchanged. Raises
    ValueError on a name already taken or an empty or None oracle."""
    if name in _ENTRIES:
        raise ValueError(f"query {name!r} is already registered")
    if not oracle_sql:
        raise ValueError(f"query {name!r} has no oracle SQL")
    _ENTRIES[name] = (builder, oracle_sql)
    return builder


def builders() -> dict[str, Builder]:
    return {name: b for name, (b, _) in _ENTRIES.items()}


def oracles() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _ENTRIES.items()}
