"""The query registry behind `queries()` / `oracle_sql()`: one
declaration per entry, every entry with an oracle, and wrappers that
keep the builder's identity."""

import inspect

import pytest

import __spark_entry__ as entrymod
from debezium_spark import registry


def _builder(spark, sf_dir):
    return spark.range(1)


def test_registry_rejects_duplicate_name_and_missing_oracle():
    before = registry.oracles()
    with pytest.raises(ValueError, match="already registered"):
        registry.query("cdc_latest_state", _builder, "SELECT 1")
    for sql in (None, ""):
        with pytest.raises(ValueError, match="no oracle"):
            registry.query("registry_test_entry", _builder, sql)
    assert registry.oracles() == before


def test_queries_and_oracles_cover_the_same_165_names():
    names = set(entrymod.queries())
    assert names == set(entrymod.oracle_sql())
    assert len(names) == 165


def test_entries_keep_builder_metadata():
    for name, fn in entrymod.queries().items():
        inner = fn.__wrapped__
        assert inner.__module__.startswith("debezium_spark."), name
        assert inner.__module__ != registry.__name__, name
        assert fn.__module__ == inner.__module__, name
        assert fn.__doc__ == inner.__doc__, name
        # layer attribution reads the wrapper's closure variable `fn`
        assert inspect.getclosurevars(fn).nonlocals["fn"] is inner, name
