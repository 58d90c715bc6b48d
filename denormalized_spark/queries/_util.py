"""Shared helpers for the query registry."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from denormalized_spark.sources.files import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
#: queries whose build runs a Spark job (a build-time collect, a fit,
#: an eager checkpoint); every other query builds without one
EAGER: set[str] = set()

#: oracle SQL for :func:`~denormalized_spark.operators.text.tokens`:
#: whitespace split, empties dropped
_TOKS = r"list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')"


def q(name: str, oracle: str | None = None, eager: bool = False):
    """Register the decorated ``fn(spark, sf_dir)`` as query ``name``,
    with its DuckDB ``oracle`` SQL when it has one. ``eager=True``
    marks a query whose build runs a Spark job."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if eager:
            EAGER.add(name)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table (handles the ns-timestamp conversion)."""
    return load_table(spark, sf_dir, name)
