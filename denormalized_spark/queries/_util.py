"""Shared helpers for the query registry."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from denormalized_spark.operators._hashing import md5_int_sql, md5_unit_sql
from denormalized_spark.operators.dedup import SHINGLE_MOD, shingle_params
from denormalized_spark.operators.text import STOPWORDS
from denormalized_spark.sources.files import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
#: queries whose build runs a Spark job (a build-time collect, a fit,
#: an eager checkpoint); every other query builds without one
EAGER: set[str] = set()

#: oracle SQL for :func:`~denormalized_spark.operators.text.tokens`:
#: whitespace split, empties dropped
_TOKS = r"list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')"

#: oracle SQL for the 32-bit token hashes of a ``ws`` token list
#: (:func:`~denormalized_spark.operators.dedup.token_hash32`)
_TOKEN_HASHES = f"list_transform(ws, t -> {md5_int_sql('t', 8)})"

#: oracle SQL for the hashed pseudo-weight in [-1, 1) of a token ``t``
#: (:func:`~denormalized_spark.operators.text.hashed_linear_margin`
#: without learned weights: 65536 buckets, salt 'qc0')
_QC0_WEIGHT = (
    md5_unit_sql(f"'qc0' || CAST({md5_int_sql('t', 8)} % 65536 AS VARCHAR)", 8)
    + " * 2 - 1"
)

#: :data:`~denormalized_spark.operators.text.STOPWORDS` as a DuckDB list
_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"


def _positional_gram_sql(n: int) -> str:
    """Hash of the word ``n``-gram starting at ``th[i]`` over the token
    hashes ``th``, matching operators.dedup.positional_gram_hashes and
    shingle_hashes: positional constants, per-term mod, mod 2^32."""
    m = SHINGLE_MOD
    terms = " + ".join(f"((th[i+{j}] * {shingle_params(j)}) % {m})" for j in range(n))
    return f"(({terms}) % {m})"


def _gram_sql(n: int) -> str:
    """Distinct word ``n``-gram hashes of ``th``, matching
    operators.dedup.shingle_hashes: a doc shorter than ``n`` tokens
    gets one rolling hash of all its tokens."""
    m = SHINGLE_MOD
    return f"""
    CASE WHEN len(th) >= {n}
         THEN list_distinct([{_positional_gram_sql(n)} for i in range(1, len(th) - {n - 2})])
         ELSE [list_reduce(list_prepend(0::BIGINT, th), (acc, x) -> (acc * 31 + x) % {m})] END
    """


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
