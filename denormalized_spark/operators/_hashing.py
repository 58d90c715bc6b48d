"""The repo-wide portable hash: the first ``n_hex`` hex chars of
``md5(salt || key)`` read as an unsigned integer.

Every engine-portable decision in the package (LSH shingles and
minhash constants, sketch buckets and signs, sampling fractions,
Gumbel keys, hyperplane and JL components) and every DuckDB oracle
that replays one is built on this one hash. This module is its ONE
definition, in the three forms the package needs, side by side:

- :func:`md5_int` / :func:`md5_unit` — Spark Columns;
- :func:`md5_int_sql` / :func:`md5_unit_sql` — the DuckDB text the
  oracles embed;
- :func:`md5_int_py` — driver-side literals.

The contract:

1. The key is hashed as a string (``CAST(key AS STRING)``, UTF-8
   bytes); a salt is a string prefix (``salt || key``). A NULL key
   hashes to NULL in both engines.
2. ``n_hex`` chars give ``4·n_hex`` bits. The Spark and SQL forms
   accept 1..15 only: 16 hex chars can exceed a signed 64-bit long
   (an ANSI cast error in both engines). The Python form reads any
   width up to the full 32.
3. :func:`md5_unit` scales the same integer to [0, 1) by
   ``2^(4·n_hex)``, in double precision.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

#: widest prefix whose value fits a signed 64-bit long
MAX_HEX = 15


def _check(n_hex: int) -> None:
    if not 1 <= n_hex <= MAX_HEX:
        raise ValueError(f"n_hex must be in 1..{MAX_HEX}, got {n_hex}")


def _md5_hex(key: Column | str, n_hex: int, salt: str) -> Column:
    """The hex prefix as conv()'s decimal string, not yet cast."""
    _check(n_hex)
    c = (F.col(key) if isinstance(key, str) else key).cast("string")
    if salt:
        c = F.concat(F.lit(salt), c)
    return F.conv(F.substring(F.md5(c), 1, n_hex), 16, 10)


def md5_int(key: Column | str, n_hex: int, salt: str = "") -> Column:
    """``md5(salt || key)``'s first ``n_hex`` hex chars as a long in
    [0, 2^(4·n_hex))."""
    return _md5_hex(key, n_hex, salt).cast("long")


def md5_unit(key: Column | str, n_hex: int, salt: str = "") -> Column:
    """:func:`md5_int` scaled to a double in [0, 1)."""
    return _md5_hex(key, n_hex, salt).cast("double") / F.lit(float(1 << (4 * n_hex)))


def md5_int_sql(expr: str, n_hex: int) -> str:
    """DuckDB text of :func:`md5_int` over the SQL string expression
    ``expr`` (salt and casts already spelled out in ``expr``)."""
    _check(n_hex)
    return f"('0x' || substr(md5({expr}), 1, {n_hex}))::BIGINT"


def md5_unit_sql(expr: str, n_hex: int) -> str:
    """DuckDB text of :func:`md5_unit`: :func:`md5_int_sql` scaled to a
    double in [0, 1), parenthesized."""
    return f"({md5_int_sql(expr, n_hex)} / {float(1 << (4 * n_hex))!r})"


def md5_int_py(s: str, n_hex: int) -> int:
    """Driver-side :func:`md5_int` of the string ``s`` (any width up to
    32 hex chars)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:n_hex], 16)
