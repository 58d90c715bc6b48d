"""Join-strategy operators: the hand-rolled patterns a 100 TB job
reaches for when the planner's defaults aren't enough.

Spark-first posture: AQE's skew-join splitting
(``spark.sql.adaptive.skewJoin.enabled``) is the FIRST answer to a
skewed shuffle join and is on in this repo's sessions — the explicit
salted join here is for the cases AQE can't fix: a skewed AGGREGATION
feeding the join, deterministic partitioning requirements, or an
engine without AQE. The operator is semantics-preserving (result ==
the plain join, hash-proven by its oracle), so it can be dropped in
and out freely.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from denormalized_spark.operators._hashing import md5_int


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_salt: Column,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join by key salting: the LEFT (large, possibly
    hot-keyed) side gets a deterministic salt in [0, n_salts) per ROW,
    the RIGHT side is replicated once per salt value, and the join
    runs on (key, salt) — a single hot key's rows now land on
    ``n_salts`` reducers instead of one. The classic pre-AQE skew
    remedy (and still the remedy when the skew is in a downstream
    aggregation AQE can't re-split).

    ``left_salt`` must be DETERMINISTIC in the row (e.g. a secondary
    column mod n_salts, or an md5 of a row id — never rand()): the
    repo's engine-parity contract, and what makes retries/speculative
    tasks safe. Semantics-preserving for inner/left joins on an
    equi-key: every left row meets every matching right row exactly
    once (the right replication is keyed by the SAME salt the left
    row carries).

    Scale shape: right-side replication multiplies the small side by
    n_salts (bounded, choose n_salts ≈ skew factor); the shuffle is
    on (key, salt) — n_salts× more, smaller partitions. Returns the
    joined frame without the salt column."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join: how must be inner/left, got {how!r}")
    ls = left.withColumn("_salt", (left_salt % n_salts).cast("int"))
    rs = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("_salt", F.col("_salt").cast("int"))
    return ls.join(rs, [on, "_salt"], how).drop("_salt")


def _derive_bloom_bits(
    n_keys: int, floor_bits: int = 1 << 16, cap_bits: int = 1 << 27
) -> int:
    """Power-of-two bitmap size with m/n ≈ 10 (fp ≈ 1.7% at k=3),
    floored at 8 KB and capped at the 16 MB broadcast comfort zone."""
    bits = floor_bits
    while bits < 10 * max(n_keys, 1) and bits < cap_bits:
        bits <<= 1
    return bits


def bloom_semi_join(
    fact: DataFrame,
    keys: DataFrame,
    fact_key: str,
    keys_key: str,
    bits: int | None = None,
    probes: int = 3,
    gate_only: bool = False,
) -> DataFrame:
    """Bloom-gated LEFT SEMI join — the hand-rolled form of the
    runtime filter every warehouse engine injects when a selective
    dimension gates a huge fact (Spark's own runtime bloom filter /
    Bloom-join literature back to Bloom 1970 + Mackert & Lohman 1986's
    R* semijoin sizing): fold the build-side keys into a ``bits``-bit
    broadcast bitmap, prefilter the fact MAP-SIDE to rows whose key
    passes all ``probes`` bits (no false negatives), then run the
    exact semi join on the survivors to drop Bloom false positives.

    SEMANTICS-PRESERVING by construction — the result equals the
    plain semi join (which is exactly what the oracle checks; same
    proof pattern as salted_join). The win at 100 TB: the shuffle
    feeding the exact join carries only fact rows that MIGHT match
    (selectivity · (1 + fp_rate)), not the whole fact table — the
    bitmap rides the broadcast lane (bits/8 bytes: 8 KB at 2^16).

    ``bits=None`` (the default) SIZES THE BITMAP FROM THE BUILD SIDE:
    one distinct-count of the keys, then bits = the next power of two
    ≥ 10·|keys| (m/n = 10 with k = 3 probes → fp ≈ (1−e^(−0.3))³ ≈
    1.7%), floored at 2^16 (8 KB) and capped at 2^27 (16 MB — the
    broadcast lane's comfort zone; past 13M distinct keys the gate
    degrades gracefully toward pass-through rather than growing the
    broadcast). A FIXED ``bits`` saturates once |keys| ≳ bits/10:
    fp→1 and the gate becomes a correct but useless pass-through —
    which is why the default now derives it.

    Reuses curation's double-hashed probe layout and dense-bitmap
    builder (the decontaminate prefilter), md5-mixing the key so
    sequential integer keys spread across the table."""
    from denormalized_spark.operators.curation import (
        _bench_gram_bloom,
        _bloom_hit,
    )

    if bits is None:
        bits = _derive_bloom_bits(keys.select(keys_key).distinct().count())

    build = keys.select(md5_int(keys_key, 8).alias("gram"))
    bm = _bench_gram_bloom(build, bits, probes)
    gated = fact.crossJoin(F.broadcast(bm)).filter(
        _bloom_hit(F.col("_bm"), F.array(md5_int(fact_key, 8)), bits, probes)
    ).drop("_bm")
    if gate_only:
        # Debug/measurement surface: the Bloom-passed rows BEFORE the
        # exact semi join, so tests can observe the fp rate directly.
        return gated
    return gated.join(
        F.broadcast(keys.select(F.col(keys_key).alias(fact_key)).distinct()),
        fact_key,
        "left_semi",
    )
