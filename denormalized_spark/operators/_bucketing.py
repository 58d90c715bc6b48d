"""The repo-wide bucket-cap contract for LSH-style candidate generation.

Every candidate generator (MinHash-LSH banding, hyperplane-LSH ANN,
semantic decontamination, the incremental/streaming dedup gates) keys
work by bucket and bounds degenerate skew with ``max_bucket_size``.
This module is the ONE implementation of that idiom so operator and
oracle semantics cannot drift (r9 verdict item 7). The contract:

1. **Caps drop whole buckets, never truncate them.** A bucket larger
   than the cap contributes NO candidate pairs (pair-generation form)
   or is owned by EVERY member (ownership form). Truncation would make
   the surviving pair set depend on which members happened to sort
   first; whole-bucket exemption keeps the semantics "a degenerate
   bucket is not evidence", which oracles mirror exactly
   (``HAVING count(*) BETWEEN 2 AND cap``).
2. **In-bucket order is ``array_sort`` ascending** over the member
   expression (id-leading struct fields), so pair generation
   (:func:`bucket_pairs`) emits ``id_a < id_b`` deterministically under
   any partitioning.
3. **Ownership ties break by ``min(struct(*order_cols))``** — the
   order columns are an explicit per-operator contract (plain dedup
   orders by id; the streaming gate by (event_time, id)) and must be
   stated at the call site, never defaulted.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bucket_pin_partitions(df: DataFrame) -> int:
    """Scale-adaptive partition pin for compute-bound bucket shuffles:
    max(defaultParallelism, configured shuffle partitions) never drops
    below the core count or the cluster's tuned pre-AQE width, so at
    byte-heavy scale it is what ENSURE_REQUIREMENTS would have used
    anyway, while in the byte-tiny/compute-heavy regime it keeps every
    core busy where AQE's byte-based coalescing would not."""
    spark = df.sparkSession
    try:
        configured = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # e.g. "auto" on managed platforms
        configured = 0
    return max(spark.sparkContext.defaultParallelism, configured)


def capped_bucket_collect(
    banded: DataFrame,
    bucket_cols: list[str],
    member: Column | str,
    alias: str,
    max_bucket_size: int | None,
    min_size: int = 2,
    num_partitions: int | None = None,
) -> DataFrame:
    """Collect each bucket's members into one sorted array under the
    cap contract (see module docstring): members ``array_sort``-ed
    ascending, buckets below ``min_size`` dropped (no pairs), buckets
    above ``max_bucket_size`` dropped WHOLE. One keyed shuffle; the
    output arrays are bounded by the cap, so downstream higher-order
    pair generation is O(cap²) worst-case per bucket.

    ``num_partitions`` pins the shuffle's partition count (user
    repartition on the bucket key — same single exchange, groupBy's
    distribution requirement is already satisfied) instead of leaving
    it to AQE. Opt in ONLY when the per-pair work downstream is heavy
    (e.g. an O(dim) dot per pair): AQE coalesces post-shuffle
    partitions by BYTES, so a byte-tiny bucket shuffle collapses to a
    handful of partitions that then serialize the O(cap²) scoring —
    interleaved A/B at sf0.1: sim_lsh_buckets 2.54→0.94 s,
    dedup_embedding_neardup 3.06→1.53 s min wall. For cheap id-only
    pair generation the extra tasks cost more than they recover
    (dedup_lsh_candidates 0.87→1.03 s pinned), hence the unpinned
    default. :func:`bucket_pin_partitions` derives the scale-adaptive
    count."""
    if num_partitions is not None:
        banded = banded.repartition(num_partitions, *bucket_cols)
    out = (
        banded.groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_list(member)).alias(alias))
        .filter(F.size(alias) >= min_size)
    )
    if max_bucket_size is not None:
        out = out.filter(F.size(alias) <= max_bucket_size)
    return out


def bucket_pairs(
    members: Column,
    make: Callable[[Column, Column], Column],
    keep: Callable[[Column], Column] | None = None,
) -> Column:
    """Every in-bucket pair of a sorted member array as one flat array
    of ``make(x, y)``: anchor ``i`` pairs with the suffix
    ``members[i+1:]``, so pairs come in anchor order, ``x`` precedes
    ``y`` (``id_a < id_b`` under contract #2) and no member pairs with
    itself — n members give n(n−1)/2 pairs. ``keep``, when given,
    filters each anchor's pairs before flattening. Pass a column
    reference, not an array expression: ``members`` appears several
    times in the lambdas, and Spark inlines an expression's subtree at
    every reference."""

    def per_anchor(x: Column, i: Column) -> Column:
        suffix = F.slice(members, i + 2, F.greatest(F.size(members) - i - 1, F.lit(0)))
        row = F.transform(suffix, lambda y: make(x, y))
        return row if keep is None else F.filter(row, keep)

    return F.flatten(F.transform(members, per_anchor))


def bucket_ownership_counts(
    banded: DataFrame, id_col: str, order_cols: list[str], cap: int
) -> DataFrame:
    """Per-doc count of owned band buckets under a bucket-size cap.

    One partial-agged shuffle computes each bucket's (winner, size) —
    a degenerate bucket arrives at its reducer as ≤ one row per map
    partition, not as its membership. The winner is
    ``min(struct(*order_cols))`` (contract #3). Buckets over the cap
    are exempt (every member owns them — contract #1) and joined back
    against the band stream for the membership count WITHOUT a
    broadcast hint: exempt buckets are usually few (each holds > cap
    docs, so < corpus/cap of them) and AQE broadcasts the join at
    runtime, but a small cap on a skewed corpus can make the exempt
    set approach corpus/cap rows — exactly the degenerate input the
    cap exists for — and then AQE keeps the shuffle join instead of
    blowing the broadcast limit."""
    bucket = banded.groupBy("band", "band_key").agg(
        F.min(F.struct(*order_cols)).alias("_w"),
        F.count("*").alias("_sz"),
    )
    wins = (
        bucket.filter(F.col("_sz") <= cap)
        .select(F.col(f"_w.{id_col}").alias(id_col))
        .groupBy(id_col)
        .agg(F.count("*").alias("_n_won"))
    )
    exempt = bucket.filter(F.col("_sz") > cap).select("band", "band_key")
    ex_counts = (
        banded.join(exempt, ["band", "band_key"])
        .groupBy(id_col)
        .agg(F.count("*").alias("_n_ex"))
    )
    return (
        wins.join(ex_counts, id_col, "full")
        .select(
            id_col,
            (
                F.coalesce("_n_won", F.lit(0)) + F.coalesce("_n_ex", F.lit(0))
            ).alias("_n_owned"),
        )
    )
