"""The repo-wide bucket-cap contract for LSH-style candidate generation.

Every candidate generator (MinHash-LSH banding, hyperplane-LSH ANN,
semantic decontamination) and every near-dup gate keys work by bucket
and bounds degenerate skew with ``max_bucket_size``. This module is
the ONE implementation of that idiom, so operator and oracle
semantics cannot drift: an oracle that replays one cap rule must see
the same rule in every operator. The contract:

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
   orders by id; the event-time gates by (event_time, id)) and must be
   stated at the call site, never defaulted.

The ownership form — "a doc survives iff it is the earliest claimant
of every LSH bucket it lands in" — has one batch core
(:func:`band_owners`: the text gate ``near_dedup_batch``, the
incremental gate ``near_dedup_incremental``, the durable-index
``streaming.lsh.LSHDedupMaintainer`` and the image/audio
``*_near_gate_batch`` twins) and one stream core
(:func:`band_owners_stream`: ``near_dedup_stream``, ``image_near_gate``
and ``audio_near_gate``). Each takes ``(band, band_key)`` rows, so one
core serves every modality and band count.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from denormalized_spark.eventtime import declare_watermark


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


def band_owners(
    banded: DataFrame,
    id_col: str,
    order_cols: list[str],
    bands: int,
    carry: tuple = (),
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Batch first-claimant gate over ``(band, band_key)`` rows: each
    bucket is owned by its ``order_cols``-first member (contract #3),
    and a doc survives iff it owns all ``bands`` of its buckets. One
    row per survivor: ``id_col``, then each order column other than
    the id as its per-doc min, then each ``carry`` column as its
    per-doc first value (every band row of a doc holds the same
    values).

    Uncapped, one band-key window keeps each bucket's first row
    (``row_number() == 1``, which Spark plans as a WindowGroupLimit so
    a degenerate bucket is not materialized past its first row; its
    rows still land on ONE task — monitor with
    ``dedup.lsh_bucket_histogram``). With ``max_bucket_size`` the
    contest runs on :func:`bucket_ownership_counts` instead: map-side
    combine shrinks even a corpus-sized bucket to one row per map
    partition, and an over-cap bucket is owned by every member
    (contract #1, the recall-loss direction)."""
    per_doc = [F.min(c).alias(c) for c in order_cols if c != id_col]
    per_doc += [F.first(c).alias(c) for c in carry]
    out_cols = [c for c in order_cols if c != id_col] + list(carry)
    if max_bucket_size is None:
        w = Window.partitionBy("band", "band_key").orderBy(*order_cols)
        return (
            banded.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .groupBy(id_col)
            .agg(F.count("*").alias("_n_owned"), *per_doc)
            .filter(F.col("_n_owned") == F.lit(bands))
            .select(id_col, *out_cols)
        )
    owners = (
        bucket_ownership_counts(banded, id_col, order_cols, max_bucket_size)
        .filter(F.col("_n_owned") == F.lit(bands))
        .select(id_col)
    )
    if not per_doc:
        return owners
    return (
        banded.groupBy(id_col)
        .agg(*per_doc)
        .join(owners, id_col)
        .select(id_col, *out_cols)
    )


def band_owners_stream(
    banded: DataFrame,
    id_col: str,
    event_time: str,
    bands: int,
    watermark: str,
    emit_window_ms: int,
    carry: tuple = (),
    ts_mode: str = "exact",
) -> DataFrame:
    """Streaming first-claimant gate over ``(band, band_key)`` rows —
    two chained stateful operators in append mode:

    1. the watermark is declared on the band rows unless their
       event-time column already carries one (an upstream
       ``mapInPandas`` re-creates attributes and strips a watermark
       declared before it);
    2. ``dropDuplicatesWithinWatermark`` on ``(band, band_key)``: state
       is one row per distinct bucket, TTL'd by the watermark, and the
       first claimant owns the bucket (within one micro-batch the
       owner is arbitrary);
    3. a per-doc count over an ``emit_window_ms`` window: a doc that
       owns all ``bands`` buckets survives. The window only gives
       append mode a close point; all of a doc's band rows share its
       exact event time, so no doc straddles windows.

    Output: ``id_col``, ``event_time``, then each ``carry`` column.
    ``ts_mode="exact"`` emits the doc's own event time (an aggregate
    output, so it loses its event-time tag); ``"window_time"`` emits
    the emit window's ``window_time``, which keeps the tag so a
    further windowed aggregation can follow in the same query."""
    if ts_mode not in ("exact", "window_time"):
        raise ValueError(f"ts_mode must be exact|window_time, got {ts_mode!r}")
    owned = declare_watermark(
        banded, event_time, watermark
    ).dropDuplicatesWithinWatermark(["band", "band_key"])
    # millisecond interval string: integer-dividing to seconds would make
    # sub-second windows the invalid '0 seconds' and silently truncate others
    win = F.window(event_time, f"{emit_window_ms} milliseconds")
    surv = (
        owned.groupBy(win.alias("_w"), F.col(id_col))
        .agg(
            F.count("*").alias("_n_owned"),
            F.min(event_time).alias("_ts"),
            *[F.first(c).alias(c) for c in carry],
        )
        .filter(F.col("_n_owned") == bands)
    )
    ts_out = F.col("_ts") if ts_mode == "exact" else F.window_time("_w")
    return surv.select(id_col, ts_out.alias(event_time), *carry)
