"""Temporal joins: as-of (nearest-past match) and range (interval
containment) — the two join shapes time-series/feature-store engines
add on top of relational equi-joins.

Neither exists in the reference (its joins are equi/theta only,
crates/core/src/datastream.rs:126-175); both are table stakes for the
training-data pipelines this engine targets (point-in-time-correct
feature lookup, event-to-interval attribution).

Scale design — the whole point of these implementations:

- A naive as-of join is a non-equi join (``l.t >= r.t`` + argmax),
  which Spark plans as BroadcastNestedLoopJoin: O(|L|·|R|) per key.
  :func:`asof_join` instead UNIONS the two sides and runs one
  running-frame window per key — one shuffle of |L|+|R| rows, O(1)
  state per row (``last(..., ignorenulls=True)`` over an unbounded-
  preceding running frame is computed incrementally, not by
  re-scanning the frame). This is the plan that survives 100 TB.

- A naive range join is the same BNLJ trap. :func:`range_join` bins
  time into fixed-width buckets: each interval explodes to the bins
  it covers (bounded fan-out when ``bin_width`` ≈ interval length),
  each point computes its single bin, and the join becomes an
  EQUI-join on the bin (+ keys) with a residual containment filter —
  shuffle-hash/sort-merge, never a cartesian product. This is the
  same strategy Databricks' range-join optimization applies via hint.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from denormalized_spark.eventtime import declare_watermark


def _seconds(c: Column, dtype) -> Column:
    """Numeric seconds for comparison/binning. TIMESTAMP_NTZ has no
    direct numeric cast in Spark 4 — hop through TIMESTAMP_LTZ (the
    session TZ is UTC, so the epoch value is preserved)."""
    if dtype.typeName() in ("timestamp", "timestamp_ntz"):
        return c.cast("timestamp_ltz").cast("double")
    return c.cast("double")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    right_cols: Sequence[str],
    *,
    direction: str = "backward",
    tolerance_ms: int | None = None,
    matched_time_col: str | None = "matched_time",
) -> DataFrame:
    """Left as-of join: for every left row, attach ``right_cols`` from
    the single right row with the greatest ``right_time`` <=
    ``left_time`` (direction='backward'; 'forward' = smallest >=;
    'nearest' = smaller |Δt| of the two, ties backward — pandas
    merge_asof parity) sharing the ``on`` keys. Unmatched left rows keep NULLs (left-join
    semantics, like DuckDB/pandas ASOF LEFT JOIN).

    Plan: union both sides (right payload NULL on left rows and vice
    versa) → window ``last(payload, ignorenulls=True)`` over
    (PARTITION BY keys ORDER BY time, side ROWS UNBOUNDED PRECEDING)
    → keep left rows. Right rows sort BEFORE left rows at equal
    timestamps, so an exactly-simultaneous right row matches
    (inclusive semantics, matching DuckDB ``l.t >= r.t``).

    If several right rows share the same (keys, right_time), the
    surviving payload is the last in the union's arbitrary order —
    pre-aggregate the right side to unique (keys, time) rows for
    deterministic results (same caveat as any ASOF engine).

    ``tolerance_ms`` nulls out matches farther than the tolerance
    (pandas ``merge_asof(tolerance=...)`` semantics).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    if tolerance_ms is not None and tolerance_ms < 0:
        raise ValueError(f"tolerance_ms must be >= 0, got {tolerance_ms}")
    keys = list(on)
    right_cols = list(right_cols)
    left_payload = [c for c in left.columns if c not in keys and c != left_time]
    collisions = set(right_cols) & set(left.columns)
    if collisions:
        raise ValueError(f"right_cols collide with left columns: {sorted(collisions)}")

    lu = left.select(
        *keys,
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in left_payload],
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in right_cols],
        F.lit(None).cast(right.schema[right_time].dataType).alias("_rt"),
    )
    ru = right.select(
        *keys,
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_payload],
        *[F.col(c) for c in right_cols],
        F.col(right_time).alias("_rt"),
    )
    u = lu.unionByName(ru)

    asc_w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_t").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward = smallest right time >= left time: scan time DESCENDING
    # so "preceding" rows are the future; right still before left at
    # equal times for inclusive matching.
    desc_w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_t").desc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if direction != "nearest":
        w = asc_w if direction == "backward" else desc_w
        filled = u.select(
            *keys,
            "_t",
            "_side",
            *left_payload,
            *[F.last(c, ignorenulls=True).over(w).alias(c) for c in right_cols],
            F.last("_rt", ignorenulls=True).over(w).alias("_mt"),
        )
    else:
        # nearest (pandas merge_asof direction='nearest'): fill BOTH
        # directions over the SAME keyed exchange (two Window nodes,
        # one shuffle), then pick the smaller |Δt| per left row —
        # ties break backward, matching pandas.
        tdt = left.schema[left_time].dataType
        rdt = right.schema[right_time].dataType
        both = u.select(
            *keys,
            "_t",
            "_side",
            *left_payload,
            *[
                F.last(c, ignorenulls=True).over(asc_w).alias(f"_b_{c}")
                for c in right_cols
            ],
            F.last("_rt", ignorenulls=True).over(asc_w).alias("_mtb"),
            *[
                F.last(c, ignorenulls=True).over(desc_w).alias(f"_f_{c}")
                for c in right_cols
            ],
            F.last("_rt", ignorenulls=True).over(desc_w).alias("_mtf"),
        )
        db = _seconds(F.col("_t"), tdt) - _seconds(F.col("_mtb"), rdt)
        df_ = _seconds(F.col("_mtf"), rdt) - _seconds(F.col("_t"), tdt)
        use_b = F.col("_mtb").isNotNull() & (F.col("_mtf").isNull() | (db <= df_))
        filled = both.select(
            *keys,
            "_t",
            "_side",
            *left_payload,
            *[
                F.when(use_b, F.col(f"_b_{c}"))
                .otherwise(F.col(f"_f_{c}"))
                .alias(c)
                for c in right_cols
            ],
            F.when(use_b, F.col("_mtb")).otherwise(F.col("_mtf")).alias("_mt"),
        )
    out = filled.filter(F.col("_side") == 1)

    if tolerance_ms is not None:
        tdt = left.schema[left_time].dataType
        rdt = right.schema[right_time].dataType
        gap = F.abs(_seconds(F.col("_t"), tdt) - _seconds(F.col("_mt"), rdt)) * 1000.0
        within = F.col("_mt").isNotNull() & (gap <= F.lit(float(tolerance_ms)))
        out = out.select(
            *keys,
            "_t",
            "_side",
            *left_payload,
            *[F.when(within, F.col(c)).alias(c) for c in right_cols],
            F.when(within, F.col("_mt")).alias("_mt"),
        )

    final = [
        *keys,
        F.col("_t").alias(left_time),
        *left_payload,
        *right_cols,
    ]
    if matched_time_col:
        final.append(F.col("_mt").alias(matched_time_col))
    return out.select(*final)


def resample(
    df: DataFrame,
    time_col: str,
    interval_ms: int,
    group_cols: list[str],
    aggs: list[Column],
    *,
    fill_forward: list[str] | None = None,
) -> DataFrame:
    """Fixed-interval resampling with gap filling — the time-series
    downsample the reference's sensor domain needs (its date_bin
    scalar bins, but nothing densifies): aggregate per (group, bin),
    then LEFT-join onto the dense bin grid so empty intervals appear
    as rows, optionally forward-filling listed columns from the last
    populated bin per group.

    Scale shape: the agg shuffles once on (group, bin); the grid is
    (distinct groups) × (time span / interval) — built from a 1-row
    min/max broadcast and a per-group sequence explode, never a
    per-row cross join. Forward fill is a per-group ordered window
    (last ignorenulls), partitioned — no global sort."""
    # integer floor-division on epoch millis: double division would
    # mis-bin exact boundary timestamps by one ulp. unix_millis only
    # accepts TIMESTAMP (not NTZ) — hop through TIMESTAMP_LTZ, which
    # is value-preserving under the engine's UTC session timezone
    # (same reason _seconds exists).
    binned = df.withColumn(
        "_bin",
        F.timestamp_millis(
            F.expr(
                f"unix_millis(cast(`{time_col}` as timestamp_ltz)) div {interval_ms}"
            )
            * interval_ms
        ),
    )
    agged = binned.groupBy(*group_cols, "_bin").agg(*aggs)
    bounds = binned.agg(
        F.min("_bin").alias("_lo"), F.max("_bin").alias("_hi")
    )
    groups = df.select(*group_cols).distinct()
    grid = (
        groups.crossJoin(F.broadcast(bounds))
        .select(
            *group_cols,
            F.explode(
                F.sequence(
                    "_lo", "_hi", F.expr(f"INTERVAL {interval_ms} MILLISECONDS")
                )
            ).alias("_bin"),
        )
    )
    out = grid.join(agged, [*group_cols, "_bin"], "left").withColumnRenamed(
        "_bin", "bin_start"
    )
    if fill_forward:
        from pyspark.sql import Window

        w = (
            Window.partitionBy(*group_cols)
            .orderBy("bin_start")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        for c in fill_forward:
            out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def interpolate_linear(
    df: DataFrame,
    group_cols: list[str],
    time_col: str,
    value_cols: list[str],
) -> DataFrame:
    """Linear interpolation of NULL gaps on a (dense) time grid — the
    gap-fill :func:`resample` doesn't do (forward fill holds the last
    value; interpolation draws the line to the next one). For each
    NULL row: value = prev + (next − prev) · (t − t_prev) / (t_next −
    t_prev) from the nearest populated neighbors per group; leading/
    trailing gaps (no neighbor on one side) stay NULL, pandas
    ``interpolate(limit_area='inside')`` semantics.

    Engine-exact by construction for INTEGER value columns: the slope
    term uses all-integer truncating division (Spark ``div`` ≡ DuckDB
    ``//``, both toward zero — verified, −7÷2 → −3 in each), so no
    float rounding can diverge. Float columns interpolate in plain
    double arithmetic (same fixed op order both engines).

    Plan: two window passes (running last + running first) over ONE
    per-group ordered exchange — same budget as the forward fill.
    """
    w_prev = (
        Window.partitionBy(*group_cols)
        .orderBy(time_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy(*group_cols)
        .orderBy(time_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    t_ms = F.unix_millis(F.col(time_col).cast("timestamp_ltz"))
    out = df
    for c in value_cols:
        is_int = df.schema[c].dataType.typeName() in (
            "long", "integer", "short", "byte"
        )
        populated_t = F.when(F.col(c).isNotNull(), t_ms)
        pv = F.last(c, ignorenulls=True).over(w_prev)
        pt = F.last(populated_t, ignorenulls=True).over(w_prev)
        nv = F.first(c, ignorenulls=True).over(w_next)
        nt = F.first(populated_t, ignorenulls=True).over(w_next)
        out = (
            out.withColumn("_ip_num", (nv - pv) * (t_ms - pt))
            .withColumn("_ip_den", nt - pt)
            .withColumn("_ip_pv", pv)
            .withColumn("_ip_nv", nv)
        )
        interp = (
            F.col("_ip_pv") + F.expr("_ip_num div _ip_den")
            if is_int
            else F.col("_ip_pv")
            + F.col("_ip_num").cast("double") / F.col("_ip_den")
        )
        out = out.withColumn(
            c,
            F.when(F.col(c).isNotNull(), F.col(c)).otherwise(
                F.when(
                    F.col("_ip_pv").isNotNull() & F.col("_ip_nv").isNotNull(),
                    interp,
                ).cast(df.schema[c].dataType)
            ),
        ).drop("_ip_num", "_ip_den", "_ip_pv", "_ip_nv")
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_start: str,
    right_end: str,
    *,
    on: Sequence[str] = (),
    bin_width_s: int = 604_800,
    how: str = "inner",
    end_inclusive: bool = False,
) -> DataFrame:
    """Join left rows whose ``left_point`` falls inside the right
    row's [``right_start``, ``right_end``) interval (optionally also
    matching equi ``on`` keys).

    Plan: both sides map their time(s) to ``bin_width_s``-wide bins
    (intervals via an exploded ``sequence`` — fan-out is
    ceil(interval/bin)+1, so pick ``bin_width_s`` near the typical
    interval length); the join is then an EQUI-join on (keys, bin)
    with the containment predicate as a residual filter. Each point
    owns exactly one bin, so no post-join dedup is needed. Catalyst
    plans shuffle-hash/sort-merge — never BroadcastNestedLoopJoin.

    Skew note: at 100 TB a hot bin (burst of intervals over the same
    week) is handled by AQE skew-join splitting, since this is a
    plain equi-join.
    """
    if bin_width_s <= 0:
        raise ValueError(f"bin_width_s must be > 0, got {bin_width_s}")
    keys = list(on)
    w = F.lit(int(bin_width_s))
    lp = _seconds(F.col(left_point), left.schema[left_point].dataType)
    rs = _seconds(F.col(right_start), right.schema[right_start].dataType)
    re_ = _seconds(F.col(right_end), right.schema[right_end].dataType)

    lb = left.withColumn("_bin", F.floor(lp / w))
    rb = right.withColumn(
        "_bin", F.explode(F.sequence(F.floor(rs / w), F.floor(re_ / w)))
    )
    contain = lp >= rs
    upper = lp <= re_ if end_inclusive else lp < re_
    # name-list join form so the equi keys (and _bin) appear ONCE in
    # the output — an expression-list join would duplicate every `on`
    # column and make downstream by-name selects ambiguous
    joined = lb.join(rb, ["_bin", *keys], how).filter(contain & upper)
    return joined.drop("_bin")


def range_join_stream(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_start: str,
    right_end: str,
    *,
    on: Sequence[str] = (),
    max_interval_s: int = 604_800,
    watermark: str = "0 seconds",
    how: str = "inner",
    end_inclusive: bool = False,
) -> DataFrame:
    """Stream-stream interval-containment join: left events whose
    ``left_point`` falls inside a right row's [start, end) interval,
    both sides live streams — streaming ad/campaign attribution.

    Spark's native symmetric stream-stream join does all the state
    work, PROVIDED it can (a) hash-partition on an equality key and
    (b) derive an eviction bound from an event-time range between the
    two watermarked columns. Both come from ``max_interval_s`` (the
    longest interval you will ever emit):

    - the batch :func:`range_join`'s bin trick supplies (a): each
      point owns ``floor(pt / max_interval)``; each interval explodes
      to the ≤2 bins it can cover, so the join is an EQUI-join on
      (keys, bin) — StreamingSymmetricHashJoin, never an unbounded
      cross;
    - the raw-column predicate ``left_point BETWEEN right_start AND
      right_start + max_interval`` supplies (b): Spark's watermark
      analysis reads it off the event-time columns directly and
      evicts both sides' state as the watermark passes (the
      clicks-within-an-hour-of-impression pattern from the Spark
      streaming guide) — state is O(watermark + max_interval) rows,
      not O(stream).

    Contract: intervals longer than ``max_interval_s`` are TRUNCATED —
    points beyond start + max_interval never match (the eviction
    bound has already released the state). Size it to your longest
    interval. ``how``: 'inner' or 'leftOuter' (unmatched points
    null-pad once the watermark passes their bound; the right side is
    exploded, so right/full outer would duplicate padded rows and are
    rejected).

    Batch twin: :func:`range_join` with ``bin_width_s =
    max_interval_s`` produces identical matches when every interval
    respects the contract (parity-tested in tests/test_streaming.py).
    """
    if how not in ("inner", "leftOuter", "left_outer", "left"):
        raise ValueError(
            "streaming range join supports how='inner'|'leftOuter' "
            f"(right side is exploded), got {how!r}"
        )
    if max_interval_s <= 0:
        raise ValueError(f"max_interval_s must be > 0, got {max_interval_s}")
    keys = list(on)
    w = F.lit(int(max_interval_s))
    rs = _seconds(F.col(right_start), right.schema[right_start].dataType)
    re_ = _seconds(F.col(right_end), right.schema[right_end].dataType)
    lp = _seconds(F.col(left_point), left.schema[left_point].dataType)

    lb = declare_watermark(left, left_point, watermark).withColumn(
        "_bin", F.floor(lp / w)
    )
    # ≤2 bins per interval under the contract (cap the sequence so an
    # over-long interval can't explode unboundedly either). The stop is
    # clamped with greatest(): a malformed interval with end < start
    # would otherwise make sequence() DESCEND (Spark emits a reversed
    # range, not an empty one) and fabricate bins; clamped, such rows
    # get exactly one bin and the end-bound join predicate drops them.
    rb = declare_watermark(right, right_start, watermark).withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(rs / w),
                F.greatest(F.floor(rs / w), F.floor(F.least(re_, rs + w) / w)),
            )
        ),
    )
    lpc, rsc = lb[left_point], rb[right_start]
    contain = lpc >= rsc
    evict = lpc <= rsc + F.expr(f"INTERVAL {int(max_interval_s)} SECONDS")
    upper = (
        lb[left_point] <= rb[right_end]
        if end_inclusive
        else lb[left_point] < rb[right_end]
    )
    cond = [lb["_bin"] == rb["_bin"]] + [lb[k] == rb[k] for k in keys]
    join_cond = cond[0]
    for c in cond[1:]:
        join_cond = join_cond & c
    # containment + eviction bound must live IN the join condition
    # (not a post-filter): that is where the watermark analysis finds
    # the range, and where leftOuter decides matched-vs-padded
    join_cond = join_cond & contain & evict & upper
    joined = lb.join(rb, join_cond, how)
    # the range predicates force the expression-join form (the
    # watermark analysis reads them off the condition), which keeps
    # BOTH sides' key columns — drop the right copies by reference so
    # by-name selects stay unambiguous (leftOuter keeps the left key)
    for k in keys:
        joined = joined.drop(rb[k])
    return joined.drop("_bin")


def scd2_intervals(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    attr_cols: list[str],
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Slowly-Changing-Dimension type 2 (Kimball's warehouse classic):
    fold a change-log ``(key, ts, attrs)`` into validity intervals —
    one row per (key, run of identical attrs) with ``valid_from``,
    ``valid_to`` (NULL on the current row), 1-based ``version`` and
    ``is_current``. Consecutive log rows whose ``attr_cols`` are all
    unchanged COLLAPSE into one interval (null-safe comparison, so a
    NULL→NULL attribute is "unchanged"); re-appearing values open a
    NEW version (SCD2 history, not distinct states).

    Not in the reference (its surface is joins/windows/aggregates) —
    this is the standard dimension-maintenance operator a warehouse
    user expects next to the as-of join (the as-of join PROBES the
    intervals this operator BUILDS).

    Scale shape: everything is windows over ``partitionBy(key_cols)``
    — ONE key-hash shuffle total (Spark reuses the exchange across the
    lag/cumsum/lead passes since partitioning and intra-partition sort
    agree), no joins, no driver collects. Per-key state is the run
    counter — O(1). Determinism: the total order inside a key is
    (ts, ``tiebreak_col``); pass the tiebreak whenever one key can log
    twice at the same timestamp (the repo's pinned-total-order
    standard), else equal-ts rows make run boundaries nondeterministic.
    """
    if not attr_cols:
        raise ValueError("scd2_intervals: attr_cols must be non-empty")
    order = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(*key_cols).orderBy(*order)
    cur = F.struct(*[F.col(c) for c in attr_cols])
    prev = F.lag(cur).over(w)
    # null-safe "changed" flag: first row of the key, or any attr differs
    changed = F.when(prev.isNull(), F.lit(1)).otherwise(
        F.when(cur.eqNullSafe(prev), F.lit(0)).otherwise(F.lit(1))
    )
    runs = df.withColumn("_chg", changed).withColumn(
        "version",
        F.sum("_chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    iv = runs.groupBy(*key_cols, "version").agg(
        F.min(ts_col).alias("valid_from"),
        *[F.first(c).alias(c) for c in attr_cols],
    )
    # F.first inside the grouped agg is safe: every row in a
    # (key, version) group carries identical attrs by construction
    wv = Window.partitionBy(*key_cols).orderBy("version")
    nxt = F.lead("valid_from").over(wv)
    return iv.select(
        *key_cols,
        *attr_cols,
        F.col("version").cast("long").alias("version"),
        F.col("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )
