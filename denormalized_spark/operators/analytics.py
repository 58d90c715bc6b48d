"""Event-analytics operators: funnels, cohort retention, windowed
anomaly scores — the session/user-behavior query family the
reference's event-stream users run downstream of windowed aggregation
(its rideshare example stops at per-window aggregates; these are the
next three questions every event pipeline asks).

Scale design: every operator is one or two KEYED shuffles (user id,
cohort, or window), no self-joins, no driver loops. Funnel state is a
per-user fold over that user's (bounded) event array; cohort and
anomaly outputs are metadata-sized (cohorts × offsets, windows ×
groups).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def funnel_counts(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    max_events_per_user: int | None = None,
) -> DataFrame:
    """Ordered conversion funnel: how many users completed step 1,
    then step 2 AFTER step 1, then step 3 after that, … (the strict
    event-sequence semantics: a purchase before the first view does
    not count as funnel progress). Output: one row per step —
    (step, step_name, n_users, conversion_rate) with rate relative to
    step 1.

    Plan: the scan first DROPS every non-step event (an event whose
    type is outside ``steps`` can never advance the fold, so the
    filter is result-identical and it both shrinks the shuffle and
    bounds the per-user array at a bot/whale user to that user's
    STEP events), then ONE shuffle keyed by user collects each
    user's remaining events as a sorted (ts, id, type) array and a
    per-row FOLD advances a stage counter through the step list —
    no joins, no windows, no per-step passes. The final aggregation
    is steps-sized metadata. ``max_events_per_user`` additionally
    hard-caps the sorted array (keeping the EARLIEST step events) for
    corpora where even step-event volume is adversarial — a
    best-effort bound that can undercount a user whose conversion
    happens after the cap.
    """
    ev = F.array_sort(
        F.collect_list(F.struct(F.col(ts_col), F.col(id_col), F.col(type_col).alias("t")))
    )
    if max_events_per_user is not None:
        ev = F.slice(ev, 1, max_events_per_user)
    per_user = (
        df.filter(F.col(type_col).isin(steps))
        .groupBy(user_col)
        .agg(ev.alias("_ev"))
    )
    reached = _stage_counts(per_user, steps, "n_users")
    return _funnel_report(reached, steps, "n_users")


def _stage_counts(
    per_entity: DataFrame, steps: list[str], count_col: str
) -> DataFrame:
    """Shared funnel core: fold each entity's sorted ``_ev`` event
    array through the step chain (acc = highest step reached; an
    event advances it iff it matches the NEXT step —
    element_at(step_arr, acc+1) is safe because acc < nsteps is
    checked), then count entities reaching each step cumulatively via
    a steps-sized explode + re-aggregate (metadata: <= nsteps+1 rows
    in, nsteps rows out). One advance-rule implementation for both
    the per-user and per-session funnels."""
    nsteps = len(steps)
    if nsteps == 0:
        raise ValueError("steps must be non-empty")
    step_arr = F.array(*[F.lit(s) for s in steps])
    stage = F.aggregate(
        "_ev",
        F.lit(0),
        lambda acc, e: F.when(
            (acc < nsteps) & (e["t"] == F.element_at(step_arr, acc + 1)),
            acc + 1,
        ).otherwise(acc),
    )
    counts = (
        per_entity.select(stage.alias("_stage"))
        .groupBy("_stage")
        .agg(F.count("*").alias("_n"))
    )
    return (
        counts.select(
            F.explode(
                F.when(F.col("_stage") > 0, F.sequence(F.lit(1), F.col("_stage")))
                .otherwise(F.array().cast("array<int>"))
            ).alias("step"),
            "_n",
        )
        .groupBy("step")
        .agg(F.sum("_n").alias(count_col))
    )


def _funnel_report(
    reached: DataFrame, steps: list[str], count_col: str
) -> DataFrame:
    """Final funnel shaping shared by :func:`funnel_counts` and
    :func:`session_funnel`: emit EVERY step (zero-count steps
    included — a funnel report must show where the chain dies), with
    the conversion rate vs step 1. All inputs are steps-sized
    metadata; the base count is a 1-row broadcast."""
    spark = reached.sparkSession
    step_rows = spark.createDataFrame(
        [(i + 1, s) for i, s in enumerate(steps)], ["step", "step_name"]
    )
    full = step_rows.join(reached, "step", "left").withColumn(
        count_col, F.coalesce(count_col, F.lit(0))
    )
    base = full.filter(F.col("step") == 1).select(
        F.col(count_col).alias("_base")
    )
    return (
        full.crossJoin(F.broadcast(base))  # 1-row base count
        .select(
            F.col("step").cast("int").alias("step"),
            "step_name",
            F.col(count_col).cast("long").alias(count_col),
            F.when(
                F.col("_base") > 0,
                F.round(F.col(count_col) / F.col("_base"), 6),
            ).otherwise(F.lit(0.0)).alias("conversion_rate"),
        )
        .orderBy("step")
    )


def session_funnel(
    df: DataFrame,
    steps: list[str],
    gap_ms: int = 1_800_000,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Funnel that must complete WITHIN ONE SESSION: events are gap-
    sessionized per user (new session when the gap exceeds
    ``gap_ms`` — the same contract as the sessionize operator), then
    the strict-order step chain is evaluated per (user, session).
    Output: per step, the number of sessions that reached it and the
    conversion rate vs step-1 sessions — "of sessions that viewed,
    how many purchased in the SAME sitting", the form product
    funnels actually ship.

    Plan: ONE shuffle on the user key serves the lag flag, the
    running session id, and the per-session event collection (all
    three are user-partitioned window/group operations over the same
    exchange — HashPartitioning(user) satisfies the (user, _sid)
    grouping); the fold and the final counts are the same shapes as
    :func:`funnel_counts`. Session ids must be computed over ALL
    events (a non-step event keeps a session alive), but the
    collect_list that follows drops non-step events first — they
    can't advance the fold, so the per-session array is bounded by
    the session's STEP events, not its raw volume."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    prev = F.lag(ts_col).over(w)
    new_s = F.when(
        prev.isNull()
        | ((F.unix_millis(F.col(ts_col)) - F.unix_millis(prev)) > gap_ms),
        1,
    ).otherwise(0)
    sid = F.sum(new_s).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev = F.array_sort(
        F.collect_list(
            F.struct(F.col(ts_col), F.col(id_col), F.col(type_col).alias("t"))
        )
    )
    per_sess = (
        df.withColumn("_sid", sid)
        .filter(F.col(type_col).isin(steps))
        .groupBy(user_col, "_sid")
        .agg(ev.alias("_ev"))
    )
    reached = _stage_counts(per_sess, steps, "n_sessions")
    return _funnel_report(reached, steps, "n_sessions")


def top_event_paths(
    df: DataFrame,
    n: int = 3,
    k: int = 20,
    gap_ms: int = 1_800_000,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Top-k most common length-``n`` event-type paths WITHIN a
    session — classic product-analytics path mining ("what do users do
    right before purchasing"): gap-sessionize per user (same contract
    as sessionize/session_funnel), order each session's events
    totally by (ts, id), slide ``n``-grams over the type sequence,
    count globally, return the k most frequent with a deterministic
    (count desc, path asc) tiebreak.

    Plan: ONE user-keyed exchange serves the lag flag, the running
    session id, and the per-session ordered collect (array_sort over
    the collected structs — collect_list alone is partition-order
    nondeterministic); session arrays are bounded by the gap, the
    n-gram fan-out is |session|−n+1 (linear), and the path count is
    one partial-agged shuffle + TakeOrdered. Sessions shorter than
    ``n`` emit nothing (the sequence() guard — Spark's sequence(1, m)
    DESCENDS for m < 1, the round-10 gotcha).
    """
    if n < 1 or k < 1:
        raise ValueError(f"n and k must be >= 1, got n={n}, k={k}")
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    prev = F.lag(ts_col).over(w)
    new_s = F.when(
        prev.isNull()
        | ((F.unix_millis(F.col(ts_col)) - F.unix_millis(prev)) > gap_ms),
        1,
    ).otherwise(0)
    sid = F.sum(new_s).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tseq = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(F.col(ts_col), F.col(id_col), F.col(type_col).alias("t"))
            )
        ),
        lambda x: x["t"],
    )
    per_sess = (
        df.withColumn("_sid", sid)
        .groupBy(user_col, "_sid")
        .agg(tseq.alias("_tseq"))
    )
    m = F.size("_tseq") - F.lit(n - 1)
    grams = per_sess.select(
        F.explode(
            F.when(
                m >= 1,
                F.transform(
                    F.sequence(F.lit(1), m),
                    lambda i: F.concat_ws(">", F.slice(F.col("_tseq"), i, n)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("path")
    )
    return (
        grams.groupBy("path")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("path"))
        .limit(k)
    )


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
) -> DataFrame:
    """Cohort retention: users grouped by their FIRST activity period
    (the cohort), then for each later period the count still active —
    the standard growth-analytics triangle. Output: (cohort, offset,
    n_active, retention_rate) with rate relative to the cohort size.

    Plan: per-user first-activity period (one user-keyed shuffle,
    min-aggregated), joined back onto the user's distinct activity
    periods (same key — co-partitioned), then a (cohort, offset)
    aggregate. Output is cohorts × offsets metadata."""
    per = lambda c: F.date_trunc(period, c)
    firsts = df.groupBy(user_col).agg(per(F.min(ts_col)).alias("_cohort"))
    active = df.select(
        user_col, per(F.col(ts_col)).alias("_period")
    ).distinct()
    unit_days = {"week": 7, "day": 1}.get(period)
    if unit_days is None:
        raise ValueError("period must be 'week' or 'day'")
    # Calendar arithmetic, not epoch-seconds: with a non-UTC session
    # timezone a DST-crossing week is 604800±3600 s and an epoch-based
    # truncating division misbuckets that offset by one. datediff of
    # the truncated dates is DST-immune (periods land on day
    # boundaries in any zone).
    offset = F.floor(
        F.datediff(F.col("_period"), F.col("_cohort")) / unit_days
    ).cast("int")
    joined = active.join(firsts, user_col).select(
        user_col, "_cohort", offset.alias("offset")
    )
    counts = joined.groupBy("_cohort", "offset").agg(
        F.countDistinct(user_col).alias("n_active")
    )
    size = counts.filter(F.col("offset") == 0).select(
        "_cohort", F.col("n_active").alias("_size")
    )
    return (
        counts.join(F.broadcast(size), "_cohort")
        .select(
            F.col("_cohort").alias("cohort"),
            F.col("offset"),
            F.col("n_active").cast("long").alias("n_active"),
            F.round(F.col("n_active") / F.col("_size"), 6).alias("retention_rate"),
        )
        .orderBy("cohort", "offset")
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    threshold_milli: int = 3500,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Robust outliers via the MAD modified z-score (Iglewicz &
    Hoaglin 1993): per group, med = median(x), MAD = median(|x−med|),
    Mz = 0.6745·(x−med)/MAD; emit rows with |Mz| > threshold. The
    robust twin of the mean/std anomaly family (seasonal z, CUSUM):
    med/MAD have a 50% breakdown point, so the outliers themselves
    can't drag the baseline the way they drag a mean and std —
    the right screen for heavy-tailed value columns.

    Mz is emitted on the integer milli grid (floor(x·1000 + 0.5)) so
    cross-engine comparison is exact; groups with MAD = 0 (constant
    values) emit nothing by definition. Exact interpolated medians —
    at 100 TB swap percentile→approx_percentile (same plan).

    Plan: two grouped aggregates over the value column (median, then
    MAD given the median), each a tiny per-group table BROADCAST back
    onto the scan — no data-sized shuffle at all; the filter and the
    grid arithmetic are map-side."""
    ids = list(id_cols) if id_cols else []
    med = df.groupBy(*group_cols).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("_med")
    )
    with_med = df.join(F.broadcast(med), group_cols)
    mad = with_med.groupBy(*group_cols).agg(
        F.expr(f"percentile(abs({value_col} - _med), 0.5)").alias("_mad")
    )
    scored = with_med.join(F.broadcast(mad), group_cols).filter(
        F.col("_mad") > 0
    )
    mz = F.floor(
        F.lit(0.6745)
        * (F.col(value_col) - F.col("_med"))
        / F.col("_mad")
        * 1000
        + F.lit(0.5)
    ).cast("long")
    return (
        scored.withColumn("mz_milli", mz)
        .filter(F.abs(F.col("mz_milli")) > threshold_milli)
        .select(*ids, *group_cols, value_col, "mz_milli")
    )


def twap(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str,
    cents: Column,
    id_col: str,
) -> DataFrame:
    """Time-weighted average price per group: each sample weighted by
    how long it stayed the latest observation (duration to the NEXT
    sample via a lead window; the group's final sample carries no
    interval and is excluded — document the convention to consumers).
    All-integer: cent × millisecond products sum exactly and the final
    e4 value is truncating integer division (Spark ``div`` ≡ DuckDB
    ``//``). Returns (groups, n_intervals, total_ms, twap_e4).

    Plan: ONE group-keyed exchange shared by the lead window and the
    final aggregate; groups with zero total duration (all samples
    simultaneous) drop."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(ts_col, id_col)
    d = df.select(
        *group_cols, ts_col, id_col, cents.alias("_cents")
    ).withColumn(
        "dur",
        F.unix_millis(F.lead(ts_col).over(w).cast("timestamp_ltz"))
        - F.unix_millis(F.col(ts_col).cast("timestamp_ltz")),
    ).filter(F.col("dur").isNotNull())
    return (
        d.groupBy(*group_cols)
        .agg(
            F.count("dur").alias("n_intervals"),
            F.sum("dur").alias("total_ms"),
            F.expr("(sum(_cents * dur) * 100) div sum(dur)").alias("twap_e4"),
        )
        .filter(F.col("total_ms") > 0)
    )


def ab_test_proportions(
    df: DataFrame,
    unit_col: str,
    variant: Column,
    converted: Column,
) -> DataFrame:
    """Two-proportion z-test for an A/B experiment: per experiment
    unit (user), a variant assignment and a binary conversion; emits
    one row per variant pair-summary — n and conversions per arm, the
    pooled two-proportion z statistic on the micro grid, and the
    |z| > 1.96 significance flag (two-sided α=0.05).

    Determinism: counts are exact integers; z's float chain is
    fixed-order (pooled p, variance, one IEEE sqrt — correctly rounded
    per the standard, hence identical cross-engine — one division),
    floored to micro. Zero pooled variance (0% or 100% conversion in
    both arms) emits z=0, flagged not-significant. An EMPTY arm emits
    an empty result (the 1×1 pivot has no row to join) — an
    experiment with one arm has no z-test to report; callers wanting
    a sentinel row should check arm presence first.

    Plan: one unit-keyed dedup/agg (assignment + converted-ever per
    unit), one 2-row variant aggregate, a 1-row pivot — everything
    after the first agg is metadata."""
    per_unit = df.groupBy(unit_col).agg(
        F.max(variant).alias("_v"), F.max(converted).alias("_c")
    )
    arms = per_unit.groupBy("_v").agg(
        F.count("*").alias("n"), F.sum(F.col("_c").cast("long")).alias("conv")
    )
    a = arms.filter(F.col("_v") == 0).select(
        F.col("n").alias("n_a"), F.col("conv").alias("conv_a")
    )
    b = arms.filter(F.col("_v") == 1).select(
        F.col("n").alias("n_b"), F.col("conv").alias("conv_b")
    )
    j = a.crossJoin(F.broadcast(b))  # 1-row × 1-row
    p1 = F.col("conv_a").cast("double") / F.col("n_a").cast("double")
    p2 = F.col("conv_b").cast("double") / F.col("n_b").cast("double")
    pp = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    var = pp * (F.lit(1.0) - pp) * (
        F.lit(1.0) / F.col("n_a").cast("double")
        + F.lit(1.0) / F.col("n_b").cast("double")
    )
    z = F.when(var > 0, (p1 - p2) / F.sqrt(var)).otherwise(F.lit(0.0))
    zmicro = F.floor(z * 1_000_000 + F.lit(0.5)).cast("long")
    return j.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        zmicro.alias("z_micro"),
        (F.abs(zmicro) > 1_960_000).alias("significant"),
    )


def rfm_scores(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    amount_cents: Column,
    n_tiles: int = 5,
) -> DataFrame:
    """RFM segmentation (Hughes 1994, the CRM classic): per entity,
    Recency (last activity), Frequency (event count), Monetary
    (integer cent total), each quantile-scored with ``ntile`` —
    score 1 = best (most recent / most frequent / highest spend) —
    plus the combined ``rfm`` code (R·100 + F·10 + M for 5 tiles).

    Determinism: every ntile ordering carries the entity id as the
    final key, so tied metrics land in a pinned bucket in BOTH engines
    (ntile's floor/ceil bucket allocation is the SQL standard in each).

    Plan: one entity-keyed aggregate, then each score comes from the
    SCALE-SAFE global row number (range partition + broadcast prefix
    sums, operators/ranking.py — never a single-partition sort over
    the entity-sized summary) pushed through the exact SQL ntile
    allocation (first N mod t buckets get ceil(N/t) rows), so the
    output is bit-identical to a plain ``ntile(t) OVER (ORDER BY …)``
    while every stage stays partitioned."""
    if n_tiles < 1:
        raise ValueError(f"n_tiles must be >= 1, got {n_tiles}")
    from denormalized_spark.operators.ranking import with_global_row_number

    def _ntile(rn: Column, total: Column, t: int) -> Column:
        q = F.floor(total / t).cast("long")
        r = (total % t).cast("long")
        head = r * (q + 1)
        # q==0 (fewer rows than tiles) puts every row in the head
        # branch; greatest() keeps the untaken divide well-defined
        return (
            F.when(rn <= head, F.floor((rn - 1) / (q + 1)) + 1)
            .otherwise(r + F.floor((rn - head - 1) / F.greatest(q, F.lit(1))) + 1)
            .cast("int")
        )

    summary = df.groupBy(entity_col).agg(
        F.max(ts_col).alias("last_ts"),
        F.count("*").alias("n_events"),
        F.sum(amount_cents).alias("cents"),
    )
    # each score from an INDEPENDENT pass over the summary, joined
    # back on the entity key — CHAINING with_global_row_number calls
    # corrupts the earlier row numbers (the later call's plan
    # re-executes the earlier subplan, and its range-sample +
    # spark_partition_id stages can resolve differently between the
    # two internal consumptions; measured at sf0.1: 97% of chained
    # first-pass rns wrong). One consumer per rn output is the
    # contract (see ranking.with_global_row_number).
    out = summary
    for metric, score in (
        ("last_ts", "r_score"),
        ("n_events", "f_score"),
        ("cents", "m_score"),
    ):
        ranked = with_global_row_number(
            summary,
            [F.desc(metric), F.col(entity_col)],
            out_col="_rn",
            total_col="_tot",
        ).select(
            entity_col,
            _ntile(F.col("_rn"), F.col("_tot"), n_tiles).alias(score),
        )
        out = out.join(ranked, entity_col)
    return out.withColumn(
        "rfm",
        F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"),
    )


def basket_lift(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
    k: int = 20,
) -> DataFrame:
    """Market-basket pair association (Agrawal & Srikant 1994 lineage):
    for item pairs co-occurring in ≥ ``min_pair_count`` baskets, emit
    support counts and lift = N·n_ab / (n_a·n_b), top-``k`` by lift
    with a deterministic (lift desc, item_a, item_b) tiebreak —
    "bought-together" / "co-occurring-tags" analysis.

    All counts are exact integers over DISTINCT (basket, item) pairs
    (duplicate lines of one item in a basket count once); lift's
    single division is fixed-order float on the micro grid.

    Plan: the pair generator is a self-join WITHIN the basket key —
    fan-out is items-per-basket², bounded by real basket sizes (TPC-H
    orders ≤ 7 items), shuffled once on the basket key; pair counts
    shuffle once on (item_a, item_b); the item-frequency table joins
    back broadcast-sized after min-support pruning. Never a global
    cross join."""
    if min_pair_count < 1 or k < 1:
        raise ValueError(
            f"min_pair_count and k must be >= 1, got {min_pair_count}, {k}"
        )
    bi = df.select(basket_col, item_col).distinct()
    n_baskets = bi.select(basket_col).distinct().count()
    item_freq = bi.groupBy(item_col).agg(F.count("*").alias("n_item"))
    a = bi.select(
        F.col(basket_col).alias("_b"), F.col(item_col).alias("item_a")
    )
    b = bi.select(
        F.col(basket_col).alias("_b"), F.col(item_col).alias("item_b")
    )
    pairs = (
        a.join(b, "_b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_count)
    )
    fa = item_freq.select(
        F.col(item_col).alias("item_a"), F.col("n_item").alias("n_a")
    )
    fb = item_freq.select(
        F.col(item_col).alias("item_b"), F.col("n_item").alias("n_b")
    )
    lift = (
        F.lit(float(n_baskets))
        * F.col("n_ab").cast("double")
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    return (
        pairs.join(F.broadcast(fa), "item_a")
        .join(F.broadcast(fb), "item_b")
        .select(
            "item_a",
            "item_b",
            "n_ab",
            "n_a",
            "n_b",
            F.floor(lift * 1_000_000 + F.lit(0.5)).cast("long").alias("lift_micro"),
        )
        .orderBy(F.desc("lift_micro"), "item_a", "item_b")
        .limit(k)
    )


def gini_concentration(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    order_col: str,
) -> DataFrame:
    """Per-group Gini coefficient of a non-negative integer value
    column via the rank-sum identity G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n
    (x ascending) — the inequality/concentration measure behind
    "top 1% of customers drive X% of revenue" dashboards and
    per-source corpus-contribution audits.

    ``value_col`` must be integer (cents/micro units): the rank sum R
    and total S then accumulate exactly in both engines, and the only
    float math is the final two divisions in a fixed order, emitted on
    the micro grid. Ranks come from a TOTAL order (value, then
    ``order_col``) so tied values are pinned — the rank-sum identity
    is tie-order invariant anyway (equal x swap freely in Σ i·xᵢ), the
    pin just makes the plan deterministic. Headroom: R ≤ n²·max(x);
    keep n·max(x)·n < 2⁶³ per group (10⁹ rows of 10⁹ cents overflows —
    shard groups or downscale units first, documented).

    Plan: one shuffle on (group) serves the rank window and the final
    aggregate. Returns (group, n, total, gini_micro)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(value_col, order_col)
    ranked = df.select(
        *group_cols,
        F.col(value_col).cast("long").alias("_x"),
        F.row_number().over(w).alias("_i"),
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.count("*").alias("n"),
        F.sum("_x").alias("total"),
        F.sum(F.col("_i") * F.col("_x")).alias("_r"),
    )
    g = (
        F.lit(2.0) * F.col("_r").cast("double")
        / (F.col("n").cast("double") * F.col("total").cast("double"))
        - (F.col("n") + 1).cast("double") / F.col("n").cast("double")
    )
    return agg.filter(F.col("total") > 0).select(
        *group_cols,
        "n",
        "total",
        F.floor(g * 1_000_000 + F.lit(0.5)).cast("long").alias("gini_micro"),
    )


def multi_touch_attribution(
    touches: DataFrame,
    conversions: DataFrame,
    user_col: str,
    touch_time: str,
    conv_time: str,
    conv_id: str,
    window_ms: int = 604_800_000,
    bin_width_s: int = 604_800,
    touch_id: str | None = None,
) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: every
    conversion distributes 10 000 basis points of credit across the
    user's touches in the preceding ``window_ms`` — 40% to the first
    touch, 40% to the last, 20% split over the middles (the standard
    marketing-analytics U curve; k=1 → 100%, k=2 → 50/50). All-integer
    credit: middles get ``2000 div (k−2)`` bp (truncating div ≡ DuckDB
    //; the dropped remainder is documented, not redistributed), so
    engines agree bit-for-bit and per-conversion credit never exceeds
    10 000.

    Emits one row per (conversion, touch): conv id, the touch's time,
    its 1-based position, k, and credit_bp.

    Plan: the touch↔conversion pairing is :func:`~denormalized_spark.
    operators.temporal.range_join` on (user, [conv−window, conv]) —
    the binned EQUI-join, never a BNLJ — then position/count are
    windows partitioned by the conversion id (per-conversion groups,
    bounded by the window). Two keyed shuffles total.

    Determinism: position ordering is (touch_time, ``touch_id``) when
    ``touch_id`` is given — pass it whenever a user can have two
    touches at the same timestamp, else the first/last 4000 bp
    assignment is nondeterministic. Without ``touch_id``, the caller
    must guarantee (user, touch_time) is unique (the shipped query
    pre-distincts touches)."""
    if window_ms <= 0 or bin_width_s <= 0:
        raise ValueError(
            f"window_ms and bin_width_s must be > 0, got {window_ms}, {bin_width_s}"
        )
    from pyspark.sql import Window

    from denormalized_spark.operators.temporal import range_join

    iv = conversions.select(
        F.col(conv_id).alias("_cid"),
        F.col(user_col).alias(user_col),
        (
            F.timestamp_millis(
                F.unix_millis(F.col(conv_time).cast("timestamp_ltz"))
                - F.lit(int(window_ms))
            )
        ).alias("_w_start"),
        F.col(conv_time).alias("_w_end"),
    )
    paired = range_join(
        touches,
        iv,
        touch_time,
        "_w_start",
        "_w_end",
        on=[user_col],
        bin_width_s=bin_width_s,
        end_inclusive=True,
    )
    order_cols = [F.col(touch_time)] + (
        [F.col(touch_id)] if touch_id is not None else []
    )
    wc = Window.partitionBy("_cid").orderBy(*order_cols)
    wk = Window.partitionBy("_cid")
    pos = F.row_number().over(wc)
    k = F.count("*").over(wk)
    credit = (
        F.when(k == 1, F.lit(10_000))
        .when(k == 2, F.lit(5_000))
        .when(pos == 1, F.lit(4_000))
        .when(pos == k, F.lit(4_000))
        .otherwise(F.expr("2000 div (_k - 2)"))
    )
    out_cols = [
        F.col("_cid").alias(conv_id),
        F.col(user_col),
        F.col(touch_time),
    ]
    if touch_id is not None:
        out_cols.append(F.col(touch_id))
    out_cols += [
        F.col("position"),
        F.col("_k").alias("n_touches"),
        credit.cast("long").alias("credit_bp"),
    ]
    return (
        paired.withColumn("_k", k)
        .withColumn("position", pos)
        .select(*out_cols)
    )


#: Benford first-digit probabilities log10(1 + 1/d), pre-rounded to 10
#: digits so BOTH engines hold the literal-parsed double (the
#: graph.py damping_complement pattern — never let each engine
#: evaluate its own transcendental).
BENFORD_P = [round(__import__("math").log10(1 + 1 / d), 10) for d in range(1, 10)]


def benford_digit_test(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Benford's-law first-digit conformity per group (Newcomb 1881 /
    Benford 1938; the standard forensic/data-quality screen for
    invented or truncated numeric columns): observed leading-digit
    counts vs expected N·log10(1+1/d), plus the per-group χ² statistic
    (8 df) repeated on each digit row.

    Engine-exact leading digit WITHOUT log10: the first digit of the
    cent-integer floor(value·100) equals the first significant digit
    of the value (×100 only shifts the decimal point), and
    integer→string is identical across engines — no cross-libm
    floor(log10(x)) ulp hazard near powers of ten. Rows with
    cents < 1 (value < 0.01) are excluded from the population.
    χ² lands on the milli grid (~10¹⁰ coarser than double ulps, the
    repo's standard argument for order-independent float sums).

    Plan: one (group, digit) count shuffle; the dense 9-digit grid is
    a literal-array explode over the tiny distinct-groups table; the
    per-group N and χ² are windows over ≤9-row partitions. Nothing
    data-sized moves twice. Groups whose every value is sub-cent have
    no digit population and are dropped (their χ² would be 0/0)."""
    c = F.floor(F.col(value_col) * 100).cast("long")
    digits = (
        df.filter(c >= 1)
        .withColumn("digit", F.substring(c.cast("string"), 1, 1).cast("int"))
        .groupBy(*group_cols, "digit")
        .agg(F.count("*").alias("n_obs"))
    )
    grid = (
        df.select(*group_cols)
        .distinct()
        .select(
            *group_cols,
            F.explode(F.array(*[F.lit(d) for d in range(1, 10)])).alias("digit"),
        )
    )
    dense = grid.join(digits, [*group_cols, "digit"], "left").select(
        *group_cols,
        "digit",
        F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs"),
    )
    from pyspark.sql import Window

    wg = Window.partitionBy(*group_cols)
    p = F.element_at(
        F.array(*[F.lit(float(x)) for x in BENFORD_P]), F.col("digit")
    )
    n_tot = F.sum("n_obs").over(wg)
    exp = n_tot.cast("double") * p
    contrib = (F.col("n_obs").cast("double") - exp) * (
        F.col("n_obs").cast("double") - exp
    ) / exp
    out = dense.withColumn("_tot", n_tot).filter(F.col("_tot") > 0)
    out = out.withColumn("_exp", exp).withColumn("_c", contrib)
    chi2 = F.sum("_c").over(wg)
    return out.select(
        *group_cols,
        "digit",
        "n_obs",
        F.floor(F.col("_exp") * 1000 + F.lit(0.5)).cast("long").alias("exp_milli"),
        F.floor(chi2 * 1000 + F.lit(0.5)).cast("long").alias("chi2_milli"),
    )


def window_anomaly_scores(
    df: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    window_ms: int = 3600_000,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Volume-anomaly screen over event-time windows: per (group,
    window) count, z-scored against THAT group's distribution of
    window counts — the "did errors spike at 14:00" alarm an event
    pipeline runs over its windowed aggregates. Output: one row per
    (group, window) with the count, the group's mean/std, the
    z-score, and the flag.

    Plan: one (group, window) partial-agged count shuffle (the same
    shape as the windowed aggregation it monitors), then per-group
    mean/std over the WINDOW-COUNT table — windows × groups rows,
    metadata — broadcast back. Population std (stddev_pop) so a
    single-window group scores 0, not NULL."""
    win = F.window(ts_col, f"{window_ms} milliseconds")
    counts = df.groupBy(
        F.col(group_col), win.alias("_w")
    ).agg(F.count("*").alias("n"))
    counts = counts.select(
        group_col, F.col("_w.start").alias("window_start_time"), "n"
    )
    stats = counts.groupBy(group_col).agg(
        F.round(F.avg("n"), 6).alias("mean_n"),
        F.round(F.stddev_pop("n"), 6).alias("std_n"),
    )
    z = F.when(
        F.col("std_n") > 0,
        F.round((F.col("n") - F.col("mean_n")) / F.col("std_n"), 6),
    ).otherwise(F.lit(0.0))
    return counts.join(F.broadcast(stats), group_col).select(
        group_col,
        "window_start_time",
        F.col("n").cast("long").alias("n"),
        "mean_n",
        "std_n",
        z.alias("zscore"),
        (F.abs(z) >= z_threshold).alias("is_anomaly"),
    )


def event_transitions(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    gap_ms: int | None = None,
) -> DataFrame:
    """First-order event-type transition matrix ("user journeys"):
    per user (optionally per gap-session), count consecutive
    (from_type → to_type) pairs and each source type's transition
    probability — the Markov view of behavioral flow, and the input
    to next-event prediction baselines.

    Plan: ONE user-keyed exchange serves the ordering window (lag)
    and, when ``gap_ms`` is set, the session id; transitions then
    aggregate on the (from, to) pair — a |types|² metadata table.
    Probabilities divide by the source type's outgoing total via a
    broadcast of that k-row table."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    prev_t = F.lag(type_col).over(w)
    prev_ts = F.lag(ts_col).over(w)
    pairs = df.select(
        prev_t.alias("from_type"),
        F.col(type_col).alias("to_type"),
        (
            (F.unix_millis(F.col(ts_col)) - F.unix_millis(prev_ts))
            if gap_ms is not None
            else F.lit(0)
        ).alias("_gap"),
    ).filter(F.col("from_type").isNotNull())
    if gap_ms is not None:
        pairs = pairs.filter(F.col("_gap") <= gap_ms)
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n")
    )
    totals = counts.groupBy("from_type").agg(F.sum("n").alias("_tot"))
    return counts.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / F.col("_tot"), 6).alias("p"),
    )


def anomaly_online_batch(
    df: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    window_ms: int = 3600_000,
    z_threshold: float = 3.0,
    min_windows: int = 3,
) -> DataFrame:
    """ONLINE volume anomaly scoring, batch twin: each (group, window)
    count is z-scored against ONLY the windows BEFORE it (in window
    order) — the causal form an alerting pipeline needs (the
    retrospective whole-history form is :func:`window_anomaly_scores`).
    Windows with fewer than ``min_windows`` predecessors score 0.

    Plan: one (group, window) partial-agged count shuffle, then
    group-partitioned window functions over the WINDOW-COUNT table
    (windows × groups rows — metadata) with an unbounded-preceding
    frame for the running mean/std. The streaming twin
    (:func:`~denormalized_spark.streaming.stateful.anomaly_stream`)
    maintains the same running moments in per-group state; parity is
    pinned by tests."""
    from pyspark.sql import Window

    win = F.window(ts_col, f"{window_ms} milliseconds")
    counts = df.groupBy(F.col(group_col), win.alias("_w")).agg(
        F.count("*").alias("n")
    ).select(group_col, F.col("_w.start").alias("window_start_time"), "n")
    w = Window.partitionBy(group_col).orderBy("window_start_time")
    prior = w.rowsBetween(Window.unboundedPreceding, -1)
    n_prior = F.count("n").over(prior)
    mean_p = F.round(F.avg("n").over(prior), 6)
    std_p = F.round(F.stddev_pop("n").over(prior), 6)
    z = F.when(
        (n_prior >= min_windows) & (std_p > 0),
        F.round((F.col("n") - mean_p) / std_p, 6),
    ).otherwise(F.lit(0.0))
    return counts.select(
        group_col,
        "window_start_time",
        F.col("n").cast("long").alias("n"),
        F.coalesce(n_prior, F.lit(0)).cast("long").alias("n_prior_windows"),
        z.alias("zscore"),
        (F.abs(z) >= z_threshold).alias("is_anomaly"),
    )


def key_skew_report(
    df: DataFrame,
    key_col: str,
    top_k: int = 20,
) -> DataFrame:
    """Shuffle-skew pre-flight: the per-key row-count distribution for
    a prospective join/groupBy key — the check that predicts whether
    one reducer will eat a 100 TB shuffle. Returns the ``top_k``
    heaviest keys with rank, count, share of all rows, and cumulative
    share (a top key holding >1/num_partitions of the rows WILL
    straggle; reach for salting, AQE skew join, or the dedup-style
    bucket caps).

    One partial-agged count shuffle (the same key the real job would
    shuffle on — this probe costs what one map-side-combined pass
    costs), then a TakeOrdered of ``top_k`` rows and metadata-only
    window math over them."""
    from pyspark.sql import Window

    counts = df.groupBy(key_col).agg(F.count("*").alias("n"))
    total = counts.agg(
        F.sum("n").alias("_total"), F.count("*").alias("_distinct")
    )
    top = counts.orderBy(F.desc("n"), F.asc(key_col)).limit(top_k)
    w = Window.orderBy(F.desc("n"), F.asc(key_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.crossJoin(F.broadcast(total))  # 1-row totals
        .select(
            F.row_number()
            .over(Window.orderBy(F.desc("n"), F.asc(key_col)))
            .cast("int")
            .alias("rank"),
            F.col(key_col).alias("key"),
            F.col("n").cast("long").alias("n"),
            F.col("_total").cast("long").alias("total_rows"),
            F.col("_distinct").cast("long").alias("distinct_keys"),
            F.round(F.col("n") / F.col("_total"), 6).alias("share"),
            F.round(F.sum("n").over(w) / F.col("_total"), 6).alias(
                "cum_share"
            ),
        )
    )


def decayed_counts(
    df: DataFrame,
    half_life_ms: int,
    group_cols: list[str] | None = None,
    ts_col: str = "ts",
    as_of: Column | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Exponentially-decayed event counters — the classic streaming
    "trending" statistic (each event contributes 2^(Δt/half_life),
    Δt ≤ 0 relative to ``as_of``): a count where an event from one
    half-life ago is worth half a fresh one. Mergeable and
    incrementally maintainable (decay commutes with addition:
    ``C(T₂) = C(T₁)·2^((T₁−T₂)/h) + fresh``), which is why production
    trend detectors keep exactly this per-key scalar in state.

    Batch form: one scan + grouped partial agg, the ``as_of``
    reference defaulting to the corpus max timestamp (a 1-row
    broadcast). Decay weights are per-row ``pow`` expressions — scan
    speed, and cross-engine-stable to ``round_digits`` (per-term libm
    ulps vanish against the rounding grid)."""
    gcols = group_cols or ["event_type"]
    if as_of is None:
        mx = df.agg(F.max(ts_col).alias("_asof"))
        base = df.crossJoin(F.broadcast(mx))
        ref = F.col("_asof")
    else:
        base = df.withColumn("_asof", as_of)
        ref = F.col("_asof")
    # Δt is clamped to ≤ 0: an event newer than ``as_of`` counts as a
    # fresh event (weight 1), never MORE than fresh — without this a
    # caller-supplied as_of in the past would silently grow weights
    # > 1, diverging from the documented decayed-counter semantics.
    # No-op under the default as_of = max(ts), so oracles replaying
    # the unclamped form stay bit-identical.
    dt_ms = F.least(
        F.unix_millis(F.col(ts_col)) - F.unix_millis(ref), F.lit(0)
    ).cast("double")
    w = F.pow(F.lit(2.0), dt_ms / F.lit(float(half_life_ms)))
    return base.groupBy(*gcols).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(w), round_digits).alias("decayed_count"),
    )


def cusum_changepoints(
    df: DataFrame,
    window_ms: int,
    group_cols: list[str] | None = None,
    ts_col: str = "ts",
    k_div: int = 2,
    h_mult: int = 4,
) -> DataFrame:
    """Two-sided tabular CUSUM change detection (Page 1954) over
    per-window event counts — the classic drift detector for
    monitoring a pipeline's event rates. Per key: hourly (``window_ms``)
    counts x_t; reference μ and σ from the key's own series; slack
    κ = σ/``k_div``; threshold h = ``h_mult``·σ.

        S⁺_t = max(0, S⁺_{t−1} + (x_t − μ − κ))   upward shifts
        S⁻_t = max(0, S⁻_{t−1} − (x_t − μ + κ))   downward shifts

    The recursion is NOT a window aggregate, but its closed form is:
    with prefix sums P_t = Σ d_i (d_i = x_i − μ − κ),
    ``S⁺_t = P_t − min(0, running_min(P))`` — so the whole trajectory
    is one running sum + one running min per side: two window
    functions, no recursion, no UDF. Everything is computed in
    integer MICRO-units (x·10⁶ minus floored μ/κ micro-constants), so
    prefix sums are exact and engine-portable; σ's sqrt lands on the
    micro grid (ulp-proof).

    Scale shape: the count aggregation is corpus-linear; the CUSUM
    itself runs over the per-key WINDOW series — rows ∝ keys × time
    buckets, independent of corpus size. One keyed shuffle for the
    counts, one for the ordered window pass. Returns per window:
    ``(group, window_start_time, n, cusum_pos_micro, cusum_neg_micro,
    alarm)``. Gaps (empty windows) are skipped, the standard
    practical simplification; a zero-filled series needs a calendar
    spine join first."""
    from pyspark.sql.window import Window

    gcols = group_cols or ["event_type"]
    secs = f"{window_ms // 1000} seconds"
    counts = df.groupBy(
        F.window(F.col(ts_col), secs).alias("_w"), *gcols
    ).agg(F.count("*").alias("n"))
    counts = counts.select(
        *gcols, F.col("_w.start").alias("window_start_time"), "n"
    )
    stats = counts.groupBy(*gcols).agg(
        F.floor(F.avg("n") * 1_000_000 + F.lit(0.5)).cast("long").alias("_mu"),
        F.floor(F.stddev_samp("n") * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("_sig"),
    )
    j = counts.join(F.broadcast(stats), gcols)
    kappa = F.floor(F.col("_sig") / k_div).cast("long")
    d_pos = F.col("n") * 1_000_000 - F.col("_mu") - kappa
    d_neg = F.col("n") * 1_000_000 - F.col("_mu") + kappa
    w = (
        Window.partitionBy(*gcols)
        .orderBy("window_start_time")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p_pos = F.sum(d_pos).over(w)
    p_neg = F.sum(d_neg).over(w)
    s_pos = p_pos - F.least(F.lit(0).cast("long"), F.min(p_pos).over(w))
    s_neg = F.greatest(F.lit(0).cast("long"), F.max(p_neg).over(w)) - p_neg
    h = F.col("_sig") * h_mult
    return j.select(
        *gcols,
        "window_start_time",
        "n",
        s_pos.alias("cusum_pos_micro"),
        s_neg.alias("cusum_neg_micro"),
        ((s_pos > h) | (s_neg > h)).alias("alarm"),
    )


def seasonal_residuals(
    df: DataFrame,
    window_ms: int = 3600_000,
    group_cols: list[str] | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Classical additive seasonal decomposition of per-window event
    counts (the pre-STL textbook form): the seasonal component is the
    per-(key, hour-of-day) mean, the residual is what an hour-of-day-
    aware anomaly detector should score — a daily traffic peak is NOT
    an anomaly, the same volume at 4am is. Complements
    :func:`cusum_changepoints` (which detects sustained LEVEL shifts;
    this isolates the periodic component first).

    All arithmetic on the integer micro grid: seasonal_micro is the
    floored per-cell mean, residual_micro = n·10⁶ − seasonal_micro is
    exact, and the per-key z (residual / its own stddev) lands on the
    milli grid, ulp-proof through the stddev's sqrt. Shapes: one
    window-count aggregation (corpus-linear), one (key, hour)-keyed
    mean over the window table (time × keys rows — metadata), two
    broadcast joins back. Returns ``(group, window_start_time, n,
    seasonal_micro, residual_micro, resid_z_milli)``."""
    gcols = group_cols or ["event_type"]
    secs = f"{window_ms // 1000} seconds"
    counts = (
        df.groupBy(F.window(F.col(ts_col), secs).alias("_w"), *gcols)
        .agg(F.count("*").alias("n"))
        .select(*gcols, F.col("_w.start").alias("window_start_time"), "n")
        .withColumn("hod", F.hour("window_start_time"))
    )
    seasonal = counts.groupBy(*gcols, "hod").agg(
        F.floor(F.avg("n") * 1_000_000 + F.lit(0.5)).cast("long").alias("seasonal_micro")
    )
    withs = counts.join(F.broadcast(seasonal), [*gcols, "hod"])
    resid = (F.col("n") * 1_000_000 - F.col("seasonal_micro")).alias("residual_micro")
    base = withs.select(*gcols, "window_start_time", "n", "seasonal_micro", resid)
    sig = base.groupBy(*gcols).agg(
        F.floor(F.stddev_samp("residual_micro") + F.lit(0.5))
        .cast("long")
        .alias("_sig")
    )
    j = base.join(F.broadcast(sig), gcols)
    z = F.when(
        F.col("_sig") > 0,
        F.floor(
            F.col("residual_micro").cast("double") / F.col("_sig") * 1000 + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return j.select(
        *gcols,
        "window_start_time",
        "n",
        "seasonal_micro",
        "residual_micro",
        z.alias("resid_z_milli"),
    )


def autocorrelation(
    series: DataFrame,
    order_col: str,
    value_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Sample autocorrelation function (Box & Jenkins): for lags
    1..``max_lag`` over a PRE-AGGREGATED regular series (one row per
    period, integer-valued ``value_col`` — cents/counts), emit
    ``(lag, n_pairs, acf_micro)`` with

        r_ℓ = Σ_{t≤n−ℓ} (x_t − x̄)(x_{t+ℓ} − x̄) / Σ_t (x_t − x̄)²

    micro-floored. The standard seasonality/memory probe (a weekly
    cycle shows as a positive spike at lag 7) in front of forecasting
    or anomaly models.

    Engine-exact: multiply through by n² so deviations become the
    INTEGERS n·x_t − S; products/sums run in decimal(38,0) (Spark) ↔
    HUGEINT (DuckDB) — bit-identical under any partitioning — and the
    single num/den double division rounds on the micro grid (the
    correctly-rounded int→double conversion both engines share).
    Lag pairing is by position rank, not calendar arithmetic, so gaps
    in the series don't silently misalign lags (document your gap
    policy upstream: fill or accept rank-adjacency).

    Scale shape: the input is a PERIOD-level series — days/hours, i.e.
    metadata-sized relative to the events that built it (the caller's
    groupBy is the data-sized pass). The rank + lag self-join here run
    on that small series; the join is an equi-join on (rank+lag), the
    1-row stats frame broadcasts. A 100 TB corpus still yields only
    ~thousands of periods."""
    if max_lag < 1:
        raise ValueError(f"autocorrelation: max_lag must be >= 1, got {max_lag}")
    from pyspark.sql import Window

    # position index: the series is period-level metadata (see
    # docstring) — the single-partition rank stage is sanctioned
    rn = series.select(
        F.row_number()
        .over(Window.orderBy(F.col(order_col)))
        .alias("_rn"),
        F.col(value_col).cast("long").alias("_x"),
    )
    stats = rn.agg(
        F.count("*").alias("_n"), F.sum("_x").alias("_s")
    )
    dev = (F.col("_n") * F.col("_x") - F.col("_s")).cast("decimal(38,0)")
    based = rn.crossJoin(F.broadcast(stats)).select(
        "_rn", dev.alias("_d"), "_n"
    )
    den = based.agg(
        F.sum(F.col("_d") * F.col("_d")).alias("_den"),
        F.first("_n").alias("_n"),
    )
    lagged = based.select(
        "_rn",
        F.col("_d").alias("_d1"),
        F.explode(
            F.sequence(F.lit(1), F.lit(int(max_lag)))
        ).alias("lag"),
    ).withColumn("_rn2", F.col("_rn") + F.col("lag"))
    pairs = lagged.join(
        based.select(F.col("_rn").alias("_rn2"), F.col("_d").alias("_d2")),
        "_rn2",
    )
    nums = pairs.groupBy("lag").agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.col("_d1") * F.col("_d2")).alias("_num"),
    )
    return (
        nums.crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("long").alias("lag"),
            F.col("n_pairs"),
            # a constant series has zero variance — ACF is undefined;
            # emit 0 rather than NaN so downstream schemas stay long
            F.when(
                F.col("_den") > 0,
                F.floor(
                    F.col("_num").cast("double")
                    / F.col("_den").cast("double")
                    * 1_000_000
                    + F.lit(0.5)
                ).cast("long"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("acf_micro"),
        )
        .orderBy("lag")
    )


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    is_a: Column,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic: D = sup_x |F_A(x) −
    F_B(x)| between the ``is_a`` and ``¬is_a`` samples of
    ``value_col`` — the standard nonparametric drift test between two
    snapshots/cohorts (pairs with curation's rate-delta drift report:
    this one sees SHAPE changes a mean can hide). One row
    ``(n_a, n_b, ks_d_micro, ks_at_value)`` — D micro-floored and the
    smallest value attaining it.

    Exactness: both empirical CDFs jump only at observed values, so D
    is checked at each distinct pooled value; the comparison runs on
    INTEGERS — |CA·n_b − CB·n_a| — and divides by n_a·n_b once at the
    end (all operands ≤ 2^53, conversions exact).

    Scale shape: one value-keyed count agg (data-sized), then the
    cumulative counts over the distinct-value table use the
    scale-safe range-partition + broadcast-prefix-sum running sum
    (ranking.with_global_running_sum) — never a single-reducer global
    window. The two running sums are INDEPENDENT calls joined by
    value per that operator's consumption contract. Final argmax is a
    1-row aggregate."""
    from denormalized_spark.operators.ranking import with_global_running_sum

    counts = (
        df.select(F.col(value_col).alias("_v"), is_a.alias("_a"))
        .groupBy("_v")
        .agg(
            F.sum(F.when(F.col("_a"), 1).otherwise(0)).alias("_ca"),
            F.sum(F.when(F.col("_a"), 0).otherwise(1)).alias("_cb"),
        )
    )
    tot = counts.agg(
        F.sum("_ca").alias("_na"), F.sum("_cb").alias("_nb")
    )
    ra = with_global_running_sum(
        counts, [F.col("_v")], F.col("_ca"), "_CA", exclusive=False
    ).select("_v", "_CA")
    rb = with_global_running_sum(
        counts, [F.col("_v")], F.col("_cb"), "_CB", exclusive=False
    ).select("_v", "_CB")
    j = ra.join(rb, "_v").crossJoin(F.broadcast(tot))
    dnum = F.abs(F.col("_CA") * F.col("_nb") - F.col("_CB") * F.col("_na"))
    best = j.select(
        "_na", "_nb", F.struct(dnum.alias("d"), (-F.col("_v")).alias("nv")).alias("_s")
    ).groupBy("_na", "_nb").agg(F.max("_s").alias("_m"))
    return best.select(
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        F.floor(
            F.col("_m.d").cast("double")
            / (F.col("_na") * F.col("_nb")).cast("double")
            * 1_000_000
            + F.lit(0.5)
        ).cast("long").alias("ks_d_micro"),
        (-F.col("_m.nv")).alias("ks_at_value"),
    )


def chi2_independence(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Pearson chi-squared test of independence between two
    categorical columns — the contingency-table counterpart of the
    Benford goodness-of-fit screen: per cell, observed count, the
    independence expectation E = rowtot·coltot/N (milli-floored), and
    the cell's (O−E)²/E contribution (micro-floored); the table-level
    chi2_micro (sum of the per-cell integers — partition-order exact)
    and dof = (R−1)(C−1) repeat on every row for one-pass reading.

    Exactness: the cell contribution is ((O·N − rt·ct)²)/(N·rt·ct)
    with numerator/denominator carried in decimal(38,0) ↔ HUGEINT
    (products reach ~1e28, past 2^53) and ONE correctly-rounded
    division onto the micro grid — the ACF determinism pattern. The
    documented bias of summing per-cell floors (≤ #cells µ) is
    mirrored exactly by the oracle.

    Scale shape: one (x,y)-keyed count of the data, then everything
    runs on the cells table (R·C rows — metadata); marginals join
    back broadcast-small."""
    obs = df.groupBy(
        F.col(x_col).alias("_x"), F.col(y_col).alias("_y")
    ).agg(F.count("*").alias("observed"))
    rt = obs.groupBy("_x").agg(F.sum("observed").alias("_rt"))
    ct = obs.groupBy("_y").agg(F.sum("observed").alias("_ct"))
    nn = obs.agg(
        F.sum("observed").alias("_n"),
        F.count_distinct("_x").alias("_r"),
        F.count_distinct("_y").alias("_c"),
    )
    cells = (
        obs.join(F.broadcast(rt), "_x")
        .join(F.broadcast(ct), "_y")
        .crossJoin(F.broadcast(nn))
    )
    diff = (
        F.col("observed") * F.col("_n") - F.col("_rt") * F.col("_ct")
    ).cast("decimal(38,0)")
    den = (
        F.col("_n").cast("decimal(38,0)")
        * F.col("_rt").cast("decimal(38,0)")
        * F.col("_ct").cast("decimal(38,0)")
    )
    contrib = F.floor(
        (diff * diff).cast("double") / den.cast("double") * 1_000_000 + F.lit(0.5)
    ).cast("long")
    expected = F.floor(
        (F.col("_rt") * F.col("_ct")).cast("double")
        / F.col("_n").cast("double")
        * 1_000
        + F.lit(0.5)
    ).cast("long")
    percell = cells.select(
        F.col("_x"),
        F.col("_y"),
        F.col("observed"),
        expected.alias("expected_milli"),
        contrib.alias("contrib_micro"),
        ((F.col("_r") - 1) * (F.col("_c") - 1)).cast("long").alias("dof"),
        F.col("_n"),
        F.least(F.col("_r") - 1, F.col("_c") - 1).alias("_mindim"),
    )
    total = percell.agg(
        F.sum("contrib_micro").alias("chi2_micro"),
        F.first("_n").alias("_n"),
        F.first("_mindim").alias("_mindim"),
    )
    # Cramér's V = sqrt(chi2 / (N·min(R−1, C−1))) — the [0,1] effect
    # size the raw chi2 (which grows with N) isn't; milli-floored,
    # fixed op order (one division chain, one IEEE sqrt)
    v = F.floor(
        F.sqrt(
            F.col("chi2_micro").cast("double")
            / 1_000_000.0
            / (F.col("_n") * F.greatest(F.col("_mindim"), F.lit(1))).cast("double")
        )
        * 1_000
        + F.lit(0.5)
    ).cast("long")
    return percell.drop("_n", "_mindim").crossJoin(
        F.broadcast(total.select("chi2_micro", v.alias("cramers_v_milli")))
    ).select(
        F.col("_x").alias(x_col),
        F.col("_y").alias(y_col),
        "observed",
        "expected_milli",
        "contrib_micro",
        "chi2_micro",
        "cramers_v_milli",
        "dof",
    )


def psi_binned(
    df: DataFrame,
    value_col: str,
    is_ref: Column,
    lo: float,
    hi: float,
    bins: int = 10,
) -> DataFrame:
    """Population Stability Index between the ``is_ref`` (expected)
    and ``¬is_ref`` (actual) samples of ``value_col`` over ``bins``
    equi-width buckets on [lo, hi) — the scorecard-monitoring drift
    metric that complements :func:`ks_two_sample` (KS finds the worst
    single point; PSI integrates shift across the distribution; the
    usual alarm thresholds are 0.1/0.25). Out-of-range values clamp
    to the edge bins (the hist_sketch convention).

    Per bin: both counts, the smoothed proportions, and the term
    (p−q)·ln(p/q) micro-floored; the total PSI (an exact integer sum
    of the per-bin micros) repeats on every row. Empty bins are
    EMITTED (the grid joins a bins-row range), handled by Jeffreys
    +0.5 pseudo-counts: p = (c+0.5)/(n+bins/2) — the documented
    smoothing convention, since bare PSI is infinite on any
    empty-vs-nonempty bin.

    Exactness: counts integer; the float chain per bin is fixed-order
    (two smoothed divisions, one ratio, one ln, one difference, one
    product) and lands on the micro grid (transcendental-floor
    argument); sum of per-bin integers is partition-order exact.

    Scale shape: one bin-keyed count of the data; everything after
    runs on the bins-row grid (metadata) with a 1-row totals
    broadcast."""
    if bins < 2:
        raise ValueError(f"psi_binned: bins must be >= 2, got {bins}")
    if not hi > lo:
        raise ValueError(f"psi_binned: need hi > lo, got [{lo}, {hi})")
    spark = df.sparkSession
    width = (hi - lo) / bins
    raw_bin = F.floor((F.col(value_col).cast("double") - F.lit(lo)) / F.lit(width))
    bin_ = F.least(F.greatest(raw_bin, F.lit(0)), F.lit(bins - 1)).cast("long")
    counts = (
        df.select(bin_.alias("bin"), is_ref.alias("_r"))
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("_r"), 1).otherwise(0)).alias("_cr"),
            F.sum(F.when(F.col("_r"), 0).otherwise(1)).alias("_cc"),
        )
    )
    grid = spark.range(bins).select(F.col("id").alias("bin"))
    full = grid.join(counts, "bin", "left").select(
        "bin",
        F.coalesce("_cr", F.lit(0)).alias("n_ref"),
        F.coalesce("_cc", F.lit(0)).alias("n_cur"),
    )
    tot = full.agg(
        F.sum("n_ref").alias("_nr"), F.sum("n_cur").alias("_nc")
    )
    half_bins = F.lit(bins / 2.0)
    j = full.crossJoin(F.broadcast(tot))
    p = (F.col("n_ref").cast("double") + F.lit(0.5)) / (
        F.col("_nr").cast("double") + half_bins
    )
    q = (F.col("n_cur").cast("double") + F.lit(0.5)) / (
        F.col("_nc").cast("double") + half_bins
    )
    term = F.floor((p - q) * F.log(p / q) * 1_000_000 + F.lit(0.5)).cast("long")
    percell = j.select("bin", "n_ref", "n_cur", term.alias("psi_term_micro"))
    total = percell.agg(F.sum("psi_term_micro").alias("psi_micro"))
    return percell.crossJoin(F.broadcast(total)).select(
        "bin", "n_ref", "n_cur", "psi_term_micro", "psi_micro"
    )


def mann_kendall(
    series: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    z_thresh_micro: int = 1_960_000,
) -> DataFrame:
    """Mann-Kendall trend test + Sen's slope per group (Mann 1945,
    Kendall 1975; Sen 1968) over a PRE-AGGREGATED regular series (one
    row per period per group, integer ``value_col`` — cents/counts):
    the standard nonparametric "is this metric drifting?" monitor —
    no distribution or linearity assumption, robust to outliers,
    which is why operational-monitoring pipelines prefer it to OLS
    slope tests.

        S  = Σ_{i<j} sgn(x_j − x_i)          (integer)
        Var(S)·18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)   (tie-corrected,
                                                        integer)
        z  = (S∓1)/√(Var)  (continuity-corrected, 0 when S=0)

    Sen's slope is the exact MEDIAN of the pairwise slopes
    (x_j − x_i)/(j − i), with position rank as the time axis — the
    same gap policy as :func:`autocorrelation` (rank adjacency, not
    calendar arithmetic; fill gaps upstream if they matter).

    Engine-exact: S, the tie term, and Var·18 are integers; z is one
    ÷18.0, one IEEE sqrt (correctly rounded), one division —
    micro-floored; pairwise slopes are single correctly-rounded
    divisions and the median is the exact middle order statistic of
    the sorted array (half-pair averages pinned), micro-floored.

    Scale shape: the input is a PERIOD-level series (the caller's
    data-sized groupBy already happened), so the per-group quadratic
    pair join — one GROUP-keyed equi-join shuffle — touches
    T²/2 metadata rows per group with T = periods (e.g. ~465 pairs
    for a 31-day month); groups scale out horizontally. Returns
    ``(group, n_periods, s_stat, var18, z_micro, trend,
    sen_slope_micro)``."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(F.col(order_col).asc())
    rn = series.select(
        F.col(group_col),
        F.row_number().over(w).alias("_rn"),
        F.col(value_col).cast("long").alias("_x"),
    )
    a = rn.select(
        group_col, F.col("_rn").alias("_i"), F.col("_x").alias("_xi")
    )
    b = rn.select(
        group_col, F.col("_rn").alias("_j"), F.col("_x").alias("_xj")
    )
    sign = (
        F.when(F.col("_xj") > F.col("_xi"), 1)
        .when(F.col("_xj") < F.col("_xi"), -1)
        .otherwise(0)
    )
    slope = (F.col("_xj") - F.col("_xi")).cast("double") / (
        F.col("_j") - F.col("_i")
    ).cast("double")
    pairs = a.join(b, group_col).filter(F.col("_i") < F.col("_j"))
    pagg = pairs.groupBy(group_col).agg(
        F.sum(sign).cast("long").alias("s_stat"),
        F.count("*").cast("long").alias("_np"),
        F.array_sort(F.collect_list(slope)).alias("_sl"),
    )
    ties = (
        rn.groupBy(group_col, "_x")
        .agg(F.count("*").cast("long").alias("_t"))
        .groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("_ndistinct"),
            F.sum(
                F.col("_t") * (F.col("_t") - 1) * (2 * F.col("_t") + 5)
            ).cast("long").alias("_tie"),
            F.sum("_t").cast("long").alias("n_periods"),
        )
    )
    j = pagg.join(ties, group_col)
    n = F.col("n_periods")
    var18 = (n * (n - 1) * (2 * n + 5) - F.col("_tie")).cast("long")
    sd = F.sqrt(var18.cast("double") / F.lit(18.0))
    z = (
        F.when(var18 <= 0, F.lit(0.0))
        .when(F.col("s_stat") > 0, (F.col("s_stat") - 1).cast("double") / sd)
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1).cast("double") / sd)
        .otherwise(F.lit(0.0))
    )
    z_micro = F.floor(z * 1_000_000 + F.lit(0.5)).cast("long")
    # explicit floor: Spark's double->int cast truncates but DuckDB's
    # CAST rounds half-even, so the oracle mirrors these as // 2
    mid_lo = F.element_at(
        F.col("_sl"), F.floor((F.col("_np") + 1) / 2).cast("int")
    )
    mid_hi = F.element_at(
        F.col("_sl"), (F.floor(F.col("_np") / 2) + 1).cast("int")
    )
    med = F.when(
        F.col("_np") % 2 == 1, mid_lo
    ).otherwise((mid_lo + mid_hi) / F.lit(2.0))
    return j.select(
        F.col(group_col),
        n.alias("n_periods"),
        F.col("s_stat"),
        var18.alias("var18"),
        z_micro.alias("z_micro"),
        F.when(z_micro >= z_thresh_micro, F.lit("increasing"))
        .when(z_micro <= -z_thresh_micro, F.lit("decreasing"))
        .otherwise(F.lit("none"))
        .alias("trend"),
        F.floor(med * 1_000_000 + F.lit(0.5)).cast("long").alias("sen_slope_micro"),
    )


def kaplan_meier(
    subjects: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan-Meier product-limit survival estimator (Kaplan & Meier
    1958) with right-censoring: from one row per subject —
    integer ``duration_col`` (periods until event/censoring, e.g.
    days) and ``event_col`` (1 = event observed, 0 = censored) — emit
    the survival curve ``(t, n_risk, n_events, n_censored,
    survival_micro)``, one row per distinct duration:

        S(t) = Π_{tᵢ ≤ t, dᵢ>0} (1 − dᵢ/nᵢ),   nᵢ = subjects with
                                                 duration ≥ tᵢ

    — time-to-churn / time-to-failure analysis where simply averaging
    durations is biased by the still-alive (censored) population.

    Engine-exact: each factor is ONE correctly-rounded division
    ((n−d)/n), and the running product is an explicit left fold over
    the time-ordered factor array — the identical IEEE multiply chain
    in both engines (Spark ``aggregate``; the oracle
    ``list_reduce(list_prepend(1.0, …))``) — then micro-floored.

    Scale shape: the only data-sized pass is the groupBy(duration)
    partial agg (billions of subjects → ≤ horizon-periods rows);
    everything after runs on that metadata curve, where the
    unpartitioned order window and the broadcast 1-row factor array
    are a few KB by construction. Durations must be pre-binned
    (days/weeks) so the curve stays bounded."""
    from pyspark.sql import Window

    d = F.col(duration_col).cast("long")
    ev = F.col(event_col).cast("long")
    counts = subjects.select(d.alias("t"), ev.alias("_e")).groupBy("t").agg(
        F.sum("_e").cast("long").alias("n_events"),
        (F.count("*") - F.sum("_e")).cast("long").alias("n_censored"),
    )
    w_ord = Window.orderBy("t")
    allw = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    c = counts.withColumn(
        "n_risk",
        (
            F.sum(F.col("n_events") + F.col("n_censored")).over(allw)
            - F.coalesce(
                F.sum(F.col("n_events") + F.col("n_censored")).over(
                    w_ord.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
        ).cast("long"),
    ).withColumn("_rk", F.row_number().over(w_ord))
    factor = (F.col("n_risk") - F.col("n_events")).cast("double") / F.col(
        "n_risk"
    ).cast("double")
    withf = c.withColumn("_f", factor)
    # collect_list order is not guaranteed — sort (t, f) structs and
    # project, which is deterministic under any partitioning
    facts = withf.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("t", "_f"))),
            lambda s: s["_f"],
        ).alias("_fs")
    )
    out = withf.crossJoin(F.broadcast(facts)).select(
        "t",
        "n_risk",
        "n_events",
        "n_censored",
        F.floor(
            F.aggregate(
                F.slice(F.col("_fs"), F.lit(1), F.col("_rk")),
                F.lit(1.0),
                lambda acc, x: acc * x,
            )
            * 1_000_000
            + F.lit(0.5)
        ).cast("long").alias("survival_micro"),
    )
    return out


def ewma_weight_table(
    lam_num: int = 1, lam_den: int = 5, scale: int = 1_000_000
) -> list[tuple[int, int, int, int]]:
    """Micro-integer weight literals for :func:`ewma_control`:
    ``(k, w, u, g)`` with w = ⌊λ(1−λ)ᵏ·10⁶⌉ (contribution of the
    value k steps back), u = ⌊(1−λ)ᵏ·10⁶⌉ (the z₀=x₁ head weight),
    g = ⌊√(λ/(2−λ)·(1−(1−λ)^{2(k+1)}))·10⁶⌉ (the step-(k+1) control-
    limit width factor). The table ends where both w and u quantize
    to 0 — beyond that a value contributes nothing on the micro grid,
    which is what makes the quantized EWMA well-defined for
    arbitrarily long series. Generated once in Python and embedded as
    LITERALS in both the Spark plan and the oracle SQL, so no
    transcendental is ever evaluated by either engine."""
    import math

    lam = lam_num / lam_den
    r = 1.0 - lam
    rows = []
    k = 0
    while True:
        w = math.floor(lam * r**k * scale + 0.5)
        u = math.floor(r**k * scale + 0.5)
        g = math.floor(
            math.sqrt(lam / (2 - lam) * (1 - r ** (2 * (k + 1)))) * scale + 0.5
        )
        if w == 0 and u == 0:
            break
        rows.append((k, w, u, g))
        k += 1
    return rows


def ewma_control(
    series: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    lam_num: int = 1,
    lam_den: int = 5,
    l_sigma: float = 3.0,
    baseline: Column | None = None,
) -> DataFrame:
    """EWMA control chart per group (Roberts 1959; Lucas & Saccucci
    1990) over a PRE-AGGREGATED regular integer series: the drift
    monitor that catches small sustained shifts a Shewhart ±3σ chart
    misses, because the statistic z_t = λx_t + (1−λ)z_{t−1} pools a
    geometrically-weighted history. Initialization z₁ = x₁; control
    width uses the exact finite-t variance factor
    √(λ/(2−λ)·(1−(1−λ)^{2t})) against the group's σ.

    ``baseline`` is the Phase-I predicate: μ and σ are estimated over
    the rows where it holds (an in-control reference period), and the
    whole series is then monitored against them — calibrating on the
    full series would let a sustained shift inflate its own control
    limits. Default: the full series (self-calibrating screening).
    Groups with no baseline rows drop from the output. The breach
    comparison carries an exact integer quantization guard
    (Σ|xᵢ|/2 micro — the weight literals are each ≤0.5 micro off), so
    a flat series never false-alarms on rounding.

    Engine-exact by construction: all EWMA weights and width factors
    are precomputed micro-INTEGER literals (:func:`ewma_weight_table`
    — the fellegi_sunter damping-literal pattern), so z_t·10⁶ is a
    pure integer dot product; σ enters through one exact int→double
    conversion, one IEEE sqrt and pinned divisions, micro-floored.
    The result is the micro-QUANTIZED EWMA — weights below 0.5 micro
    are identically 0, bounding the convolution depth at ~66 steps
    for λ=0.2.

    Scale shape: input is a PERIOD-level series (caller's data-sized
    groupBy already happened); the convolution is a group-keyed
    self-join of T×(≤66) metadata pairs plus one broadcast ≤66-row
    weight table; groups scale out horizontally. Returns
    ``(group, order, x, ewma_micro, dev_micro, limit_micro,
    breach)``."""
    from pyspark.sql import Window

    wt = ewma_weight_table(lam_num, lam_den)
    spark = series.sparkSession
    # underscore-prefixed sketch columns so the broadcast table can
    # never shadow a caller's group/order/value column names
    wdf = spark.createDataFrame(wt, "_ewk int, _eww long, _ewu long, _ewg long")
    w = Window.partitionBy(group_col).orderBy(F.col(order_col).asc())
    rn = series.select(
        F.col(group_col),
        F.col(order_col),
        F.row_number().over(w).alias("_rk"),
        F.col(value_col).cast("long").alias("_x"),
    )
    base = rn if baseline is None else rn.filter(baseline)
    stats = base.groupBy(group_col).agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_x").cast("long").alias("_s"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_q"),
    )
    a = rn.select(
        group_col, F.col("_rk").alias("_i"), F.col("_x").alias("_xi")
    )
    b = rn.select(group_col, order_col, "_rk", "_x")
    pairs = (
        b.join(a, group_col)
        .filter(F.col("_i") <= F.col("_rk"))
        .withColumn("_ewk", (F.col("_rk") - F.col("_i")).cast("int"))
        .join(F.broadcast(wdf), "_ewk")
    )
    contrib = F.col("_xi") * F.when(F.col("_i") == 1, F.col("_ewu")).otherwise(
        F.col("_eww")
    )
    z = pairs.groupBy(group_col, order_col, "_rk", "_x").agg(
        F.sum(contrib).cast("long").alias("ewma_micro"),
        # quantization guard: each weight literal is off by <= 0.5
        # micro, so |z_quantized - z_exact| <= Sigma|x_i|/2 micro -- an
        # exact integer slack added to the breach comparison below
        ((F.sum(F.abs(F.col("_xi"))) + 1) / 2).cast("long").alias("_slack"),
    )
    # the width factor g saturates at its asymptote past the table
    # end — clamp the lookup key so long series keep every row
    kmax = wt[-1][0]
    out = (
        z.withColumn("_gk", F.least(F.col("_rk"), F.lit(kmax + 1)))
        .join(stats, group_col)
        .join(
            F.broadcast(wdf.select((F.col("_ewk") + 1).alias("_gk"), "_ewg")),
            "_gk",
        )
        .select(
            F.col(group_col),
            F.col(order_col),
            F.col("_x").alias("x"),
            F.col("ewma_micro"),
            F.floor(
                F.abs(
                    F.col("ewma_micro").cast("double")
                    - F.col("_s").cast("double")
                    * F.lit(1_000_000.0)
                    / F.col("_n").cast("double")
                )
                + F.lit(0.5)
            ).cast("long").alias("dev_micro"),
            F.floor(
                F.lit(float(l_sigma))
                * (
                    F.sqrt(
                        (
                            F.col("_n") * F.col("_q")
                            - F.col("_s") * F.col("_s")
                        ).cast("double")
                    )
                    / F.col("_n").cast("double")
                )
                * F.col("_ewg").cast("double")
                + F.lit(0.5)
            ).cast("long").alias("limit_micro"),
            F.col("_slack"),
        )
        .withColumn(
            "breach",
            F.col("dev_micro") > F.col("limit_micro") + F.col("_slack"),
        )
        .drop("_slack")
    )
    return out


def cuped_adjustment(
    units: DataFrame,
    variant_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """CUPED variance-reduced A/B estimate (Deng, Xu, Kohavi & Walker
    2013, "Improving the sensitivity of online controlled
    experiments"): one row per experiment unit with a 0/1
    ``variant_col``, an INTEGER pre-period covariate ``x_col`` and an
    integer experiment metric ``y_col`` (cents/counts). The adjusted
    metric Ŷ = Y − θ(X − X̄) with θ = cov(X,Y)/var(X) removes the
    between-user variance the pre-period already explains, shrinking
    the CI width by the factor √(1−ρ²) — the standard way experiments
    reach significance weeks earlier on heavy-tailed spend metrics.

    Emits ``(n_a, n_b, theta_micro, diff_raw_micro, diff_cuped_micro,
    var_reduction_micro)`` — var_reduction = ρ²(X,Y), the fraction of
    metric variance CUPED removed.

    Engine-exact (the autocorrelation decimal38/HUGEINT pattern):
    every moment is an integer sum; the centered quantities
    n·Σxy − Σx·Σy, n·Σxx − (Σx)², n·Σyy − (Σy)² are decimal(38,0) ↔
    HUGEINT — bit-identical under any partitioning — and each final
    statistic spends exactly one correctly-rounded ::double
    conversion per operand in a pinned chain, micro-floored.

    Scale shape: ONE unit-level aggregation to a 2-row arms table +
    a 1-row pooled-moments frame (broadcast crossJoin of metadata) —
    billions of units stream through a partial agg."""
    d38 = "decimal(38,0)"
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    v = F.col(variant_col).cast("int")
    pooled = units.agg(
        F.count("*").cast(d38).alias("_n"),
        F.sum(x).cast(d38).alias("_sx"),
        F.sum(y).cast(d38).alias("_sy"),
        F.sum(x * y).cast(d38).alias("_sxy"),
        F.sum(x * x).cast(d38).alias("_sxx"),
        F.sum(y * y).cast(d38).alias("_syy"),
    ).select(
        "_n",
        "_sx",
        (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).alias("_cxy"),
        (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).alias("_vx"),
        (F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy")).alias("_vy"),
    )
    arms = units.groupBy(v.alias("_v")).agg(
        F.count("*").cast("long").alias("_na"),
        F.sum(x).cast("long").alias("_ax"),
        F.sum(y).cast("long").alias("_ay"),
    )
    a = arms.filter(F.col("_v") == 0).select(
        F.col("_na").alias("n_a"), F.col("_ax").alias("_xa"), F.col("_ay").alias("_ya")
    )
    b = arms.filter(F.col("_v") == 1).select(
        F.col("_na").alias("n_b"), F.col("_ax").alias("_xb"), F.col("_ay").alias("_yb")
    )
    j = a.crossJoin(F.broadcast(b)).crossJoin(F.broadcast(pooled))
    theta = F.col("_cxy").cast("double") / F.col("_vx").cast("double")
    mean_x_all = F.col("_sx").cast("double") / F.col("_n").cast("double")
    my_a = F.col("_ya").cast("double") / F.col("n_a").cast("double")
    my_b = F.col("_yb").cast("double") / F.col("n_b").cast("double")
    mx_a = F.col("_xa").cast("double") / F.col("n_a").cast("double")
    mx_b = F.col("_xb").cast("double") / F.col("n_b").cast("double")
    adj_a = my_a - theta * (mx_a - mean_x_all)
    adj_b = my_b - theta * (mx_b - mean_x_all)
    rho2 = (
        F.col("_cxy").cast("double")
        * F.col("_cxy").cast("double")
        / (F.col("_vx").cast("double") * F.col("_vy").cast("double"))
    )
    guard = (F.col("_vx") > 0) & (F.col("_vy") > 0)
    return j.select(
        "n_a",
        "n_b",
        F.floor(F.when(F.col("_vx") > 0, theta).otherwise(F.lit(0.0)) * 1_000_000 + F.lit(0.5))
        .cast("long").alias("theta_micro"),
        F.floor((my_b - my_a) * 1_000_000 + F.lit(0.5)).cast("long").alias("diff_raw_micro"),
        F.floor(
            F.when(F.col("_vx") > 0, adj_b - adj_a).otherwise(my_b - my_a)
            * 1_000_000 + F.lit(0.5)
        ).cast("long").alias("diff_cuped_micro"),
        F.floor(F.when(guard, rho2).otherwise(F.lit(0.0)) * 1_000_000 + F.lit(0.5))
        .cast("long").alias("var_reduction_micro"),
    )


def seasonal_naive_mase(
    series: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    season: int = 7,
    test_len: int = 7,
) -> DataFrame:
    """Seasonal-naive forecast backtest with MASE per group (Hyndman &
    Koehler 2006, "Another look at measures of forecast accuracy"):
    over a PRE-AGGREGATED regular integer series, hold out the last
    ``test_len`` periods, forecast each as x̂_t = x_{t−season}, and
    score with the Mean Absolute SCALED Error — test MAE divided by
    the in-sample seasonal-naive MAE, the scale-free metric that lets
    one number compare forecastability across metrics/groups (MASE
    < 1000 milli: beats the in-sample naive; the standard gate before
    deploying any fancier model).

    Integer-exact end to end: both MAEs are sums of |integer diffs|;
    the final ratio is one cross-multiplied integer fraction
    (sae_test·n_train·1000 / (n_test·sae_train)) through a single
    correctly-rounded double division, milli-floored. Lag pairing is
    by position rank (the autocorrelation gap policy).

    Scale shape: the input is the period-level series; the lag join
    is a group-keyed equi-join on (rank − season) over metadata rows.
    Groups whose training window has zero seasonal variation (the
    denominator is 0) emit mase_milli = -1 (sentinel: naive is
    already perfect). Returns ``(group, n_train, n_test, sae_train,
    sae_test, mase_milli)``."""
    from pyspark.sql import Window

    if season < 1 or test_len < 1:
        raise ValueError("seasonal_naive_mase: season and test_len must be >= 1")
    w = Window.partitionBy(group_col).orderBy(F.col(order_col).asc())
    rn = series.select(
        F.col(group_col),
        F.row_number().over(w).alias("_rk"),
        F.count("*").over(Window.partitionBy(group_col)).alias("_t"),
        F.col(value_col).cast("long").alias("_x"),
    )
    lagged = rn.alias("c").join(
        rn.select(
            F.col(group_col),
            (F.col("_rk") + season).alias("_rk"),
            F.col("_x").alias("_xl"),
        ).alias("l"),
        [group_col, "_rk"],
    )
    err = lagged.select(
        F.col(group_col),
        F.col("c._rk").alias("_rk"),
        F.col("c._t").alias("_t"),
        F.abs(F.col("c._x") - F.col("_xl")).alias("_ae"),
    )
    agg = err.groupBy(group_col).agg(
        F.sum(F.when(F.col("_rk") <= F.col("_t") - test_len, F.col("_ae")))
        .cast("long").alias("sae_train"),
        F.sum(F.when(F.col("_rk") <= F.col("_t") - test_len, 1).otherwise(0))
        .cast("long").alias("n_train"),
        F.sum(F.when(F.col("_rk") > F.col("_t") - test_len, F.col("_ae")))
        .cast("long").alias("sae_test"),
        F.sum(F.when(F.col("_rk") > F.col("_t") - test_len, 1).otherwise(0))
        .cast("long").alias("n_test"),
    )
    mase = F.floor(
        (F.col("sae_test") * F.col("n_train") * 1000).cast("double")
        / (F.col("n_test") * F.col("sae_train")).cast("double")
        + F.lit(0.5)
    ).cast("long")
    return agg.select(
        F.col(group_col),
        "n_train",
        "n_test",
        F.coalesce("sae_train", F.lit(0)).alias("sae_train"),
        F.coalesce("sae_test", F.lit(0)).alias("sae_test"),
        F.when(
            (F.col("sae_train") > 0) & (F.col("n_test") > 0), mase
        ).otherwise(F.lit(-1).cast("long")).alias("mase_milli"),
    )


def score_gains(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Decile gains/lift table of a scoring model against a binary
    label — the scorecard diagnostic (cumulative-gains / lift chart)
    behind every "top-decile capture" claim: rank by score, cut into
    ``n_bins`` SQL-standard ntiles, and per bin report positives,
    rate, lift over the base rate, and cumulative gain (share of all
    positives captured down to that bin).

    ``score_col`` must be an INTEGER score (micro-floor upstream):
    ranking on raw floats would let equal-to-6-digits neighbors flip
    bins between engines. The total order is (score desc, id asc).

    Integer-exact: lift = pos·N·1000/(n·P) and gain = cum_pos·1000/P
    are cross-multiplied integer fractions through one division each,
    milli-floored.

    Scale shape: the ranking is ranking.global_ranks (range shuffle +
    broadcast prefix sums — no single-reducer sort over data); the
    per-bin rollup is an ``n_bins``-row metadata table and its
    cumulative window is a few-KB single task. Returns
    ``(bin, n, pos, pos_rate_milli, lift_milli, cum_gain_milli)``."""
    from pyspark.sql import Window

    from denormalized_spark.operators.ranking import global_ranks

    ranked = global_ranks(
        df.select(
            F.col(score_col).cast("long").alias("_s"),
            F.col(label_col).cast("long").alias("_y"),
            F.col(id_col).alias("_id"),
        ),
        order_by=[F.desc("_s"), F.asc("_id")],
        rank_keys=[F.col("_s")],
        ntile=n_bins,
    )
    per = ranked.groupBy(F.col(f"ntile_{n_bins}").alias("bin")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("_y").cast("long").alias("pos"),
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("_N"), F.sum("pos").cast("long").alias("_P")
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    out = (
        per.withColumn("_cum", F.sum("pos").over(w).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("bin").cast("long").alias("bin"),
            "n",
            "pos",
            F.floor((F.col("pos") * 1000).cast("double") / F.col("n").cast("double") + F.lit(0.5))
            .cast("long").alias("pos_rate_milli"),
            F.when(
                F.col("_P") > 0,
                F.floor(
                    (F.col("pos") * F.col("_N") * 1000).cast("double")
                    / (F.col("n") * F.col("_P")).cast("double")
                    + F.lit(0.5)
                ).cast("long"),
            ).otherwise(F.lit(0).cast("long")).alias("lift_milli"),
            F.when(
                F.col("_P") > 0,
                F.floor(
                    (F.col("_cum") * 1000).cast("double") / F.col("_P").cast("double")
                    + F.lit(0.5)
                ).cast("long"),
            ).otherwise(F.lit(0).cast("long")).alias("cum_gain_milli"),
        )
    )
    return out


def cross_correlation(
    series: DataFrame,
    order_col: str,
    x_col: str,
    y_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Sample cross-correlation function (Box & Jenkins) between two
    aligned integer series over lags −max_lag..+max_lag:

        r_ℓ = Σ_t (x_t − x̄)(y_{t+ℓ} − ȳ)
              / √(Σ(x − x̄)²) · √(Σ(y − ȳ)²)

    — the lead/lag probe ("do clicks lead purchases by two days?")
    in front of any transfer-function or attribution model; the peak
    lag is the actionable number. Full-series means and denominators
    (the standard CCF normalization), positional-rank pairing (the
    autocorrelation gap policy).

    Engine-exact: multiply through by n so deviations are the
    INTEGERS n·x_t − Sx; products/sums run in decimal(38,0) ↔
    HUGEINT; the denominator is √(Σdx²)·√(Σdy²) as two separate
    correctly-rounded sqrts (NOT √ of the product — the product can
    graze decimal38's ceiling; the factored form never does), then
    one division, micro-floored.

    Scale shape: the input is a period-level series (metadata); the
    lag pairing is an equi-join on rank+lag and the 1-row moment
    frame broadcasts."""
    if max_lag < 1:
        raise ValueError(f"cross_correlation: max_lag must be >= 1, got {max_lag}")
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    rn = series.select(
        F.row_number().over(Window.orderBy(F.col(order_col))).alias("_rn"),
        F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"),
    )
    stats = rn.agg(
        F.count("*").alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
    )
    based = rn.crossJoin(F.broadcast(stats)).select(
        "_rn",
        (F.col("_n") * F.col("_x") - F.col("_sx")).cast(d38).alias("_dx"),
        (F.col("_n") * F.col("_y") - F.col("_sy")).cast(d38).alias("_dy"),
    )
    den = based.agg(
        F.sum(F.col("_dx") * F.col("_dx")).alias("_dxx"),
        F.sum(F.col("_dy") * F.col("_dy")).alias("_dyy"),
    )
    lagged = based.select(
        "_rn",
        F.col("_dx").alias("_d1"),
        F.explode(
            F.sequence(F.lit(-int(max_lag)), F.lit(int(max_lag)))
        ).alias("lag"),
    ).withColumn("_rn2", F.col("_rn") + F.col("lag"))
    pairs = lagged.join(
        based.select(F.col("_rn").alias("_rn2"), F.col("_dy").alias("_d2")),
        "_rn2",
    )
    nums = pairs.groupBy("lag").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.col("_d1") * F.col("_d2")).alias("_num"),
    )
    denom = F.sqrt(F.col("_dxx").cast("double")) * F.sqrt(
        F.col("_dyy").cast("double")
    )
    return (
        nums.crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("long").alias("lag"),
            "n_pairs",
            F.when(
                (F.col("_dxx") > 0) & (F.col("_dyy") > 0),
                F.floor(
                    F.col("_num").cast("double") / denom * 1_000_000 + F.lit(0.5)
                ).cast("long"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("ccf_micro"),
        )
        .orderBy("lag")
    )


def changepoint_effect(
    series: DataFrame,
    splits: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Level-shift effect size around a per-group changepoint: given
    an integer period series and one split point per group (e.g. the
    first CUSUM alarm), quantify WHAT the detector found — the
    before/after means, the shift, and the pooled-σ standardized
    effect (Cohen's d) that makes shifts comparable across groups
    with different scales. Detection says "something changed"; this
    says "by 2.3σ" — the number an incident review ranks on.

    ``splits`` carries ``(group, split_order)``; periods with
    order < split are "before". Groups with fewer than 2 periods on
    either side emit d = 0 (flagged ``effect_defined`` = false).

    Engine-exact: per-side moments are integer sums; each (n·Q − S²)
    variance numerator converts once to double, the pooled variance
    is a pinned two-term chain with one sqrt, micro-floored. One
    group-keyed join + one group-keyed agg over the period-level
    series — metadata after the caller's data-sized groupBy. Returns
    ``(group, n_before, n_after, mean_before_micro, mean_after_micro,
    shift_micro, cohens_d_milli, effect_defined)``."""
    sp = splits.select(
        F.col(group_col), F.col("split_order").alias("_sp")
    )
    j = series.join(sp, group_col).select(
        F.col(group_col),
        (F.col(order_col) < F.col("_sp")).alias("_before"),
        F.col(value_col).cast("long").alias("_x"),
    )
    agg = j.groupBy(group_col).agg(
        F.sum(F.when(F.col("_before"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("_before"), F.col("_x")).otherwise(0))
        .cast("long").alias("_s1"),
        F.sum(F.when(F.col("_before"), F.col("_x") * F.col("_x")).otherwise(0))
        .cast("long").alias("_q1"),
        F.sum(F.when(~F.col("_before"), 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(~F.col("_before"), F.col("_x")).otherwise(0))
        .cast("long").alias("_s2"),
        F.sum(F.when(~F.col("_before"), F.col("_x") * F.col("_x")).otherwise(0))
        .cast("long").alias("_q2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    m1 = F.col("_s1").cast("double") * 1_000_000.0 / n1.cast("double")
    m2 = F.col("_s2").cast("double") * 1_000_000.0 / n2.cast("double")
    a1 = (n1 * F.col("_q1") - F.col("_s1") * F.col("_s1")).cast("double") / n1.cast(
        "double"
    )
    a2 = (n2 * F.col("_q2") - F.col("_s2") * F.col("_s2")).cast("double") / n2.cast(
        "double"
    )
    sp2 = (a1 + a2) / (n1 + n2 - 2).cast("double")
    defined = (n1 >= 2) & (n2 >= 2)
    d = (
        F.col("_s2").cast("double") / n2.cast("double")
        - F.col("_s1").cast("double") / n1.cast("double")
    ) / F.sqrt(sp2)
    return agg.select(
        F.col(group_col),
        "n1",
        "n2",
        F.floor(
            F.when(n1 > 0, m1).otherwise(F.lit(0.0)) + F.lit(0.5)
        ).cast("long").alias("mean_before_micro"),
        F.floor(
            F.when(n2 > 0, m2).otherwise(F.lit(0.0)) + F.lit(0.5)
        ).cast("long").alias("mean_after_micro"),
        F.floor(
            F.when((n1 > 0) & (n2 > 0), m2 - m1).otherwise(F.lit(0.0)) + F.lit(0.5)
        ).cast("long").alias("shift_micro"),
        F.floor(
            F.when(defined & (sp2 > 0), d).otherwise(F.lit(0.0)) * 1000 + F.lit(0.5)
        ).cast("long").alias("cohens_d_milli"),
        defined.alias("effect_defined"),
    ).withColumnRenamed("n1", "n_before").withColumnRenamed("n2", "n_after")


def eb_shrunk_rates(
    df: DataFrame,
    key_col: str,
    success: Column,
) -> DataFrame:
    """Empirical-Bayes shrinkage of per-key success rates toward a
    beta prior fitted to the key population by method of moments
    (the standard small-sample fix for ranking CTRs / conversion
    rates: a 2/2 key must not outrank a 480/1000 one). Per key the
    posterior mean is (x + α)/(n + α + β) with α, β from the moment
    fit α + β = m(1−m)/v − 1 over the observed rate distribution.

    Engine-exact: per-key rates land on the micro grid as INTEGERS
    before the population moments (so the moment sums are integer —
    no float summation order anywhere); α, β are micro-floored once
    from a pinned double chain; each posterior mean is one integer
    cross-multiplication through a single division. Degenerate
    populations (v ≥ m(1−m): under-dispersed fit undefined, or
    fewer than 2 keys) emit the RAW rate with ``shrunk`` = false.
    Caveat of the plain MoM fit: extreme-rate outlier keys inflate v
    and weaken the prior (a lone 2/2 key softens its own shrinkage);
    fit on a trusted key subset upstream when that matters.

    Scale shape: one key-keyed partial agg (data-sized), a 1-row
    moment frame over the key table (broadcast back), then map-side
    arithmetic. Returns ``(key, n, x, raw_rate_micro, alpha_micro,
    beta_micro, shrunk_rate_micro, shrunk)``."""
    keyed = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(success.cast("long")).cast("long").alias("x"),
    )
    rate = F.floor(
        (F.col("x") * 1_000_000).cast("double") / F.col("n").cast("double")
        + F.lit(0.5)
    ).cast("long")
    r = keyed.withColumn("raw_rate_micro", rate)
    mom = r.agg(
        F.count("*").cast("long").alias("_k"),
        F.sum("raw_rate_micro").cast("long").alias("_sr"),
        F.sum(F.col("raw_rate_micro") * F.col("raw_rate_micro"))
        .cast("long").alias("_qr"),
    )
    j = r.crossJoin(F.broadcast(mom))
    k = F.col("_k")
    # population mean/variance of the micro-grid rates (doubles from
    # exact integers, pinned order)
    m = F.col("_sr").cast("double") / k.cast("double")
    v = (k * F.col("_qr") - F.col("_sr") * F.col("_sr")).cast("double") / (
        k * k
    ).cast("double")
    mv = m * (F.lit(1_000_000.0) - m)  # m(1-m) on the micro^2 scale
    strength = mv / v - F.lit(1.0)  # alpha + beta (dimensionless)
    alpha = F.floor(m * strength + F.lit(0.5)).cast("long")  # micro scale
    beta = F.floor(
        (F.lit(1_000_000.0) - m) * strength + F.lit(0.5)
    ).cast("long")
    ok = (k >= 2) & (v > 0) & (mv > v)
    post = F.floor(
        ((F.col("x") * 1_000_000 + F.col("_a")) * 1_000_000).cast("double")
        / (F.col("n") * 1_000_000 + F.col("_a") + F.col("_b")).cast("double")
        + F.lit(0.5)
    ).cast("long")
    out = (
        j.withColumn("_ok", ok)
        .withColumn("_a", F.when(ok, alpha).otherwise(F.lit(0)))
        .withColumn("_b", F.when(ok, beta).otherwise(F.lit(0)))
        .select(
            "key",
            "n",
            "x",
            "raw_rate_micro",
            F.col("_a").alias("alpha_micro"),
            F.col("_b").alias("beta_micro"),
            F.when(F.col("_ok"), post)
            .otherwise(F.col("raw_rate_micro"))
            .alias("shrunk_rate_micro"),
            F.col("_ok").alias("shrunk"),
        )
    )
    return out


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram / histogram-binning calibration table
    (Zadrozny & Elkan 2001; the reliability-diagram binning of
    Niculescu-Mizil & Caruana 2005): cut a predicted probability into
    ``n_bins`` fixed-width bins and report, per bin, how often the
    positive label actually occurred (accuracy) next to the mean
    predicted probability (confidence). The per-bin accuracy column
    IS the histogram-binning calibration map — join it back with
    :func:`calibration_apply` to calibrate scores.

    ``score_col`` must be an INTEGER milli-probability in [0, 1000]
    (micro-floor upstream, the repo's standard): fixed-width binning
    on floats would let boundary-adjacent scores flip bins between
    engines. Bin b covers [b·1000/n_bins, (b+1)·1000/n_bins); the
    score 1000 is clamped into the last bin.

    Integer-exact: conf = Σs/(1000·n), acc = pos/n and the per-bin
    |acc − conf| gap share the integer numerator |1000·pos − Σs|, so
    each output column is one floored division of exact integers —
    engine-stable. Empty bins are absent from the output (no row —
    the reliability diagram's standard presentation).

    Scale shape: one partial/final aggregation keyed by bin (map-side
    combine shrinks every partition to ≤ ``n_bins`` rows before the
    exchange); output is an ``n_bins``-row metadata table. Returns
    ``(bin, n, pos, conf_milli, acc_milli, gap_micro)``."""
    s = F.col(score_col).cast("long")
    y = F.col(label_col).cast("long")
    binned = df.select(
        F.least(
            F.floor(s * n_bins / 1000).cast("long"), F.lit(n_bins - 1).cast("long")
        ).alias("bin"),
        s.alias("_s"),
        y.alias("_y"),
    )
    per = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("_y").cast("long").alias("pos"),
        F.sum("_s").cast("long").alias("_ssum"),
    )
    num = F.abs(F.col("pos") * 1000 - F.col("_ssum"))
    return per.select(
        "bin",
        "n",
        "pos",
        F.floor(F.col("_ssum").cast("double") / F.col("n").cast("double") + F.lit(0.5))
        .cast("long").alias("conf_milli"),
        F.floor((F.col("pos") * 1000).cast("double") / F.col("n").cast("double") + F.lit(0.5))
        .cast("long").alias("acc_milli"),
        F.floor((num * 1000).cast("double") / F.col("n").cast("double") + F.lit(0.5))
        .cast("long").alias("gap_micro"),
    )


def calibration_summary(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """One-row calibration scorecard over the same fixed-width bins as
    :func:`calibration_bins`: ECE (expected calibration error — the
    bin-weighted mean |accuracy − confidence|, Naeini et al. 2015),
    MCE (the worst bin's gap), and the Brier score (mean squared
    error of the milli-probability against the 0/1 label).

    Integer-exact: ECE telescopes to Σ_b|1000·pos_b − Σs_b|/(1000·N)
    — an integer numerator through ONE floored division; MCE is the
    max of the per-bin single-division gap_micro values; Brier's
    numerator Σ(s − 1000·y)² is a pure integer sum. No transcendental
    is evaluated by either engine.

    Scale shape: one keyed partial/final aggregation to the
    ``n_bins``-row table, then a 1-row metadata final. Returns
    ``(n, pos, base_rate_milli, ece_micro, mce_micro, brier_micro)``."""
    s = F.col(score_col).cast("long")
    y = F.col(label_col).cast("long")
    binned = df.select(
        F.least(
            F.floor(s * n_bins / 1000).cast("long"), F.lit(n_bins - 1).cast("long")
        ).alias("bin"),
        s.alias("_s"),
        y.alias("_y"),
        ((s - y * 1000) * (s - y * 1000)).cast("long").alias("_sq"),
    )
    per = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_y").cast("long").alias("_pos"),
        F.sum("_s").cast("long").alias("_ssum"),
        F.sum("_sq").cast("long").alias("_sqsum"),
    )
    num = F.abs(F.col("_pos") * 1000 - F.col("_ssum"))
    gap_micro = F.floor(
        (num * 1000).cast("double") / F.col("_n").cast("double") + F.lit(0.5)
    ).cast("long")
    return (
        per.select("_n", "_pos", "_ssum", "_sqsum", num.alias("_num"), gap_micro.alias("_gap"))
        .agg(
            F.sum("_n").cast("long").alias("n"),
            F.sum("_pos").cast("long").alias("pos"),
            F.sum("_num").cast("long").alias("_tnum"),
            F.sum("_sqsum").cast("long").alias("_tsq"),
            F.max("_gap").cast("long").alias("mce_micro"),
        )
        .select(
            "n",
            "pos",
            F.floor(
                (F.col("pos") * 1000).cast("double") / F.col("n").cast("double")
                + F.lit(0.5)
            ).cast("long").alias("base_rate_milli"),
            F.floor(
                (F.col("_tnum") * 1000).cast("double") / F.col("n").cast("double")
                + F.lit(0.5)
            ).cast("long").alias("ece_micro"),
            "mce_micro",
            F.floor(
                F.col("_tsq").cast("double") / F.col("n").cast("double") + F.lit(0.5)
            ).cast("long").alias("brier_micro"),
        )
    )


def calibration_apply(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Apply histogram-binning calibration in one pass: fit the
    ``n_bins`` calibration map with :func:`calibration_bins` on the
    (score, label) pairs and map every row's raw milli-probability to
    its bin's empirical accuracy — the calibrated probability a
    downstream quality gate should threshold on instead of the raw
    classifier output (Zadrozny & Elkan 2001's histogram method;
    the standard cheap alternative to Platt scaling that needs no
    exp/log on either engine).

    Scale shape: the map is an ``n_bins``-row broadcast; the apply is
    a map-side broadcast-hash join — the corpus side never shuffles.
    Returns the input rows with ``bin`` and ``calibrated_milli``
    appended."""
    bins = calibration_bins(df, score_col, label_col, n_bins=n_bins).select(
        "bin", F.col("acc_milli").alias("calibrated_milli")
    )
    s = F.col(score_col).cast("long")
    withbin = df.withColumn(
        "bin",
        F.least(
            F.floor(s * n_bins / 1000).cast("long"), F.lit(n_bins - 1).cast("long")
        ),
    )
    return withbin.join(F.broadcast(bins), "bin", "left")


def holt_weight_table(
    alpha_num: int = 1,
    alpha_den: int = 4,
    beta_num: int = 1,
    beta_den: int = 4,
    scale: int = 1_000_000,
) -> list[tuple[int, int, int, int, int]]:
    """Micro-integer impulse-response literals for :func:`holt_linear`
    (the ewma_weight_table pattern extended to the two-state Holt
    recursion): row ``(k, wl, wb, ul, ub)`` gives the coefficient of
    the observation k steps back in the current level (wl) and trend
    (wb), and the distinct coefficients of the FIRST observation
    (ul, ub — y₁ enters through the l₁=y₁, b₁=0 initialization, so
    its response differs from the generic lag-k response). Computed
    by running the exact recursion on a unit impulse (position 1 and
    position 2) and micro-flooring; the table ends where all four
    quantize to 0, which bounds the convolution depth (~101 steps for
    α=β=1/4 — the complex eigenpair of the companion matrix has
    modulus √((1−α)(1−αβ)+αβ(1−α)) ≈ 0.866). Generated once in Python
    and embedded as LITERALS in both the Spark plan and the oracle
    SQL, so neither engine evaluates the recursion in floats."""
    alpha = alpha_num / alpha_den
    beta = beta_num / beta_den

    def impulse(pos: int, n: int) -> list[tuple[float, float]]:
        y = [0.0] * (n + 1)
        y[pos] = 1.0
        lvl, b = y[1], 0.0
        out = [(lvl, b)]
        for t_ in range(2, n + 1):
            nl = alpha * y[t_] + (1 - alpha) * (lvl + b)
            b = beta * (nl - lvl) + (1 - beta) * b
            lvl = nl
            out.append((lvl, b))
        return out

    n = 4096
    gen = impulse(2, n)   # gen[t-1] = response at time t to impulse at 2
    ini = impulse(1, n)   # ini[t-1] = response at time t to impulse at 1
    rows = []
    k = 0
    while True:
        # generic lag-k response: observation at i=2, read at t=2+k
        wl = int((gen[1 + k][0]) * scale + (0.5 if gen[1 + k][0] >= 0 else -0.5))
        wb = int((gen[1 + k][1]) * scale + (0.5 if gen[1 + k][1] >= 0 else -0.5))
        ul = int((ini[k][0]) * scale + (0.5 if ini[k][0] >= 0 else -0.5))
        ub = int((ini[k][1]) * scale + (0.5 if ini[k][1] >= 0 else -0.5))
        if wl == 0 and wb == 0 and ul == 0 and ub == 0:
            break
        rows.append((k, wl, wb, ul, ub))
        k += 1
        if k > n - 4:  # pragma: no cover - guard against non-decaying params
            raise ValueError("holt_weight_table: response did not quantize to 0")
    return rows


def holt_linear(
    series: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    alpha_num: int = 1,
    alpha_den: int = 4,
    beta_num: int = 1,
    beta_den: int = 4,
) -> DataFrame:
    """Holt's linear-trend double exponential smoothing (Holt 1957 /
    Winters 1960, no seasonal term) per group over a PRE-AGGREGATED
    regular integer series: the level+trend state every short-horizon
    ops forecast ("where is this metric heading next week") starts
    from, one step up from the EWMA chart's level-only statistic.
    Emits per period the smoothed level, the trend, and the one-step-
    ahead forecast l_t + b_t the next period should be compared to.

    Engine-exact: the Holt recursion is a LINEAR filter, so l_t·10⁶
    and b_t·10⁶ are integer dot products of the series against the
    precomputed micro-integer impulse-response literals of
    :func:`holt_weight_table` — the quantized-filter semantics of
    ewma_control (weights below 0.5 micro are identically 0, bounding
    the lookback at ~101 steps for α=β=1/4). No float recursion runs
    on either engine.

    Scale shape: input is a PERIOD-level series (the caller's
    data-sized groupBy already happened); the convolution is a
    group-keyed self-join of T×(≤table) metadata pairs plus one
    broadcast weight table — the ewma_control plan. Returns
    ``(group, order, x, level_micro, trend_micro,
    forecast_next_micro)``."""
    from pyspark.sql import Window

    wt = holt_weight_table(alpha_num, alpha_den, beta_num, beta_den)
    spark = series.sparkSession
    wdf = spark.createDataFrame(
        wt, "_hk int, _hwl long, _hwb long, _hul long, _hub long"
    )
    w = Window.partitionBy(group_col).orderBy(F.col(order_col).asc())
    rn = series.select(
        F.col(group_col),
        F.col(order_col),
        F.row_number().over(w).alias("_rk"),
        F.col(value_col).cast("long").alias("_x"),
    )
    a = rn.select(group_col, F.col("_rk").alias("_i"), F.col("_x").alias("_xi"))
    b = rn.select(group_col, order_col, "_rk", "_x")
    pairs = (
        b.join(a, group_col)
        .filter(F.col("_i") <= F.col("_rk"))
        .withColumn("_hk", (F.col("_rk") - F.col("_i")).cast("int"))
        .join(F.broadcast(wdf), "_hk")
    )
    first = F.col("_i") == 1
    lc = F.col("_xi") * F.when(first, F.col("_hul")).otherwise(F.col("_hwl"))
    bc = F.col("_xi") * F.when(first, F.col("_hub")).otherwise(F.col("_hwb"))
    return (
        pairs.groupBy(group_col, order_col, "_rk", "_x")
        .agg(
            F.sum(lc).cast("long").alias("level_micro"),
            F.sum(bc).cast("long").alias("trend_micro"),
        )
        .select(
            group_col,
            order_col,
            F.col("_x").alias("x"),
            "level_micro",
            "trend_micro",
            (F.col("level_micro") + F.col("trend_micro"))
            .cast("long")
            .alias("forecast_next_micro"),
        )
    )


def poisson_cdf_literals(lam: float = 1.0, cap: int = 8) -> list[float]:
    """Cumulative Poisson(λ) probabilities P(X ≤ k) for k < cap,
    computed once in Python and embedded as double LITERALS in both
    engines (the ewma/holt damping-literal pattern): the bootstrap
    weight is the inverse-CDF lookup of a deterministic md5 uniform
    against these thresholds, so both engines draw identical weights.
    ``cap`` truncates the tail (P(X > 8 | λ=1) ≈ 1e-6 — one in a
    million rows gets weight 8 instead of 9+; documented bias far
    below bootstrap noise)."""
    import math

    term = math.exp(-lam)
    cum = []
    s = 0.0
    for k in range(cap):
        s += term
        cum.append(s)
        term *= lam / (k + 1)
    return cum


def poisson_bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_replicates: int = 32,
    seed: str = "boot",
) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean of an
    INTEGER value column (the streaming-friendly bootstrap of
    Chamandy, Muralidharan, Najmi & Naidu 2012, built for exactly
    this setting: data too large to multinomial-resample, so each
    replicate gives every row an independent Poisson(1) weight). ONE
    pass, ZERO extra shuffles: all ``n_replicates`` weighted sums are
    columns of a single partial/final aggregation — the replicate
    fan-out lives in the aggregation expressions, never in the rows.

    Determinism/engine-parity: the per-(row, replicate) weight is the
    inverse-CDF lookup of the md5 uniform (curation.sample_fraction's
    contract, seeded ``seed:b:``) against the Poisson CDF double
    LITERALS of :func:`poisson_cdf_literals` — both engines draw the
    identical integer weight, so replicate sums are exact integers.
    Replicate means are milli-floored, sorted (a ≤n_replicates-element
    array in one row), and the CI is the (2nd smallest, 2nd largest)
    order-statistic pair — a 1−2·(1.5/B) ≈ 94% interval at B=32,
    reported alongside the point mean. Returns 1 metadata row
    ``(n, mean_milli, boot_lo_milli, boot_hi_milli, n_replicates)``."""
    from denormalized_spark.operators.curation import sample_fraction

    cum = poisson_cdf_literals()
    x = F.col(value_col).cast("long")

    def weight(b: int):
        u = sample_fraction(id_col, seed=f"{seed}:{b}:")
        w = F.lit(len(cum))
        for k in range(len(cum) - 1, -1, -1):
            w = F.when(u < F.lit(cum[k]), F.lit(k)).otherwise(w)
        return w.cast("long")

    aggs = [
        F.count("*").cast("long").alias("_n"),
        F.sum(x).cast("long").alias("_sx"),
    ]
    for b in range(n_replicates):
        wb = weight(b)
        aggs.append(F.sum(wb * x).cast("long").alias(f"_swx{b}"))
        aggs.append(F.sum(wb).cast("long").alias(f"_sw{b}"))
    one = df.agg(*aggs)
    point_mean = F.floor(
        (F.col("_sx") * 1000).cast("double") / F.col("_n").cast("double")
        + F.lit(0.5)
    ).cast("long")
    means = F.array_sort(
        F.array(
            *[
                # Empty-replicate guard: a replicate whose Poisson
                # weights are all zero (possible on tiny inputs) has
                # no resample — pin it to the point mean instead of
                # 0/0 → engine-divergent Inf/NaN.
                F.when(
                    F.col(f"_sw{b}") > 0,
                    F.floor(
                        (F.col(f"_swx{b}") * 1000).cast("double")
                        / F.col(f"_sw{b}").cast("double")
                        + F.lit(0.5)
                    ).cast("long"),
                )
                .otherwise(point_mean)
                for b in range(n_replicates)
            ]
        )
    )
    return one.select(
        F.col("_n").alias("n"),
        F.floor(
            (F.col("_sx") * 1000).cast("double") / F.col("_n").cast("double")
            + F.lit(0.5)
        ).cast("long").alias("mean_milli"),
        F.element_at(means, 2).alias("boot_lo_milli"),
        F.element_at(means, n_replicates - 1).alias("boot_hi_milli"),
        F.lit(n_replicates).cast("long").alias("n_replicates"),
    )


def activity_streaks(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands pattern (rank the user's distinct active days,
    subtract the rank from the day: consecutive days collapse to one
    constant island key), the retention statistic behind every
    "day streak" metric. Integer/date-exact: the island key is
    date_sub(day, rank) — pure date arithmetic, no floats.

    Scale shape: one distinct (user, day) reduction (map-side
    combine), one user-keyed rank window (bounded per-user state),
    one (user, island) count, one user-keyed max — every stage
    shuffles on the user key, and days-per-user is bounded by the
    calendar. Returns ``(user, n_active_days, n_streaks,
    longest_streak, longest_streak_end)``."""
    from pyspark.sql import Window

    days = (
        df.select(F.col(user_col).alias("u"), F.col(ts_col).cast("date").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("u").orderBy("d")
    isl = days.withColumn(
        "_isl", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = isl.groupBy("u", "_isl").agg(
        F.count("*").cast("long").alias("_len"), F.max("d").alias("_end")
    )
    return (
        streaks.groupBy("u")
        .agg(
            F.sum("_len").cast("long").alias("n_active_days"),
            F.count("*").cast("long").alias("n_streaks"),
            F.max("_len").cast("long").alias("longest_streak"),
            # packed numeric argmax key: streak length then recency —
            # deterministic in both engines (no struct-order reliance)
            F.max_by(
                "_end",
                F.col("_len") * 1_000_000
                + F.datediff(F.col("_end"), F.lit("1970-01-01").cast("date")),
            ).alias("_best_end"),
        )
        .select(
            F.col("u").alias(user_col),
            "n_active_days",
            "n_streaks",
            "longest_streak",
            F.col("_best_end").alias("longest_streak_end"),
        )
    )


def sprt_literals(
    p0: float, p1: float, alpha: float = 0.05, beta: float = 0.05,
    scale: int = 1_000_000,
) -> tuple[int, int, int, int]:
    """Micro-integer literals for Wald's SPRT on a Bernoulli rate:
    per-success and per-failure log-likelihood-ratio increments
    a = ⌊ln(p1/p0)·10⁶⌉, b = ⌊ln((1−p1)/(1−p0))·10⁶⌉ and the decision
    thresholds upper = ⌊ln((1−β)/α)·10⁶⌉, lower = ⌊ln(β/(1−α))·10⁶⌉.
    Computed once in Python and embedded as LITERALS in both engines
    (the ewma/holt damping-literal pattern), so the cumulative LLR is
    a pure integer dot product s·a + (n−s)·b and no transcendental is
    evaluated by either engine."""
    import math

    def r(x: float) -> int:
        return int(math.floor(x * scale + 0.5)) if x >= 0 else -int(
            math.floor(-x * scale + 0.5)
        )

    return (
        r(math.log(p1 / p0)),
        r(math.log((1 - p1) / (1 - p0))),
        r(math.log((1 - beta) / alpha)),
        r(math.log(beta / (1 - alpha))),
    )


def sprt_monitor(
    df: DataFrame,
    success: Column,
    ts_col: str = "ts",
    p0: float = 0.18,
    p1: float = 0.22,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> DataFrame:
    """Wald's sequential probability ratio test (Wald 1945) monitored
    daily: the always-valid alternative to a fixed-horizon rate test —
    after each day, the cumulative log-likelihood ratio of H1: rate=p1
    vs H0: rate=p0 either crosses the upper bound (accept H1), the
    lower bound (accept H0), or the monitor continues. This is the
    earliest-stopping test with both error rates controlled — the
    reason launch-monitoring systems prefer it to daily re-running a
    z-test (which inflates false positives).

    Engine-exact: llr·10⁶ = s·a + (n−s)·b over the pinned integer
    literals of :func:`sprt_literals`; the daily reduction is the only
    data-sized stage, the cumulative window runs over the day-level
    metadata series. Returns ``(day, n_day, s_day, n_cum, s_cum,
    llr_micro, decision)`` — decision ∈ accept_h1/accept_h0/continue;
    rows after a crossing keep reporting their side (the caller stops
    at the FIRST non-continue row; Wald's test is defined up to the
    stopping time)."""
    from pyspark.sql import Window

    a, b, hi, lo = sprt_literals(p0, p1, alpha, beta)
    daily = (
        df.select(F.col(ts_col).cast("date").alias("day"),
                  success.cast("long").alias("_s"))
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("n_day"),
             F.sum("_s").cast("long").alias("s_day"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day", "n_day", "s_day",
        F.sum("n_day").over(w).cast("long").alias("n_cum"),
        F.sum("s_day").over(w).cast("long").alias("s_cum"),
    )
    llr = (F.col("s_cum") * a + (F.col("n_cum") - F.col("s_cum")) * b).cast("long")
    return cum.select(
        "day", "n_day", "s_day", "n_cum", "s_cum",
        llr.alias("llr_micro"),
        F.when(llr >= hi, F.lit("accept_h1"))
        .when(llr <= lo, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


def nelson_aalen(
    subjects: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator (Nelson 1972; Aalen
    1978) — the additive companion to :func:`kaplan_meier` on the
    same right-censored subjects table:

        H(t) = Σ_{tᵢ ≤ t} dᵢ/nᵢ,      Var ≈ Σ_{tᵢ ≤ t} dᵢ/nᵢ²

    Cumulative hazard is what rate-based reasoning wants (an
    approximately-exponential fit reads the rate straight off the
    slope; −ln S(t) ≈ H(t)) and its variance is simpler and stabler
    than Greenwood's for S(t).

    Engine-exact (quantized-estimator semantics): each per-time term
    d·10⁶/n (and d·10¹²·? — the variance term d·10⁶·10⁶/n² stays in
    micro² units) is ONE floored division, and the cumulative sums
    run over the FLOORED integer terms — both engines replay the
    identical integers; no float accumulation crosses an engine.

    Scale shape: identical to kaplan_meier — one groupBy(duration)
    partial agg is the only data-sized stage; the curve windows are
    metadata. Returns ``(t, n_risk, n_events, n_censored,
    hazard_micro, hazard_var_micro2)``."""
    from pyspark.sql import Window

    counts = subjects.groupBy(F.col(duration_col).alias("t")).agg(
        F.sum(F.col(event_col).cast("long")).cast("long").alias("n_events"),
        (F.count("*") - F.sum(F.col(event_col).cast("long")))
        .cast("long")
        .alias("n_censored"),
    )
    w_all = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    at = F.col("n_events") + F.col("n_censored")
    risked = counts.withColumn(
        "n_risk",
        (F.sum(at).over(w_all) - F.coalesce(F.sum(at).over(w_prev), F.lit(0)))
        .cast("long"),
    )
    term = F.floor(
        (F.col("n_events") * 1_000_000).cast("double")
        / F.col("n_risk").cast("double")
        + F.lit(0.5)
    ).cast("long")
    vterm = F.floor(
        (F.col("n_events") * 1_000_000_000_000).cast("double")
        / (F.col("n_risk") * F.col("n_risk")).cast("double")
        + F.lit(0.5)
    ).cast("long")
    stepped = risked.withColumn("_h", term).withColumn("_v", vterm)
    return stepped.select(
        "t",
        "n_risk",
        "n_events",
        "n_censored",
        F.sum("_h").over(w_cum).cast("long").alias("hazard_micro"),
        F.sum("_v").over(w_cum).cast("long").alias("hazard_var_micro2"),
    )


def diff_in_diff(
    df: DataFrame,
    treat: Column,
    post: Column,
    value_col: str,
) -> DataFrame:
    """Two-period difference-in-differences estimator (Card & Krueger
    1994's canonical 2×2design): with a treatment indicator and a
    pre/post indicator, DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post −
    ȳ_C,pre) — the parallel-trends-adjusted effect estimate every
    natural-experiment readout starts from, immune to fixed group
    differences AND common time shocks (which a naive post-vs-pre or
    treat-vs-control comparison both conflate).

    Engine-exact (quantized-cell semantics): the four cell means are
    each ONE milli-floored integer division (Σvalue·1000/n), and the
    estimator is integer arithmetic over those four milli values —
    both engines replay it exactly. Output also carries the four
    cells so the parallel-trends eyeball check is one row away.

    Scale shape: ONE partial/final aggregation keyed by the 2×2 cell
    (map-side combine → 4 rows), then a 1-row metadata pivot.
    Returns ``(n_tpre, n_tpost, n_cpre, n_cpost, mean_tpre_milli,
    mean_tpost_milli, mean_cpre_milli, mean_cpost_milli,
    did_milli)``."""
    x = F.col(value_col).cast("long")
    cells = (
        df.select(
            treat.cast("int").alias("_t"),
            post.cast("int").alias("_p"),
            x.alias("_x"),
        )
        .groupBy("_t", "_p")
        .agg(F.count("*").cast("long").alias("_n"), F.sum("_x").cast("long").alias("_s"))
    )

    def cell(tv: int, pv: int, what: str) -> Column:
        cond = (F.col("_t") == tv) & (F.col("_p") == pv)
        return F.sum(F.when(cond, F.col(what))).cast("long")

    one = cells.agg(
        cell(1, 0, "_n").alias("n_tpre"),
        cell(1, 1, "_n").alias("n_tpost"),
        cell(0, 0, "_n").alias("n_cpre"),
        cell(0, 1, "_n").alias("n_cpost"),
        cell(1, 0, "_s").alias("_s_tpre"),
        cell(1, 1, "_s").alias("_s_tpost"),
        cell(0, 0, "_s").alias("_s_cpre"),
        cell(0, 1, "_s").alias("_s_cpost"),
    )

    def m(s: str, n: str) -> Column:
        return F.floor(
            (F.col(s) * 1000).cast("double") / F.col(n).cast("double") + F.lit(0.5)
        ).cast("long")

    out = one.select(
        "n_tpre", "n_tpost", "n_cpre", "n_cpost",
        m("_s_tpre", "n_tpre").alias("mean_tpre_milli"),
        m("_s_tpost", "n_tpost").alias("mean_tpost_milli"),
        m("_s_cpre", "n_cpre").alias("mean_cpre_milli"),
        m("_s_cpost", "n_cpost").alias("mean_cpost_milli"),
    )
    return out.withColumn(
        "did_milli",
        (
            (F.col("mean_tpost_milli") - F.col("mean_tpre_milli"))
            - (F.col("mean_cpost_milli") - F.col("mean_cpre_milli"))
        ).cast("long"),
    )


def power_analysis_proportions(
    df: DataFrame,
    success: Column,
    ts_col: str = "ts",
    mde_milli: int = 20,
    z_alpha: float = 1.959964,
    z_beta: float = 0.841621,
) -> DataFrame:
    """A/B sample-size calculator for a two-proportion test (the
    standard normal-approximation power formula, Fleiss et al.):
    n per arm = 2·(z_{α/2}+z_β)²·p̄(1−p̄)/δ² for the observed baseline
    rate p̄ and an absolute minimum-detectable-effect δ — plus the
    runway readout ("how many days at current traffic") every
    experiment-review meeting actually asks for.

    Engine-exact: the baseline rate and daily traffic are milli/int
    aggregates; z quantiles are double LITERALS (no inverse-normal is
    evaluated by either engine); the formula is the same double
    arithmetic from the same integers in both engines, ceil'd once.

    Scale shape: one global partial/final agg (+ one distinct-day
    count) — 1 metadata row out: ``(n_events, n_days, p_base_milli,
    mde_milli, n_required_per_arm, days_required_both_arms)``."""
    y = success.cast("long")
    agg = df.agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(y).cast("long").alias("_s"),
        F.countDistinct(F.col(ts_col).cast("date")).cast("long").alias("n_days"),
    )
    p_milli = F.floor(
        (F.col("_s") * 1000).cast("double") / F.col("n_events").cast("double")
        + F.lit(0.5)
    ).cast("long")
    staged = agg.withColumn("p_base_milli", p_milli)
    p = F.col("p_base_milli").cast("double") / F.lit(1000.0)
    delta = F.lit(float(mde_milli)) / F.lit(1000.0)
    zsum = F.lit(float(z_alpha) + float(z_beta))
    n_req = F.ceil(
        F.lit(2.0) * zsum * zsum * p * (F.lit(1.0) - p) / (delta * delta)
    ).cast("long")
    staged = staged.withColumn("n_required_per_arm", n_req)
    daily = F.col("n_events").cast("double") / F.col("n_days").cast("double")
    return staged.select(
        "n_events",
        "n_days",
        "p_base_milli",
        F.lit(int(mde_milli)).cast("long").alias("mde_milli"),
        "n_required_per_arm",
        F.ceil(
            (F.col("n_required_per_arm") * 2).cast("double") / daily
        ).cast("long").alias("days_required_both_arms"),
    )


def abc_classification(
    df: DataFrame,
    key_col: str,
    value_col: str,
    a_pct: int = 80,
    b_pct: int = 95,
) -> DataFrame:
    """Pareto / ABC inventory classification (the 80-15-5 rule of
    Dickie 1951's ABC analysis): rank keys by INTEGER value, take the
    running share of the total, and label A while the cumulative
    share is ≤ a_pct%, B while ≤ b_pct%, else C — the segmentation
    behind every "20% of SKUs are 80% of revenue" readout.

    Engine-exact: the class gates are cross-multiplied integer
    comparisons (cum·100 ≤ pct·total — no float share), and the
    ranking order is pinned (value desc, key asc).

    Scale shape: one key-keyed partial/final agg, then the scale-safe
    global rank (ranking.with_global_running_sum — range shuffle +
    broadcast prefix sums, no single-reducer sort over data), one
    1-row total broadcast. Returns ``(key, value, cum_value,
    abc_class)``."""
    from denormalized_spark.operators.ranking import with_global_running_sum

    per = df.groupBy(F.col(key_col).alias("key")).agg(
        F.sum(F.col(value_col).cast("long")).cast("long").alias("value")
    )
    ranked = with_global_running_sum(
        per,
        order_by=[F.desc("value"), F.asc("key")],
        value=F.col("value"),
        out_col="cum_value",
        exclusive=False,
    )
    tot = per.agg(F.sum("value").cast("long").alias("_t"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "value",
            F.col("cum_value").cast("long").alias("cum_value"),
            F.when(
                F.col("cum_value") * 100 <= F.lit(int(a_pct)) * F.col("_t"), "A"
            )
            .when(
                F.col("cum_value") * 100 <= F.lit(int(b_pct)) * F.col("_t"), "B"
            )
            .otherwise("C")
            .alias("abc_class"),
        )
    )


def cohort_ltv(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str | None = None,
) -> DataFrame:
    """Weekly cohort lifetime-value triangle — the revenue companion
    to the cohort-retention triangle: users are cohorted by their
    first-event week, every later week's revenue lands at its offset,
    and each (cohort, offset) cell reports active users, the week's
    revenue, the cohort's CUMULATIVE revenue, and LTV-per-cohort-user
    so far — the curve every "payback period" readout is drawn from.

    Engine-exact: revenue is integer cents; the per-user LTV is one
    milli-floored division of the integer running sum by the integer
    cohort size; cum sums run over floored integers.

    Scale shape: one user-keyed min (first event), one user-keyed
    join back (both shuffle on the user key), one (cohort, offset)
    partial/final agg — the output triangle is weeks² metadata, and
    its cumulative window partitions by cohort (bounded). Returns
    ``(cohort, offset, n_active, revenue_cents, cum_revenue_cents,
    ltv_per_user_milli)``."""
    from pyspark.sql import Window

    val = (
        F.col(value_col).cast("long")
        if value_col is not None
        else F.lit(0).cast("long")
    )
    first = df.groupBy(F.col(user_col).alias("_u")).agg(
        F.date_trunc("week", F.min(ts_col)).cast("date").alias("cohort")
    )
    sizes = first.groupBy("cohort").agg(
        F.count("*").cast("long").alias("_csize")
    )
    ev = df.select(
        F.col(user_col).alias("_u"),
        F.col(ts_col),
        val.alias("_v"),
    ).join(first, "_u")
    cells = (
        ev.withColumn(
            "offset",
            F.floor(
                F.datediff(
                    F.date_trunc("week", F.col(ts_col)).cast("date"),
                    F.col("cohort"),
                )
                / 7
            ).cast("long"),
        )
        .groupBy("cohort", "offset")
        .agg(
            F.countDistinct("_u").cast("long").alias("n_active"),
            F.sum("_v").cast("long").alias("revenue_cents"),
        )
    )
    w = Window.partitionBy("cohort").orderBy("offset").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        cells.withColumn(
            "cum_revenue_cents", F.sum("revenue_cents").over(w).cast("long")
        )
        .join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            "offset",
            "n_active",
            "revenue_cents",
            "cum_revenue_cents",
            F.floor(
                (F.col("cum_revenue_cents") * 1000).cast("double")
                / F.col("_csize").cast("double")
                + F.lit(0.5)
            ).cast("long").alias("ltv_per_user_milli"),
        )
    )


def ipw_ate_stratified(
    df: DataFrame,
    treat_col: str,
    value_col: str,
    stratum_col: str,
) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect with
    STRATIFIED (empirical) propensities — Rosenbaum & Rubin 1983's
    subclassification estimator in its IPW form, the workhorse of
    observational A/B readouts where exposure wasn't randomized: the
    per-stratum propensity ê_s = n_treat_s / n_s reweights each
    stratum's treated and control means, removing confounding carried
    by the stratum variable.

    Per stratum s the IPW contribution to the ATE is

        (Σ_{T=1} y)·n_s/n_treat_s − (Σ_{T=0} y)·n_s/(n_s − n_treat_s)
        ─────────────────────────────────────────────────────────────
                                  N

    Engine-exact: counts and value sums are exact integers
    (``value_col`` must be integer units — cents); each stratum's
    contribution is a fixed-order IEEE expression over those
    integers, milli-floored (one floored division per output —
    quantized-estimator semantics); the 'ALL' rollup row is the EXACT
    integer sum of the per-stratum floored contributions (Σ of floors,
    not floor of Σ — pinned, documented grid semantics). Strata where
    either arm is empty contribute 0 (positivity violation — flagged
    by the NULL propensity passing through as n_treat 0 or n_s).

    Scale shape: ONE stratum-keyed partial/final aggregation over the
    corpus + a metadata-sized rollup union — no joins, no corpus
    re-scan. Returns one row per stratum plus the 'ALL' row:
    ``(stratum, n, n_treat, propensity_milli, ate_term_milli)``; the
    stratum column is cast to STRING so the 'ALL' rollup row unions
    cleanly whatever type the caller stratified on."""
    per = df.groupBy(
        F.col(stratum_col).cast("string").alias("stratum")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col(treat_col).cast("long")).cast("long").alias("n_treat"),
        F.sum(
            F.when(F.col(treat_col).cast("boolean"), F.col(value_col)).otherwise(0)
        ).cast("long").alias("_sy_t"),
        F.sum(
            F.when(~F.col(treat_col).cast("boolean"), F.col(value_col)).otherwise(0)
        ).cast("long").alias("_sy_c"),
    )
    total = per.agg(F.sum("n").cast("long").alias("_N"))
    term = F.when(
        (F.col("n_treat") > 0) & (F.col("n_treat") < F.col("n")),
        F.floor(
            (
                F.col("_sy_t").cast("double")
                * F.col("n").cast("double")
                / F.col("n_treat").cast("double")
                - F.col("_sy_c").cast("double")
                * F.col("n").cast("double")
                / (F.col("n") - F.col("n_treat")).cast("double")
            )
            / F.col("_N").cast("double")
            * F.lit(1000.0)
            + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    strata = per.crossJoin(F.broadcast(total)).select(
        "stratum",
        "n",
        "n_treat",
        F.floor(
            (F.col("n_treat") * 1000).cast("double") / F.col("n").cast("double")
            + F.lit(0.5)
        ).cast("long").alias("propensity_milli"),
        term.alias("ate_term_milli"),
    )
    rollup = strata.agg(
        F.lit("ALL").alias("stratum"),
        F.sum("n").cast("long").alias("n"),
        F.sum("n_treat").cast("long").alias("n_treat"),
        F.floor(
            (F.sum("n_treat") * 1000).cast("double")
            / F.sum("n").cast("double")
            + F.lit(0.5)
        ).cast("long").alias("propensity_milli"),
        F.sum("ate_term_milli").cast("long").alias("ate_term_milli"),
    )
    return strata.unionAll(rollup).orderBy("stratum")


def seasonal_strength(
    df: DataFrame,
    window_ms: int = 3600_000,
    group_cols: list[str] | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Seasonal-strength feature F_s = max(0, 1 − Var(R)/Var(S+R))
    (Wang, Smith & Hyndman 2006 — the time-series feature behind
    Hyndman's feasts/FPP "strength of seasonality"): how much of a
    series' variance the seasonal component explains, the one number
    that decides whether a seasonally-aware monitor (seasonal_
    residuals) is worth running on a key. Built on the SAME quantized
    hourly decomposition as :func:`seasonal_residuals`: S is the
    micro-floored per-(key, hour-of-day) mean, R = X − S exact on the
    micro grid.

    Engine-exact: X_micro and R_micro are exact longs; both variances
    share the same m, so Var(R)/Var(X) = (m·ΣR² − (ΣR)²)/(m·ΣX² −
    (ΣX)²) — numerator and denominator are EXACT decimal(38)/HUGEINT
    integers, the single division is one IEEE op, milli-floored.

    Scale shape: one window-count agg (corpus-linear), one
    (key, hour) mean over the window table, one key-keyed moment agg
    — all metadata-sized after the first. Returns ``(group,
    n_windows, strength_milli)``."""
    gcols = group_cols or ["event_type"]
    secs = f"{window_ms // 1000} seconds"
    counts = (
        df.groupBy(F.window(F.col(ts_col), secs).alias("_w"), *gcols)
        .agg(F.count("*").alias("n"))
        .select(*gcols, F.col("_w.start").alias("_ws"), "n")
        .withColumn("hod", F.hour("_ws"))
    )
    seasonal = counts.groupBy(*gcols, "hod").agg(
        F.floor(F.avg("n") * 1_000_000 + F.lit(0.5)).cast("long")
        .alias("_s_micro")
    )
    base = counts.join(F.broadcast(seasonal), [*gcols, "hod"]).select(
        *gcols,
        (F.col("n") * 1_000_000).cast("long").alias("_x"),
        (F.col("n") * 1_000_000 - F.col("_s_micro")).cast("long").alias("_r"),
    )
    dx = F.col("_x").cast("decimal(19,0)")
    dr = F.col("_r").cast("decimal(19,0)")
    mom = base.groupBy(*gcols).agg(
        F.count("*").cast("long").alias("n_windows"),
        F.sum(dx).cast("decimal(38,0)").alias("_sx"),
        F.sum(dx * dx).cast("decimal(38,0)").alias("_sx2"),
        F.sum(dr).cast("decimal(38,0)").alias("_sr"),
        F.sum(dr * dr).cast("decimal(38,0)").alias("_sr2"),
    )
    m = F.col("n_windows").cast("decimal(38,0)")
    var_r = (m * F.col("_sr2") - F.col("_sr") * F.col("_sr")).cast("double")
    var_x = (m * F.col("_sx2") - F.col("_sx") * F.col("_sx")).cast("double")
    strength = F.greatest(
        F.lit(0.0), F.lit(1.0) - var_r / var_x
    )
    return mom.select(
        *gcols,
        "n_windows",
        F.when(
            var_x > 0,
            F.floor(strength * F.lit(1000.0) + F.lit(0.5)).cast("long"),
        ).otherwise(F.lit(0).cast("long")).alias("strength_milli"),
    ).orderBy(*gcols)


def theil_index(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Theil T inequality index per group (Theil 1967) over a positive
    integer value column — the decomposable inequality measure that
    complements the Gini (gini_concentration): T = 0 at perfect
    equality, ln(n) at total concentration, and unlike Gini it
    splits exactly into within/between-group terms.

    Algebraic form used (one pass, no per-row mean join):

        T = Σ x·ln(x) / Σx  +  ln(n)  −  ln(Σx)

    Engine-exact: each row's x·ln(x) is micro-FLOORED to a long
    before summing (the BM25 discipline — per-term transcendentals
    land on a grid ~10¹⁰ coarser than a double ulp, and the integer
    sum is partition-order exact); ln(n) and ln(Σx) are single
    transcendentals of exact integers; the final combination is one
    fixed-order IEEE expression, micro-floored. Rows with x <= 0 are
    excluded (ln undefined) and reported in ``n_excluded``.

    Scale shape: ONE group-keyed partial/final aggregation — scan
    speed, map-side combine, no joins. (Beyond ~2^63/xlnx_micro rows
    per group, promote the sum to decimal(38) — documented headroom:
    ~10⁴ at x≈10⁷.) Returns ``(group, n, n_excluded, theil_micro)``."""
    x = F.col(value_col).cast("long")
    xlnx_micro = F.floor(
        x.cast("double") * F.log(x.cast("double")) * F.lit(1_000_000.0)
        + F.lit(0.5)
    ).cast("long")
    per = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.sum(F.when(x > 0, 1).otherwise(0)).cast("long").alias("n"),
        F.sum(F.when(x <= 0, 1).otherwise(0)).cast("long").alias("n_excluded"),
        F.sum(F.when(x > 0, x).otherwise(0)).cast("long").alias("_sx"),
        F.sum(F.when(x > 0, xlnx_micro).otherwise(0)).cast("long")
        .alias("_sxlnx_micro"),
    )
    theil = (
        F.col("_sxlnx_micro").cast("double")
        / F.lit(1_000_000.0)
        / F.col("_sx").cast("double")
        + F.log(F.col("n").cast("double"))
        - F.log(F.col("_sx").cast("double"))
    )
    return per.select(
        "grp",
        "n",
        "n_excluded",
        F.when(
            (F.col("n") > 0) & (F.col("_sx") > 0),
            F.floor(theil * F.lit(1_000_000.0) + F.lit(0.5)).cast("long"),
        ).otherwise(F.lit(0).cast("long")).alias("theil_micro"),
    ).orderBy("grp")


#: Most transition cells the markov operators collect to the driver
#: (256 fully connected states). A larger chain raises ValueError.
MARKOV_MAX_CELLS = 1 << 16


def _collect_bounded(df: DataFrame, bound: int, what: str) -> list:
    """``df.collect()`` of at most ``bound`` rows: collects
    ``limit(bound + 1)`` and raises ValueError when the extra row shows
    the input is over the bound."""
    rows = df.limit(bound + 1).collect()
    if len(rows) > bound:
        raise ValueError(
            f"{what}: more than {bound} rows to collect to the driver; "
            "reduce the cardinality of the input first"
        )
    return rows


def _markov_chain(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    iterations: int,
):
    """Shared chain build for markov_stationary / markov_entropy_rate:
    ONE user-keyed exchange produces the transition pairs; returns
    ``(cells, states, pi)`` — the micro-grid transition cells as
    Python tuples, the sorted state list, and the stationary dict
    after ``iterations`` quantized power-iteration rounds.

    The transition matrix is |types|²-bounded metadata, so (like
    pca_power_top_component) it is collected ONCE — the corpus-sized
    work stays in Spark up to the (from_type, to_type, p_micro) cells
    — and the power iteration replays driver-side on exact Python
    integers. Bit-exactness vs the former distributed loop: the
    per-round long sum Σ πᵢ·pᵢⱼ is integer (order-free), and
    long→double cast, /1e6, +0.5, floor are the identical IEEE-754
    ops in CPython and the JVM. States with no incoming edge keep a
    mass-0 row, exactly the oracle's left-join+coalesce re-anchoring;
    so does the NULL state (an event with a NULL type), because that
    re-anchoring joins on state and a SQL join never matches NULL.

    NOTE: collecting pmat makes this operator EAGER at DataFrame-build
    time (one bounded Spark job over the pair build; the result is
    ≤|types|² rows of longs, at most :data:`MARKOV_MAX_CELLS`, else
    ValueError). Each call recomputes from the input — nothing is
    memoized across invocations."""
    import math

    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = (
        df.select(
            F.lag(type_col).over(w).alias("from_type"),
            F.col(type_col).alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    outs = pairs.groupBy("from_type").agg(F.sum("n").cast("long").alias("tot"))
    pmat_dist = pairs.join(F.broadcast(outs), "from_type").select(
        "from_type",
        "to_type",
        F.floor(
            (F.col("n") * 1_000_000).cast("double") / F.col("tot").cast("double")
            + F.lit(0.5)
        ).cast("long").alias("p_micro"),
    )
    cells = [
        (r["from_type"], r["to_type"], int(r["p_micro"]))
        for r in _collect_bounded(
            pmat_dist, MARKOV_MAX_CELLS, f"markov chain over {type_col!r} transitions"
        )
    ]
    states = sorted(
        {c[0] for c in cells} | {c[1] for c in cells},
        key=lambda s: (s is None, s),
    )
    # π₀ uniform on the micro grid; 8 rounds of π'ⱼ = ⌊Σᵢ πᵢ·pᵢⱼ/1e6 + ½⌋
    pi = {s: int(math.floor(1_000_000.0 / len(states) + 0.5)) for s in states}
    for _ in range(iterations):
        acc = dict.fromkeys(states, 0)
        for frm, to, p in cells:
            acc[to] += pi[frm] * p
        pi = {
            s: 0 if s is None else int(math.floor(float(acc[s]) / 1_000_000.0 + 0.5))
            for s in states
        }
    return cells, states, pi


def markov_stationary(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    iterations: int = 8,
) -> DataFrame:
    """Stationary distribution of the first-order event-type Markov
    chain by power iteration (the long-run behavioral mix the
    transition matrix implies — where users END UP spending their
    events, vs the raw event-type histogram of where they started;
    the PageRank-without-teleport of event_transitions' matrix).

    Quantized power iteration, engine-exact: the transition
    probabilities live on the micro grid (one floored division per
    cell — exactly event_transitions' probability discipline), the
    state vector starts uniform on the micro grid, and every
    iteration re-floors π'_j = Σ_i π_i·p_ij to micro units — both
    engines replay the identical integer-in/integer-out trajectory,
    the same per-round re-synchronization kmeans_fit uses. Fixed
    ``iterations`` (8 rounds contract a 5-state chain far below the
    micro grid). A NULL event type is a state that receives no mass.

    EAGER: building the DataFrame runs one Spark job — one user-keyed
    exchange pairs consecutive events (the corpus-sized step) and the
    (from_type, to_type, p_micro) transition cells are collected to
    the driver. That collect is bounded by |types|² rows, so the
    state column must be low-cardinality: more than
    :data:`MARKOV_MAX_CELLS` transition cells raise ValueError. The
    iterations then run on the driver over exact Python integers, and
    the result is a small
    local relation. Nothing is memoized: each call re-runs the job.
    Returns ``(state, pi_micro, p_self_micro)`` ordered by state; the
    ``state`` column keeps ``type_col``'s type."""
    cells, states, pi = _markov_chain(
        df, user_col, ts_col, type_col, id_col, iterations
    )
    # pure-metadata assembly (the chain is already collected): the old
    # left join + coalesce over local relations planned as a
    # SortMergeJoin (createDataFrame RDDs carry no size statistics, so
    # nothing broadcasts) — 3 exchanges of overhead for |types| rows
    self_p = {frm: p for frm, to, p in cells if frm == to}
    rows = [(s, pi[s], self_p.get(s, 0)) for s in states]
    schema = T.StructType(
        [
            T.StructField("state", df.schema[type_col].dataType),
            T.StructField("pi_micro", T.LongType()),
            T.StructField("p_self_micro", T.LongType()),
        ]
    )
    return df.sparkSession.createDataFrame(rows, schema).orderBy("state")


def hhi_concentration(
    df: DataFrame,
    group_col: str,
    member_col: str,
    value_col: str,
) -> DataFrame:
    """Herfindahl-Hirschman concentration index per group (Herfindahl
    1950 / Hirschman 1945 — the antitrust market-concentration
    standard): HHI = Σ_i s_i² over member shares s_i within the
    group; 1/n at perfect dispersion, 1.0 at monopoly. Completes the
    inequality panel beside Gini (agg_value_concentration) and Theil
    (theil_index) — HHI is the one that's a simple sum of squares, so
    it's the cheapest to maintain incrementally.

    Engine-exact: member totals are exact longs; each member's
    s² lands on the pico grid (ONE floored expression per member —
    (x/T)²·10¹², the quantized-estimator discipline), the group sum
    is an exact integer, and the reported micro value is one more
    floored division. Two keyed aggs (member then group), a 1-row-
    per-group total join — map-side combinable throughout. Returns
    ``(group, n_members, hhi_micro)``."""
    per = df.groupBy(
        F.col(group_col).alias("grp"), F.col(member_col).alias("_m")
    ).agg(F.sum(F.col(value_col).cast("long")).cast("long").alias("_x"))
    tot = per.groupBy("grp").agg(
        F.sum("_x").cast("long").alias("_t"),
        F.count("*").cast("long").alias("n_members"),
    )
    term = F.floor(
        (F.col("_x").cast("double") / F.col("_t").cast("double"))
        * (F.col("_x").cast("double") / F.col("_t").cast("double"))
        * F.lit(1e12)
        + F.lit(0.5)
    ).cast("long")
    return (
        per.join(tot, "grp")
        .groupBy("grp")
        .agg(
            F.first("n_members").alias("n_members"),
            F.sum(term).cast("long").alias("_s"),
        )
        .select(
            "grp",
            F.col("n_members").cast("long").alias("n_members"),
            F.floor(F.col("_s").cast("double") / F.lit(1e6) + F.lit(0.5))
            .cast("long").alias("hhi_micro"),
        )
        .orderBy("grp")
    )


def qini_uplift(
    df: DataFrame,
    score_col: str,
    treat_col: str,
    outcome_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Qini uplift curve (Radcliffe 2007, "Using control groups to
    target on predicted lift") over score buckets: rank the population
    by a targeting score, then per cumulative top-k bucket report the
    Qini value Q_k = conv_T(k) − conv_C(k)·N_T(k)/N_C(k) — the
    incremental conversions attributable to treating the top k score
    buckets, THE evaluation curve for uplift models (random targeting
    gives a straight line; a good model bows above it).

    Engine-exact and almost all integer: bucket membership comes from
    the quantized score (floor(score·n_buckets), clamped to
    [0, n_buckets−1] at BOTH ends so uncalibrated scores outside
    [0, 1] land in the edge buckets instead of minting spurious
    negative bucket ids — no global rank needed, so no
    single-partition ntile); per-bucket counts and
    conversions are exact longs; cumulative sums run over the
    n_buckets-row metadata table; Q_k is one fixed-order IEEE
    expression per row, milli-floored. Buckets with an empty control
    arm pin Q to the treated conversions alone (documented edge).

    Scale shape: ONE bucket-keyed aggregation over the corpus (n_buckets
    cells), then metadata windows. Returns ``(bucket, n_treat, n_ctrl,
    conv_treat, conv_ctrl, qini_milli)`` — bucket 0 = highest scores."""
    from pyspark.sql import Window

    b = F.greatest(
        F.least(
            F.floor((F.lit(1.0) - F.col(score_col)) * n_buckets).cast("int"),
            F.lit(n_buckets - 1),
        ),
        F.lit(0),
    )
    per = df.select(
        b.alias("bucket"),
        F.col(treat_col).cast("int").alias("_t"),
        F.col(outcome_col).cast("int").alias("_y"),
    ).groupBy("bucket").agg(
        F.sum("_t").cast("long").alias("n_treat"),
        F.sum(F.lit(1) - F.col("_t")).cast("long").alias("n_ctrl"),
        F.sum(F.col("_t") * F.col("_y")).cast("long").alias("conv_treat"),
        F.sum((F.lit(1) - F.col("_t")) * F.col("_y")).cast("long")
        .alias("conv_ctrl"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "bucket",
        "n_treat",
        "n_ctrl",
        "conv_treat",
        "conv_ctrl",
        F.sum("n_treat").over(w).alias("_cnt"),
        F.sum("n_ctrl").over(w).alias("_cnc"),
        F.sum("conv_treat").over(w).alias("_cct"),
        F.sum("conv_ctrl").over(w).alias("_ccc"),
    )
    qini = F.when(
        F.col("_cnc") > 0,
        F.floor(
            (
                F.col("_cct").cast("double")
                - F.col("_ccc").cast("double")
                * F.col("_cnt").cast("double")
                / F.col("_cnc").cast("double")
            )
            * F.lit(1000.0)
            + F.lit(0.5)
        ).cast("long"),
    ).otherwise((F.col("_cct") * 1000).cast("long"))
    return cum.select(
        "bucket", "n_treat", "n_ctrl", "conv_treat", "conv_ctrl",
        qini.alias("qini_milli"),
    ).orderBy("bucket")


def markov_entropy_rate(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    iterations: int = 8,
) -> DataFrame:
    """Entropy rate of the first-order event-type Markov chain
    (Shannon 1948; Cover & Thomas ch. 4): H = −Σ_i π_i Σ_j p_ij ln p_ij
    — bits-per-event unpredictability of user behavior under the
    fitted chain, the one-number complement of markov_stationary (a
    near-zero rate means journeys are script-like; ln|types| means
    uniform chaos). Also reports each state's conditional next-event
    entropy H_i = −Σ_j p_ij ln p_ij.

    Quantized, engine-exact: transition probabilities and the
    stationary vector live on the micro grid (markov_stationary's
    discipline); each cell's −p·ln(p) is micro-floored BEFORE the
    per-state integer sum (the BM25 grid-vs-ulp argument); the rate
    is Σ_i π_i·H_i on exact integers with one final floored division.

    EAGER, like markov_stationary: building the DataFrame runs the
    same Spark job (one user-keyed exchange, then a collect of at
    most |types|² transition cells — more than
    :data:`MARKOV_MAX_CELLS` raise ValueError), iterates π on the
    driver, and runs a second small job over those collected cells for
    the −p·ln(p) terms (JVM ``log``, the value the oracle matches); it
    collects one row per state, so it stays within the same bound. Returns
    one row per state ``(state, pi_micro, h_cond_micro)`` plus the
    'RATE' rollup row carrying the chain's entropy rate in
    h_cond_micro; because of that row, ``state`` is a string column
    and ``type_col`` must be one too."""
    import math

    cells, states, pi = _markov_chain(
        df, user_col, ts_col, type_col, id_col, iterations
    )
    spark = df.sparkSession
    # −p·ln(p) per cell, micro-floored from the micro-grid p. The ln
    # stays IN SPARK (one tiny agg over a local relation of ≤|types|²
    # cells): java.lang.Math.log is the value every oracle row was
    # hash-matched against, and a C-library log could differ in the
    # last ulp right at a floor(+0.5) boundary. Everything around it
    # is exact integer metadata, assembled in Python (the old local-
    # relation joins planned as statistics-free SortMergeJoins).
    cell = spark.createDataFrame(
        [(frm, p) for frm, to, p in cells if p > 0],
        schema="from_type string, _pm long",
    )
    term = F.floor(
        -(F.col("_pm").cast("double") / F.lit(1_000_000.0))
        * F.log(F.col("_pm").cast("double") / F.lit(1_000_000.0))
        * F.lit(1_000_000.0)
        + F.lit(0.5)
    ).cast("long")
    hcond = {
        r["state"]: int(r["h_cond_micro"])
        for r in _collect_bounded(
            cell.groupBy(F.col("from_type").alias("state")).agg(
                F.sum(term).cast("long").alias("h_cond_micro")
            ),
            MARKOV_MAX_CELLS,
            "markov entropy terms",
        )
    }
    per_state = [(s, pi[s], hcond.get(s, 0)) for s in states]
    # empty-input fidelity: the old per_state.agg(F.sum(...)) produced
    # a NULL rate over zero rows (SQL SUM of nothing), not 0
    rate = (
        int(
            math.floor(
                float(sum(p * h for _, p, h in per_state)) / 1_000_000.0 + 0.5
            )
        )
        if per_state
        else None
    )
    return spark.createDataFrame(
        per_state + [("RATE", 1_000_000, rate)],
        schema="state string, pi_micro long, h_cond_micro long",
    ).orderBy("state")


def holt_winters_additive(
    series: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    season_length: int = 7,
    alpha: tuple[int, int] = (1, 4),
    beta: tuple[int, int] = (1, 4),
    gamma: tuple[int, int] = (1, 2),
) -> DataFrame:
    """Holt-Winters ADDITIVE triple exponential smoothing (Winters
    1960; Hyndman & Athanasopoulos FPP §8.3) per group over a
    PRE-AGGREGATED regular integer series — :func:`holt_linear` plus
    the seasonal state the ops forecast actually needs once the
    metric has a weekly/daily cycle:

        l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
        b_t = β(l_t − l_{t−1}) + (1−β) b_{t−1}
        s_t = γ(x_t − l_t)    + (1−γ) s_{t−m}
        x̂_{t+1} = l_t + b_t + s_{t+1−m}

    Engine-exact QUANTIZED recursion (the Viterbi/FastCDC state-carry
    pattern, NOT the impulse-response table — the seasonal lag makes
    the filter time-periodic, so the holt_linear convolution form no
    longer applies): all state lives on the micro grid as longs; each
    smoothing step is integer arithmetic with ONE truncating integer
    division by the rational denominator (Spark ``DIV`` ≡ DuckDB
    ``//`` ≡ trunc-toward-zero — verified), so both engines replay
    the identical integer trajectory. Pinned init: l₁ = x₁·10⁶,
    b₁ = 0, s = 0⃗ (seasonality learned from cycle 2 on).

    Scale shape: the caller's data-sized groupBy already produced the
    period-level series, so the fold here runs over ONE collected
    per-group array (T ≈ tens of periods — metadata); one group-keyed
    exchange, zero Python, the recursion is a single Catalyst
    ``aggregate`` fold per group row. Returns ``(group, order, x,
    level_micro, trend_micro, season_micro, forecast_next_micro)``.
    """
    an, ad = alpha
    bn, bd = beta
    gn, gd = gamma
    m = int(season_length)
    otype = series.schema[order_col].dataType.simpleString()

    def idiv(a: Column, d: int) -> Column:
        # trunc-toward-zero integer division (matches DuckDB //)
        return ((a - (a % F.lit(d))) / F.lit(d)).cast("long")

    ser = series.groupBy(group_col).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(order_col).alias("o"),
                    F.col(value_col).cast("long").alias("x"),
                )
            )
        ).alias("_ser")
    )
    out_t = (
        f"array<struct<o:{otype},x:bigint,lm:bigint,bm:bigint,"
        "sm:bigint,fm:bigint>>"
    )
    acc0 = F.struct(
        F.lit(0).cast("long").alias("n"),
        F.lit(0).cast("long").alias("l"),
        F.lit(0).cast("long").alias("b"),
        F.array_repeat(F.lit(0).cast("long"), m).alias("s"),
        F.lit(None).cast(out_t).alias("out"),
    )

    def step(acc, e):
        t = acc["n"] + 1
        phase = (t - 1) % m
        xm = e["x"] * F.lit(1_000_000)
        sm_prev = F.element_at(acc["s"], (phase + 1).cast("int"))
        first = t == 1
        l_new = F.when(first, xm).otherwise(
            idiv(
                F.lit(an) * (xm - sm_prev)
                + F.lit(ad - an) * (acc["l"] + acc["b"]),
                ad,
            )
        )
        b_new = F.when(first, F.lit(0).cast("long")).otherwise(
            idiv(F.lit(bn) * (l_new - acc["l"]) + F.lit(bd - bn) * acc["b"], bd)
        )
        s_upd = idiv(F.lit(gn) * (xm - l_new) + F.lit(gd - gn) * sm_prev, gd)
        s_new = F.transform(
            acc["s"],
            lambda v, i: F.when(i == phase.cast("int"), s_upd).otherwise(v),
        )
        nxt = t % m
        fc = l_new + b_new + F.element_at(s_new, (nxt + 1).cast("int"))
        row = F.struct(
            e["o"].alias("o"),
            e["x"].alias("x"),
            l_new.alias("lm"),
            b_new.alias("bm"),
            s_upd.alias("sm"),
            fc.alias("fm"),
        )
        return F.struct(
            t.cast("long").alias("n"),
            l_new.alias("l"),
            b_new.alias("b"),
            s_new.alias("s"),
            F.when(acc["out"].isNull(), F.array(row))
            .otherwise(F.concat(acc["out"], F.array(row))).alias("out"),
        )

    folded = ser.select(
        group_col,
        F.aggregate(F.col("_ser"), acc0, step)["out"].alias("_out"),
    )
    return (
        folded.select(group_col, F.explode("_out").alias("_e"))
        .select(
            group_col,
            F.col("_e.o").alias(order_col),
            F.col("_e.x").alias("x"),
            F.col("_e.lm").alias("level_micro"),
            F.col("_e.bm").alias("trend_micro"),
            F.col("_e.sm").alias("season_micro"),
            F.col("_e.fm").alias("forecast_next_micro"),
        )
    )


def roc_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Exact ROC-AUC by the Mann-Whitney U identity with MIDRANK tie
    handling (Hanley & McNeil 1982; Mason & Graham 2002) — the
    model-eval number beside the calibration family: AUC =
    P(score⁺ > score⁻) + ½P(tie), computed from rank sums, never from
    a thresholds sweep. ``score_col`` must be an integer-quantized
    score (rank on a micro-floored margin, not a raw float — the
    repo's quantized-estimator discipline); ``label_col`` is 0/1.

    Engine-exact and all-integer: group scores into distinct-value
    cells (n⁺, n⁻ per cell); with cb = count of strictly-smaller
    scores, every member of a cell has midrank cb + (n+1)/2, so
    2·R⁺ = Σ_cells n⁺·(2·cb + n + 1) — exact longs throughout — and
    AUC = (2R⁺ − n⁺(n⁺+1)) / (2·n⁺·n⁻), micro-floored with one
    integer DIV. Gini = 2·AUC − 1 on the same grid. A degenerate
    single-class input pins AUC to the chance value 500000
    (documented convention, mirrored in oracles).

    Scale shape: ONE score-keyed cell aggregation over the corpus,
    then the scale-safe prefix-sum-offsets pattern
    (ranking.with_global_running_sum — range shuffle + local cumsum +
    numPartitions-row broadcast, no single-reducer sort) over the
    cells, one 1-row rollup. Returns ``(n_pos, n_neg, auc_micro,
    gini_micro)``."""
    from denormalized_spark.operators.ranking import with_global_running_sum

    cells = (
        df.select(
            F.col(score_col).cast("long").alias("s"),
            F.col(label_col).cast("int").alias("_y"),
        )
        .groupBy("s")
        .agg(
            F.sum("_y").cast("long").alias("np"),
            F.sum(F.lit(1) - F.col("_y")).cast("long").alias("nn"),
        )
    )
    c2 = with_global_running_sum(
        cells,
        [F.col("s").asc()],
        F.col("np") + F.col("nn"),
        out_col="_cb",
        exclusive=True,
    )
    roll = c2.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.sum(
            F.col("np")
            * (F.lit(2) * F.col("_cb") + F.col("np") + F.col("nn") + F.lit(1))
        ).cast("long").alias("_r2"),
    )
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.expr(
            "((_r2 - n_pos * (n_pos + 1)) * 1000000)"
            " DIV (2 * n_pos * n_neg)"
        ),
    ).otherwise(F.lit(500_000))
    return roll.select(
        "n_pos",
        "n_neg",
        auc.cast("long").alias("auc_micro"),
        (auc * 2 - F.lit(1_000_000)).cast("long").alias("gini_micro"),
    )


def changepoint_binseg(
    series: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Single-changepoint binary segmentation per group (Scott &
    Knott 1974; the recursion step of binseg/PELT changepoint
    families, Killick et al. 2012) over a PRE-AGGREGATED integer
    series: pick the split that maximizes the between-segment SSE
    reduction — equivalently argmax over splits of Q(s) = S_L²/n_L +
    S_R²/n_R (prefix-sum identity; the total Σx² term is constant).
    The level-shift locator that complements ewma/cusum's sequential
    alarms with a retrospective "WHERE did the mean change" answer.

    Engine-exact ranking: S_L/S_R are exact longs from a group-keyed
    prefix-sum window; Q(s) is ONE fixed-order IEEE expression (two
    divisions + one add) floored to an integer score, and the argmax
    breaks ties on the earlier split — both engines replay the same
    floored ranking (at 100 TB value scales, move S² to DECIMAL(38);
    the cents-level series here stays far inside double's 2⁵³).

    Scale shape: the caller's data-sized groupBy already produced the
    period series; everything here is group-keyed windows over ~T-row
    partitions (never a global sort). Groups with T < 2 have no valid
    split and are omitted. Returns one row per group: ``(group,
    split_order, n_left, n_right, mean_left_milli, mean_right_milli,
    score_floor)`` where ``split_order`` is the first period of the
    right segment."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(F.col(order_col).asc())
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    wall = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    r = series.select(
        F.col(group_col),
        F.col(order_col),
        F.col(value_col).cast("long").alias("_x"),
    ).select(
        group_col,
        order_col,
        F.row_number().over(w).alias("_rk"),
        F.sum("_x").over(wc).cast("long").alias("_sl"),
        F.sum("_x").over(wall).cast("long").alias("_st"),
        F.count("*").over(wall).cast("long").alias("_nt"),
        F.lead(F.col(order_col)).over(w).alias("_next_o"),
    ).filter(F.col("_rk") < F.col("_nt"))
    sl = F.col("_sl").cast("double")
    sr = (F.col("_st") - F.col("_sl")).cast("double")
    nl = F.col("_rk").cast("double")
    nr = (F.col("_nt") - F.col("_rk")).cast("double")
    q_ = sl * sl / nl + sr * sr / nr
    scored = r.withColumn("_q", F.floor(q_).cast("long"))
    best = Window.partitionBy(group_col).orderBy(
        F.desc("_q"), F.asc("_rk")
    )
    return (
        scored.withColumn("_bn", F.row_number().over(best))
        .filter(F.col("_bn") == 1)
        .select(
            group_col,
            F.col("_next_o").alias("split_order"),
            F.col("_rk").alias("n_left"),
            (F.col("_nt") - F.col("_rk")).cast("long").alias("n_right"),
            F.expr("_sl * 1000 DIV _rk").cast("long").alias("mean_left_milli"),
            F.expr("(_st - _sl) * 1000 DIV (_nt - _rk)").cast("long")
            .alias("mean_right_milli"),
            F.col("_q").alias("score_floor"),
        )
        .orderBy(group_col)
    )
