"""Mergeable frequency sketches: Count-Min (Cormode & Muthukrishnan
2005, "An improved data stream summary") as a first-class DataFrame
operator — the constant-size summary behind heavy-hitter detection,
frequency capping, and approximate token statistics over corpora too
large (or too streaming) for an exact groupBy to be kept around.

Design for Spark's execution model:

- The sketch IS a tiny DataFrame ``(cm_row, cm_col, cnt)`` of at most
  depth × width cells — metadata, not data. Cells are SUMS, so the
  sketch is partition-order independent (bit-identical under any
  partitioning / any union order) and MERGEABLE: the sketch of a
  union is the cell-wise sum of the sketches (Agarwal et al. 2012,
  "Mergeable summaries"). That is exactly what a ``groupBy(row,
  col).sum`` over unioned inputs computes — no custom combiner.
- Build cost: one exact per-key partial aggregation (map-side
  combinable — the shuffle carries one row per distinct key per
  partition, NOT the corpus), then each distinct key fans out to
  ``depth`` cells. Summing pre-counted keys into cells is identical
  to incrementing per occurrence, at a fraction of the shuffle.
- Probes broadcast the sketch (≤ depth·width rows) and take the min
  over the key's ``depth`` cells — map-side, scan speed.

Hash family: the repo's portable md5 hash (``operators._hashing``:
first 8 hex chars of ``"cm{row}:" || key``, mod width) —
deterministic across engines, so the DuckDB oracles replay the sketch
bit-for-bit. Guarantees: the estimate never undercounts, and
overcounts by more than 2N/width with probability at most (1/2)^depth.

Reference parity: the reference engine exposes approximate aggregates
(approx_distinct / approx_median — covered by functions/__init__.py);
Count-Min extends that family to point-frequency queries the same way
its DataFusion base would via a sketch UDAF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from denormalized_spark.operators._hashing import md5_int


def cm_hash(key: Column | str, row: int, width: int) -> Column:
    """Row-``row`` bucket of ``key``: md5("cm{row}:" || key) mod width
    — independent-enough hash functions indexed by the row salt, and
    replayable in any engine with md5."""
    return F.pmod(md5_int(key, 8, salt=f"cm{row}:"), F.lit(width))


def count_min(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 512,
    count_col: str | None = None,
) -> DataFrame:
    """Build a depth × width Count-Min sketch of ``key_col``'s
    frequency distribution; returns ``(cm_row, cm_col, cnt)`` with
    only touched cells present (absent cell ≡ 0).

    Pass ``count_col`` to sketch pre-aggregated ``(key, count)`` pairs
    (e.g. a partial count from another pipeline stage) instead of raw
    occurrences. Plan: exact per-key counts first (partial agg), then
    ``depth`` cells per distinct key into a ≤ depth·width-row final
    agg. The result is deterministic and mergeable — see module doc.
    """
    if count_col is None:
        keyed = df.groupBy(F.col(key_col).alias("_k")).agg(F.count("*").alias("_c"))
    else:
        keyed = df.select(F.col(key_col).alias("_k"), F.col(count_col).alias("_c"))
    cells = keyed.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("cm_row"),
                        cm_hash(F.col("_k"), r, width).alias("cm_col"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("_cell"),
        "_c",
    )
    return cells.groupBy(
        F.col("_cell.cm_row").alias("cm_row"), F.col("_cell.cm_col").alias("cm_col")
    ).agg(F.sum("_c").cast("long").alias("cnt"))


def cm_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketches built with the same (depth, width, hash family):
    cell-wise sum. ``sketch(A ∪ B) == cm_merge(sketch(A), sketch(B))``
    exactly — the mergeable-summaries property that lets each shard /
    micro-batch sketch independently."""
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy("cm_row", "cm_col").agg(F.sum("cnt").cast("long").alias("cnt"))


def cm_estimate(
    sketch: DataFrame,
    items: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 512,
    out_col: str = "cm_count",
) -> DataFrame:
    """Point-frequency estimates for every row of ``items``: the min
    over the key's ``depth`` sketch cells (missing cell = 0). The
    sketch is broadcast — probing is a map-side join + a per-key
    ``depth``-row min, scan speed over ``items``."""
    probes = items.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("cm_row"),
                        cm_hash(key_col, r, width).alias("cm_col"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("_cell"),
    ).select(key_col, "_cell.cm_row", "_cell.cm_col")
    return (
        probes.join(F.broadcast(sketch), ["cm_row", "cm_col"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias(out_col))
    )


def cm_heavy_hitters(
    df: DataFrame,
    key_col: str,
    threshold: int,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Keys whose Count-Min estimate reaches ``threshold``, with the
    exact count beside the estimate: ``(key, cm_count, exact_count)``.
    Count-Min never undercounts, so this NEVER misses a true heavy
    hitter — false positives (cm_count ≥ threshold > exact_count) are
    the sketch's documented one-sided error, bounded by 2N/width per
    row with probability (1/2)^depth.

    Batch shape: the candidate set is the exact per-key count table
    (already computed as the sketch's first stage — Catalyst reuses
    the partial agg). In streaming, the same sketch updates
    incrementally (cell sums — see :func:`cm_merge`) while candidates
    come from each micro-batch's keys; the batch form is the
    replayable twin the oracle checks."""
    keyed = df.groupBy(F.col(key_col)).agg(F.count("*").alias("exact_count"))
    sketch = count_min(keyed, key_col, depth, width, count_col="exact_count")
    est = cm_estimate(sketch, keyed, key_col, depth, width)
    return (
        keyed.join(est, key_col)
        .filter(F.col("cm_count") >= threshold)
        .select(key_col, "cm_count", "exact_count")
    )


# ---------------------------------------------------------------------------
# HyperLogLog register table (Flajolet et al. 2007)
# ---------------------------------------------------------------------------

#: alpha_m bias constants (Flajolet et al. 2007, fig. 3)
_HLL_ALPHA = {4: 0.673, 5: 0.697, 6: 0.709}


def _hll_alpha(p: int) -> float:
    return _HLL_ALPHA.get(p, 0.7213 / (1 + 1.079 / (1 << p)))


def hll_registers(df: DataFrame, key_col: str, p: int = 6) -> DataFrame:
    """HyperLogLog register table over ``key_col``: ``(reg, rho)`` with
    ``reg`` = low ``p`` bits of the 60-bit md5 hash and ``rho`` = rank
    of the lowest set bit of the remaining 54 (Flajolet et al. 2007).
    Registers are MAXes, so — like the Count-Min cells — the table is
    bit-identical under any partitioning and mergeable across shards
    with :func:`hll_merge`: sketch per day once, answer month/quarter
    distinct counts forever without rescanning (the thing Spark's
    scalar ``approx_count_distinct`` cannot do). At most ``2^p`` rows:
    metadata. All-integer, replayed exactly by the DuckDB oracle.

    Spark 4's built-in ``hll_sketch_agg``/``hll_union`` is the
    production alternative with the same shape; this register table is
    the engine-portable (and hence oracle-checkable) formulation."""
    m = 1 << p
    h = md5_int(key_col, 15)
    w = F.shiftright(h, p)
    rho = (
        F.when(w == 0, F.lit(61 - p))
        .otherwise(F.bit_count((w.bitwiseAND(-w)) - 1) + 1)
        .cast("long")
    )
    return (
        df.select(h.bitwiseAND(m - 1).alias("reg"), rho.alias("rho"))
        .groupBy("reg")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(*registers: DataFrame) -> DataFrame:
    """Merge register tables built with the same ``p``: per-register
    MAX. ``hll_registers(A ∪ B) == hll_merge(hll(A), hll(B))``
    exactly."""
    u = registers[0]
    for r in registers[1:]:
        u = u.unionByName(r)
    return u.groupBy("reg").agg(F.max("rho").alias("rho"))


def _hll_scale(p: int) -> int:
    """Integer scaling exponent for the exact harmonic sum.

    Terms are accumulated as ``2^(scale - rho)`` with
    ``scale = 62 - p``: the saturated rho is ``61 - p`` (a zero
    hash-suffix), so the smallest term is ``2^1`` (never truncated to
    0 by the long cast), and the full sum is bounded by
    ``m · 2^scale = 2^62`` — inside int64 for every p. For the
    default p=6 this is the historical ``2^56`` scaling, so existing
    oracles replay bit-for-bit."""
    if not (4 <= p <= 16):
        raise ValueError(f"hll: p must be in [4, 16], got {p}")
    return 62 - p


def hll_estimate(registers: DataFrame, p: int = 6) -> DataFrame:
    """Cardinality estimate from a register table: one row
    ``(hll_estimate,)``. The harmonic sum Σ2^-rho is accumulated as
    the INTEGER Σ2^(scale-rho) with scale = 62-p (every term exact,
    the sum ≤ 2^62 — no float order-dependence; a double sum here
    would vary with partition order), then one double division; the
    small-range branch is Flajolet's linear counting ``m·ln(m/V)`` on
    the zero-register count V. Rounded to 4 decimals for the
    cross-engine contract."""
    m = 1 << p
    sc = _hll_scale(p)
    alpha = _hll_alpha(p)
    agg = registers.agg(
        F.sum(F.pow(F.lit(2.0), F.lit(sc) - F.col("rho")).cast("long")).alias("_s"),
        F.count("*").alias("_nz"),
    )
    v = F.lit(m) - F.col("_nz")  # zero registers (absent rows ≡ rho 0)
    s_full = F.col("_s") + v * F.lit(1 << sc)
    raw = F.lit(alpha * m * m * float(1 << sc)) / s_full.cast("double")
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double"))
    est = F.when((raw <= F.lit(2.5 * m)) & (v > 0), lc).otherwise(raw)
    return agg.select(F.round(est, 4).alias("hll_estimate"))


# ---------------------------------------------------------------------------
# KMV bottom-k sketch (Bar-Yossef et al. 2002; Beyer et al. 2007)
# ---------------------------------------------------------------------------

_KMV_SPACE = float(1 << 60)  # the 60-bit md5 hash domain


def kmv_hash(key: Column | str) -> Column:
    """The repo's portable 60-bit md5 hash (first 15 hex chars) — the
    uniform the KMV order statistics are taken over."""
    return md5_int(key, 15)


def kmv_sketch(df: DataFrame, key_col: str, k: int = 64) -> DataFrame:
    """Bottom-k sketch of ``key_col``'s DISTINCT values: the k smallest
    60-bit hashes, one column ``kmv_h`` (Bar-Yossef et al. 2002). The
    k-th order statistic of uniform hashes estimates cardinality
    ((k−1)/h_k normalized); keeping the VALUES — unlike HLL's ranks —
    also supports set operations: union/intersection/Jaccard between
    shards from their sketches alone (Beyer et al. 2007), the
    'how much do these two crawls overlap' probe that needs no join.

    Plan: hash projection → partial-distinct → TakeOrderedAndProject
    (per-partition bottom-k heaps, k rows per partition to the driver
    merge — no global sort). Deterministic (order statistics of exact
    integers) and mergeable: see :func:`kmv_merge`."""
    return (
        df.select(kmv_hash(key_col).alias("kmv_h"))
        .distinct()
        .orderBy(F.asc("kmv_h"))
        .limit(k)
    )


def kmv_merge(k: int, *sketches: DataFrame) -> DataFrame:
    """Merge bottom-k sketches of the same hash family: bottom-k of
    the distinct union. ``kmv_sketch(A ∪ B) == kmv_merge(k, kmv(A),
    kmv(B))`` exactly."""
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.distinct().orderBy(F.asc("kmv_h")).limit(k)


def kmv_distinct_estimate(sketch: DataFrame, k: int = 64) -> DataFrame:
    """Cardinality from a bottom-k sketch: exact |sketch| while the
    set is smaller than k (every distinct hash is present), else the
    unbiased (k−1)/h_k over the unit-normalized k-th smallest hash.
    One row ``(kmv_estimate,)``, rounded to 4 decimals."""
    agg = sketch.agg(F.count("*").alias("_n"), F.max("kmv_h").alias("_hk"))
    est = F.when(F.col("_n") < k, F.col("_n").cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(_KMV_SPACE) / F.col("_hk").cast("double")
    )
    return agg.select(F.round(est, 4).alias("kmv_estimate"))


def kmv_jaccard(sketch_a: DataFrame, sketch_b: DataFrame, k: int = 64) -> DataFrame:
    """Jaccard similarity of two key SETS from their bottom-k sketches
    alone (Beyer et al. 2007): take L = the union's bottom-k (a valid
    sketch of A ∪ B), count members of L present in BOTH sketches;
    J ≈ |L ∩ A ∩ B| / |L|. All inputs are ≤ k-row metadata tables —
    the estimate runs driver-adjacent regardless of corpus size.
    Returns one row ``(kmv_jaccard,)`` rounded to 4 decimals."""
    both = sketch_a.join(sketch_b, "kmv_h")  # hashes seen by both sides
    ell = kmv_merge(k, sketch_a, sketch_b)
    hits = ell.join(both, "kmv_h").agg(F.count("*").alias("_m"))
    size = ell.agg(F.count("*").alias("_l"))
    return hits.crossJoin(F.broadcast(size)).select(
        F.round(F.col("_m").cast("double") / F.col("_l").cast("double"), 4).alias(
            "kmv_jaccard"
        )
    )


def kmv_set_estimates(
    sketch_a: DataFrame, sketch_b: DataFrame, k: int = 64
) -> DataFrame:
    """The full set-operation algebra from two bottom-k sketches alone
    (Beyer et al. 2007, §4 — the theta-sketch framework's KMV core):
    one row ``(est_a, est_b, est_union, kmv_jaccard, est_intersect,
    est_diff_a, est_diff_b)``.

    - ``est_union``: the merged sketch IS a valid sketch of A ∪ B, so
      its (k−1)/h_k estimator applies directly (exact count when the
      union has < k distinct hashes).
    - ``kmv_jaccard``: overlap fraction of the merged bottom-k
      (a uniform sample of the union), as :func:`kmv_jaccard`.
    - ``est_intersect`` = J · |A∪B| (the standard composition), and
      the differences by inclusion-exclusion: |A\\B| = |A| − |A∩B|,
      clamped at 0 (sketch noise can push tiny differences negative).

    Why this matters at 100 TB: two crawls sketch independently at
    scan speed (k rows out each); EVERY pairwise overlap/difference
    question after that combines two k-row metadata tables — no
    cross-corpus join. All order statistics are exact integers; the
    float chain is fixed-order and rounded to 4 decimals, so the
    DuckDB oracle replays it bit-for-bit."""
    a1 = sketch_a.agg(F.count("*").alias("_na"), F.max("kmv_h").alias("_ha"))
    b1 = sketch_b.agg(F.count("*").alias("_nb"), F.max("kmv_h").alias("_hb"))
    ell = kmv_merge(k, sketch_a, sketch_b)
    u1 = ell.agg(F.count("*").alias("_l"), F.max("kmv_h").alias("_hu"))
    both = sketch_a.join(sketch_b, "kmv_h")
    m1 = ell.join(both, "kmv_h").agg(F.count("*").alias("_m"))
    est = lambda n, h: F.when(n < k, n.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(_KMV_SPACE) / h.cast("double")
    )
    j = (
        a1.crossJoin(F.broadcast(b1))
        .crossJoin(F.broadcast(u1))
        .crossJoin(F.broadcast(m1))
    )
    ea = est(F.col("_na"), F.col("_ha"))
    eb = est(F.col("_nb"), F.col("_hb"))
    eu = est(F.col("_l"), F.col("_hu"))
    jac = F.col("_m").cast("double") / F.col("_l").cast("double")
    ei = jac * eu
    return j.select(
        F.round(ea, 4).alias("est_a"),
        F.round(eb, 4).alias("est_b"),
        F.round(eu, 4).alias("est_union"),
        F.round(jac, 4).alias("kmv_jaccard"),
        F.round(ei, 4).alias("est_intersect"),
        F.round(F.greatest(ea - ei, F.lit(0.0)), 4).alias("est_diff_a"),
        F.round(F.greatest(eb - ei, F.lit(0.0)), 4).alias("est_diff_b"),
    )


# ---------------------------------------------------------------------------
# equi-width histogram sketch (mergeable quantiles)
# ---------------------------------------------------------------------------


def hist_sketch(
    df: DataFrame,
    val_col: str,
    lo: float,
    hi: float,
    bins: int = 100,
) -> DataFrame:
    """Equi-width histogram of ``val_col`` over [lo, hi): ``(bin,
    cnt)`` with out-of-range values clamped to the edge bins. The
    fourth classic mergeable summary (counts sum — same contract as
    the Count-Min cells): shards/days histogram independently, any
    union's quantiles come from the summed table. ≤ ``bins`` rows of
    metadata; the build is one projection + partial-agg groupBy at
    scan speed. Bin arithmetic is a single fixed double expression,
    replayed textually by the oracles."""
    x = F.col(val_col).cast("double")
    b = F.floor((x - F.lit(float(lo))) / F.lit(float(hi - lo)) * F.lit(float(bins)))
    b = F.least(F.greatest(b, F.lit(0)), F.lit(bins - 1)).cast("long")
    return df.select(b.alias("bin")).groupBy("bin").agg(
        F.count("*").cast("long").alias("cnt")
    )


def hist_merge(*sketches: DataFrame) -> DataFrame:
    """Merge histograms built with the same (lo, hi, bins): bin-wise
    sum — exact."""
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy("bin").agg(F.sum("cnt").cast("long").alias("cnt"))


def hist_quantiles(
    sketch: DataFrame,
    qs: list[float],
    lo: float,
    hi: float,
    bins: int = 100,
    round_digits: int = 4,
) -> DataFrame:
    """Linearly-interpolated quantile estimates from a histogram
    sketch: one row, a ``q{...}`` column per requested quantile (error
    ≤ one bin width). The cumulative walk is a window over the
    ≤ ``bins``-row sketch — metadata, not data. Integer counts +
    one fixed interpolation expression keep it engine-portable."""
    from pyspark.sql import Window

    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = sketch.select(
        "bin",
        "cnt",
        F.sum("cnt").over(w).alias("_cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("_n"),
    )
    width = (hi - lo) / bins
    outs = []
    for q in qs:
        target = F.lit(float(q)) * F.col("_n").cast("double")
        # first bin whose cumulative count reaches the target
        hit = cum.filter(F.col("_cum").cast("double") >= target).orderBy("bin").limit(1)
        est = (
            F.lit(float(lo))
            + (
                F.col("bin").cast("double")
                + (target - (F.col("_cum") - F.col("cnt")).cast("double"))
                / F.col("cnt").cast("double")
            )
            * F.lit(float(width))
        )
        name = f"q{str(q).replace('.', '_')}"
        outs.append(hit.select(F.round(est, round_digits).alias(name)))
    res = outs[0]
    for o in outs[1:]:
        res = res.crossJoin(F.broadcast(o))
    return res


def hist_sketch_grouped(
    df: DataFrame,
    val_col: str,
    group_cols: list[str],
    lo: float,
    hi: float,
    bins: int = 100,
) -> DataFrame:
    """Per-group equi-width histogram: ``(*group_cols, bin, cnt)`` —
    one partial-agg groupBy for ALL groups at once (≤ bins rows per
    group). The grouped form of :func:`hist_sketch`; merge rule is
    the same bin-wise sum per group."""
    x = F.col(val_col).cast("double")
    b = F.floor((x - F.lit(float(lo))) / F.lit(float(hi - lo)) * F.lit(float(bins)))
    b = F.least(F.greatest(b, F.lit(0)), F.lit(bins - 1)).cast("long")
    return (
        df.select(*group_cols, b.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def hist_quantiles_grouped(
    sketch: DataFrame,
    qs: list[float],
    group_cols: list[str],
    lo: float,
    hi: float,
    bins: int = 100,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group interpolated quantiles from a grouped histogram:
    one row per group with a ``q{...}`` column per quantile. Unlike
    the global form, the cumulative walk is a window PARTITIONED BY
    the group — every stage shuffles on the group key, no
    single-partition exchange anywhere, so this scales to millions of
    groups (each group's state is its ≤ ``bins`` rows)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wg = Window.partitionBy(*group_cols)
    cum = sketch.select(
        *group_cols,
        "bin",
        "cnt",
        F.sum("cnt").over(w).alias("_cum"),
        F.sum("cnt").over(wg).alias("_n"),
    )
    width = (hi - lo) / bins
    outs = []
    for q in qs:
        target = F.lit(float(q)) * F.col("_n").cast("double")
        est = (
            F.lit(float(lo))
            + (
                F.col("bin").cast("double")
                + (target - (F.col("_cum") - F.col("cnt")).cast("double"))
                / F.col("cnt").cast("double")
            )
            * F.lit(float(width))
        )
        name = f"q{str(q).replace('.', '_')}"
        rk = Window.partitionBy(*group_cols).orderBy("bin")
        hit = (
            cum.filter(F.col("_cum").cast("double") >= target)
            .withColumn("_rn", F.row_number().over(rk))
            .filter(F.col("_rn") == 1)
            .select(*group_cols, F.round(est, round_digits).alias(name))
        )
        outs.append(hit)
    res = outs[0]
    for o in outs[1:]:
        res = res.join(o, group_cols)
    return res


def hll_registers_grouped(
    df: DataFrame, key_col: str, group_cols: list[str], p: int = 6
) -> DataFrame:
    """Per-group HLL register tables: ``(*group_cols, reg, rho)`` —
    ≤ 2^p rows per group from one grouped partial-agg max. The
    100 TB per-domain-uniques shape: sketch every (day, domain) once,
    answer any rollup later by max-merging registers along either
    dimension."""
    m = 1 << p
    h = md5_int(key_col, 15)
    w = F.shiftright(h, p)
    rho = (
        F.when(w == 0, F.lit(61 - p))
        .otherwise(F.bit_count((w.bitwiseAND(-w)) - 1) + 1)
        .cast("long")
    )
    return (
        df.select(*group_cols, h.bitwiseAND(m - 1).alias("reg"), rho.alias("rho"))
        .groupBy(*group_cols, "reg")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate_grouped(
    registers: DataFrame, group_cols: list[str], p: int = 6
) -> DataFrame:
    """Per-group cardinality estimates from grouped registers: one row
    per group, same integer-exact harmonic sum and linear-counting
    branch as :func:`hll_estimate`, but every aggregate keys on the
    group — no single-partition stage, scales to millions of groups."""
    m = 1 << p
    sc = _hll_scale(p)
    alpha = _hll_alpha(p)
    agg = registers.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), F.lit(sc) - F.col("rho")).cast("long")).alias("_s"),
        F.count("*").alias("_nz"),
    )
    v = F.lit(m) - F.col("_nz")
    s_full = F.col("_s") + v * F.lit(1 << sc)
    raw = F.lit(alpha * m * m * float(1 << sc)) / s_full.cast("double")
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double"))
    est = F.when((raw <= F.lit(2.5 * m)) & (v > 0), lc).otherwise(raw)
    return agg.select(*group_cols, F.round(est, 4).alias("hll_estimate"))


# ---------------------------------------------------------------------------
# Bloom filter (Bloom 1970; mergeable-summaries framing: Agarwal et al. 2012)
# ---------------------------------------------------------------------------


def bloom_hash(key: Column | str, i: int, m_bits: int) -> Column:
    """i-th Bloom bit position of ``key``: md5("bl{i}:" || key) mod
    m_bits — same salted-md5 family as :func:`cm_hash`, replayable in
    any engine with md5."""
    return F.pmod(md5_int(key, 8, salt=f"bl{i}:"), F.lit(m_bits))


def bloom_bits(
    df: DataFrame, key_col: str, m_bits: int = 16384, n_hashes: int = 4
) -> DataFrame:
    """Bloom filter as a set of SET bit positions: one ``(bit,)`` row
    per set bit (absent row ≡ 0) — at most ``m_bits`` rows: metadata.
    Set bits are a SET, so the filter is partition-order independent
    and mergeable by plain union-distinct (bitwise OR):
    ``bloom(A ∪ B) == bloom_merge(bloom(A), bloom(B))`` exactly —
    sketch per shard/day once, answer "definitely not present" probes
    forever. Build: one distinct-key partial agg, then ``n_hashes``
    bit rows per distinct key. False-positive rate at n keys:
    ``(1 − e^(−k·n/m))^k``; size m ≈ 10·n bits for ~1%% at k=4.

    Spark's built-in ``bloom_filter_agg`` is the binary-blob
    production alternative; this row form is the engine-portable
    (and hence oracle-checkable) formulation — same posture as
    :func:`hll_registers` vs ``hll_sketch_agg``."""
    c = F.col(key_col)
    return (
        df.select(
            F.explode(
                F.array(*[bloom_hash(c, i, m_bits) for i in range(n_hashes)])
            ).alias("bit")
        )
        .distinct()
    )


def bloom_merge(*filters: DataFrame) -> DataFrame:
    """Merge filters built with the same (m_bits, n_hashes): union of
    set bits (bitwise OR)."""
    u = filters[0]
    for f_ in filters[1:]:
        u = u.unionByName(f_)
    return u.distinct()


def bloom_probe(
    bits: DataFrame,
    probes: DataFrame,
    key_col: str,
    m_bits: int = 16384,
    n_hashes: int = 4,
) -> DataFrame:
    """Membership probe: ``(key, bloom_member)`` — member iff ALL
    ``n_hashes`` of the key's bits are set (no false negatives; false
    positives at the (1−e^(−kn/m))^k rate). The filter (≤ m_bits
    rows) broadcasts; the probe stream explodes to k rows per key and
    the verdict is one keyed count — map-side join, scan speed.
    Probe keys are deduplicated up front: without the distinct, a key
    appearing twice would contribute 2k joined bits and the
    count == k test would report a FALSE NEGATIVE, violating the
    Bloom guarantee (r10 ADVICE)."""
    c = F.col(key_col)
    pb = probes.select(c.alias(key_col)).distinct().select(
        F.col(key_col),
        F.explode(
            F.array(*[bloom_hash(F.col(key_col), i, m_bits) for i in range(n_hashes)])
        ).alias("bit"),
    )
    hit = pb.join(
        F.broadcast(bits.withColumn("_set", F.lit(1))), "bit", "left"
    )
    return hit.groupBy(key_col).agg(
        (F.count("_set") == F.lit(n_hashes)).alias("bloom_member")
    )


# ---------------------------------------------------------------------------
# Count-Sketch + AMS second moment (Charikar, Chen & Farach-Colton 2002;
# Alon, Matias & Szegedy 1996)
# ---------------------------------------------------------------------------


def cs_sign(key: Column | str, row: int) -> Column:
    """±1 four-wise-ish sign of ``key`` for sketch row ``row``: low bit
    of the FIRST hex char of md5("css{row}:" || key) (the 1-hex-char
    portable hash) — same salted-md5 family."""
    bit = md5_int(key, 1, salt=f"css{row}:") % 2
    return F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1))


def count_sketch(
    df: DataFrame,
    key_col: str,
    depth: int = 5,
    width: int = 64,
    count_col: str | None = None,
) -> DataFrame:
    """Count-Sketch: depth × width SIGNED cell sums
    ``(cs_row, cs_col, cnt)`` — the two-sided cousin of Count-Min
    (unbiased point estimates, and the square of a row is an AMS
    estimator of the second moment). Same build shape as
    :func:`count_min`: exact per-key partial counts, then ``depth``
    signed cells per distinct key. Cells are sums → bit-identical
    under any partitioning and mergeable by cell-wise sum
    (:func:`cs_merge`). Bucket hash reuses :func:`cm_hash` with a
    "cs" salt; the sign is an independent salted bit."""
    if count_col is None:
        keyed = df.groupBy(F.col(key_col).alias("_k")).agg(F.count("*").alias("_c"))
    else:
        keyed = df.select(F.col(key_col).alias("_k"), F.col(count_col).alias("_c"))
    cells = keyed.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("cs_row"),
                        F.pmod(md5_int("_k", 8, salt=f"cs{r}:"), F.lit(width)).alias(
                            "cs_col"
                        ),
                        (cs_sign(F.col("_k"), r) * F.col("_c")).alias("_sc"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("_cell")
    )
    return cells.groupBy(
        F.col("_cell.cs_row").alias("cs_row"), F.col("_cell.cs_col").alias("cs_col")
    ).agg(F.sum("_cell._sc").cast("long").alias("cnt"))


def cs_merge(*sketches: DataFrame) -> DataFrame:
    """Merge Count-Sketches built with the same (depth, width, salt):
    cell-wise sum — signed sums merge exactly like Count-Min's."""
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy("cs_row", "cs_col").agg(F.sum("cnt").cast("long").alias("cnt"))


def cs_f2_estimate(cells: DataFrame, depth: int = 5) -> DataFrame:
    """AMS second-moment estimate from a Count-Sketch: each row's
    Σ cell² is an unbiased estimator of F₂ = Σ f_k² (the self-join
    size — THE cardinality-estimation input for join planning);
    the MEDIAN over ``depth`` rows concentrates it. All-integer
    (signed sums squared), and the median of an odd ``depth`` is the
    exact middle order statistic — taken from a sorted ``depth``-
    element array, so no interpolation semantics can diverge between
    engines. One row ``(f2_estimate,)``."""
    if depth % 2 == 0:
        raise ValueError("cs_f2_estimate: depth must be odd for an exact median")
    rowsums = cells.groupBy("cs_row").agg(
        F.sum(F.col("cnt") * F.col("cnt")).alias("_s2")
    )
    mid = (depth + 1) // 2
    return rowsums.agg(
        F.element_at(F.array_sort(F.collect_list("_s2")), mid).alias("f2_estimate")
    )


def hll_intersect_estimate(
    regs_a: DataFrame, regs_b: DataFrame, p: int = 6
) -> DataFrame:
    """Set-intersection cardinality by inclusion–exclusion over HLL
    sketches: ``|A∩B| ≈ est(A) + est(B) − est(A∪B)`` — the standard
    audience-overlap estimate, and the reason register tables beat
    scalar approx_count_distinct: the union estimate comes from the
    exact register max-merge of sketches you already have, no extra
    pass over either input. Relative error grows with
    ``|A∪B| / |A∩B|`` (the classic caveat — prefer KMV Jaccard
    (:func:`kmv_jaccard`) when the overlap is small). One row:
    ``(est_a, est_b, est_union, est_intersect)``; the final
    difference is an explicit binary HALF_UP on doubles both engines
    derive identically from the 4-decimal component estimates."""
    ea = hll_estimate(regs_a, p).select(F.col("hll_estimate").alias("est_a"))
    eb = hll_estimate(regs_b, p).select(F.col("hll_estimate").alias("est_b"))
    eu = hll_estimate(hll_merge(regs_a, regs_b), p).select(
        F.col("hll_estimate").alias("est_union")
    )
    j = ea.crossJoin(F.broadcast(eb)).crossJoin(F.broadcast(eu))
    inter = (
        F.floor(
            (F.col("est_a") + F.col("est_b") - F.col("est_union")) * 10000
            + F.lit(0.5)
        )
        / 10000
    )
    return j.select("est_a", "est_b", "est_union", inter.alias("est_intersect"))


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters, shard-merged (Misra & Gries 1982;
# mergeability: Agarwal et al. 2012, "Mergeable summaries")
# ---------------------------------------------------------------------------


def misra_gries_merged(
    df: DataFrame,
    key_col: str,
    shard_col: str,
    k: int = 8,
) -> DataFrame:
    """k-counter Misra-Gries heavy-hitter summary built per SHARD and
    merged — the deletion-based counterpart of Count-Min (MG never
    OVERcounts; CM never undercounts; each key's true count lies in
    ``[mg_count, mg_count + error]``). The classic streaming MG is
    order-dependent; this distributed form is DETERMINISTIC because
    each shard's summary is derived from its exact per-key counts:
    subtract the shard's (k+1)-th largest count (the smallest valid
    residual) and keep the positive survivors — a valid k-counter MG
    summary with error ≤ N_shard/(k+1). The Agarwal-et-al merge is
    counter-wise sum, then one more (k+1)-th-largest subtraction on
    the combined table; total undercount ≤ Σ shard residuals + the
    merge residual (returned as ``error_bound`` — per-key certified).

    Plan shape: one exact (shard, key) partial-agg shuffle (corpus-
    linear), per-shard window rank over the count table, then
    everything downstream operates on ≤ shards·k rows of METADATA —
    the final global rank's single partition moves counters, not
    data. Shards must be a data column (day / source / language), so
    the result is partition-layout independent. Returns
    ``(key, mg_count, error_bound)`` for surviving keys."""
    from pyspark.sql.window import Window

    counts = df.groupBy(shard_col, F.col(key_col)).agg(F.count("*").alias("_c"))
    w = Window.partitionBy(shard_col).orderBy(F.desc("_c"), F.asc(key_col))
    rn = F.row_number().over(w)
    ranked = counts.withColumn("_rn", rn)
    res = (
        ranked.filter(F.col("_rn") == k + 1)
        .select(F.col(shard_col), F.col("_c").alias("_r"))
    )
    adj = (
        ranked.filter(F.col("_rn") <= k)
        .join(F.broadcast(res), shard_col, "left")
        .select(
            key_col,
            (F.col("_c") - F.coalesce("_r", F.lit(0))).alias("_ca"),
            F.coalesce("_r", F.lit(0)).alias("_rs"),
        )
        .filter(F.col("_ca") > 0)
    )
    tot_res = res.agg(F.coalesce(F.sum("_r"), F.lit(0)).alias("_sum_rs"))
    comb = adj.groupBy(key_col).agg(F.sum("_ca").alias("_cc"))
    w2 = Window.orderBy(F.desc("_cc"), F.asc(key_col))
    ranked2 = comb.withColumn("_rn2", F.row_number().over(w2))
    rm = ranked2.filter(F.col("_rn2") == k + 1).select(
        F.col("_cc").alias("_rm")
    )
    out = (
        ranked2.filter(F.col("_rn2") <= k)
        .crossJoin(F.broadcast(rm.agg(F.coalesce(F.max("_rm"), F.lit(0)).alias("_rm"))))
        .crossJoin(F.broadcast(tot_res))
        .select(
            key_col,
            (F.col("_cc") - F.col("_rm")).alias("mg_count"),
            (F.col("_sum_rs") + F.col("_rm")).cast("long").alias("error_bound"),
        )
        .filter(F.col("mg_count") > 0)
    )
    return out


# ---------------------------------------------------------------------------
# t-digest (Dunning & Ertl 2019, "Computing extremely accurate
# quantiles using t-digests"; mergeability: Agarwal et al. 2012)
# ---------------------------------------------------------------------------


def tdigest_scale(q: Column, delta: int) -> Column:
    """Scale function k(q) = (δ/2)·(√q − √(1−q) + 1) ∈ [0, δ].

    Same family as Dunning's k₁ (k₁' ∝ 1/√(q(1−q)); this one's
    derivative is (δ/4)(1/√q + 1/√(1−q)) — identical 1/√q tail
    behavior), chosen over asin-based k₁ for ENGINE PORTABILITY:
    IEEE-754 requires sqrt to be correctly rounded (asin is not), so
    with the operation order pinned below, Spark and DuckDB compute
    bit-identical doubles and cluster assignment can never flip at a
    boundary. Tails get clusters of weight O(δ·√q), i.e. relative
    accuracy where quantiles are extreme — the t-digest property."""
    return F.lit(delta * 0.5) * (F.sqrt(q) - F.sqrt(F.lit(1.0) - q) + F.lit(1.0))


def tdigest_scale_sql(q_expr: str, delta: int) -> str:
    """The oracle replay of :func:`tdigest_scale` — textually the
    same pinned operation order."""
    return f"({delta * 0.5}) * (sqrt({q_expr}) - sqrt(1.0 - ({q_expr})) + 1.0)"


def tdigest_centroids(
    df: DataFrame,
    val_col: str,
    order_extra: list[str] | None = None,
    delta: int = 32,
) -> DataFrame:
    """Build a t-digest over ``val_col``: ≤ ``delta`` centroid rows
    ``(cluster, w, mean_e4, vmin, vmax)`` — the rank-space-accurate
    mergeable quantile summary (relative error at the tails, where
    the equi-width :func:`hist_sketch` is weakest and needs known
    [lo, hi) bounds up front; the t-digest needs none).

    This is the deterministic one-pass MERGING form: rank every value
    under a caller-pinned total order (``order_extra`` are the
    tiebreak columns — required for determinism when values repeat),
    map each rank's midpoint quantile q = (2r−1)/(2n) through the
    scale function, and floor into a cluster. A cluster spanning
    [q₁, q₂] then has k(q₂)−k(q₁) ≤ 1 by construction — exactly the
    t-digest size invariant.

    Scale shape: the global rank is ranking.with_global_row_number
    (range shuffle + local sort + broadcast prefix sums — a
    distributed ORDER BY, no single-reducer stage), then ONE partial-
    agg groupBy onto ≤ delta metadata rows. The ranked relation is
    consumed exactly once (the helper's consumption contract).
    Means are binary-HALF_UP floored at 4 digits (the registry's
    round() hazard pattern)."""
    from denormalized_spark.operators.ranking import with_global_row_number

    extra = [F.col(c).asc() for c in (order_extra or [])]
    x = F.col(val_col).cast("double")
    ranked = with_global_row_number(
        df.select(x.alias("_v"), *(F.col(c) for c in (order_extra or []))),
        order_by=[F.col("_v").asc(), *extra],
        out_col="_r",
        total_col="_n",
    )
    q = (2 * F.col("_r") - 1).cast("double") / (2 * F.col("_n")).cast("double")
    cl = F.least(
        F.greatest(F.floor(tdigest_scale(q, delta)), F.lit(0)),
        F.lit(delta - 1),
    ).cast("long")
    return (
        ranked.select(cl.alias("cluster"), F.col("_v"))
        .groupBy("cluster")
        .agg(
            F.count("*").cast("long").alias("w"),
            (F.floor(F.avg("_v") * 10000 + F.lit(0.5)) / 10000).alias("mean_e4"),
            F.min("_v").alias("vmin"),
            F.max("_v").alias("vmax"),
        )
    )


def tdigest_merge(delta: int, *digests: DataFrame) -> DataFrame:
    """Merge t-digests built with the same ``delta``: union the
    centroid rows, re-rank them by mean (weight-midpoint quantiles),
    and re-cluster through the same scale function — Dunning's
    merging-digest compression applied to centroids instead of raw
    values. The result again satisfies the size invariant; accuracy
    degrades by at most one compression step (the standard t-digest
    merge bound).

    The union is ≤ Σ deltas rows of METADATA, so the unpartitioned
    cumulative window here is a few-KB single task by construction —
    the sanctioned single-partition shape (same class as
    hist_quantiles' walk), never data."""
    from pyspark.sql import Window

    u = digests[0]
    for d in digests[1:]:
        u = u.unionByName(d)
    w_ord = Window.orderBy(
        F.asc("mean_e4"), F.asc("vmin"), F.asc("w"), F.asc("cluster")
    )
    allw = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    c = u.select(
        "w",
        "mean_e4",
        "vmin",
        "vmax",
        (F.sum("w").over(w_ord.rowsBetween(Window.unboundedPreceding, 0))).alias("_cum"),
        F.sum("w").over(allw).alias("_W"),
    )
    qmid = (2 * F.col("_cum") - F.col("w")).cast("double") / (
        2 * F.col("_W")
    ).cast("double")
    cl = F.least(
        F.greatest(F.floor(tdigest_scale(qmid, delta)), F.lit(0)),
        F.lit(delta - 1),
    ).cast("long")
    return (
        c.select(cl.alias("cluster"), "w", "mean_e4", "vmin", "vmax")
        .groupBy("cluster")
        .agg(
            F.sum("w").cast("long").alias("w"),
            (
                F.floor(
                    F.sum(F.col("mean_e4") * F.col("w").cast("double"))
                    / F.sum(F.col("w").cast("double"))
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("mean_e4"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
        )
    )


def tdigest_quantiles(
    centroids: DataFrame, qs: list[float], round_digits: int = 4
) -> DataFrame:
    """Quantile estimates from a t-digest: one row, a ``q{...}``
    column per request. Standard t-digest interpolation — centroid i
    sits at cumulative-weight midpoint mᵢ = cumᵢ − wᵢ/2; the target
    rank t = q·W linearly interpolates between the bracketing
    centroid means, clamping to the first/last mean outside the
    midpoint range. Runs entirely on the ≤ delta-row centroid table
    (metadata; the unpartitioned window is a few-KB single task).
    Every arithmetic step is a pinned-order double chain replayed
    textually by the oracles; the final estimate is binary-HALF_UP
    floored."""
    from pyspark.sql import Window

    w_ord = Window.orderBy("cluster")
    allw = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    c = centroids.select(
        "cluster",
        "w",
        "mean_e4",
        F.sum("w").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)).alias("_cum"),
        F.sum("w").over(allw).alias("_W"),
    ).select(
        "cluster",
        "mean_e4",
        "_W",
        ((2 * F.col("_cum") - F.col("w")).cast("double") / F.lit(2.0)).alias("_mid"),
        F.lead("mean_e4").over(w_ord).alias("_nmean"),
        F.lead((2 * F.col("_cum") - F.col("w")).cast("double") / F.lit(2.0), 1).over(
            w_ord
        ).alias("_nmid"),
    )
    outs = []
    for q in qs:
        t_ = F.lit(float(q)) * F.col("_W").cast("double")
        # bracketing row: _mid <= t < _nmid (or the edges)
        hit = (
            c.filter(
                (F.col("_mid") <= t_)
                & (F.col("_nmid").isNotNull())
                & (t_ < F.col("_nmid"))
            )
            .orderBy("cluster")
            .limit(1)
        )
        est = F.col("mean_e4") + (t_ - F.col("_mid")) / (
            F.col("_nmid") - F.col("_mid")
        ) * (F.col("_nmean") - F.col("mean_e4"))
        name = f"q{str(q).replace('.', '_')}"
        scale = 10 ** round_digits
        interp = hit.select(
            (F.floor(est * scale + F.lit(0.5)) / scale).alias(name)
        )
        # clamp: below the first midpoint -> first mean; at/above the
        # last midpoint (the row with no successor) -> last mean.
        # Midpoints are strictly increasing (w > 0), so the three
        # cases are mutually exclusive and the union has exactly 1 row.
        lo_case = c.orderBy("cluster").limit(1).filter(t_ < F.col("_mid")).select(
            F.col("mean_e4").alias(name)
        )
        hi_case = (
            c.filter(F.col("_nmid").isNull() & (t_ >= F.col("_mid")))
            .select(F.col("mean_e4").alias(name))
        )
        outs.append(interp.unionByName(lo_case).unionByName(hi_case).limit(1))
    res = outs[0]
    for o in outs[1:]:
        res = res.crossJoin(F.broadcast(o))
    return res


def cm_join_size(
    sketch_a: DataFrame, sketch_b: DataFrame, depth: int = 4
) -> DataFrame:
    """Equi-join cardinality estimate from two Count-Min sketches
    built with the SAME (depth, width, hash family): per sketch row,
    the inner product Σ_col a·b is an upper bound on the true join
    size |A ⋈ B| = Σ_k f_A(k)·f_B(k) (never undercounts — colliding
    keys only add), and the MIN over ``depth`` rows tightens it
    (Alon, Gibbons, Matias & Szegedy 1999 / Cormode & Garofalakis
    2005 — THE sketch a cost-based planner consults before picking a
    join strategy, without scanning either input).

    Pure integer arithmetic on ≤ depth·width metadata cells (the
    equi-join of the two sketches on (row, col) + one depth-row min),
    so it is exact-deterministic and oracle-replayable. Expected
    overestimate ≤ N_A·N_B/width per row."""
    j = sketch_a.alias("a").join(
        sketch_b.alias("b"), ["cm_row", "cm_col"]
    ).select(
        "cm_row",
        (F.col("a.cnt") * F.col("b.cnt")).cast("long").alias("_p"),
    )
    rows = j.groupBy("cm_row").agg(F.sum("_p").cast("long").alias("_ip"))
    # absent rows can't happen with non-empty inputs (every row index
    # gets cells), but guard the min with depth anyway
    return rows.agg(
        F.min("_ip").cast("long").alias("join_size_est"),
        F.count("*").cast("long").alias("rows_used"),
    )


def tdigest_centroids_grouped(
    df: DataFrame,
    group_col: str,
    val_col: str,
    order_extra: list[str] | None = None,
    delta: int = 32,
) -> DataFrame:
    """Per-group t-digest: ≤ ``delta`` centroid rows per group —
    per-domain/per-language tail-accurate quantiles in one pass, the
    grouped twin of :func:`tdigest_centroids` (same scale function,
    same engine-exact sqrt chain). Every stage shuffles on the GROUP
    key: the rank window is PARTITIONED by group (bounded state per
    group — no global sort at all, unlike the global form's range
    partition), then one (group, cluster) partial agg. The same plan
    serves millions of groups; a single degenerate giant group is the
    global form's problem — route it there."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.col(val_col).asc(), *[F.col(c).asc() for c in (order_extra or [])]
    )
    x = F.col(val_col).cast("double")
    ranked = df.select(
        F.col(group_col),
        x.alias("_v"),
        F.row_number().over(w).alias("_r"),
        F.count("*").over(Window.partitionBy(group_col)).alias("_n"),
    )
    q = (2 * F.col("_r") - 1).cast("double") / (2 * F.col("_n")).cast("double")
    cl = F.least(
        F.greatest(F.floor(tdigest_scale(q, delta)), F.lit(0)),
        F.lit(delta - 1),
    ).cast("long")
    return (
        ranked.select(F.col(group_col), cl.alias("cluster"), F.col("_v"))
        .groupBy(group_col, "cluster")
        .agg(
            F.count("*").cast("long").alias("w"),
            (F.floor(F.avg("_v") * 10000 + F.lit(0.5)) / 10000).alias("mean_e4"),
            F.min("_v").alias("vmin"),
            F.max("_v").alias("vmax"),
        )
    )
