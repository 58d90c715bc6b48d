"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of this module): at 100 TB you can never
compare all pairs. The pipeline is

    shingle -> signature (per-row, scan-speed, JVM-only)
            -> band bucket (one shuffle on the band key)
            -> candidate pairs (within-bucket join — tiny buckets)
            -> exact verify (Jaccard on the candidates only)

All hashing is the md5-prefix hash of ``operators._hashing`` and
engine-portable (identical results in Spark and DuckDB, which the
correctness oracles exploit). No Python UDFs anywhere; every stage is
built-in higher-order functions, so the whole signature computation
stays inside whole-stage codegen.

The reference has no dedup operators; Spark's ``dropDuplicates`` /
``dropDuplicatesWithinWatermark`` cover the exact-streaming case.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from denormalized_spark.operators._bucketing import (
    band_owners,
    band_owners_stream,
    bucket_pairs,
    capped_bucket_collect,
)
from denormalized_spark.operators._hashing import md5_int, md5_int_py
from denormalized_spark.operators._memo import memo_column
from denormalized_spark.operators.text import tokens


def _hash64(col: Column, bits: int = 60) -> Column:
    """Portable stable hash: the first ``bits // 4`` md5 hex chars as a
    non-negative long (:func:`~denormalized_spark.operators._hashing.md5_int`)."""
    return md5_int(col, bits // 4)


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a document (string form —
    kept for API/debugging; the hot paths use :func:`shingle_hashes`,
    which never materializes shingle strings)."""
    toks = tokens(text)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)])
    )
    # a doc shorter than n tokens yields its whole text as one shingle
    short = F.array(F.concat_ws(" ", toks))
    return F.array_distinct(F.when(F.size(toks) >= n, grams).otherwise(short))


#: Shingle hashes live in [0, 2^32): small enough that the minhash
#: affine transforms never overflow 64-bit arithmetic.
SHINGLE_MOD = 1 << 32


def shingle_params(j: int) -> int:
    """Deterministic 29-bit positional mixing constant for the j-th
    token of a shingle (md5-derived, engine-portable literal)."""
    return md5_int_py(f"sh_c:{j}", 8) % ((1 << 29) - 1) + 1


def token_hash32(t: Column) -> Column:
    """32-bit token hash: first 8 md5 hex chars."""
    return md5_int(t, 8)


def eval_once(col: Column, build) -> Column:
    """Manual common-subexpression elimination for an array-typed
    subexpression: Catalyst does NOT CSE across higher-order-function
    boundaries, so k Column references to a derived array inline (and
    re-evaluate) its producing subtree k times per row. Wrapping the
    value in a 1-element array and binding it through ``transform``
    evaluates it exactly once; ``build`` receives the bound lambda
    variable, whose references are cheap attribute reads. Shrinks both
    runtime and the whole-stage-codegen tree (~n× for n references)."""
    return F.element_at(F.transform(F.array(col), build), 1)


@memo_column
def shingle_hashes(
    text: Column | str, n: int = 3, unit: str = "word"
) -> Column:
    """Distinct ``unit`` n-gram shingles as 32-bit HASHES — one md5 per
    TOKEN, then positional-constant arithmetic per shingle. The
    string form builds (and copies) a concatenated string per shingle
    and md5s it downstream; this form is pure long arithmetic after
    tokenization — ~5× cheaper at scan time, identical downstream
    semantics (distinct-set membership; 32-bit collisions are ~1e-7
    at document scale and deterministic across engines).

    ``unit="char"`` shingles over CHARACTERS of the raw string
    (spaces included) instead of whitespace words — the typo-robust
    granularity for short strings (names, titles): a one-character
    edit perturbs only ~n char-grams, while it replaces a whole word
    token. One md5 per char, so keep it to short-string columns.
    """
    if unit == "word":
        toks = tokens(text)
    elif unit == "char":
        c = F.col(text) if isinstance(text, str) else text
        toks = F.filter(F.split(c, ""), lambda t: t != F.lit(""))
    else:
        raise ValueError(f"unit must be word|char, got {unit!r}")
    consts = [shingle_params(j) for j in range(n)]
    mod = F.lit(SHINGLE_MOD)

    # IMPORTANT plan shape, two layers:
    # 1. the grams are built by zip_with over n SLICED copies of the
    #    token-hash array — random access (element_at(th, i+j)) inside
    #    a transform lambda re-evaluates the whole transform-over-
    #    tokens subtree once per ELEMENT access: O(tokens × shingles)
    #    md5s, a ~30× slowdown measured at sf0.1;
    # 2. the token-hash array itself is bound ONCE via eval_once — the
    #    n slices + the short-doc branch would otherwise inline the
    #    md5-per-token transform n+1 times per row.
    def _build(th: Column) -> Column:
        sz = F.size(th)
        cnt = F.greatest(sz - (n - 1), F.lit(1))
        slices = [F.slice(th, j + 1, cnt) for j in range(n)]
        # per-term mod keeps every intermediate below 2^33·n < 2^63
        acc = F.zip_with(
            slices[0],
            slices[1],
            lambda x, y: (x * F.lit(consts[0])) % mod + (y * F.lit(consts[1])) % mod,
        )

        def _add_term(c: int):
            return lambda s, z: s + (z * F.lit(c)) % mod

        for j in range(2, n):
            acc = F.zip_with(acc, slices[j], _add_term(consts[j]))
        grams = F.transform(acc, lambda s: s % mod)
        # short doc (< n tokens): one rolling-hash shingle over all tokens
        short = F.array(
            F.aggregate(
                th, F.lit(0).cast("long"), lambda a, h: (a * F.lit(31) + h) % mod
            )
        )
        return F.array_distinct(F.when(sz >= n, grams).otherwise(short))

    return eval_once(F.transform(toks, token_hash32), _build)


def exact_dedup_canonical(
    df: DataFrame, key_col: str, id_col: str
) -> DataFrame:
    """Exact dedup keeping the minimum id as canonical — deterministic
    (unlike dropDuplicates' arbitrary survivor), hence oracle-friendly
    and idempotent across reruns at any scale."""
    return df.groupBy(key_col).agg(
        F.min(id_col).alias("canonical_id"), F.count("*").alias("n_dups")
    )


#: Mersenne prime 2^31−1: modulus of the universal hash family. The
#: modulus must be ~the DOMAIN size so a·x WRAPS it many times — the
#: original 2^61−1 modulus with 29-bit a and 32-bit x never wrapped
#: (a·x < 2^61 ≈ M), leaving the map monotonic in x, so every slot's
#: min was attained by the SAME shingle: k perfectly correlated hash
#: functions (measured: two half-overlapping corpora matched 0/64
#: slots). With M = 2^31−1, a,x < M, a·x < 2^62 fits signed 64-bit in
#: Spark longs AND DuckDB BIGINTs, and wraps ~a times — independent
#: slots, real variance reduction, real banding probabilities.
MERSENNE31 = (1 << 31) - 1


def minhash_params(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for the i-th universal hash
    h_i(x) = (a·(x mod M) + b) mod M, M = 2^31−1: md5-derived
    constants, identical in any engine that embeds them as literals.
    a ∈ [1, M), b ∈ [0, M) — full-range multipliers are what makes
    the slots independent draws (see MERSENNE31)."""
    m = MERSENNE31
    return md5_int_py(f"mh_a:{i}", 15) % (m - 1) + 1, md5_int_py(f"mh_b:{i}", 15) % m


@memo_column
def minhash_signature(
    text: Column | str,
    num_hashes: int = 16,
    shingle_n: int = 3,
    shingle_unit: str = "word",
) -> Column:
    """MinHash signature as array<long>, one min per hash function.

    ONE md5 per shingle (the 32-bit base hash), then ``num_hashes``
    cheap affine transforms (a_i·(h mod M) + b_i mod M, M = 2^31−1) —
    the standard universal-hashing trick that replaces k crypto
    hashes per shingle with one. Computed per-row with higher-order
    functions: no explode, no shuffle, and the md5→affine pipeline is
    portable (the DuckDB oracles recompute it bit-identically).
    Folding the 32-bit shingle hash into Z_M costs one extra mod and
    ~doubles the (negligible, ~2^-31) base collision rate.
    """
    # 32-bit numeric shingles: one md5 per token, arithmetic per
    # shingle — no shingle strings anywhere. The fold into Z_M happens
    # ONCE per shingle here (not per slot inside the zip_with: that
    # would re-pay the mod num_hashes times per shingle)
    mod = F.lit(MERSENNE31)
    base = F.transform(
        shingle_hashes(text, shingle_n, shingle_unit), lambda h: h % mod
    )
    params = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in (minhash_params(i) for i in range(num_hashes))
        ]
    )
    init = F.array_repeat(F.lit(MERSENNE31).cast("long"), num_hashes)
    # single fold: each base hash updates all num_hashes running mins
    return F.aggregate(
        base,
        init,
        lambda acc, h: F.zip_with(
            acc,
            params,
            lambda m, p: F.least(m, (p["a"] * h + p["b"]) % mod),
        ),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    shingle_unit: str = "word",
) -> DataFrame:
    return df.select(
        F.col(id_col),
        minhash_signature(
            text_col, num_hashes, shingle_n, shingle_unit
        ).alias("minhash"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
    shingle_unit: str = "word",
) -> DataFrame:
    """MinHash-LSH candidate pairs: docs sharing ≥1 band bucket.

    banding: ``num_hashes`` split into ``bands`` rows-per-band groups;
    band key = md5 of the slice. One explode (bands per doc — constant
    fan-out), one self-join on (band, band_key).

    ``max_bucket_size`` caps the quadratic blowup from degenerate
    buckets (boilerplate-heavy corpora put thousands of docs in one
    bucket; a b-doc bucket emits b(b-1)/2 pairs). Buckets above the
    cap are dropped before the join via a windowless count-semi-join —
    at 100 TB this is the difference between a bounded shuffle and an
    executor OOM. Docs in a dropped bucket can still pair through
    their other bands (and exact dedup catches full duplicates first).
    """
    banded = _lsh_band_rows(
        df, text_col, [id_col], num_hashes, bands, shingle_n, shingle_unit
    )
    # bucket-collect instead of self-join: the signature subtree would
    # otherwise be evaluated once per join side (no exchange to
    # reuse). One aggregation collects each bucket's ids; pairs are
    # generated per bucket with higher-order functions. Bucket arrays
    # are bounded by max_bucket_size at scale (cap contract:
    # operators/_bucketing.py — over-cap buckets drop WHOLE).
    buckets = capped_bucket_collect(
        banded, ["band", "band_key"], id_col, "_ids", max_bucket_size
    )
    pair_arrays = bucket_pairs(
        F.col("_ids"), lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b"))
    )
    return (
        buckets.select(F.explode(pair_arrays).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def minhash_estimate_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    shingle_unit: str = "word",
) -> DataFrame:
    """Jaccard ESTIMATE from MinHash signature agreement — the
    component-match fraction is an unbiased estimator of Jaccard with
    stderr ≈ sqrt(J(1−J)/k). At extreme scale this replaces the exact
    verify entirely: per candidate pair it touches 2k longs instead of
    two full shingle sets (estimate-only dedup is how corpus-scale
    MinHash pipelines run; raise ``num_hashes`` for tighter bounds).
    Same pair-keyed join shape as the exact verify — work ∝
    candidates."""
    sig = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n, shingle_unit
    )
    a = sig.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("mh_a"))
    b = sig.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("mh_b"))
    matches = F.aggregate(
        F.zip_with("mh_a", "mh_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, m: acc + m,
    )
    return (
        candidates.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (matches.cast("double") / num_hashes).alias("jaccard_est"),
        )
    )


def lsh_bucket_histogram(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    shingle_unit: str = "word",
) -> DataFrame:
    """Bucket-population histogram for the LSH banding above — the
    ops signal for resizing bands/planes before pair generation
    explodes (docs/SCALING.md). Returns (bucket_size, n_buckets,
    n_pairs) where n_pairs = n_buckets · size(size−1)/2."""
    banded = _lsh_band_rows(
        df, text_col, [id_col], num_hashes, bands, shingle_n, shingle_unit
    )
    sizes = banded.groupBy("band", "band_key").agg(F.count("*").alias("bucket_size"))
    return (
        sizes.groupBy("bucket_size")
        .agg(F.count("*").alias("n_buckets"))
        .withColumn(
            "n_pairs",
            F.col("n_buckets") * F.col("bucket_size") * (F.col("bucket_size") - 1) / 2,
        )
        .orderBy(F.desc("bucket_size"))
    )


def duplicated_ngram_rate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document duplicated-content rate: the fraction of a doc's
    distinct word n-grams that appear in at least one OTHER document.
    The corpus-level memorization/boilerplate signal the C4/Gopher/
    RefinedWeb-style pipelines threshold on — complements pairwise
    dedup (a doc can be 60% stitched-together duplicated text without
    having any single near-duplicate partner).

    Returns (id, n_grams, n_shared, dup_gram_rate).

    Plan: one explode of the distinct per-doc gram hashes, ONE shuffle
    on gram for the document-frequency counts, the gram→count join
    reuses that exchange (identical subplan), then a groupBy(id)
    rollup. Gram-keyed shuffle volume ∝ corpus tokens — the same
    budget class as the TF-IDF document-frequency table
    (docs/SCALING.md); no pair generation anywhere.
    """
    grams = df.select(
        F.col(id_col), F.explode(shingle_hashes(text_col, n)).alias("gram")
    )
    # shingle_hashes is per-doc distinct, so count(*) = document freq
    counts = grams.groupBy("gram").agg(F.count("*").alias("_df"))
    return (
        grams.join(counts, "gram")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("_df") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_shared"),
        )
        .withColumn(
            "dup_gram_rate",
            F.round(F.col("n_shared") / F.col("n_grams"), 6),
        )
    )


def gram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct word
    n-grams whose FIRST corpus occurrence (by ascending ``id_col`` —
    the arrival/crawl order) is this document. The incremental-
    contribution signal for dedup-aware corpus growth: a re-crawl or
    boilerplate page scores ~0 even when no single near-duplicate
    partner exists, while genuinely new material scores ~1 — the
    ordered complement of :func:`duplicated_ngram_rate`'s symmetric
    shared-gram rate (what C4/RefinedWeb threshold on).

    Returns (id, n_grams, n_novel, novelty_rate). Every gram has
    exactly one owner (min is unique per gram), so
    Σ n_novel = |distinct grams| — a useful audit identity.

    Plan: identical budget to duplicated_ngram_rate — one explode of
    the per-doc distinct gram hashes, ONE gram-keyed shuffle for the
    min-owner table, the gram→owner join reuses that exchange
    (identical subplan), then a groupBy(id) rollup. min() is
    partial-aggregated map-side like any algebraic agg; no pair
    generation, no ordering dependence beyond the id column itself.
    """
    grams = df.select(
        F.col(id_col), F.explode(shingle_hashes(text_col, n)).alias("gram")
    )
    owners = grams.groupBy("gram").agg(F.min(id_col).alias("_first"))
    return (
        grams.join(owners, "gram")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("_first") == F.col(id_col), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty_rate",
            F.round(F.col("n_novel") / F.col("n_grams"), 6),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    min_jaccard: float = 0.0,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity between document pairs.

    Without ``candidates`` this is the O(n²)-adjacent inverted-index
    join (explode shingles, join on shingle, count shared): correct
    at test scale, quadratic on pathological corpora. At 100 TB pass
    ``candidates=lsh_candidate_pairs(...)``: then the plan joins the
    (id_a, id_b) candidate table against the shingle-set table TWICE
    (id-keyed hash joins) and intersects the two arrays per pair —
    total work ∝ candidates × shingles-per-doc, independent of how
    often shingles co-occur corpus-wide (the inverted-index join, even
    semi-join-gated downstream, still materializes every shingle
    co-occurrence first — shingle-frequency² on repetitive corpora).
    """
    sh = df.select(
        F.col(id_col), shingle_hashes(text_col, shingle_n).alias("shingles")
    ).select(F.col(id_col), "shingles", F.size("shingles").alias("n_sh"))
    if candidates is not None:
        a = sh.select(
            F.col(id_col).alias("id_a"),
            F.col("shingles").alias("sh_a"),
            F.col("n_sh").alias("n_a"),
        )
        b = sh.select(
            F.col(id_col).alias("id_b"),
            F.col("shingles").alias("sh_b"),
            F.col("n_sh").alias("n_b"),
        )
        shared = (
            candidates.select("id_a", "id_b")
            .join(a, "id_a")
            .join(b, "id_b")
            .select(
                "id_a",
                "id_b",
                "n_a",
                "n_b",
                F.size(F.array_intersect("sh_a", "sh_b")).alias("n_shared"),
            )
            # the inverted-index form only ever emits pairs sharing ≥1
            # shingle; keep that contract
            .filter(F.col("n_shared") > 0)
        )
    else:
        exploded = sh.select(id_col, "n_sh", F.explode("shingles").alias("shingle"))
        a = exploded.alias("a")
        b = exploded.alias("b")
        matched = a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        ).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        shared = matched.groupBy("id_a", "id_b", "n_a", "n_b").agg(
            F.count("*").alias("n_shared")
        )
    out = shared.select(
        "id_a",
        "id_b",
        (
            F.col("n_shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
        ).alias("jaccard"),
    )
    if min_jaccard > 0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out


def simhash(text: Column | str, bits: int = 32) -> Column:
    """SimHash over tokens: bit b of the output is 1 when the sum of
    (±1 per token, sign = token-hash bit b) is positive. Hamming
    distance between simhashes approximates cosine similarity of the
    bag-of-words vectors. Per-row, JVM-only.

    Single pass over the token array: the fold accumulator is the
    ``bits``-element vote vector (zip_with adds each token's ±1
    contribution for all bits at once), so the expression tree is
    O(bits + tokens), not the O(bits × tokens) of folding once per
    bit."""
    toks = F.array_distinct(tokens(text))
    hashed = F.transform(toks, lambda t: _hash64(t))
    masks = F.array(*[F.lit(1 << b) for b in range(bits)])
    votes = F.aggregate(
        hashed,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a
            + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    # fold the vote vector into the simhash long: bit b set iff vote>0
    weights = F.array(*[F.lit(1 << b) for b in range(bits)])
    return F.aggregate(
        F.zip_with(
            votes, weights, lambda v, w: F.when(v > 0, w).otherwise(F.lit(0))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    prefix_bits: int = 8,
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket on the top ``prefix_bits``
    (cheap LSH — near-identical docs share the prefix), then verify
    hamming distance within buckets. Replace the single prefix with
    multiple rotated prefixes for higher recall at scale."""
    sh = df.select(F.col(id_col), simhash(text_col, bits).alias("sh"))
    bucketed = sh.withColumn("bucket", F.shiftright("sh", bits - prefix_bits))
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def band_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Persistent LSH band index of a corpus: one (band, band_key,
    owner_id) row per distinct bucket, owner = min id. This is what a
    pipeline STORES between runs (parquet, bucketed by band_key) so
    tomorrow's increment dedups against all of history without
    rescanning it — the index is bucket-count-sized, far smaller than
    the corpus. One shuffle."""
    banded = _lsh_band_rows(df, text_col, [id_col], num_hashes, bands, shingle_n)
    return banded.groupBy("band", "band_key").agg(F.min(id_col).alias("owner_id"))


def near_dedup_incremental(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dedup: gate a NEW batch against the historical
    :func:`band_index` plus itself, without touching the historical
    corpus — the daily-increment pattern (the streaming twin is
    near_dedup_stream; this is its batch form for scheduled loads).

    Semantics, two deterministic phases:
    1. ``dup_of_history``: a new doc sharing ANY band bucket with the
       index is a suspected historical near-dup (same first-claimant
       recall contract as the streaming gate);
    2. the batch gate over the WHOLE increment: survive iff the doc
       owns (min id) ALL its band buckets among the new docs —
       history-dups still claim the buckets they sit in, so a
       same-batch near-dup of a history-dup loses its bucket and is
       dropped, exactly as the one-shot ``near_dedup_batch`` over
       history ∪ increment would drop it (equivalence requires
       history ids to precede increment ids, the usual monotonic-id
       load discipline; pinned by the union-parity test).
    ``kept`` = passed both. Returns ``(flags_df, updated_index)`` —
    flags has one row per new doc; the updated index unions ALL the
    batch's bucket claims in (claimants, not just survivors —
    min-owner merge), because :func:`band_index` itself records every
    historical doc's buckets: a bucket claimed only by a dropped dup
    must stay remembered, or a later increment's near-dup of that
    dropped doc would survive and multi-increment sequences would
    diverge from the one-shot batch gate after the first increment
    (pinned by the multi-increment parity test). The index MUST be
    built with the same ``num_hashes``/``bands``/``shingle_n`` as
    this call — band keys are config-specific.

    Plan: increment-sized band explode, one keyed join against the
    index (at scale: index parquet bucketed by band_key → shuffle-free
    merge join), one band-key window among clean docs, one groupBy.
    History is never re-read.

    Skew posture matches :func:`near_dedup_batch`: the default
    ownership window relies on WindowGroupLimit pushdown (monitor
    buckets with :func:`lsh_bucket_histogram`); ``max_bucket_size``
    switches to the partial-agg (winner, size) plan and exempts
    oversized buckets from the contest (recall-loss direction).
    """
    nb = _lsh_band_rows(new_df, text_col, [id_col], num_hashes, bands, shingle_n)
    out = _incremental_gate(nb, index, id_col, bands, max_bucket_size)
    # ALL batch docs' claims enter the index (band_index records every
    # history doc the same way): buckets claimed only by dropped dups
    # must stay remembered for later increments
    batch_bands = nb.select("band", "band_key", F.col(id_col).alias("owner_id"))
    updated = (
        index.select("band", "band_key", "owner_id")
        .unionAll(batch_bands)
        .groupBy("band", "band_key")
        .agg(F.min("owner_id").alias("owner_id"))
    )
    return out, updated


def _incremental_gate(
    nb: DataFrame,
    index: DataFrame,
    id_col: str,
    bands: int,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The band-level gate of :func:`near_dedup_incremental` over a
    batch's ``(id, band, band_key)`` rows and a ``(band, band_key)``
    index: one row per batch doc with ``dup_of_history``,
    ``batch_survivor`` and ``kept``. Shared with the durable-index
    ``streaming.lsh.LSHDedupMaintainer``."""
    hits = nb.join(
        index.select("band", "band_key", F.lit(True).alias("_hit")),
        ["band", "band_key"],
        "left",
    )
    flags = hits.groupBy(id_col).agg(
        F.max(F.coalesce("_hit", F.lit(False))).alias("dup_of_history")
    )
    # ownership over ALL new docs (history-dups included): they still
    # claim buckets, so their same-batch near-dups are dropped too
    surv = band_owners(
        nb, id_col, [id_col], bands, max_bucket_size=max_bucket_size
    ).select(id_col, F.lit(True).alias("_surv"))
    return flags.join(surv, id_col, "left").select(
        id_col,
        "dup_of_history",
        F.coalesce("_surv", F.lit(False)).alias("batch_survivor"),
        (~F.col("dup_of_history") & F.coalesce("_surv", F.lit(False))).alias(
            "kept"
        ),
    )


def fuzzy_name_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_distance: int = 8,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 2,
    max_bucket_size: int | None = None,
    shingle_unit: str = "word",
) -> DataFrame:
    """STRING-similarity self-join: pairs of rows whose ``name_col``
    values are within ``max_distance`` Levenshtein edits — entity
    near-dup detection over a relational column (product names,
    merchants, authors), the classic fuzzy-match step.

    All-pairs edit distance is O(n²·len²) — never run at scale.
    Plan: the SAME banded-MinHash gate as document dedup, applied to
    the name's word ``shingle_n``-grams (one shuffle on the band
    key), generates candidates; only candidates pay the exact
    ``levenshtein`` verify plus a length-difference shortcut
    (|len(a)−len(b)| > d implies distance > d, so the DP never runs
    on hopeless pairs). Recall follows the usual banding math on
    token overlap — a pair sharing no word n-gram is invisible.
    Pure-typo corpora should gate at CHARACTER granularity instead:
    ``shingle_unit="char"`` shingles char n-grams of the raw string,
    so a one-letter edit perturbs only ~shingle_n grams instead of
    deleting a whole word token (pinned by the typo test)."""
    cand = lsh_candidate_pairs(
        df.select(F.col(id_col), F.col(name_col).alias("text")),
        id_col,
        "text",
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        max_bucket_size=max_bucket_size,
        shingle_unit=shingle_unit,
    )
    a = df.select(F.col(id_col).alias("id_a"), F.col(name_col).alias("_na"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(name_col).alias("_nb"))
    pairs = cand.join(a, "id_a").join(b, "id_b")
    return (
        pairs.filter(
            F.abs(F.length("_na") - F.length("_nb")) <= max_distance
        )
        .select(
            "id_a",
            "id_b",
            F.col("_na").alias("name_a"),
            F.col("_nb").alias("name_b"),
            F.levenshtein("_na", "_nb").alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
    )


def corpus_minhash(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """ONE-ROW MinHash signature of an entire corpus: per hash
    function, the min over every document's shingles — i.e. the
    signature of the UNION of all shingle sets. The metadata-sized
    fingerprint a pipeline stores per snapshot so corpus-to-corpus
    overlap (:func:`corpus_overlap`) costs two stored rows instead of
    two scans.

    Plan: per-row signatures (scan-speed JVM expressions, the same
    md5+affine family the doc-level stack uses) → one global
    partial-agged min per slot — a single 1-row aggregate; the
    SinglePartition final moves num_hashes longs."""
    sig = df.select(
        minhash_signature(text_col, num_hashes, shingle_n).alias("_mh")
    )
    aggs = [
        F.min(F.element_at("_mh", i + 1)).alias(f"_h{i}")
        for i in range(num_hashes)
    ]
    return sig.agg(*aggs).select(
        F.array(*[f"_h{i}" for i in range(num_hashes)]).alias("corpus_mh")
    )


def corpus_overlap(
    a: DataFrame,
    b: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """Estimated Jaccard overlap between two corpora's shingle SETS —
    the dataset-diff a pipeline runs between snapshots ("how much of
    v2 is v1?") or against a vendor corpus before paying for it. One
    scan per corpus, 1-row output: matching-slot fraction of the two
    corpus MinHash signatures (the standard unbiased estimator; std
    err ≈ 1/√num_hashes, so 64 hashes ≈ ±0.125). For asymmetric
    containment at document granularity use :func:`containment_pairs`;
    this is the corpus-level scalar."""
    ma = corpus_minhash(a, text_col, num_hashes, shingle_n).select(
        F.col("corpus_mh").alias("_a")
    )
    mb = corpus_minhash(b, text_col, num_hashes, shingle_n).select(
        F.col("corpus_mh").alias("_b")
    )
    matches = F.size(
        F.filter(F.zip_with("_a", "_b", lambda x, y: x == y), lambda v: v)
    )
    # 1-row × 1-row crossJoin: metadata, the sanctioned pattern
    return ma.crossJoin(mb).select(
        matches.alias("matching_hashes"),
        F.lit(num_hashes).alias("num_hashes"),
        F.round(matches / F.lit(num_hashes), 6).alias("jaccard_estimate"),
    )


def containment_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    min_containment: float = 0.0,
) -> DataFrame:
    """ASYMMETRIC overlap per candidate pair: containment(A in B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)| — the partial-duplicate
    signal Jaccard misses. A short doc fully quoted inside a long one
    has Jaccard ≈ |A|/|B| (tiny) but containment_a = 1.0; training
    corpora drop or down-weight such supersets/quotes, and benchmark
    decontamination cares about exactly this one-sided inclusion.

    Reference parity: extends the dedup surface of
    py-denormalized/python/denormalized (emit_measurement-style scoring)
    with the standard Broder containment coefficient.

    Scale shape: REQUIRES an LSH candidate table — the pair list is
    candidate-keyed (two id-hash-joins against the shingle-set table,
    per-pair array intersect), so work ∝ candidates × shingles/doc,
    never corpus². Emits max_containment for threshold gating.
    """
    sh = df.select(
        F.col(id_col), shingle_hashes(text_col, shingle_n).alias("shingles")
    ).select(F.col(id_col), "shingles", F.size("shingles").alias("n_sh"))
    a = sh.select(
        F.col(id_col).alias("id_a"),
        F.col("shingles").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    b = sh.select(
        F.col(id_col).alias("id_b"),
        F.col("shingles").alias("sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    shared = (
        candidates.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_a",
            "n_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_shared"),
        )
        .filter(F.col("n_shared") > 0)
    )
    out = shared.select(
        "id_a",
        "id_b",
        (F.col("n_shared").cast("double") / F.col("n_a")).alias("containment_a"),
        (F.col("n_shared").cast("double") / F.col("n_b")).alias("containment_b"),
        F.greatest(
            F.col("n_shared").cast("double") / F.col("n_a"),
            F.col("n_shared").cast("double") / F.col("n_b"),
        ).alias("max_containment"),
    )
    if min_containment > 0:
        out = out.filter(F.col("max_containment") >= min_containment)
    return out


def cluster_representatives(
    df: DataFrame,
    components: DataFrame,
    score: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pick the BEST document per near-dup cluster instead of the
    arbitrary min-id survivor: join the component labels onto the
    corpus, then keep the argmax-``score`` member of each cluster
    (min id as the deterministic tiebreak). Singleton docs (no label —
    never in any pair) represent themselves.

    This is the survivor policy real pipelines want — near-dup groups
    often mix a clean original with mangled scrapes, and 'keep the
    highest quality-score copy' beats 'keep the smallest id'.

    Plan: one broadcast-or-shuffle join of the (id, label) table (tiny
    relative to the corpus — only docs that appear in a pair), then a
    single max_by/min partial-aggregated shuffle on the cluster label.
    No windows, no per-cluster materialization beyond one row.
    """
    from pyspark.sql.types import NumericType

    labeled = df.join(
        components.select(F.col("id").alias(id_col), "label"), id_col, "left"
    ).withColumn("cluster", F.coalesce("label", F.col(id_col)))
    scored = labeled.withColumn("_score", score)
    if isinstance(df.schema[id_col].dataType, NumericType):
        # argmax score, tiebreak min id: max_by over a (score, -id)
        # struct — single partial-aggregated shuffle
        return scored.groupBy("cluster").agg(
            F.max_by(
                F.col(id_col), F.struct(F.col("_score"), (-F.col(id_col)).cast("long"))
            ).alias("representative_id"),
            F.max("_score").alias("best_score"),
            F.count("*").alias("n_members"),
        )
    # non-numeric ids can't be order-inverted inside max_by: rank-limit
    # window (score desc, id asc) — one cluster-keyed shuffle, the
    # per-cluster sort is bounded by cluster size
    from pyspark.sql import Window

    w = Window.partitionBy("cluster").orderBy(F.desc("_score"), F.asc(id_col))
    stats = scored.groupBy("cluster").agg(
        F.max("_score").alias("best_score"), F.count("*").alias("n_members")
    )
    reps = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("cluster", F.col(id_col).alias("representative_id"))
    )
    return reps.join(stats, "cluster").select(
        "cluster", "representative_id", "best_score", "n_members"
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph by
    min-label propagation — upgrades one-pass star dedup (drop the
    larger id of each pair) to TRANSITIVE closure: a chain a~b~c
    collapses to one canonical document even if (a, c) was never
    directly paired.

    Returns (id, component) for every id appearing in ``pairs``,
    where component = the minimum id reachable through the pair graph.

    Plan per iteration: one shuffle of the (symmetrized) edge set
    joined to current labels, a min-aggregate per node, and a
    metadata-sized convergence probe (sum of labels — a single
    aggregated row; it strictly decreases until fixpoint). Label
    frames are ``localCheckpoint``-ed each round so lineage stays
    O(1) instead of O(iterations) — the standard Spark iterative-
    algorithm pattern (MLlib does the same). Converges in
    O(component diameter) rounds; near-dup clusters are shallow
    (dozens of docs), so 3-5 rounds in practice, ``max_iterations``
    bounds adversarial chains.
    """
    sym = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(F.sum("label").alias("s")).collect()[0]["s"]
    for _ in range(max_iterations):
        nbr_min = (
            sym.join(labels, sym["src"] == labels["id"])
            .groupBy(sym["dst"].alias("id"))
            .agg(F.min("label").alias("_nbr"))
        )
        labels = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("_nbr", F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=True)
        )
        # convergence probe: ONE aggregated row to the driver
        s = labels.agg(F.sum("label").alias("s")).collect()[0]["s"]
        if s == prev_sum:
            break
        prev_sum = s
    return labels


@memo_column
def band_structs(minhash_col: Column | str, num_hashes: int, bands: int) -> Column:
    """LSH banding of a minhash signature → array<struct<band int,
    band_key string>> (band key = md5 of the band's signature slice).
    :func:`_lsh_band_rows` explodes it into the band rows every
    MinHash-LSH operator keys on."""
    rows_per_band = num_hashes // bands
    c = F.col(minhash_col) if isinstance(minhash_col, str) else minhash_col
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.array_join(F.slice(c, b * rows_per_band + 1, rows_per_band), ",")
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )


def _lsh_band_rows(
    df: DataFrame,
    text_col: str,
    carry: list[str],
    num_hashes: int,
    bands: int,
    shingle_n: int = 3,
    shingle_unit: str = "word",
) -> DataFrame:
    """MinHash-LSH banding as rows: one ``(band, band_key)`` row per
    band of each doc's signature, after the ``carry`` columns. Every
    MinHash-LSH operator bands through here (candidate pairs, the
    bucket histogram, the band index and the three near-dup gates,
    batch, incremental and stream, plus the durable-index
    maintainer), so they all key on identical buckets. The signature
    is projected once under its own alias before the explode:
    :func:`band_structs` references it once per band, and Spark
    inlines an expression's subtree at every reference."""
    sig = df.select(
        *carry,
        minhash_signature(text_col, num_hashes, shingle_n, shingle_unit).alias(
            "_mh"
        ),
    )
    return sig.select(
        *carry, F.explode(band_structs("_mh", num_hashes, bands)).alias("_bk")
    ).select(*carry, "_bk.band", "_bk.band_key")


def near_dedup_stream(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    event_time: str = "ts",
    *,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    watermark: str = "0 seconds",
    emit_window_ms: int = 60_000,
    payload_cols: tuple = (),
    ts_mode: str = "exact",
) -> DataFrame:
    """Streaming MinHash-LSH near-dup filter: emit only documents that
    claim ALL of their LSH bands first — any band collision with an
    earlier document (within the watermark retention) drops the doc.
    The streaming twin of the batch LSH dedup funnel, as the high-
    recall online gate: LSH false positives can over-drop (no Jaccard
    verify online); run the batch verify pipeline over the survivors
    for the exact refinement.

    Plan: per-row signature + banding (pure JVM expressions, no
    Python), then the shared stream core
    (:func:`~denormalized_spark.operators._bucketing.band_owners_stream`,
    two chained stateful operators, append mode — Spark ≥3.5):
    ``dropDuplicatesWithinWatermark`` on (band, band_key), so state is
    one row per distinct bucket TTL'd by the watermark and the first
    claimant owns the bucket; then a per-doc count over an
    ``emit_window_ms`` window, which only gives append mode a close
    point. A doc that owns all ``bands`` buckets survives.

    Within one micro-batch the bucket owner is arbitrary (matching
    batch LSH, where same-bucket docs form a candidate pair and one
    canonical survivor is kept). State is bounded: distinct buckets ×
    watermark horizon, with no quadratic pair generation anywhere.

    ``ts_mode`` picks the emitted event-time column: ``"exact"``
    (default) is the doc's own event time — but it comes out of an
    aggregate, so Spark no longer treats it as a watermarked
    event-time column and a FURTHER stateful operator downstream
    would drop the gate's output as late. ``"window_time"`` emits
    ``window_time(emit window)`` instead (window end − 1 µs), which
    KEEPS the event-time tag and makes the gate chainable into a
    downstream windowed aggregation in the same query — the
    gate → per-window quality monitor → sink graph. Precision drops
    to the emit window; size ``emit_window_ms`` accordingly.
    """
    banded = _lsh_band_rows(
        df, text_col, [id_col, event_time, *payload_cols], num_hashes, bands,
        shingle_n,
    )
    return band_owners_stream(
        banded, id_col, event_time, bands, watermark, emit_window_ms,
        payload_cols, ts_mode,
    )


def near_dedup_batch(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    event_time: str = "ts",
    *,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    payload_cols: tuple = (),
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Deterministic batch twin of :func:`near_dedup_stream`: each LSH
    bucket is owned by its earliest (event_time, id) claimant; a doc
    survives iff it owns all its bands. Used for stream-vs-batch
    parity tests and backfills that must agree with the online gate.
    One band-key shuffle; no pair generation (the shared batch core,
    :func:`~denormalized_spark.operators._bucketing.band_owners`).

    Skew posture: the default (no cap) keeps each bucket's first row
    through a WindowGroupLimit; a degenerate bucket's rows still land
    on ONE task (monitor with :func:`lsh_bucket_histogram`). For
    corpora where one bucket would swallow a task, ``max_bucket_size``
    flips to a partial-agg plan and exempts any bucket larger than
    the cap from the contest (all members count it as owned — the
    recall-loss direction, mirroring ``lsh_candidate_pairs``: an
    oversized bucket stops discriminating rather than dropping every
    member). With a cap no bucket exceeds it, results equal the
    uncapped gate (pinned by the parity test)."""
    banded = _lsh_band_rows(
        df, text_col, [id_col, event_time, *payload_cols], num_hashes, bands,
        shingle_n,
    )
    return band_owners(
        banded, id_col, [event_time, id_col], bands, payload_cols,
        max_bucket_size,
    )


# ---------------------------------------------------------------------------
# cross-document repeated-passage detection (exact-substring dedup)
# ---------------------------------------------------------------------------

def positional_gram_hashes(text: Column | str, n: int = 5) -> Column:
    """POSITION-ORDERED word n-gram hashes (no dedup, no short-doc
    fallback): element ``i`` is the 32-bit hash of tokens ``[i, i+n)``.
    Same engine-portable arithmetic as :func:`shingle_hashes` (one md5
    per token, positional mixing constants, per-term mod), but keeps
    order and duplicates so the caller can recover SPANS. Docs shorter
    than ``n`` tokens yield an empty array.
    """
    toks = tokens(text)
    consts = [shingle_params(j) for j in range(n)]
    mod = F.lit(SHINGLE_MOD)

    def _build(th: Column) -> Column:
        sz = F.size(th)
        cnt = F.greatest(sz - (n - 1), F.lit(1))
        slices = [F.slice(th, j + 1, cnt) for j in range(n)]
        acc = F.zip_with(
            slices[0],
            slices[1],
            lambda x, y: (x * F.lit(consts[0])) % mod + (y * F.lit(consts[1])) % mod,
        )

        def _add_term(c: int):
            return lambda s, z: s + (z * F.lit(c)) % mod

        for j in range(2, n):
            acc = F.zip_with(acc, slices[j], _add_term(consts[j]))
        grams = F.transform(acc, lambda s: s % mod)
        return F.when(sz >= n, grams).otherwise(F.array().cast("array<long>"))

    return eval_once(F.transform(toks, token_hash32), _build)


def repeated_ngram_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-passage detection — the distributed
    re-expression of exact-substring training-data dedup (Lee et al.
    2022 build a corpus suffix array and drop duplicated >=50-token
    substrings; a suffix array does not shard, n-gram spans do).

    A token n-gram is DUPLICATED when it occurs in >= ``min_docs``
    distinct documents. Per document, overlapping or exactly-adjacent
    duplicated gram positions (gap <= n) are merged into maximal
    spans. Returns one row per span:
    ``(id, span_start, span_end, span_tokens)`` with token indices
    0-based and ``span_end`` exclusive.

    Scale shape (everything JVM-side, rows are (id, pos, gram-int64)):
      1. positional gram hashing at scan speed (no shuffle);
      2. ONE shuffle on gram for the distinct-doc count; ``min_docs``
         kills the singleton-dominated tail at the reducer;
      3. the join-back is gram-keyed on the same key, so the agg-side
         exchange is reused and only surviving grams flow on;
      4. ONE shuffle on id for the span merge (window + running sum).
    Work is linear in corpus tokens; no pairwise comparison exists
    anywhere. Within-doc repeats alone do NOT mark a gram duplicated
    (count is over distinct docs, the published cross-doc setting).

    The reference has no substring-dedup operator; this extends its
    dedup story (SURVEY.md LLM-pipeline mandate).
    """
    from pyspark.sql.window import Window

    g = df.select(
        F.col(id_col),
        F.posexplode(positional_gram_hashes(text_col, n)).alias("pos", "gram"),
    )
    dup = (
        g.groupBy("gram")
        .agg(F.count_distinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("gram")
    )
    hits = g.join(dup, "gram").select(id_col, F.col("pos").cast("long").alias("pos"))
    w = Window.partitionBy(id_col).orderBy("pos")
    prev = F.lag("pos").over(w)
    brk = F.when(prev.isNull() | (F.col("pos") - prev > n), 1).otherwise(0)
    island = F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        hits.withColumn("_isl", island)
        .groupBy(id_col, "_isl")
        .agg(F.min("pos").alias("span_start"), (F.max("pos") + n).alias("span_end"))
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
        )
    )


def strip_repeated_ngrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_docs: int = 2,
    spans: DataFrame | None = None,
) -> DataFrame:
    """Remove duplicated cross-document passages from each document:
    drops every token covered by a :func:`repeated_ngram_spans` span
    and rebuilds the text from the survivors (single-space joined).

    Accepts a precomputed ``spans`` frame so one span discovery can
    feed both reporting and stripping. Adds columns
    ``clean_text``, ``n_tokens``, ``kept_tokens``, ``n_spans``
    (docs with no duplicated span pass through unchanged, 0 spans).

    The span list is collected per doc (spans are merged maximal
    islands, so there are at most tokens/n of them — bounded, small)
    and the token filter is a higher-order function over the token
    array: no Python, no second pass over the corpus.

    Raises if the input already carries any of the four output column
    names — duplicate column names would make downstream selects
    ambiguous.
    """
    clash = {"clean_text", "n_tokens", "kept_tokens", "n_spans"} & set(df.columns)
    if clash:
        raise ValueError(
            f"strip_repeated_ngrams: input already has output column(s) {sorted(clash)}"
        )
    if spans is None:
        spans = repeated_ngram_spans(df, id_col, text_col, n=n, min_docs=min_docs)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans"),
        F.count("*").alias("_n_spans"),
    )
    joined = df.join(per_doc, id_col, "left")
    sp = F.coalesce(
        "_spans", F.array().cast("array<struct<span_start:long,span_end:long>>")
    )
    toks = tokens(text_col)

    def _kept(ts: Column) -> Column:
        return F.filter(
            ts,
            lambda x, i: ~F.exists(
                sp,
                lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
            ),
        )

    kept = eval_once(toks, _kept)
    return (
        joined.withColumn("_kept", kept)
        .select(
            *[c for c in df.columns],
            F.concat_ws(" ", "_kept").alias("clean_text"),
            F.size(toks).cast("long").alias("n_tokens"),
            F.size("_kept").cast("long").alias("kept_tokens"),
            F.coalesce("_n_spans", F.lit(0)).alias("n_spans"),
        )
    )


def prefix_filter_jaccard_join(
    df: DataFrame,
    threshold_pct: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 1,
) -> DataFrame:
    """EXACT Jaccard similarity self-join via prefix + positional
    filtering (AllPairs — Bayardo et al. 2007; positional filter —
    PPJoin, Xiao et al. 2008): every pair with
    token-set Jaccard ≥ t is returned with its exact score — no LSH
    recall loss — without the O(n²) all-pairs join.

    The pruning theorem: sort each doc's distinct tokens by GLOBAL
    document frequency (rarest first); any pair with J ≥ t must share
    a token inside each side's first ``|d| − ⌈t·|d|⌉ + 1`` tokens, so
    candidates come from a self-join on PREFIX tokens only. Because
    prefixes hold each doc's rarest tokens, the join's key
    distribution is the Zipf TAIL — tiny buckets by construction (the
    frequency ordering exists precisely to keep stop-words out of
    prefixes; this is the published reason AllPairs scales without a
    bucket cap). A length filter (t·|a| ≤ |b| ≤ |a|/t) prunes at the
    join, and the exact verify runs ∝ candidates.

    ``threshold_pct`` is the Jaccard threshold in integer PERCENT so
    every comparison is integer arithmetic: ⌈t·s⌉ = (p·s + 99) div
    100, and J ≥ t ⇔ 100·|∩| ≥ p·(|a|+|b|−|∩|) — engine-portable with
    no float boundary anywhere (0.6·5 is 3.0000000000000004 in
    binary; the integer forms cannot drift). The reported ``jaccard``
    column is the exact ratio rounded to 6 digits.

    Scale shape: one token-keyed shuffle for document frequencies,
    one id-keyed shuffle to assemble the frequency-sorted token
    arrays, one prefix-token-keyed candidate join, verify ∝
    candidates. Reference parity: the LSH paths (lsh_candidate_pairs,
    simhash_near_dups) are the approximate tier; this is the exact
    tier for when recall guarantees matter (benchmark dedup,
    eval-set decontamination audits).

    ``ngram`` sets the set ELEMENT: 1 = word tokens, n>1 = word
    n-gram 32-bit HASHES (:func:`shingle_hashes` — grams are never
    materialized as strings; the join keys, the sort, and the verify
    intersect all run on longs, the repo's standard hot-path form;
    collisions ~1e-7 and deterministic across engines). Unigram sets
    saturate on small shared vocabularies (every pair looks similar);
    n≥3 keeps prefix document-frequencies in the Zipf tail even on a
    closed vocabulary."""
    from denormalized_spark.operators.text import tokens

    p = int(threshold_pct)
    if not 0 < p <= 100:
        raise ValueError("prefix_filter_jaccard_join: threshold_pct in (0, 100]")
    elems = (
        F.array_distinct(tokens(text_col))
        if ngram == 1
        else shingle_hashes(text_col, n=ngram)
    )
    tk = df.select(F.col(id_col), F.explode(elems).alias("_tok"))
    freq = tk.groupBy("_tok").agg(F.count("*").alias("_df"))
    ordered = (
        tk.join(freq, "_tok")
        .groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("_df", "_tok"))).alias("_st"),
        )
        .select(
            F.col(id_col),
            F.transform("_st", lambda s: s["_tok"]).alias("_toks"),
            F.size("_st").alias("_sz"),
        )
    )
    pref = ordered.select(
        id_col,
        "_sz",
        F.posexplode(
            F.expr(f"slice(_toks, 1, _sz - (({p} * _sz + 99) div 100) + 1)")
        ).alias("_pos", "_tok"),
    )
    # PPJoin positional filter (Xiao et al. 2008): a shared prefix
    # token at 0-based positions (pa, pb) bounds the overlap by
    # 1 + min(|a|-pa-1, |b|-pb-1); J ≥ t needs overlap ≥
    # ⌈p(|a|+|b|)/(100+p)⌉ — all-integer, prunes candidates only
    # (never a true pair), so the verified OUTPUT is unchanged
    a, b = pref.alias("a"), pref.alias("b")
    alpha = F.expr(
        f"(({p} * (a._sz + b._sz)) + {100 + p} - 1) div {100 + p}"
    )
    ubound = 1 + F.least(
        F.col("a._sz") - F.col("a._pos") - 1, F.col("b._sz") - F.col("b._pos") - 1
    )
    cand = (
        a.join(
            b,
            (F.col("a._tok") == F.col("b._tok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.lit(p) * F.col("a._sz") <= F.lit(100) * F.col("b._sz"))
            & (F.lit(p) * F.col("b._sz") <= F.lit(100) * F.col("a._sz"))
            & (ubound >= alpha),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    x, y = ordered.alias("x"), ordered.alias("y")
    verified = (
        cand.join(x, cand.id_a == F.col(f"x.{id_col}"))
        .join(y, cand.id_b == F.col(f"y.{id_col}"))
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("x._toks", "y._toks")).alias("_i"),
            F.col("x._sz").alias("_sa"),
            F.col("y._sz").alias("_sb"),
        )
        .filter(
            F.lit(100) * F.col("_i")
            >= F.lit(p) * (F.col("_sa") + F.col("_sb") - F.col("_i"))
        )
    )
    return verified.select(
        "id_a",
        "id_b",
        F.round(
            F.col("_i").cast("double")
            / (F.col("_sa") + F.col("_sb") - F.col("_i")).cast("double"),
            6,
        ).alias("jaccard"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003, SIGMOD — the MOSS plagiarism-detection algorithm): hash
    positional token k-grams, slide a window of ``w`` consecutive
    hashes, select the MINIMUM per window (RIGHTMOST occurrence on
    ties — the paper's rule that makes the selection a function of
    local context, so two documents sharing a substring select the
    same fingerprints), emit the distinct ``(fp_hash, pos)``
    selections. Guarantee: any shared run of ≥ w+k−1 tokens shares a
    fingerprint (no false negatives at that length); expected density
    2/(w+1) — a ~64× compression of the gram stream at w=4 that still
    LOCALIZES matches (pos survives), which plain MinHash cannot.

    Plan shape: per-row HOF arithmetic at scan speed — the gram array
    is bound once (``eval_once``), each window costs an O(w) min +
    rightmost-argmin fold — then one explode. No shuffle until the
    caller aggregates. Returns ``(id, fp_hash, pos)``; docs with
    fewer than k+w−1 tokens emit nothing.
    """
    grams = positional_gram_hashes(text_col, k)
    empty = F.array().cast("array<struct<fp_hash:long,pos:long>>")

    def _build(g: Column) -> Column:
        n_win = F.size(g) - (w - 1)
        # guard BEFORE sequence(): Spark's sequence(0, negative)
        # generates a DESCENDING range, not an empty one
        idx = F.when(n_win >= 1, F.sequence(F.lit(0), n_win - 1)).otherwise(
            F.array().cast("array<int>")
        )

        def pick(i: Column) -> Column:
            sl = F.slice(g, i + 1, w)
            mn = F.array_min(sl)
            rj = F.aggregate(
                F.sequence(i, i + w - 1),
                F.lit(-1),
                lambda a, j: F.when(F.element_at(g, j + 1) == mn, j).otherwise(a),
            )
            return F.struct(mn.alias("fp_hash"), rj.cast("long").alias("pos"))

        return F.array_distinct(F.transform(idx, pick))

    sels = eval_once(grams, _build)
    return df.select(
        F.col(id_col), F.explode(sels).alias("_s")
    ).select(id_col, "_s.fp_hash", "_s.pos")


def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
    min_shared: int = 3,
    max_bucket_size: int | None = 64,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints
    — the MOSS overlap report. One fp_hash-keyed bucket-collect
    (:mod:`~denormalized_spark.operators._bucketing` cap contract:
    a fingerprint appearing in more than ``max_bucket_size`` docs is
    boilerplate, dropped whole), per-bucket pair generation, one
    pair-keyed count. Work ∝ Σ bucket² ≤ cap · fingerprints — never
    corpus-quadratic. Returns ``(id_a, id_b, n_shared)``."""
    fps = winnow_fingerprints(df, id_col, text_col, k, w)
    dh = fps.select(id_col, "fp_hash").distinct()
    buckets = capped_bucket_collect(
        dh, ["fp_hash"], id_col, "_ids", max_bucket_size
    )
    pair_arrays = bucket_pairs(
        F.col("_ids"), lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b"))
    )
    return (
        buckets.select(F.explode(pair_arrays).alias("_p"))
        .select("_p.id_a", "_p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def snm_candidate_pairs(
    df: DataFrame,
    sort_key: Column | str,
    window: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Sorted-neighborhood method (Hernández & Stolfo 1995, SIGMOD —
    the classic pre-LSH blocking scheme, still the right tool when a
    meaningful sort key exists): sort the corpus by ``sort_key``,
    slide a window of ``window`` records, emit every pair that
    co-occurs in some window — i.e. pairs within ``window−1``
    positions of each other. Candidates ∝ n·(window−1), linear in the
    corpus; pass the output to an exact verifier (gated Jaccard /
    Levenshtein), same contract as the LSH candidate generators.

    Scale shape — NO single-reducer sort anywhere: global positions
    come from :func:`~denormalized_spark.operators.ranking.
    with_global_row_number` (range repartition + local sort +
    broadcast prefix-sum offsets), then the within-(window−1)
    neighborhood is the ≤2-bin interval-join pattern (each row lands
    in its position block and the previous one; pairs generate inside
    blocks with an exact position filter) — the same bounded-fanout
    shape as the range join. Ties in ``sort_key`` break by ``id_col``
    so the neighborhood is deterministic. Returns
    ``(id_a, id_b, key_a, key_b)`` with id_a preceding id_b."""
    from denormalized_spark.operators.ranking import with_global_row_number

    if window < 2:
        raise ValueError(f"snm_candidate_pairs: window must be >= 2, got {window}")
    k = F.col(sort_key) if isinstance(sort_key, str) else sort_key
    base = df.select(F.col(id_col).alias("_id"), k.alias("_k"))
    rn = with_global_row_number(
        base, [F.col("_k"), F.col("_id")], out_col="_rn"
    )
    w1 = window - 1
    blk = (F.col("_rn") / w1).cast("long")
    two = rn.select(
        "_id", "_k", "_rn", F.explode(F.array(blk, blk + 1)).alias("_blk")
    )
    member = F.struct(
        F.col("_rn").alias("rn"), F.col("_id").alias("id"), F.col("_k").alias("k")
    )
    buckets = two.groupBy("_blk").agg(F.array_sort(F.collect_list(member)).alias("_ms"))
    pair_arrays = bucket_pairs(
        F.col("_ms"),
        lambda x, y: F.struct(
            x["id"].alias("id_a"), y["id"].alias("id_b"),
            x["k"].alias("key_a"), y["k"].alias("key_b"),
            (y["rn"] - x["rn"]).alias("_d"),
        ),
        keep=lambda p: (p["_d"] >= 1) & (p["_d"] <= w1),
    )
    return (
        buckets.select(F.explode(pair_arrays).alias("_p"))
        .select("_p.id_a", "_p.id_b", "_p.key_a", "_p.key_b")
        .distinct()
    )


def weighted_minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    weight_cap: int = 16,
) -> DataFrame:
    """MinHash for WEIGHTED (tf-bag) Jaccard via integer-weight
    expansion (Gollapudi & Panigrahy 2006; Haveliwala et al. 2000):
    each token contributes min(tf, ``weight_cap``) salted copies
    ``token:i``, and plain MinHash over the expanded multiset
    estimates J_w(A,B) = Σ min(tf_A, tf_B) / Σ max(tf_A, tf_B) —
    the similarity a tf-weighted dedup wants (plain set MinHash
    treats "the the the the" and one "the" identically; the weighted
    form does not). The cap bounds expansion on pathological repeats
    and truncates weights identically for both documents, so capped
    J_w is still a proper Jaccard on the truncated bags.

    Plan shape: explode to (doc, token) and count — the standard
    corpus-linear token pass — then a ≤cap constant fan-out per
    DISTINCT (doc, token), one md5 per copy, and ONE doc-keyed
    partial-agg shuffle computing all ``num_hashes`` slot mins
    map-side. Same universal-hash family (Z_{2³¹−1}) as
    :func:`minhash_signature`, so banding/estimation code downstream
    is shared. Returns ``(id, wmh array<long>)``, oracle-exact."""
    from denormalized_spark.operators.text import tokens

    mod = F.lit(MERSENNE31)
    tf = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("_tok"))
        .groupBy(id_col, "_tok")
        .agg(F.count("*").alias("_c"))
    )
    rep = tf.select(
        id_col,
        "_tok",
        F.explode(
            F.sequence(F.lit(1), F.least(F.col("_c"), F.lit(weight_cap)))
        ).alias("_i"),
    )
    h32 = md5_int(F.concat(F.col("_tok"), F.lit(":"), F.col("_i").cast("string")), 8)
    base = (h32 % mod).alias("_h")
    hashed = rep.select(id_col, base)
    aggs = []
    for j in range(num_hashes):
        a, b = minhash_params(j)
        aggs.append(
            F.min((F.lit(a) * F.col("_h") + F.lit(b)) % mod).alias(f"_s{j}")
        )
    slots = hashed.groupBy(id_col).agg(*aggs)
    return slots.select(
        id_col, F.array(*[F.col(f"_s{j}") for j in range(num_hashes)]).alias("wmh")
    )


def fellegi_sunter_scores(
    pairs: DataFrame,
    comparisons: list[tuple[str, "Column", float, float]],
    threshold_micro: int = 0,
) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (Fellegi & Sunter
    1969 — the model behind Splink/commercial MDM): score each
    candidate pair by summing per-field log-likelihood weights,

        agree(field)    → ln(m/u)
        disagree(field) → ln((1−m)/(1−u))

    where m = P(agree | match), u = P(agree | non-match) per field.
    ``comparisons`` is ``[(field_name, agreement_bool_column, m, u)]``;
    output keeps the pair columns and appends one ``agr_<field>``
    boolean per field, the total ``fs_score_micro``, and
    ``is_match = score >= threshold_micro``.

    Engine-exact by construction: weights are PRECOMPUTED in Python
    as micro-nat INTEGERS (the graph.py damping_complement pattern —
    never let each engine evaluate its own ln), so scoring is pure
    integer addition over booleans — bit-identical everywhere and
    trivially oracle-replayable with the same literals.

    Scale shape: this operator is the VERIFY/score stage — map-only
    over whatever candidate stream the blocking stage emitted
    (snm_candidate_pairs, fuzzy_name_pairs, LSH). Never run it on the
    cross product; the blocking operators exist so you don't."""
    import math

    if not comparisons:
        raise ValueError("fellegi_sunter_scores: comparisons must be non-empty")
    out = pairs
    score = F.lit(0).cast("long")
    for name, agree_col, m, u in comparisons:
        if not (0.0 < m < 1.0 and 0.0 < u < 1.0):
            raise ValueError(
                f"fellegi_sunter_scores: m/u for {name!r} must be in (0,1), "
                f"got m={m}, u={u}"
            )
        if m <= u:
            raise ValueError(
                f"fellegi_sunter_scores: m must exceed u for {name!r} "
                f"(agreement must be evidence FOR a match), got m={m}, u={u}"
            )
        w_agree = int(math.floor(math.log(m / u) * 1_000_000 + 0.5))
        w_dis = int(math.floor(math.log((1 - m) / (1 - u)) * 1_000_000 + 0.5))
        flag = f"agr_{name}"
        out = out.withColumn(flag, agree_col)
        score = score + F.when(F.col(flag), F.lit(w_agree)).otherwise(F.lit(w_dis))
    out = out.withColumn("fs_score_micro", score)
    return out.withColumn(
        "is_match", F.col("fs_score_micro") >= F.lit(int(threshold_micro))
    )


def fs_weights_micro(comparisons: list[tuple[str, object, float, float]]) -> dict:
    """The exact integer weights :func:`fellegi_sunter_scores` uses,
    for oracle mirroring: {field: (w_agree_micro, w_disagree_micro)}."""
    import math

    return {
        name: (
            int(math.floor(math.log(m / u) * 1_000_000 + 0.5)),
            int(math.floor(math.log((1 - m) / (1 - u)) * 1_000_000 + 0.5)),
        )
        for name, _c, m, u in comparisons
    }


def paragraph_blocks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_tokens: int = 20,
) -> DataFrame:
    """Non-overlapping ``block_tokens``-token blocks per document
    ("pseudo-paragraphs"), each with a rolling content hash — the
    unit of paragraph-granularity substring dedup. Where the suffix-
    array ExactSubstr of Lee et al. 2021 finds ANY >=50-token repeat,
    block granularity is its distributable fixed-partition relaxation:
    a shared passage of >= 2·k tokens is guaranteed to contain a fully
    shared block, and the gram-keyed shuffle volume drops from
    corpus_tokens (overlapping shingles) to corpus_tokens / k.

    Hashing matches shingle_hashes' short-doc fallback: one md5 per
    token, then the (acc·31 + h) mod 2^32 left fold — pure long
    arithmetic, bit-identical in DuckDB's list_reduce. The trailing
    partial block is kept (duplicate docs share their tails too).

    Scale shape: per-row projection + one posexplode — no shuffle;
    emits ``(id, block_idx, block_hash)``."""
    from denormalized_spark.operators.text import tokens

    toks = tokens(text_col)
    th = F.transform(toks, token_hash32)
    n_blk = F.ceil(F.size(th) / F.lit(block_tokens)).cast("int")
    blocks = F.transform(
        F.sequence(F.lit(0), F.greatest(n_blk - 1, F.lit(0))),
        lambda b: F.aggregate(
            F.slice(th, b * block_tokens + 1, block_tokens),
            F.lit(0).cast("long"),
            lambda acc, x: (acc * 31 + x) % F.lit(SHINGLE_MOD),
        ),
    )
    return df.select(
        F.col(id_col), F.posexplode(blocks).alias("block_idx", "block_hash")
    )


def paragraph_block_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_tokens: int = 20,
) -> DataFrame:
    """Paragraph-level substring dedup report: per document, how many
    of its ``block_tokens``-token blocks also occur in ANOTHER
    document — the passage-reuse signal that doc-level minhash misses
    (a page quoting one viral paragraph scores low doc-Jaccard but
    100% block overlap on that span). Emits only documents with >= 1
    cross-document duplicated block: ``(id, n_blocks, n_dup_blocks,
    dup_frac_milli)``.

    Scale shape: blocks are a scan-side projection (paragraph_blocks,
    no shuffle); duplicated hashes come from ONE block_hash-keyed
    count-distinct-docs aggregation (map-side combine; volume ∝
    corpus_tokens / k); the per-doc rollup joins blocks to the
    duplicated-hash set on the same key and reduces by doc. At 100 TB
    both shuffles are on uniformly-distributed hash keys — no skew."""
    blocks = paragraph_blocks(df, id_col, text_col, block_tokens)
    dup_hashes = (
        blocks.groupBy("block_hash")
        .agg(F.count_distinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("block_hash")
    )
    flagged = blocks.join(
        dup_hashes.withColumn("_dup", F.lit(1)), "block_hash", "left"
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_blocks"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).cast("long")
            .alias("n_dup_blocks"),
        )
        .filter(F.col("n_dup_blocks") > 0)
        .select(
            id_col,
            "n_blocks",
            "n_dup_blocks",
            F.floor(
                (F.col("n_dup_blocks") * 1000).cast("double")
                / F.col("n_blocks").cast("double")
                + F.lit(0.5)
            ).cast("long").alias("dup_frac_milli"),
        )
        .orderBy(id_col)
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    boundary_mod: int = 16,
) -> DataFrame:
    """Content-defined chunking at token granularity: a new chunk
    starts at every token whose 32-bit hash ≡ 0 (mod ``boundary_mod``)
    — the hash-anchored cut rule of CDC dedup (Muthitacharoen et al.
    2001's LBFS; gear/FastCDC are the byte-level descendants), giving
    expected ``boundary_mod``-token chunks whose BOUNDARIES MOVE WITH
    CONTENT: an insertion early in a document shifts fixed blocks
    (paragraph_blocks) permanently out of alignment but re-synchronizes
    CDC chunks at the next anchor — the shift-robustness that makes
    CDC the storage-dedup standard.

    Scale shape: one posexplode (scan-side), one per-doc windowed
    prefix sum for the chunk id (doc-keyed, bounded state), one
    (doc, chunk) grouped ordered fold for the rolling chunk hash —
    all shuffles on the doc key. Emits ``(id, chunk_idx, n_tokens,
    chunk_hash)`` with the same (acc·31 + h) mod 2^32 rolling hash as
    paragraph_blocks, so the two chunkers' outputs are directly
    comparable."""
    from pyspark.sql import Window

    from denormalized_spark.operators.text import tokens

    toks = tokens(text_col)
    ex = df.select(
        F.col(id_col), F.posexplode(F.transform(toks, token_hash32))
        .alias("_pos", "_h")
    )
    w = Window.partitionBy(id_col).orderBy("_pos")
    grp = ex.withColumn(
        "_flag", (F.col("_h") % boundary_mod == 0).cast("int")
    ).withColumn("chunk_idx", F.sum("_flag").over(w).cast("long"))
    per = grp.groupBy(id_col, "chunk_idx").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_h"))),
                lambda s: s["_h"],
            ),
            F.lit(0).cast("long"),
            lambda acc, x: (acc * 31 + x) % F.lit(SHINGLE_MOD),
        ).alias("chunk_hash"),
    )
    return per


def cdc_chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    boundary_mod: int = 16,
) -> DataFrame:
    """Cross-document duplicated-chunk report over CDC chunks — the
    shift-robust twin of :func:`paragraph_block_dedup` (same output
    schema, same duplicated-hash aggregation, chunker swapped), so a
    pipeline can A/B the two chunkers on the same corpus. Returns
    docs with >= 1 cross-document duplicated chunk: ``(id, n_chunks,
    n_dup_chunks, dup_frac_milli)``."""
    chunks = cdc_chunks(df, id_col, text_col, boundary_mod)
    dup_hashes = (
        chunks.groupBy("chunk_hash")
        .agg(F.count_distinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("chunk_hash")
    )
    flagged = chunks.join(
        dup_hashes.withColumn("_dup", F.lit(1)), "chunk_hash", "left"
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).cast("long")
            .alias("n_dup_chunks"),
        )
        .filter(F.col("n_dup_chunks") > 0)
        .select(
            id_col,
            "n_chunks",
            "n_dup_chunks",
            F.floor(
                (F.col("n_dup_chunks") * 1000).cast("double")
                / F.col("n_chunks").cast("double")
                + F.lit(0.5)
            ).cast("long").alias("dup_frac_milli"),
        )
        .orderBy(id_col)
    )


def _fcdc_accept(thb, acc, i, boundary_mod, min_tokens, max_tokens):
    """FastCDC cut-acceptance predicate: a hash boundary past the
    min-size clamp, OR (when ``max_tokens`` is set) a forced cut at
    the max-size clamp."""
    gap = i - F.element_at(acc, -1)
    cond = (F.element_at(thb, i) % boundary_mod == 0) & (gap >= min_tokens)
    if max_tokens is not None:
        cond = cond | (gap >= max_tokens)
    return cond


def fastcdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    boundary_mod: int = 16,
    min_tokens: int = 4,
    max_tokens: int | None = None,
) -> DataFrame:
    """CDC with FastCDC-style minimum chunk size (Xia et al. 2016,
    USENIX ATC "FastCDC"): a hash boundary (token hash ≡ 0 mod
    ``boundary_mod``) is ACCEPTED only if at least ``min_tokens``
    tokens passed since the last accepted cut — the normalization
    that kills :func:`cdc_chunks`' pathological 1-token chunks (which
    collide trivially across documents) while keeping the cut rule
    content-defined, so re-synchronization after edits survives.

    ``max_tokens`` adds FastCDC's other clamp: once ``max_tokens``
    tokens have passed since the last accepted cut, a cut is FORCED
    at that position regardless of the hash — bounding the worst-case
    chunk (a boundary-free run otherwise becomes one document-sized
    chunk, the long tail that blows dedup-index entry sizes). Forced
    cuts re-synchronize lazily (the next hash boundary re-aligns),
    the documented FastCDC trade. ``None`` (default) keeps the
    min-only behavior.

    Boundary acceptance is inherently SEQUENTIAL per document (each
    cut depends on the previous accepted cut), so it runs as a
    per-row array fold — no shuffle, but O(tokens·cuts) per row in
    the chunk-id projection; at book-length documents move this fold
    into a mapInPandas kernel (same recurrence, NumPy-segmented).
    Emits ``(id, chunk_idx, n_tokens, chunk_hash)`` with the shared
    (acc·31 + h) mod 2^32 rolling hash — directly comparable to
    cdc_chunks / paragraph_blocks output."""
    from denormalized_spark.operators.text import tokens

    th = F.transform(tokens(text_col), token_hash32)

    def cuts_of(thb):
        # accepted cut positions (1-based chunk starts; position 1 is
        # the implicit first cut): fold positions 2..n, appending i
        # when th[i] % mod == 0 and i - last_cut >= min_tokens. thb is
        # a BOUND lambda variable — element_at reads are cheap.
        idx = F.sequence(F.lit(2), F.greatest(F.size(thb), F.lit(2)))
        return F.when(
            F.size(thb) >= 2,
            F.aggregate(
                idx,
                F.array(F.lit(1)),
                lambda acc, i: F.when(
                    _fcdc_accept(
                        thb, acc, i, boundary_mod, min_tokens, max_tokens
                    )
                    & (i <= F.size(thb)),
                    F.concat(acc, F.array(i)),
                ).otherwise(acc),
            ),
        ).otherwise(F.array(F.lit(1)))

    # one expression, th and cuts each evaluated ONCE per row
    # (eval_once-bound); emits [(chunk_idx, h) ...] in token order
    zipped = eval_once(
        th,
        lambda thb: eval_once(
            cuts_of(thb),
            lambda cb: F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(thb), F.lit(1))),
                lambda i: F.struct(
                    (F.size(F.filter(cb, lambda c: c <= i)) - 1)
                    .cast("long").alias("cid"),
                    F.element_at(thb, i).alias("h"),
                ),
            ),
        ),
    )
    ex = (
        df.select(F.col(id_col), zipped.alias("_z"))
        .filter(F.size("_z") > 0)
        .select(F.col(id_col), F.posexplode("_z").alias("_pos", "_e"))
        .filter(F.col("_e.h").isNotNull())  # guards the 0-token doc edge
        .select(
            id_col,
            F.col("_e.cid").alias("chunk_idx"),
            F.col("_e.h").alias("_h"),
            "_pos",
        )
    )
    return ex.groupBy(id_col, "chunk_idx").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_h"))),
                lambda s: s["_h"],
            ),
            F.lit(0).cast("long"),
            lambda acc, x: (acc * 31 + x) % F.lit(SHINGLE_MOD),
        ).alias("chunk_hash"),
    )


def fastcdc_chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    boundary_mod: int = 16,
    min_tokens: int = 4,
    max_tokens: int | None = None,
) -> DataFrame:
    """Cross-document duplicated-chunk report over FastCDC chunks —
    same output schema as :func:`cdc_chunk_dedup` and
    :func:`paragraph_block_dedup`, so all three chunkers A/B on the
    same corpus. The min-size clamp removes the 1-token-chunk
    collision class, so its dup fractions are the trustworthy ones;
    ``max_tokens`` (see :func:`fastcdc_chunks`) additionally bounds
    the worst-case chunk."""
    chunks = fastcdc_chunks(
        df, id_col, text_col, boundary_mod, min_tokens, max_tokens
    )
    dup_hashes = (
        chunks.groupBy("chunk_hash")
        .agg(F.count_distinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("chunk_hash")
    )
    flagged = chunks.join(
        dup_hashes.withColumn("_dup", F.lit(1)), "chunk_hash", "left"
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).cast("long")
            .alias("n_dup_chunks"),
        )
        .filter(F.col("n_dup_chunks") > 0)
        .select(
            id_col,
            "n_chunks",
            "n_dup_chunks",
            F.floor(
                (F.col("n_dup_chunks") * 1000).cast("double")
                / F.col("n_chunks").cast("double")
                + F.lit(0.5)
            ).cast("long").alias("dup_frac_milli"),
        )
        .orderBy(id_col)
    )


def bcubed_eval(
    universe: DataFrame,
    sys_pairs: DataFrame,
    gold_pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """B-cubed clustering evaluation (Bagga & Baldwin 1998; the
    extrinsic-constraint-complete metric of Amigó et al. 2009, "A
    comparison of extrinsic clustering evaluation metrics") of a
    SYSTEM dedup clustering against a GOLD one — the CLUSTER-level
    complement of pair-counting F1: per element e, precision(e) =
    |C(e)∩L(e)|/|C(e)| and recall(e) = |C(e)∩L(e)|/|L(e)| where C/L
    are e's system/gold clusters; B³P/B³R average these over ALL
    elements (Amigó's item-weighted form), so over-merging one giant
    cluster is punished per trapped element, which pair-F1
    under-weights.

    Both clusterings come from :func:`connected_components` over the
    given pair frames; elements of ``universe`` absent from a pair
    frame are singletons (their own cluster), the standard treatment.

    Engine-exact integer discipline: since clusters partition the
    universe, |C(e)∩L(e)| for every e in contingency cell (sc, gc) is
    exactly the cell count n, so B³P = Σ_cells n²/|sc| / N. Each
    cell's n²·10⁶ is an exact long, the per-cell division is INTEGER
    DIV (floor), the sums and the final DIV by N are exact — Σ of
    floors, the repo's pinned grid semantics — and F1 =
    2·P·R/(P+R) runs on the micro integers with one final DIV.

    Scale shape: two CC closures (each O(diameter) rounds of an
    edge-keyed shuffle — near-dup clusters are shallow), one
    (sc, gc)-keyed cell agg over the universe, two cluster-size aggs
    on the cell table (cells ≤ clusters, metadata-sized), one 1-row
    rollup. Returns ``(n_docs, n_sys_clusters, n_gold_clusters,
    bcubed_precision_micro, bcubed_recall_micro, bcubed_f1_micro)``."""
    sysl = connected_components(sys_pairs, id_a, id_b).select(
        F.col("id"), F.col("label").alias("_sc")
    )
    goldl = connected_components(gold_pairs, id_a, id_b).select(
        F.col("id"), F.col("label").alias("_gc")
    )
    u = universe.select(F.col(id_col).alias("id"))
    lab = (
        u.join(sysl, "id", "left")
        .join(goldl, "id", "left")
        .select(
            "id",
            F.coalesce("_sc", F.col("id")).cast("long").alias("sc"),
            F.coalesce("_gc", F.col("id")).cast("long").alias("gc"),
        )
    )
    cells = lab.groupBy("sc", "gc").agg(F.count("*").cast("long").alias("n"))
    scs = cells.groupBy("sc").agg(F.sum("n").cast("long").alias("sc_size"))
    gcs = cells.groupBy("gc").agg(F.sum("n").cast("long").alias("gc_size"))
    per = (
        cells.join(scs, "sc")
        .join(gcs, "gc")
        .select(
            "sc",
            "gc",
            "n",
            F.expr("n * n * 1000000 DIV sc_size").cast("long").alias("_p"),
            F.expr("n * n * 1000000 DIV gc_size").cast("long").alias("_r"),
        )
    )
    roll = per.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count_distinct("sc").cast("long").alias("n_sys_clusters"),
        F.count_distinct("gc").cast("long").alias("n_gold_clusters"),
        F.sum("_p").cast("long").alias("_ps"),
        F.sum("_r").cast("long").alias("_rs"),
    )
    bp = F.expr("_ps DIV n_docs")
    br = F.expr("_rs DIV n_docs")
    return roll.select(
        "n_docs",
        "n_sys_clusters",
        "n_gold_clusters",
        bp.cast("long").alias("bcubed_precision_micro"),
        br.cast("long").alias("bcubed_recall_micro"),
        F.when(
            (bp + br) > 0,
            F.expr(
                "(2 * (_ps DIV n_docs) * (_rs DIV n_docs))"
                " DIV ((_ps DIV n_docs) + (_rs DIV n_docs))"
            ),
        ).otherwise(F.lit(0)).cast("long").alias("bcubed_f1_micro"),
    )
