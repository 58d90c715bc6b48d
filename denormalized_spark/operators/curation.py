"""Corpus-curation operators for training-data pipelines:
benchmark decontamination, context-window chunking, and
deterministic mixture sampling.

These extend beyond the reference's surface (it has no curation
operators) per the build goal — they are the steps between "raw
crawl" and "training set" that a 100 TB pipeline runs after dedup
(:mod:`~denormalized_spark.operators.dedup`) and quality scoring
(:mod:`~denormalized_spark.operators.text`).

Scale design:

- ``decontaminate`` never shuffles the corpus: the benchmark n-gram
  set is distinct-ed and BROADCAST (test sets are MBs, corpora are
  TBs), the corpus explode is a flatMap, the contaminated-id set that
  comes back is tiny and broadcast again for the anti-join. Total
  shuffles on the 100 TB side: zero.
- ``chunk_documents`` is a pure projection + explode — scan speed.
- ``mixture_sample`` filters on a deterministic md5 fraction against
  a broadcast rate table — scan speed, reproducible across reruns
  and engines (the DuckDB oracles recompute the same fractions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from denormalized_spark.operators._hashing import md5_int, md5_unit
from denormalized_spark.operators._memo import memo_column
from denormalized_spark.operators.dedup import shingle_hashes
from denormalized_spark.operators.text import tokens


def _bloom_probes(g: Column, bits: int, probes: int) -> list[Column]:
    """``probes`` bit positions in [0, bits) for a 32-bit shingle hash
    ``g``, by double hashing (h1 + i·h2, h2 forced odd so it cycles
    the power-of-two table). Pure long arithmetic, no overflow:
    h1 + i·h2 < (probes + 1)·bits."""
    h1 = g % F.lit(bits)
    h2 = F.lit(1) + F.lit(2) * (F.shiftright(g, 17) % F.lit(bits // 2))
    return [(h1 + F.lit(i) * h2) % F.lit(bits) for i in range(probes)]


def _bench_gram_bloom(
    bench_grams: DataFrame, bits: int, probes: int
) -> DataFrame:
    """1-row DataFrame with a dense ``_bm`` array<long> Bloom bitmap
    (``bits`` bits packed 64/word) over the benchmark gram hashes.
    Built lazily and distributed: gram → probe positions → per-word
    bit_or, then a word grid left-join fills the zero words and one
    metadata-sized collect_list assembles the array (≤ bits/64
    elements — 16K longs at the 2^20 default). The single-partition
    final is the sanctioned 1-row-metadata aggregate pattern."""
    nwords = bits // 64
    spark = bench_grams.sparkSession
    g = F.col("gram")
    positions = bench_grams.select(
        F.explode(F.array(*_bloom_probes(g, bits, probes))).alias("pos")
    ).distinct()
    words = positions.groupBy(
        (F.col("pos") / 64).cast("long").alias("wi")
    ).agg(
        # dynamic shift count: shiftleft() only takes a literal shift,
        # so index a constant-folded 64-entry power-of-two lookup
        # (entry 64 is -2^63, the sign bit, two's-complement exact)
        F.bit_or(
            F.element_at(
                F.array(*[F.lit((1 << k) - (1 << 64 if k == 63 else 0)).cast("long") for k in range(64)]),
                (F.col("pos") % 64).cast("int") + 1,
            )
        ).alias("w")
    )
    # 1 partition: the grid is bits/64 longs of metadata — fanning it
    # across the cluster costs more scheduling than it parallelizes
    grid = spark.range(0, nwords, 1, 1).withColumnRenamed("id", "wi")
    dense = grid.join(F.broadcast(words), "wi", "left").select(
        "wi", F.coalesce("w", F.lit(0).cast("long")).alias("w")
    )
    return dense.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("wi", "w"))), lambda s: s["w"]
        ).alias("_bm")
    )


def _bloom_hit(bm: Column, shingles: Column, bits: int, probes: int) -> Column:
    """True iff ANY shingle has all its probe bits set — i.e. the doc
    MAY share a gram with the benchmark (no false negatives; false
    positives are re-checked exactly downstream). O(probes) element_at
    reads per shingle on the bound bitmap attribute."""

    def _one(g: Column) -> Column:
        hit = F.lit(True)
        for pos in _bloom_probes(g, bits, probes):
            word = F.element_at(bm, (pos / 64).cast("int") + 1)
            hit = hit & (F.getbit(word, (pos % 64).cast("int")) == 1)
        return hit

    return F.exists(shingles, _one)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    return_flags: bool = False,
    prefilter_bits: int | None = None,
    prefilter_probes: int = 3,
    gram_source: DataFrame | None = None,
) -> DataFrame:
    """Remove corpus documents that share any word ``n``-gram with a
    benchmark/eval set (training-set decontamination, the standard
    13-gram-overlap rule; pass smaller ``n`` for small-vocabulary
    corpora).

    Plan shape (the corpus side never shuffles):

    1. benchmark → n-gram hashes (small; broadcast — no distinct:
       LEFT SEMI ignores duplicate build keys, the benchmark side is
       bounded by the eval suite not the corpus, and dedup'ing it
       cost a shuffle + two AQE stages per run for nothing — r14),
    2. corpus → explode n-gram hashes (flatMap, no shuffle) →
       broadcast LEFT SEMI against the benchmark grams,
    3. the surviving (id, gram) rows — only contaminated docs — are
       distinct-ed into a tiny id set, broadcast back, and
    4. corpus LEFT ANTI (or a flag column) against that id set.

    With ``return_flags=True`` the full corpus is returned with a
    boolean ``contaminated`` column instead of being filtered — for
    audit queries that count contamination by source.

    ``prefilter_bits`` (opt-in; 2^20 is a good starting size) gates
    the corpus explode behind a per-row Bloom test: the benchmark grams are folded into a 1-row
    broadcast bitmap, and only documents whose shingle set hits all
    probe bits for ≥1 shingle (possible sharers + Bloom false
    positives) are exploded and exactly re-checked. At 100 TB this is
    the difference between exploding ~n_tokens rows per document for
    the WHOLE corpus and exploding only the contaminated few percent
    — the scan-side test is O(probes) array reads per shingle. Size
    ``bits ≳ 20 × |bench grams|`` to keep it selective (2^20 covers
    ~50k grams; raise for larger eval suites — the bitmap is
    bits/8 bytes, broadcast once). Default ``None`` — at small data
    the extra bloom-build jobs cost more than the explode they avoid;
    enable at corpus scales where the explode dominates (the
    100 TB default). Results are identical either way (no false
    negatives), driver-proven by ``curation_decontaminate_bloom``.

    ``gram_source`` (optional) decouples the contaminated-id probe
    from the filtered stream: when ``corpus`` is itself an expensive
    pipeline (filters, dedup windows), passing the RAW table here
    explodes grams of that cheap scan instead of re-executing the
    pipeline subtree a second time. Any id-superset of ``corpus``
    gives an IDENTICAL result — the anti-join/flag step only consults
    ids that exist in ``corpus``, so extra contaminated ids from
    rows the pipeline already dropped never surface (r14: removed a
    duplicated corpus-wide fingerprint-window shuffle from
    curation_full_funnel's plan this way).

    WARNING: the superset contract is the CALLER'S obligation and is
    only cheaply checkable here (column presence). A ``gram_source``
    that is NOT an id-superset of ``corpus`` with identical text per
    id silently UNDER-decontaminates — contaminated documents pass
    through with no error. When in doubt, pass the raw table both
    pipelines derive from, or leave ``gram_source`` unset.
    """
    bench_grams = benchmark.select(
        F.explode(shingle_hashes(text_col, n)).alias("gram")
    )
    if gram_source is not None:
        missing = {id_col, text_col} - set(gram_source.columns)
        if missing:
            raise ValueError(
                f"decontaminate: gram_source lacks column(s) {sorted(missing)}; "
                f"it must carry the same id/text columns as corpus "
                f"({id_col!r}, {text_col!r}) and be an id-superset of corpus "
                "— a mismatched source silently under-decontaminates"
            )
    explode_src = corpus if gram_source is None else gram_source
    if prefilter_bits:
        # normalize to a multiple of 64: the bitmap packs 64 bits/word
        # and build+probe must agree on the table size — a ragged tail
        # would drop its set bits (Bloom FALSE negatives) or read past
        # the array under ANSI
        prefilter_bits = ((prefilter_bits + 63) // 64) * 64
        bloom = _bench_gram_bloom(bench_grams, prefilter_bits, prefilter_probes)
        explode_src = (
            explode_src.join(F.broadcast(bloom))
            .filter(
                _bloom_hit(
                    F.col("_bm"),
                    shingle_hashes(text_col, n),
                    prefilter_bits,
                    prefilter_probes,
                )
            )
            .drop("_bm")
        )
    doc_grams = explode_src.select(
        F.col(id_col), F.explode(shingle_hashes(text_col, n)).alias("gram")
    )
    contaminated_ids = (
        doc_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
        .select(id_col)
        .distinct()
    )
    if return_flags:
        flagged = contaminated_ids.withColumn("contaminated", F.lit(True))
        return corpus.join(F.broadcast(flagged), id_col, "left").withColumn(
            "contaminated", F.coalesce("contaminated", F.lit(False))
        )
    return corpus.join(F.broadcast(contaminated_ids), id_col, "left_anti")


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 512,
    stride: int | None = None,
    keep_text: bool = True,
) -> DataFrame:
    """Split documents into fixed-size token chunks for context-window
    packing: chunk ``k`` covers tokens ``[k·stride, k·stride +
    chunk_tokens)``; the default stride equals ``chunk_tokens``
    (disjoint chunks), a smaller stride overlaps them (the usual
    sliding-window prep for long-document training).

    Emits one row per (doc, chunk): ``chunk_id`` (0-based), the chunk
    text (tokens re-joined with single spaces), and
    ``n_chunk_tokens``. Every token of every document lands in ≥1
    chunk; trailing fragments shorter than ``chunk_tokens`` are kept.

    Pure projection + explode — no shuffle, scan speed at any corpus
    size. ``keep_text=False`` drops the chunk text and keeps only its
    md5 (for dedup-over-chunks pipelines where the text re-join would
    dominate IO).
    """
    if stride is None:
        stride = chunk_tokens
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = tokens(text_col)
    n_tok = F.size(toks)
    # chunk starts: 0, stride, 2·stride, … < n_tok (empty docs get none)
    starts = F.when(n_tok > 0, F.sequence(F.lit(0), n_tok - 1, F.lit(stride))).otherwise(
        F.array().cast("array<int>")
    )
    chunked = df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                starts,
                lambda s: F.array_join(
                    F.slice(toks, s + 1, chunk_tokens), " "
                ),
            )
        ).alias("chunk_id", "chunk_text"),
    )
    out = chunked.select(
        F.col(id_col),
        "chunk_id",
        *(["chunk_text"] if keep_text else []),
        F.md5("chunk_text").alias("chunk_hash"),
        F.size(F.split("chunk_text", " ")).alias("n_chunk_tokens"),
    )
    return out


def pack_documents(
    df: DataFrame,
    seq_tokens: int,
    id_col: str = "doc_id",
    n_tokens: Column | str = "n_tokens",
    num_partitions: int | None = None,
) -> DataFrame:
    """Concat-and-chop sequence packing: documents are laid end to end
    in ``id_col`` order and the token stream is chopped every
    ``seq_tokens`` — the standard way pre-training batches are packed.
    Each doc gets its global ``token_offset`` plus the first/last
    training sequence it lands in (a doc straddling a boundary spans
    ``first_seq..last_seq``).

    The offset is a corpus-wide running sum — computed scale-safely
    via :func:`~denormalized_spark.operators.ranking.with_global_running_sum`
    (range shuffle + local cumsum + broadcast prefix offsets), never a
    single-reducer global window. At 100 TB you'd typically pack per
    shard instead (drop the global order for a per-partition one);
    this global form is what makes runs bit-reproducible."""
    from denormalized_spark.operators.ranking import with_global_running_sum

    nt = F.col(n_tokens) if isinstance(n_tokens, str) else n_tokens
    out = with_global_running_sum(
        df.withColumn("_nt", nt),
        [F.col(id_col)],
        F.col("_nt"),
        out_col="token_offset",
        exclusive=True,
        num_partitions=num_partitions,
    )
    return (
        out.withColumn(
            "first_seq", (F.col("token_offset") / seq_tokens).cast("long")
        )
        .withColumn(
            "last_seq",
            F.when(F.col("_nt") > 0,
                   ((F.col("token_offset") + F.col("_nt") - 1) / seq_tokens).cast("long"))
            .otherwise((F.col("token_offset") / seq_tokens).cast("long")),
        )
        .drop("_nt")
    )


#: PII scrub patterns: kept to constructs whose semantics agree across
#: Java regex (Spark) and RE2 (DuckDB) so oracles can replay them.
PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
)


def redact_pii(text: Column | str, patterns=PII_PATTERNS) -> Column:
    """Scrub PII-shaped spans (emails, IPv4s, SSN-format numbers) with
    typed placeholder tokens — chained ``regexp_replace``, pure
    projection, scan speed. Order matters: earlier patterns must not
    produce text later ones match."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, repl in patterns:
        c = F.regexp_replace(c, pat, repl)
    return c


@memo_column
def sample_fraction(id_col: Column | str, seed: str = "s0") -> Column:
    """Deterministic per-row uniform fraction in [0, 1): the first 8
    md5 hex chars of ``seed || id`` scaled by 2^-32. Reproducible
    across reruns, partitionings, AND engines (DuckDB computes the
    identical value), unlike ``rand(seed)`` which is
    partition-dependent."""
    return md5_unit(id_col, 8, salt=seed)


def split_assign(
    df: DataFrame,
    weights: dict[str, float],
    group_col: Column | str | None = None,
    id_col: str = "doc_id",
    seed: str = "split0",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test split assignment.

    ``weights`` maps split name → fraction (must sum to ≤ 1; any
    remainder falls into the LAST split). Each row lands in a split by
    its md5 fraction against the cumulative weight boundaries — a
    per-row projection: zero shuffles, reproducible across reruns,
    partitionings, and engines.

    ``group_col`` makes the split GROUP-AWARE: hash that column
    instead of the row id, so every row of a group (near-dup cluster
    label, url domain, author) lands in the SAME split — the standard
    guard against train/test leakage through near-duplicates. Pass
    e.g. the ``label`` from dedup.connected_components.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    key = group_col if group_col is not None else id_col
    frac = sample_fraction(key, seed)
    names = list(weights)
    bounds: list[float] = []
    acc = 0.0
    for n in names[:-1]:
        acc += float(weights[n])
        bounds.append(acc)
    expr = F.lit(names[-1])
    for n, b in zip(reversed(names[:-1]), reversed(bounds)):
        expr = F.when(frac < F.lit(b), F.lit(n)).otherwise(expr)
    return df.withColumn(split_col, expr)


def quota_select(
    df: DataFrame,
    quota: int,
    strata_col: str = "source",
    score_col: str = "quality",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the top-``quota`` rows per stratum by score (id as the
    deterministic tiebreak) — the "best N documents per domain" step
    that bounds any one domain's contribution to a training mix.

    One shuffle on the stratum key, then a per-partition window
    row_number — the per-group top-k plan Spark pushes into a
    WindowGroupLimit (rank-limit pushdown), so no group ever
    materializes more than ``quota`` rows post-sort. Strata counts are
    usually in the thousands; if one stratum dominates the corpus
    (heavy skew), pre-filter with an approximate per-stratum score
    threshold so the sort stays balanced."""
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= quota)
        .drop("_rk")
    )


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "s0",
    default_rate: float = 0.0,
) -> DataFrame:
    """Down-sample a corpus to a target source mixture: each stratum
    (source/domain/language) keeps a deterministic ``rates[stratum]``
    fraction of its rows — how training mixtures ("2 parts web, 1
    part code, 0.1 parts forums") are materialized.

    The rate table is a constant-folded MAP literal (dozens of
    strata), looked up per row — scan speed, zero shuffles, zero join
    nodes (r14: this was a broadcast left-join, which cost a
    broadcast-build job and a join stage per run for a lookup the
    expression layer does inline; an absent stratum falls through to
    ``default_rate`` exactly as the left join's NULL did). The keep
    decision is a per-row md5 fraction, idempotent: re-running over
    the same ids keeps the same rows, so incremental pipeline runs
    stay consistent.
    """
    rate = _stratum_rate(strata_col, tuple(rates.items()), float(default_rate))
    return df.filter(sample_fraction(id_col, seed) < rate)


@memo_column
def _stratum_rate(strata_col: str, rates: tuple, default_rate: float) -> Column:
    """:func:`mixture_sample`'s per-row rate: a MAP literal of
    ``rates`` (``(stratum, rate)`` pairs) looked up by stratum."""
    rate_map = F.create_map(
        *[x for k, v in rates for x in (F.lit(k), F.lit(float(v)))]
    )
    return F.coalesce(rate_map[F.col(strata_col)], F.lit(default_rate))


def sample_n_per_group(
    df: DataFrame,
    n: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "ev0",
) -> DataFrame:
    """Fixed-SIZE deterministic sample per group — the eval-set /
    inspection-set builder ("give me exactly 200 docs per language"),
    complementing :func:`mixture_sample`'s fixed-RATE form. Rows are
    ranked inside each group by their md5 fraction (id tiebreak) and
    the first ``n`` kept, so the sample is uniform, reproducible
    across reruns/partitionings/engines, and STABLE UNDER APPENDS in
    the reservoir sense: a doc only enters the sample by displacing
    the current max-fraction member, never by reshuffling.

    One shuffle on the group key; the per-group top-n is a
    rank-limit window Spark pushes into a WindowGroupLimit, so no
    group materializes more than ``n`` rows past its sort."""
    from pyspark.sql import Window

    frac = sample_fraction(id_col, seed)
    w = Window.partitionBy(group_col).orderBy(
        frac.asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n)
        .drop("_rk")
    )


def weighted_sample_n_per_group(
    df: DataFrame,
    n: int,
    weight: Column | str,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "wev0",
) -> DataFrame:
    """Fixed-size WEIGHTED sample per group, without replacement, with
    inclusion probability ∝ ``weight`` — Efraimidis & Spirakis 2006's
    one-pass weighted reservoir, in its Gumbel-key form: rank inside
    each group on ``⌊ln(w)·10⁶ + ½⌋ + Gumbel_micros(id)`` (both
    integer micro-nats — :func:`gumbel_micros`'s portability contract)
    and keep the top ``n``. The quality-weighted eval-set builder
    ("200 docs per language, preferring longer/higher-scoring ones"),
    beside :func:`sample_n_per_group`'s uniform form.

    Same plan shape as the uniform sampler: one group-keyed shuffle,
    per-group rank-limit window (WindowGroupLimit — no group
    materializes more than n rows past its sort), deterministic
    across reruns/partitionings/engines. ``weight`` must be positive;
    rows with NULL/non-positive weights are dropped (they have zero
    inclusion probability)."""
    from pyspark.sql import Window

    wcol = F.col(weight) if isinstance(weight, str) else weight
    key = (
        F.floor(F.log(wcol.cast("double")) * 1e6 + 0.5).cast("long")
        + gumbel_micros(id_col, seed)
    ).alias("_key")
    w = Window.partitionBy(group_col).orderBy(
        F.col("_key").desc(), F.col(id_col).asc()
    )
    return (
        df.filter(wcol.isNotNull() & (wcol > 0))
        .withColumn("_key", key)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n)
        .drop("_rk", "_key")
    )


def dsir_bucket_weights(
    df: DataFrame,
    target: Column,
    num_buckets: int = 4096,
    text_col: str = "text",
) -> DataFrame:
    """Fit the DSIR importance estimator (Xie et al. 2023,
    arXiv:2302.03169): hashed-token bag-of-words distributions for the
    TARGET slice (rows where ``target`` is true) vs the RAW corpus,
    Laplace-smoothed, as per-bucket log-likelihood-ratio weights.

    Tokens hash to ``num_buckets`` buckets via the repo's portable
    md5 contract (first 8 hex chars — the same token-hash family the
    dedup/curation oracles replay in SQL); the log-ratio is stored in
    integer MICRO-nats (``floor(lr·10⁶ + 0.5)``) so downstream
    per-document sums are exact integer arithmetic — order-independent
    and engine-portable, where a float sum would drift with partition
    order.

    Returns ``(_bucket, _w_micros)`` — ``num_buckets`` rows at most:
    broadcastable metadata, not data. At 100 TB you fit this once (on
    a sample — the estimator converges long before the full corpus)
    and reuse it across every shard via :func:`importance_weights`'s
    ``weights=`` parameter, exactly how DSIR is deployed.
    """
    from pyspark.sql import Window

    toks = _hashed_tokens(df, target, num_buckets, text_col, id_col=None)
    b = toks.groupBy("_bucket").agg(
        F.count("*").alias("_raw_cnt"),
        F.count_if("_tgt").alias("_tgt_cnt"),
    )
    # corpus totals as window sums over the BUCKET table (≤ num_buckets
    # rows — metadata), so the corpus-wide explode+agg runs exactly once;
    # a separate .agg() would make Catalyst recompute the whole scan
    w = Window.partitionBy()
    rt, tt = F.sum("_raw_cnt").over(w), F.sum("_tgt_cnt").over(w)
    nb = F.lit(num_buckets)
    lr = F.log(
        (F.col("_tgt_cnt") + 1).cast("double") / (tt + nb).cast("double")
    ) - F.log((F.col("_raw_cnt") + 1).cast("double") / (rt + nb).cast("double"))
    return b.select(
        "_bucket",
        # binary HALF_UP, portable (see queries/__init__ rounding note)
        F.floor(lr * 1e6 + 0.5).cast("long").alias("_w_micros"),
    )


def _hashed_tokens(
    df: DataFrame,
    target: Column | None,
    num_buckets: int,
    text_col: str,
    id_col: str | None,
) -> DataFrame:
    """One row per token occurrence with its md5 bucket (and the
    target flag / doc id when requested) — the shared flatMap behind
    both DSIR passes. Pure projection + explode: scan speed."""
    cols = []
    if id_col is not None:
        cols.append(F.col(id_col))
    if target is not None:
        cols.append(target.cast("boolean").alias("_tgt"))
    return df.select(
        *cols, F.explode(tokens(text_col)).alias("_tok")
    ).withColumn(
        "_bucket",
        F.pmod(md5_int("_tok", 8), F.lit(num_buckets)),
    )


def importance_weights(
    df: DataFrame,
    target: Column | None = None,
    num_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: DataFrame | None = None,
) -> DataFrame:
    """DSIR-style importance scoring: every document gets the summed
    hashed-n-gram log-likelihood ratio of the target domain vs the
    raw corpus — the data-SELECTION step between quality filtering
    and mixture sampling in an LLM pipeline ("keep the web pages
    that look like Wikipedia"). ``kept`` marks documents more likely
    under the target distribution than the raw one; for a fixed
    budget, rank on ``weight_micros`` instead (DSIR proper samples
    ∝ the ratio — a deterministic top-k is the reproducible variant).

    Pass ``weights=`` (from :func:`dsir_bucket_weights`, possibly fit
    on a sample or a previous run) to skip the estimation pass;
    otherwise ``target`` is required and the estimator is fit on
    ``df`` itself. Scale shape: the weight table is ≤ ``num_buckets``
    rows and BROADCAST — scoring is one flatMap + map-side join +
    one groupBy(doc) partial agg. Summing integer micro-nats keeps
    the result exact under any partitioning.

    Unigram features here; bigrams are the same contract with a
    2-gram concat before hashing (DSIR uses uni+bi — at 100 TB the
    second explode doubles scan output, nothing else changes).
    """
    if weights is None:
        if target is None:
            raise ValueError("importance_weights: need target= or weights=")
        weights = dsir_bucket_weights(df, target, num_buckets, text_col)
    toks = _hashed_tokens(df, None, num_buckets, text_col, id_col)
    return (
        toks.join(F.broadcast(weights), "_bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("_w_micros").alias("weight_micros"),
        )
        .withColumn("kept", F.col("weight_micros") > 0)
    )


def gumbel_micros(id_col: Column | str, seed: str = "dsir-rs0") -> Column:
    """Deterministic per-row Gumbel(0,1) noise in integer MICRO-nats:
    ``floor(-ln(-ln(u))·10⁶ + 0.5)`` with ``u = (m + ½)/2³²`` from the
    repo's md5 contract (``m`` = first 8 hex chars of ``seed||id`` —
    the same uniform :func:`sample_fraction` uses, half-shifted so u
    is strictly inside (0,1) and neither ln can hit 0/∞). Reproducible
    across reruns, partitionings, and engines; the micro-nat floor
    grid is ~10¹⁰× coarser than a double ulp, so cross-libm ln
    differences cannot move the floored value."""
    m = md5_int(id_col, 8, salt=seed)
    u = (m.cast("double") + F.lit(0.5)) / F.lit(float(1 << 32))
    return F.floor(-F.log(-F.log(u)) * 1e6 + 0.5).cast("long")


def importance_resample(
    df: DataFrame,
    n: int,
    target: Column | None = None,
    num_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: DataFrame | None = None,
    seed: str = "dsir-rs0",
) -> DataFrame:
    """The sampling half of DSIR (Xie et al. 2023): draw ``n``
    documents WITHOUT replacement with probability ∝ the importance
    weight exp(llr) — via the Gumbel-top-k trick (Kool et al. 2019;
    equivalently Efraimidis-Spirakis weighted reservoir keys): rank on
    ``log w_i + Gumbel_i`` and keep the n largest. Both terms live in
    integer micro-nats (:func:`importance_weights`'s exact per-doc
    sums + :func:`gumbel_micros`'s floored noise), so the ranking key
    is a plain BIGINT — exact under any partition order and replayable
    by the DuckDB oracle.

    Scale shape: one scoring pass (broadcast ≤ ``num_buckets``-row
    weight table, map-side join, per-doc partial agg) then a top-n
    that Spark executes as TakeOrderedAndProject — per-partition heaps
    of n rows, n rows per partition to the driver merge, NO global
    sort. At 100 TB you fit ``weights`` once on a sample and resample
    every shard with the same table (pass ``weights=``), which is the
    published deployment. Ties (same key) break to ascending id, so
    the selected SET is deterministic."""
    scored = importance_weights(df, target, num_buckets, text_col, id_col, weights)
    key = (F.col("weight_micros") + gumbel_micros(id_col, seed)).alias("key_micros")
    return (
        scored.select(id_col, "weight_micros", key)
        .orderBy(F.desc("key_micros"), F.asc(id_col))
        .limit(n)
    )


def mixture_solve(
    df: DataFrame,
    weights: dict[str, float],
    strata_col: str = "source",
    token_count_col: Column | None = None,
    id_col: str = "doc_id",
    seed: str = "mix0",
) -> tuple[DataFrame, DataFrame]:
    """Solve a target training mixture against what the corpus actually
    has, then apply it. ``weights`` maps stratum → target share of the
    final token budget; the largest achievable budget is
    ``T = min_i(available_i / weight_i)`` (the binding stratum is fully
    kept, every other stratum down-samples to ``weight_i·T`` tokens).
    This is the step UPSTREAM of :func:`mixture_sample`: that operator
    applies given rates, this one derives them from the data.

    Returns ``(sampled_df, rates_df)`` — the deterministically sampled
    corpus and the per-stratum plan
    (stratum, available_tokens, rate, target_tokens). Both are lazy:
    availability is a k-row aggregate, the budget is a 1-row metadata
    min broadcast back (the sanctioned 1-row crossJoin pattern), and
    the keep decision is the usual engine-portable md5 fraction — one
    corpus scan + one k-row shuffle, no collect.

    Rate application is per-DOCUMENT (a doc keeps all its tokens or
    none), so realized token counts fluctuate around the target by
    sampling noise — exact for the binding stratum (rate 1), unbiased
    elsewhere; the standard practice for document-granular corpora.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    from denormalized_spark.operators.text import token_count

    tokens_c = (
        token_count("text") if token_count_col is None else token_count_col
    )
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(k, float(v)) for k, v in weights.items()], [strata_col, "_w"]
    )
    avail = df.groupBy(strata_col).agg(
        F.sum(tokens_c).cast("double").alias("_avail")
    )
    # LEFT join from the weight table: a weighted stratum ABSENT from
    # the corpus must keep its constraint avail/w = 0 (forcing T = 0 —
    # the requested proportions are unsatisfiable), not silently drop
    # out of the min and yield a "solved" mixture that cannot exist
    j = wdf.join(avail, strata_col, "left").withColumn(
        "_avail", F.coalesce("_avail", F.lit(0.0))
    )
    budget = j.groupBy().agg(F.min(F.col("_avail") / F.col("_w")).alias("_T"))
    rates = (
        j.join(F.broadcast(budget))
        .select(
            strata_col,
            F.col("_avail").cast("long").alias("available_tokens"),
            F.when(
                F.col("_avail") > 0,
                F.least(F.lit(1.0), F.col("_w") * F.col("_T") / F.col("_avail")),
            ).otherwise(F.lit(0.0)).alias("rate"),
            # explicit floor before the integer cast: Spark's cast('long')
            # truncates but DuckDB's CAST(.. AS BIGINT) rounds-to-nearest,
            # so w·T landing on x.5+ would diverge by 1 between engines;
            # floor pins both to the same value (oracle uses floor too)
            F.floor(F.col("_w") * F.col("_T")).cast("long").alias("target_tokens"),
        )
    )
    sampled = (
        df.join(F.broadcast(rates.select(strata_col, "rate")), strata_col)
        .filter(sample_fraction(id_col, seed) < F.col("rate"))
        .drop("rate")
    )
    return sampled, rates


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 5,
    *,
    max_boilerplate_lines: int = 100_000,
    out_col: str = "clean_text",
) -> DataFrame:
    """C4-style line-level boilerplate removal: any line whose trimmed
    text appears in ≥ ``min_docs`` DISTINCT documents (nav bars,
    cookie banners, license footers — the lines that survive
    document-level dedup because every page differs elsewhere) is
    stripped from every document. Whitespace-only lines never count
    and are never removed (they carry paragraph structure).

    Plan shape — the corpus is never re-shuffled for the rewrite:

    1. lines explode (flatMap) → partial-agged count of distinct docs
       per trimmed line: the ONLY shuffle, sized by distinct lines;
    2. lines crossing ``min_docs`` → top-``max_boilerplate_lines`` by
       (doc count desc, line) — an explicit, deterministic cap so the
       broadcast stays bounded no matter how pathological the corpus;
    3. the capped set collapses to ONE array row, broadcast-crossJoined
       onto the corpus (the 1-row pattern of text_unigram_quality),
       and each document is rewritten at scan speed with a
       higher-order filter + array_join — no corpus shuffle, no
       per-doc join.
    """
    lines = F.split(F.col(text_col), "\n")
    line_counts = (
        df.select(F.col(id_col), F.explode(lines).alias("_l"))
        .select(id_col, F.trim("_l").alias("_t"))
        .filter(F.col("_t") != "")
        .groupBy("_t")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .orderBy(F.col("_nd").desc(), "_t")
        .limit(max_boilerplate_lines)
    )
    bset = line_counts.agg(F.collect_list("_t").alias("_bl"))  # 1 row
    cleaned = F.array_join(
        F.filter(
            lines,
            lambda x: (F.trim(x) == "")
            | ~F.coalesce(F.array_contains(F.col("_bl"), F.trim(x)), F.lit(False)),
        ),
        "\n",
    )
    return (
        df.crossJoin(F.broadcast(bset))
        .withColumn(out_col, cleaned)
        .drop("_bl")
    )


def validate_corpus(
    df: DataFrame,
    rules: dict[str, Column],
    *,
    include_null_profile: bool = True,
) -> DataFrame:
    """Data-quality expectations over a corpus — the validation gate a
    pipeline runs before committing a training snapshot. ``rules``
    maps rule name → boolean Column that should hold per row (e.g.
    ``{"text_nonempty": F.length("text") > 0}``). Returns one row per
    rule: n_rows, n_violations (false OR NULL — an unevaluable rule is
    a violation, matching SQL three-valued logic pitfalls), and
    pass_rate; with ``include_null_profile`` every source column also
    gets a ``null__<col>`` rule counting NULLs.

    One aggregation pass total: every rule is a conditional count in
    the SAME partial-agged plan — no per-rule scans, no shuffle beyond
    the 1-row final aggregate. At 100 TB this is the difference
    between a validation suite that costs one scan and one that costs
    |rules| scans."""
    checks = dict(rules)
    if include_null_profile:
        for c in df.columns:
            checks[f"null__{c}"] = F.col(c).isNotNull()
    aggs = [F.count("*").alias("_n")]
    for name, cond in checks.items():
        aggs.append(
            F.sum(F.when(F.coalesce(cond, F.lit(False)), 0).otherwise(1)).alias(
                f"_v_{name}"
            )
        )
    row = df.agg(*aggs)
    # unpivot the single aggregated row via explode — a UNION of
    # per-rule projections would re-plan the aggregate (and re-scan
    # the source) once per rule
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"), F.col(f"_v_{name}").alias("v")
            )
            for name in checks
        ]
    )
    return row.select(F.col("_n"), F.explode(pairs).alias("p")).select(
        F.col("p.rule").alias("rule"),
        F.col("_n").cast("long").alias("n_rows"),
        F.col("p.v").cast("long").alias("n_violations"),
        F.round(1.0 - F.col("p.v") / F.col("_n"), 6).alias("pass_rate"),
    )


def dedup_document_lines(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "clean_text",
) -> DataFrame:
    """WITHIN-document duplicate-line removal: every line whose
    trimmed text already appeared earlier in the SAME document is
    dropped (keep-first) — the rewrite counterpart to the
    ``duplicate_line_fraction`` metric, and the per-doc cleanup for
    scraped pages that repeat nav blocks mid-document. Cross-document
    boilerplate is :func:`remove_boilerplate_lines`'s job.
    Whitespace-only lines always survive (paragraph structure).

    Pure per-row projection — zero shuffles, scan speed at any corpus
    size. The first-occurrence test is array_position over the
    trimmed-lines array, O(lines²) per row worst-case but row-local
    and line counts are small; the trimmed array is materialized as a
    real column first so the filter's per-element evaluation reads an
    attribute, not a re-evaluated transform subtree (the measured
    higher-order-function pitfall — see dedup.shingle_hashes).
    """
    lines = F.split(F.col(text_col), "\n")
    # NB: transform(col, F.trim) would bind trim's optional trimStr
    # parameter to the element INDEX (two-arg callables receive
    # (element, index)); the explicit one-arg lambda keeps plain trim
    staged = df.withColumn("_lines", lines).withColumn(
        "_trimmed", F.transform(F.col("_lines"), lambda l: F.trim(l))
    )
    kept = F.filter(
        F.col("_lines"),
        lambda l, i: (F.trim(l) == "")
        | (F.array_position(F.col("_trimmed"), F.trim(l)) == i + 1),
    )
    return (
        staged.withColumn(out_col, F.array_join(kept, "\n"))
        .drop("_lines", "_trimmed")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "doc_id",
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level diff between two corpus snapshots: every key tagged
    ``added`` / ``removed`` / ``changed`` / ``unchanged`` — the CDC
    report a versioned dataset publishes alongside
    :func:`~denormalized_spark.operators.dedup.corpus_overlap`'s
    content-level scalar. ``compare_cols`` defaults to all shared
    non-key columns; change detection hashes each column's own md5
    digest (NULL → a non-hex marker) and then the concatenation of
    those fixed-width digests, so no value can collide with NULL or
    shift a column boundary — a literal separator byte inside a value
    cannot fake an "unchanged" row.

    One full-outer join on the key — co-partitioned if both snapshots
    are written bucketed by it; the change hash is a scan-speed
    projection on each side. Output is corpus-sized but typically
    consumed as the status-count rollup."""
    if compare_cols is None:
        compare_cols = [
            c for c in new.columns if c != key_col and c in old.columns
        ]

    def fp(df: DataFrame, alias: str) -> DataFrame:
        # Per-column md5 first: every slot is either 32 hex chars or
        # the 1-char non-hex NULL marker, so the outer hash input is
        # uniquely decodable regardless of value content.
        h = F.md5(
            F.concat(
                *[
                    F.coalesce(F.md5(F.col(c).cast("string")), F.lit("-"))
                    for c in compare_cols
                ]
            )
        )
        return df.select(F.col(key_col), h.alias(alias))

    o = fp(old, "_ho")
    n = fp(new, "_hn")
    joined = o.join(n, key_col, "full")
    status = (
        F.when(F.col("_ho").isNull(), F.lit("added"))
        .when(F.col("_hn").isNull(), F.lit("removed"))
        .when(F.col("_ho") != F.col("_hn"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(key_col, status.alias("status"))


def corpus_report(
    df: DataFrame,
    dims: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The "data card" a corpus snapshot ships with: per-dimension
    (language, source/domain, …) AND overall rollups of document
    count, token volume, mean quality, heuristic-gate pass rate, and
    exact-duplicate rate — everything a dataset consumer asks first,
    in one job.

    Plan shape, 100 TB framing:

    1. ONE corpus scan projects the per-doc signals (token count,
       quality score, Gopher pass, normalized content key) — all
       scan-speed column expressions, no Python;
    2. the duplicate flag needs cross-doc context: one shuffle keyed
       by content hash (window count over content_key — the exact-
       dedup shuffle, partial-agg friendly, skew bounded by the
       largest duplicate class);
    3. GROUPING SETS over ``dims`` + grand total in a single
       aggregate — Spark's Expand emits |dims|+1 narrow rows per doc
       into one partial-agged shuffle, so the whole multi-level report
       costs one pass, not one job per breakdown level. ``grouping_id``
       disambiguates rollup rows from genuine NULL dimension values.

    Output is metadata-sized: Σ per-dim cardinalities + 1 rows.
    """
    from pyspark.sql import Window

    from denormalized_spark.operators.text import (
        content_hash,
        gopher_rules,
        quality_score,
        token_count,
    )

    per_doc = gopher_rules(df, text_col).select(
        *dims,
        F.col(id_col),
        token_count(text_col).alias("_nt"),
        quality_score(text_col).alias("_q"),
        F.col("gopher_pass").cast("int").alias("_gp"),
        content_hash(text_col).alias("_ck"),
    )
    dup = per_doc.withColumn(
        "_dup",
        (F.count("*").over(Window.partitionBy("_ck")) > 1).cast("int"),
    )
    grouped = dup.groupingSets(
        [[F.col(d)] for d in dims] + [[]],
        *[F.col(d) for d in dims],
    )
    return grouped.agg(
        F.grouping_id().alias("grouping_level"),
        F.count("*").alias("n_docs"),
        F.sum("_nt").cast("long").alias("total_tokens"),
        F.round(F.avg("_q"), 6).alias("mean_quality"),
        F.round(F.avg("_gp"), 6).alias("gopher_pass_rate"),
        F.round(F.avg("_dup"), 6).alias("dup_rate"),
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    out_col: str | None = None,
) -> DataFrame:
    """Winsorize ``value_col`` at the exact [p_lo, p_hi] percentiles:
    values below/above the thresholds CLAMP to them (Tukey's outlier
    treatment — unlike a filter, row count is preserved, which is what
    a feature pipeline feeding fixed-cardinality training batches
    needs). Appends ``out_col`` (default ``<value>_winsor``) plus the
    two thresholds as columns so downstream audits see the clamp
    bounds they were produced under.

    Exactness: Spark ``percentile()`` and DuckDB ``quantile_cont``
    compute the same linear-interpolated order statistic (the
    percentile-gate precedent), broadcast as a 1-row frame; the clamp
    is pure comparison. One full-data agg + one map pass."""
    if not (0.0 <= p_lo < p_hi <= 1.0):
        raise ValueError(f"winsorize: need 0 <= p_lo < p_hi <= 1, got {p_lo}, {p_hi}")
    out_col = out_col or f"{value_col}_winsor"
    thr = df.groupBy().agg(
        F.expr(f"percentile({value_col}, {p_lo})").alias("_lo"),
        F.expr(f"percentile({value_col}, {p_hi})").alias("_hi"),
    )
    v = F.col(value_col).cast("double")
    return (
        df.join(F.broadcast(thr))
        .withColumn(out_col, F.least(F.greatest(v, F.col("_lo")), F.col("_hi")))
        .withColumnRenamed("_lo", "winsor_lo")
        .withColumnRenamed("_hi", "winsor_hi")
    )


def rank_normalize(
    df: DataFrame,
    value_col: str,
    id_col: str,
    out_col: str = "quantile_micro",
) -> DataFrame:
    """Rank-normalize a numeric column to (0, 1): quantile =
    rank/(n+1) on the micro grid, under the (value, id) total order —
    the distribution-free feature transform (uniformizes any marginal;
    robust to outliers where z-scoring is not) that precedes models
    assuming comparable feature scales. Output: every input row plus
    ``rank`` (1-based, ties broken by id — the repo's pinned-total-
    order standard) and ``out_col``.

    Scale shape: one scale-safe global row number
    (ranking.with_global_row_number: range partition + local sort +
    broadcast prefix-sum offsets, total_col rides the same offsets) —
    never a single-reducer sort; the division is rational on exact
    ints. One consumer per output per that operator's consumption
    contract."""
    from denormalized_spark.operators.ranking import with_global_row_number

    rn = with_global_row_number(
        df,
        [F.col(value_col), F.col(id_col)],
        out_col="rank",
        total_col="_n",
    )
    q = F.floor(
        F.col("rank").cast("double") / (F.col("_n") + 1).cast("double") * 1_000_000
        + F.lit(0.5)
    ).cast("long")
    return rn.withColumn(out_col, q).drop("_n")


def temperature_mixture(
    df: DataFrame,
    strata_col: str = "source",
    size_col: str | None = None,
    alpha_num: int = 1,
    alpha_den: int = 2,
) -> DataFrame:
    """Temperature-based mixture reweighting across strata (the
    multilingual-corpus sampling rule of XLM / mBERT: p_i ∝ n_i^α,
    α < 1 upweights low-resource strata): from per-stratum sizes
    (row counts, or Σ``size_col`` for token-weighted sizes) emit the
    natural share, the temperature share, and the boost each stratum
    receives — the table that turns "sample web 100:1 over forums"
    into the standard α-smoothed mixture.

    α is a rational ``alpha_num/alpha_den``; n^α is computed as
    exp-free nested IEEE sqrts when α is a dyadic rational (1/2, 1/4,
    3/4 — sqrt is correctly rounded, so the weight chain is engine-
    exact) and each weight is micro-floored to an INTEGER before the
    share division, so shares are integer ratios. Non-dyadic α would
    need pow() — rejected (raise) rather than silently engine-hazard.

    Scale shape: one stratum-keyed partial agg (billions of rows →
    dozens-to-thousands of strata), then metadata arithmetic with a
    broadcast 1-row total. Returns ``(stratum, n, share_micro,
    temp_weight, temp_share_micro, boost_milli)``."""
    if (alpha_num, alpha_den) not in {(1, 2), (1, 4), (3, 4), (1, 1)}:
        raise ValueError(
            "temperature_mixture: alpha must be a dyadic rational in "
            "{1/2, 1/4, 3/4, 1} so n^alpha stays on correctly-rounded sqrts"
        )
    size = (
        F.count("*") if size_col is None else F.sum(F.col(size_col))
    ).cast("long")
    sizes = df.groupBy(F.col(strata_col).alias("stratum")).agg(size.alias("n"))
    nd = F.col("n").cast("double")
    if (alpha_num, alpha_den) == (1, 2):
        w = F.sqrt(nd)
    elif (alpha_num, alpha_den) == (1, 4):
        w = F.sqrt(F.sqrt(nd))
    elif (alpha_num, alpha_den) == (3, 4):
        w = F.sqrt(nd) * F.sqrt(F.sqrt(nd))
    else:
        w = nd
    weighted = sizes.withColumn(
        "temp_weight", F.floor(w * 1_000_000 + F.lit(0.5)).cast("long")
    )
    tot = weighted.agg(
        F.sum("n").cast("long").alias("_tn"),
        F.sum("temp_weight").cast("long").alias("_tw"),
    )
    return (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            "stratum",
            "n",
            F.floor(
                (F.col("n") * 1_000_000).cast("double") / F.col("_tn").cast("double")
                + F.lit(0.5)
            ).cast("long").alias("share_micro"),
            "temp_weight",
            F.floor(
                (F.col("temp_weight") * 1_000_000).cast("double")
                / F.col("_tw").cast("double")
                + F.lit(0.5)
            ).cast("long").alias("temp_share_micro"),
        )
        .withColumn(
            "boost_milli",
            F.when(
                F.col("share_micro") > 0,
                F.floor(
                    (F.col("temp_share_micro") * 1000).cast("double")
                    / F.col("share_micro").cast("double")
                    + F.lit(0.5)
                ).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
    )


def mixture_divergence(
    df: DataFrame,
    targets: dict[str, float],
    strata_col: str = "source",
    size_col: str | None = None,
) -> DataFrame:
    """How far is the corpus from its TARGET mixture — per stratum the
    observed vs target share and the per-stratum contribution to the
    total-variation distance TV = ½·Σ|p_i − q_i| (the mixture-drift
    gate a data pipeline alarms on before a bad rebalance ships, and
    the acceptance check after `mixture_sample` runs). Also emits the
    chi-square-style (p−q)²/q contribution for strata where the
    target is nonzero.

    Strata absent from ``targets`` get target 0 (their whole mass is
    divergence); target entries absent from the corpus still appear
    as rows (observed 0). Integer-exact: observed shares are
    micro-floored integer ratios, targets are micro-floored literals,
    and TV contributions are integer |differences| — no float
    summation anywhere. One stratum-keyed agg + a broadcast target
    table. Returns ``(stratum, n, obs_share_micro,
    target_share_micro, tv_contrib_micro, chi2_contrib_micro)``."""
    spark = df.sparkSession
    size = (
        F.count("*") if size_col is None else F.sum(F.col(size_col))
    ).cast("long")
    obs = df.groupBy(F.col(strata_col).alias("stratum")).agg(size.alias("n"))
    tgt = spark.createDataFrame(
        [(k, int(v * 1_000_000 + 0.5)) for k, v in sorted(targets.items())],
        "stratum string, target_share_micro long",
    )
    tot = obs.agg(F.sum("n").cast("long").alias("_tn"))
    full = (
        obs.join(tgt, "stratum", "full_outer")
        .crossJoin(F.broadcast(tot))
        .select(
            "stratum",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            F.floor(
                (F.coalesce("n", F.lit(0)) * 1_000_000).cast("double")
                / F.col("_tn").cast("double")
                + F.lit(0.5)
            ).cast("long").alias("obs_share_micro"),
            F.coalesce("target_share_micro", F.lit(0))
            .cast("long").alias("target_share_micro"),
        )
    )
    diff = F.abs(F.col("obs_share_micro") - F.col("target_share_micro"))
    chi = F.when(
        F.col("target_share_micro") > 0,
        F.floor(
            (diff * diff).cast("double")
            / F.col("target_share_micro").cast("double")
            + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return full.withColumn(
        "tv_contrib_micro", (diff / 2).cast("long")
    ).withColumn("chi2_contrib_micro", chi)


def span_corruption_plan(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    start_rate_milli: int = 50,
    max_span: int = 5,
    seed: str = "sc",
) -> DataFrame:
    """T5-style span-corruption mask PLANNING (Raffel et al. 2020's
    pre-training objective; UL2's denoisers generalize it): choose
    deterministic span starts at ``start_rate_milli``/1000 per token
    and a per-start span length in [1, max_span], then count the
    UNION coverage per document — the token-budget readout a
    pre-training data pipeline needs before materializing corrupted
    examples (expected mask rate = start_rate · (max_span+1)/2, the
    T5 ~15% for the defaults). Mask selection is md5-keyed on
    (seed, doc, position) — the sample_fraction contract — so the
    plan is reproducible across reruns, partitionings AND engines;
    no RNG state exists anywhere.

    Engine-exact: starts and span lengths are integer md5 draws
    against literal thresholds; union coverage is a bounded-lookback
    OR (a position is masked iff a start within the last max_span
    positions reaches it) — pure integer/boolean array ops both
    engines replay. Scale shape: one per-row projection over the
    token array (no shuffle, no join); output is one row per doc.
    Returns ``(id, n_tokens, n_starts, n_masked, mask_rate_milli)``."""
    from denormalized_spark.operators.text import tokens

    c_id = F.col(id_col).cast("string")
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    pos = F.sequence(F.lit(1), F.greatest(n, F.lit(0)))

    def pos_key(j: Column) -> Column:
        return F.concat(c_id, F.lit(":"), j.cast("string"))

    def frac(j: Column, tag: str) -> Column:
        return md5_unit(pos_key(j), 8, salt=f"{seed}{tag}:")

    def is_start(j: Column) -> Column:
        return frac(j, "s") < F.lit(start_rate_milli / 1000.0)

    def span_len(j: Column) -> Column:
        return md5_int(pos_key(j), 8, salt=f"{seed}l:") % max_span + 1

    def masked(p: Column) -> Column:
        back = F.sequence(F.greatest(p - (max_span - 1), F.lit(1)), p)
        return F.exists(
            back, lambda j: is_start(j) & (span_len(j) >= p - j + 1)
        )

    starts = F.size(F.filter(pos, is_start)).cast("long")
    n_masked = F.size(F.filter(pos, masked)).cast("long")
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        starts.alias("n_starts"),
        n_masked.alias("n_masked"),
        F.when(
            n > 0,
            F.floor(
                (n_masked * 1000).cast("double") / n.cast("double") + F.lit(0.5)
            ).cast("long"),
        ).otherwise(F.lit(0).cast("long")).alias("mask_rate_milli"),
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    budget: int,
) -> DataFrame:
    """Neyman-optimal stratified sample allocation (Neyman 1934): give
    stratum h the share n_h ∝ N_h·S_h of the sampling ``budget`` —
    the allocation that minimizes the stratified-mean variance for a
    fixed total n, the first sizing decision of any corpus
    subsampling / eval-panel draw. Integer seats come from the
    LARGEST-REMAINDER method (Hamilton), so the allocations sum to
    the budget exactly.

    Engine-exact, and almost entirely integer: per-stratum Σy and Σy²
    are exact longs; S_h is one fixed-order IEEE expression
    (sqrt((n·Σy² − (Σy)²)/(n·(n−1)))) micro-floored to the integer
    weight w_h = ⌊N_h·S_h·10⁶⌉; base seats are EXACT integer division
    (budget·w_h) DIV Σw, remainders EXACT integer modulo, and the
    leftover seats go to the largest remainders (stratum-asc
    tiebreak) — no float ever decides a seat. (At 100 TB move Σy² to
    DECIMAL(38) — the value column here is bounded so a long's 2^63
    headroom suffices.)

    Degenerate corpora (every stratum zero-variance, so Σw = 0) fall
    back to allocation PROPORTIONAL to stratum size — Neyman's
    optimum when all S_h are equal — instead of letting the integer
    division emit NULLs; the reported ``w_micro`` stays 0 so callers
    can see the fallback fired.

    Scale shape: ONE stratum-keyed partial/final agg over the corpus;
    everything after is a k-row metadata table (a k-row window for
    the remainder ranking). Returns ``(stratum, n_rows, sigma_micro,
    w_micro, alloc)`` with Σ alloc = budget."""
    from pyspark.sql import Window

    per = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.col(value_col).cast("long")).cast("long").alias("_sy"),
        F.sum(
            (F.col(value_col).cast("long") * F.col(value_col).cast("long"))
        ).cast("long").alias("_sy2"),
    )
    num = (
        F.col("n_rows").cast("double") * F.col("_sy2").cast("double")
        - F.col("_sy").cast("double") * F.col("_sy").cast("double")
    )
    den = (
        F.col("n_rows").cast("double")
        * (F.col("n_rows") - F.lit(1)).cast("double")
    )
    sigma = F.when(
        F.col("n_rows") > 1, F.sqrt(F.greatest(num, F.lit(0.0)) / den)
    ).otherwise(F.lit(0.0))
    w = per.select(
        "stratum",
        "n_rows",
        F.floor(sigma * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
        .alias("sigma_micro"),
        F.floor(
            F.col("n_rows").cast("double") * sigma * F.lit(1_000_000.0)
            + F.lit(0.5)
        ).cast("long").alias("w_micro"),
    )
    tot = w.agg(
        F.sum("w_micro").cast("long").alias("_tw"),
        F.sum("n_rows").cast("long").alias("_tn"),
    )
    seats = (
        w.crossJoin(F.broadcast(tot))
        .withColumn(
            "_weff",
            F.when(F.col("_tw") == 0, F.col("n_rows"))
            .otherwise(F.col("w_micro")).cast("long"),
        )
        .withColumn(
            "_tweff",
            F.when(F.col("_tw") == 0, F.col("_tn"))
            .otherwise(F.col("_tw")).cast("long"),
        )
        .select(
            "stratum",
            "n_rows",
            "sigma_micro",
            "w_micro",
            F.expr(f"CAST({budget} AS BIGINT) * _weff DIV _tweff")
            .cast("long").alias("_base"),
            F.expr(f"(CAST({budget} AS BIGINT) * _weff) % _tweff")
            .cast("long").alias("_rem"),
        )
    )
    extras = seats.agg(
        (F.lit(int(budget)) - F.sum("_base")).cast("long").alias("_extra")
    )
    rk = Window.orderBy(F.desc("_rem"), F.asc("stratum"))
    return (
        seats.crossJoin(F.broadcast(extras))
        .withColumn("_rk", F.row_number().over(rk))
        .select(
            "stratum",
            "n_rows",
            "sigma_micro",
            "w_micro",
            (
                F.col("_base")
                + F.when(F.col("_rk") <= F.col("_extra"), 1).otherwise(0)
            ).cast("long").alias("alloc"),
        )
        .orderBy("stratum")
    )


def softdedup_weights(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    comp_id: str = "id",
    comp_label: str = "label",
) -> DataFrame:
    """Soft deduplication: instead of DROPPING near-duplicates, give
    every document the loss weight 1/|its duplicate cluster| so each
    piece of content contributes unit mass regardless of copy count —
    the downweight-don't-delete alternative studied for LM training
    mixes (count-normalized sampling; the same principle as DoReMi/
    DSIR-style reweighting applied to duplication). Keeps rare
    context that strict dedup's survivor choice would discard.

    ``components`` is a near-dup clustering (e.g.
    dedup.connected_components over LSH-verified pairs); documents
    absent from it are singletons with weight 1. Weights land on the
    milli grid (one floored division per doc — exact integer sums
    downstream).

    Scale shape: one cluster-size agg over the (tiny relative to
    corpus) component table, one left join back on the id key, one
    projection. Returns the input plus ``(cluster_size,
    weight_milli)``."""
    sizes = components.groupBy(comp_label).agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    labeled = components.join(sizes, comp_label).select(
        F.col(comp_id).alias(id_col), "cluster_size"
    )
    return (
        df.join(F.broadcast(labeled), id_col, "left")
        .withColumn(
            "cluster_size",
            F.coalesce(F.col("cluster_size"), F.lit(1)).cast("long"),
        )
        .withColumn(
            "weight_milli",
            F.floor(
                F.lit(1000.0) / F.col("cluster_size").cast("double") + F.lit(0.5)
            ).cast("long"),
        )
    )
