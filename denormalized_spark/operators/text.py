"""Text analysis operators for large-scale training-data pipelines.

Everything here is pure ``pyspark.sql.functions`` — JVM-side,
whole-stage-codegen'd, no Python in the hot path — so a 100 TB
documents table processes at scan speed with zero shuffles (all
operators are per-row projections; only the optional aggregations
shuffle).

These extend beyond the reference's surface (it has no text
operators) per the build goal: token counting, quality scoring,
language ID, and document fingerprinting over a ``documents`` table
with a ``text`` column.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from denormalized_spark.operators._hashing import md5_unit
from denormalized_spark.operators._memo import memo_column
from denormalized_spark.operators._rows import map_rows

#: Minimal English stopword list used by the quality / language-ID
#: heuristics. Deliberately small and frozen: it is part of the
#: operator's contract (the DuckDB oracle embeds the same list).
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


@memo_column
def tokens(text: Column | str, pattern: str = r"\s+") -> Column:
    """Whitespace tokenization; drops empty tokens so leading/trailing
    whitespace doesn't produce phantom tokens."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, pattern), lambda t: t != F.lit(""))


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token estimate: splits on whitespace AND
    word/punctuation boundaries (a cheap stand-in for a BPE
    tokenizer's count, usable for budget estimates at scale)."""
    c = F.col(text) if isinstance(text, str) else text
    pieces = F.split(c, r"(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])|\s+")
    return F.size(F.filter(pieces, lambda t: (t != F.lit("")) & (t != F.lit(" "))))


def stopword_ratio(text: Column | str, stopwords=STOPWORDS) -> Column:
    toks = tokens(text)
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
    return n_stop / F.greatest(F.size(toks), F.lit(1))


def avg_token_length(text: Column | str) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return total.cast("double") / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return n_punct.cast("double") / F.greatest(F.length(c), F.lit(1))


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: reasonable length, low
    punctuation noise, healthy stopword density. Deterministic,
    SQL-expressible (oracle mirrors it)."""
    c = F.col(text) if isinstance(text, str) else text
    n_tok = token_count(c)
    len_ok = F.when((n_tok >= 10) & (n_tok <= 10000), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(c) < 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    stop = stopword_ratio(c)
    stop_ok = F.when((stop > 0.01) & (stop < 0.6), F.lit(1.0)).otherwise(F.lit(0.0))
    return (len_ok + punct_ok + stop_ok) / F.lit(3.0)


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """The published Gopher document-quality rule set (Rae et al.
    2021) as flag columns + an overall ``gopher_pass`` — the standard
    heuristic gate a pre-training pipeline runs before model-based
    filtering: word-count bounds, mean-word-length bounds, symbol
    (#/ellipsis)-to-word ratio, alphabetic-word ratio, and a minimum
    count of distinct common-English stopwords present.

    Pure per-row projection: one scan, zero shuffles, fully
    SQL-expressible (integer counts and exact ratios — engine-portable
    without float tolerance). The token array is bound ONCE via
    eval_once — five rule expressions reference it, and Catalyst does
    not CSE the tokenize subtree across higher-order-function
    boundaries (the measured pitfall in dedup.shingle_hashes)."""
    from denormalized_spark.operators.dedup import eval_once

    c = F.col(text_col)

    def _flags(toks: Column) -> Column:
        n = F.size(toks)
        mean_len = F.aggregate(
            toks, F.lit(0), lambda a, t: a + F.length(t)
        ).cast("double") / F.greatest(n, F.lit(1))
        n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
        n_ellipsis = (
            F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))
        ) / 3
        n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
        low = F.transform(toks, F.lower)
        stop_hits = F.size(
            F.filter(
                F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
                lambda s: F.array_contains(low, s),
            )
        )
        return F.struct(
            ((n >= min_words) & (n <= max_words)).alias("gr_word_count"),
            (
                (mean_len >= min_mean_word_len) & (mean_len <= max_mean_word_len)
            ).alias("gr_mean_word_len"),
            (
                (n_hash + n_ellipsis) / F.greatest(n, F.lit(1))
                <= F.lit(max_symbol_ratio)
            ).alias("gr_symbol_ratio"),
            (
                n_alpha.cast("double") / F.greatest(n, F.lit(1))
                >= F.lit(min_alpha_word_ratio)
            ).alias("gr_alpha_words"),
            (stop_hits >= min_stopword_hits).alias("gr_stopwords"),
        )

    fl = eval_once(tokens(text_col), lambda toks: _flags(toks))
    return df.withColumn("_gf", fl).select(
        *[col for col in df.columns],
        F.col("_gf.gr_word_count").alias("gr_word_count"),
        F.col("_gf.gr_mean_word_len").alias("gr_mean_word_len"),
        F.col("_gf.gr_symbol_ratio").alias("gr_symbol_ratio"),
        F.col("_gf.gr_alpha_words").alias("gr_alpha_words"),
        F.col("_gf.gr_stopwords").alias("gr_stopwords"),
    ).withColumn(
        "gopher_pass",
        F.col("gr_word_count")
        & F.col("gr_mean_word_len")
        & F.col("gr_symbol_ratio")
        & F.col("gr_alpha_words")
        & F.col("gr_stopwords"),
    )


def lang_id(text: Column | str, threshold: float = 0.02) -> Column:
    """N-gram-free language heuristic: English if the stopword hit
    ratio clears ``threshold``, else 'und'. (A real model plugs in
    behind the same column contract.)"""
    return F.when(stopword_ratio(text) >= threshold, F.lit("en")).otherwise(F.lit("und"))


#: Frozen character-trigram profiles (high-frequency trigrams of each
#: language, public knowledge). Part of the operator contract — the
#: DuckDB oracle embeds the same profiles.
LANG_TRIGRAM_PROFILES = {
    "en": (" th", "the", "he ", "ing", "nd ", " an", "er ", " of", "ed ", "on "),
    "de": ("der", "ie ", "ein", "sch", "ich", "nde", "die", "che", "ung", " de"),
    "fr": ("es ", "le ", " de", "de ", "ent", "et ", "que", " qu", "les", "ion"),
    "es": (" de", "de ", "os ", " la", "la ", "el ", " qu", "que", "en ", "ión"),
}


def lang_id_ngram(
    df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.005,
    profiles: dict[str, tuple[str, ...]] = LANG_TRIGRAM_PROFILES,
) -> DataFrame:
    """Char-n-gram language ID (the textcat/CLD heuristic): score each
    language as the density of its profile trigrams in the normalized
    text, predict the argmax (deterministic lang-name tiebreak), or
    'und' below ``threshold``.

    Pure scalar expressions (occurrence counting via replace-length
    deltas — no arrays, no shuffle): scan speed at any corpus size.
    The normalized text is materialized ONCE as a column; Catalyst's
    CollapseProject keeps non-cheap aliases used many times
    un-inlined, so the regex normalization runs once per row, not once
    per profile gram."""
    norm = F.concat(
        F.lit(" "),
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z ]", " "), r" +", " "
        ),
        F.lit(" "),
    )
    out = df.withColumn("_lnorm", norm)
    n = F.col("_lnorm")
    denom = F.greatest(F.length(n) - 2, F.lit(1))

    def density(grams: tuple[str, ...]) -> Column:
        hits = None
        for g in grams:
            cnt = (F.length(n) - F.length(F.replace(n, F.lit(g), F.lit("")))) / len(g)
            hits = cnt if hits is None else hits + cnt
        return hits / denom

    langs = sorted(profiles)
    for lang in langs:
        out = out.withColumn(f"_sc_{lang}", density(profiles[lang]))
    best = F.greatest(*[F.col(f"_sc_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earliest lang name wins exact ties
        pred = F.when(
            (F.col(f"_sc_{lang}") == best) & (best >= threshold), F.lit(lang)
        ).otherwise(pred)
    return out.withColumn("lang_pred_ngram", pred).drop("_lnorm")


def fingerprint(text: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted
    distinct token set (Broder-style). Identical content with
    shuffled word order collides — by design, it's a near-dup
    prefilter key."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(text))), " "))


def content_hash(text: Column | str) -> Column:
    """Exact-content hash (normalization: trim + whitespace collapse)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.trim(F.regexp_replace(c, r"\s+", " ")))


def unigram_vocab(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Corpus unigram counts: explode tokens (flatMap, no pre-shuffle)
    → one shuffle on token with map-side partial counts. Output is
    vocabulary-sized — bounded however big the corpus, so it broadcast
    back onto scoring joins."""
    toks = df.select(F.explode(tokens(text_col)).alias("token"))
    return toks.groupBy("token").agg(F.count("*").alias("cnt"))


def unigram_logprob_scores(
    df: DataFrame,
    vocab: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    unseen_floor: float = 1e-9,
) -> DataFrame:
    """Per-document unigram language-model score — the cheap stand-in
    for a perplexity-based quality filter (score = mean token
    log-probability under the corpus LM; low scorers are gibberish or
    out-of-domain). ``vocab`` defaults to the corpus itself; pass a
    reference corpus's :func:`unigram_vocab` to score against an
    external LM (unseen tokens get ``unseen_floor``).

    Plan: explode tokens, broadcast-join the vocabulary-sized LM,
    re-aggregate per doc — two shuffles over the token stream, zero
    Python. The doc-side aggregation is sum/count (deterministic
    modulo float association; oracle rounds)."""
    if vocab is None:
        vocab = unigram_vocab(df, text_col)
    total = vocab.agg(F.sum("cnt").alias("_t"))
    vocab_p = vocab.crossJoin(F.broadcast(total)).select(
        "token",
        "cnt",
        F.log(F.col("cnt").cast("double") / F.col("_t")).alias("logp"),
    )
    exploded = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    scored = exploded.join(F.broadcast(vocab_p), "token", "left")
    floor = F.log(F.lit(float(unseen_floor)))
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.coalesce("cnt", F.lit(0))).alias("sum_freq"),
        F.avg(F.coalesce("logp", floor)).alias("avg_logp"),
    )


def bigram_logprob_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lambda_bi: float = 0.7,
    unseen_floor: float = 1e-9,
) -> DataFrame:
    """Per-document INTERPOLATED bigram language-model score — the
    next step up from :func:`unigram_logprob_scores` toward a real
    perplexity filter: each token position (after the first) scores
    ln(λ·P(w2|w1) + (1−λ)·P(w2)), Jelinek-Mercer smoothing between
    the bigram MLE and the unigram fallback. Bigram context captures
    the word-salad failure mode unigrams miss (each token common, the
    sequence improbable).

    Plan shape at 100 TB:

    1. bigram explode (zip_with over two slices — flatMap, no
       pre-shuffle) → ONE (w1,w2)-keyed count shuffle; the bigram
       table is bigram-TYPE-bounded (vocabulary², in practice far
       smaller), with map-side partial counts absorbing hot pairs;
    2. context totals c(w1) = one further w1-keyed aggregate of that
       table (table-sized, not corpus-sized);
    3. scoring re-joins the doc bigram stream against the bigram and
       unigram tables — the bigram join is keyed (shuffle; broadcast
       it when the table fits), the unigram join broadcasts;
    4. per-doc partial-agged re-aggregation.

    Documents with < 2 tokens emit no row (no bigram positions).
    """
    uni = unigram_vocab(df, text_col)
    total = uni.agg(F.sum("cnt").alias("_t"))
    uni_p = uni.crossJoin(F.broadcast(total)).select(
        F.col("token").alias("w2"),
        (F.col("cnt").cast("double") / F.col("_t")).alias("p_uni"),
    )

    toks = tokens(text_col)
    n = F.size(toks)
    w1s = F.slice(toks, 1, F.greatest(n - 1, F.lit(0)))
    w2s = F.slice(toks, 2, F.greatest(n - 1, F.lit(0)))
    doc_bi = df.select(
        F.col(id_col),
        F.explode(
            F.zip_with(w1s, w2s, lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
        ).alias("bg"),
    ).select(id_col, "bg.w1", "bg.w2")

    bi_counts = doc_bi.groupBy("w1", "w2").agg(F.count("*").alias("bcnt"))
    ctx = bi_counts.groupBy("w1").agg(F.sum("bcnt").alias("ccnt"))
    bi_p = bi_counts.join(ctx, "w1").select(
        "w1", "w2", (F.col("bcnt").cast("double") / F.col("ccnt")).alias("p_bi")
    )

    lam = F.lit(float(lambda_bi))
    scored = (
        doc_bi.join(bi_p, ["w1", "w2"], "left")
        .join(F.broadcast(uni_p), "w2", "left")
        .select(
            F.col(id_col),
            F.log(
                F.greatest(
                    lam * F.coalesce("p_bi", F.lit(0.0))
                    + (F.lit(1.0) - lam) * F.coalesce("p_uni", F.lit(0.0)),
                    F.lit(float(unseen_floor)),
                )
            ).alias("logp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.avg("logp").alias("avg_logp2"),
    )


def hashed_linear_margin(
    text: Column | str,
    weights: Column | None = None,
    n_buckets: int = 1 << 16,
    seed: str = "qc0",
) -> Column:
    """The PRE-SIGMOID linear margin of :func:`hashed_linear_score`
    (mean of per-token hashed-bucket weights) — the monotone score to
    RANK on (AUC, percentile gates): ranking by the margin equals
    ranking by the sigmoid without the cross-engine exp() ulp risk.
    Same IEEE operation order in both engines (sequential fold over
    the token array, one division), so quantizations of it
    hash-match."""
    from denormalized_spark.operators.dedup import token_hash32

    toks = tokens(text)
    buckets = F.transform(toks, lambda t: token_hash32(t) % F.lit(n_buckets))
    if weights is not None:
        w = F.transform(buckets, lambda b: F.coalesce(weights[b], F.lit(0.0)))
    else:
        # pseudo-weight(b) = first-8-hex(md5(seed||b)) / 2^32 * 2 - 1
        w = F.transform(buckets, lambda b: md5_unit(b, 8, salt=seed) * 2 - 1)
    return F.aggregate(
        w, F.lit(0.0), lambda a, x: a + x
    ) / F.greatest(F.size(toks), F.lit(1))


def hashed_linear_score(
    text: Column | str,
    weights: Column | None = None,
    n_buckets: int = 1 << 16,
    seed: str = "qc0",
) -> Column:
    """fastText/CCNet-style quality-classifier inference at scan
    speed: score = sigmoid(mean of per-token weights), with tokens
    hashed into ``n_buckets`` feature buckets (the hashing trick — no
    vocabulary lookup, O(1) memory).

    ``weights`` is a MAP<bigint, double> column/literal of trained
    bucket weights (typically a broadcast literal built from a model);
    when None, deterministic md5-derived pseudo-weights in [-1, 1)
    stand in — engine-portable, so the DuckDB oracle reproduces them
    exactly, and the plumbing (hash → lookup → mean → sigmoid) is the
    part under test. Pure per-row projection: zero shuffles, zero
    Python, whole-stage codegen."""
    mean = hashed_linear_margin(text, weights, n_buckets, seed)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-mean))


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", top_k: int | None = None
) -> DataFrame:
    """Corpus-wide adjacent-pair counts — the inner loop of BPE/
    WordPiece tokenizer training (Sennrich et al. 2016): each merge
    step picks the most frequent adjacent symbol pair. This computes
    one full counting pass at word granularity (symbol-level merges
    iterate the same plan over re-segmented arrays).

    Plan: the pair stream is built per-row with zip_with over two
    slices of the token array (flatMap, no pre-shuffle), then ONE
    count shuffle keyed by pair with map-side combine — the output is
    pair-vocabulary-sized, bounded regardless of corpus size. With
    ``top_k``, a TakeOrderedAndProject replaces the full sort."""
    pairs = df.select(F.explode(word_ngrams(text_col, 2)).alias("pair"))
    counts = pairs.groupBy("pair").agg(F.count("*").alias("cnt"))
    if top_k is not None:
        counts = counts.orderBy(F.desc("cnt"), F.asc("pair")).limit(top_k)
    return counts


def _merge_adjacent(syms: Column, a: str, b: str) -> Column:
    """Greedy left-to-right merge of every adjacent (a, b) symbol pair
    into one symbol — single fold over the array; the accumulator is
    the merged-so-far array, so 'a a a' with pair (a,a) yields
    (aa, a), the standard BPE overlap rule."""
    merged = a + b
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    df: DataFrame,
    num_merges: int = 6,
    text_col: str = "text",
    max_vocab: int | None = None,
) -> DataFrame:
    """TRAIN a byte-pair-encoding merge table over the corpus
    (Sennrich et al. 2016) — the tokenizer-induction loop itself, not
    just one pair-count pass (:func:`bpe_pair_counts` is this
    algorithm's inner statistic). Returns the learned merge list:
    (rank, sym_a, sym_b, merged, pair_count).

    Distributed shape — why this holds at 100 TB:

    1. ONE corpus-sized operation total: tokens explode → word-count
       shuffle. Everything after runs on the WORD VOCABULARY table
       (counts attached), which is vocabulary-bounded — millions of
       rows regardless of corpus bytes. Real BPE trainers make the
       same reduction.
    2. Per merge round, on the vocab table only: adjacent-pair counts
       (zip_with over two slices — no per-element re-evaluation),
       one pair-keyed partial-agged shuffle, then a 1-ROW argmax
       collect (count desc, pair asc — deterministic) — the sanctioned
       metadata probe, same shape as kmeans_fit's k-row centroids.
    3. The merge rewrite is a per-row fold (:func:`_merge_adjacent`);
       vocab is localCheckpoint-ed each round so lineage stays O(1)
       across ``num_merges`` iterations (the connected_components
       pattern).

    ``max_vocab`` bounds the vocab table deterministically (top-N by
    count desc, word asc) — the knob for adversarial corpora with
    unbounded distinct-token counts (URLs, hashes). Words containing
    the \\x01/\\x02 sentinel bytes are excluded (they'd break the
    engine-portable oracle encoding; real corpora don't contain
    control bytes in tokens).

    Merges apply within words only (no cross-word pairs, no
    end-of-word marker — the deterministic word-internal variant).
    Stops early if no adjacent pair remains.
    """
    spark = df.sparkSession
    words = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .filter(~F.col("word").contains("\x01") & ~F.col("word").contains("\x02"))
        .groupBy("word")
        .agg(F.count("*").alias("wcount"))
    )
    if max_vocab is not None:
        words = words.orderBy(F.desc("wcount"), F.asc("word")).limit(max_vocab)
    vocab = words.select(
        "word", "wcount", F.split("word", "").alias("syms")
    ).localCheckpoint(eager=True)

    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, num_merges + 1):
        n = F.size("syms")
        pa = F.slice("syms", 1, F.greatest(n - 1, F.lit(0)))
        pb = F.slice("syms", 2, F.greatest(n - 1, F.lit(0)))
        pairs = vocab.select(
            F.col("wcount"),
            F.explode(F.zip_with(pa, pb, lambda a, b: F.struct(a.alias("a"), b.alias("b")))).alias("p"),
        )
        best = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("wcount").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()  # 1 row of metadata per round
        )
        if not best:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        merges.append((rank, a, b, a + b, cnt))
        vocab = vocab.withColumn(
            "syms", _merge_adjacent(F.col("syms"), a, b)
        ).localCheckpoint(eager=True)

    return spark.createDataFrame(
        merges,
        "rank int, sym_a string, sym_b string, merged string, pair_count long",
    )


def bpe_encode_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """APPLY a learned BPE merge list (from :func:`bpe_train`) to the
    corpus and report per-document segmentation stats — the encode
    half of the tokenizer loop: chars per word → merges in rank order
    (each a greedy left-to-right :func:`_merge_adjacent` fold) →
    symbol counts. Returns (id, n_words, n_chars, n_bpe_tokens): the
    compression a vocabulary actually achieves on this corpus, the
    number a tokenizer-budget decision needs.

    Pure per-row projection — the merge table is a handful of LITERALS
    baked into the expression (metadata from bpe_train's 1-row
    probes), so encoding costs one scan, zero shuffles, zero Python,
    at any corpus size. Expression depth grows linearly with
    len(merges); fine for starter vocabularies (tests cover 6), use
    a Pandas-UDF encoder for production merge counts (thousands).

    Words containing the \\x01/\\x02 sentinels are excluded, matching
    :func:`bpe_train`'s vocabulary contract.
    """

    def encode_word(w: Column) -> Column:
        syms = F.split(w, "")
        for a, b in merges:
            syms = _merge_adjacent(syms, a, b)
        return F.size(syms)

    toks = F.filter(
        tokens(text_col),
        lambda w: ~w.contains("\x01") & ~w.contains("\x02"),
    )
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_words"),
        F.aggregate(
            toks, F.lit(0), lambda acc, w: acc + F.length(w)
        ).alias("n_chars"),
        F.aggregate(
            F.transform(toks, encode_word), F.lit(0), lambda acc, n: acc + n
        ).alias("n_bpe_tokens"),
    )


#: Java regex ``\s`` (non-unicode) is exactly this class — Python's
#: ``\s`` would also split on unicode whitespace and diverge from tokens()
_WS = re.compile("[ \\t\\n\\x0b\\f\\r]+")


def _bpe_words(text: str | None) -> list[str]:
    """:func:`tokens` in Python, minus words holding the \\x01/\\x02
    sentinels (:func:`bpe_train`'s vocabulary contract)."""
    return [
        w for w in _WS.split(text or "") if w and "\x01" not in w and "\x02" not in w
    ]


def _bpe_word_kernel(merges: list[tuple[str, str]], finish):
    """The BPE word encoder of the Arrow paths: ``w ↦ finish(pieces)``,
    where the pieces come from applying ``merges`` in RANK ORDER, each a
    greedy left-to-right pass — the semantics of
    :func:`bpe_encode_counts`' fold chain. A merge (a, b) can only fire
    when a+b is a substring of the word, so that O(len) prefilter skips
    almost all of a large table. Results are cached per distinct word
    for the life of the returned function: shipped inside a
    :func:`~denormalized_spark.operators._rows.map_rows` row function,
    that is one cache per task, kept across the task's batches."""
    merge_list = [(a, b, a + b) for a, b in merges]
    cache = {}

    def encode(w: str):
        v = cache.get(w)
        if v is None:
            syms = list(w)
            for a, b, ab in merge_list:
                if ab not in w or len(syms) < 2:
                    continue
                out: list[str] = []
                for s in syms:
                    if out and out[-1] == a and s == b:
                        out[-1] = ab
                    else:
                        out.append(s)
                syms = out
            v = cache[w] = finish(syms)
        return v

    return encode


def bpe_encode_table(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """PRODUCTION BPE encoding: apply a merge table of arbitrary size
    (thousands of merges — a real 32k–100k tokenizer vocabulary) via
    an Arrow-batched ``mapInPandas`` kernel. Same output contract as
    :func:`bpe_encode_counts` — (id, n_words, n_chars, n_bpe_tokens) —
    and bit-identical results (parity-tested on the literal-chain
    config): merges apply in RANK ORDER, each a greedy left-to-right
    pass, exactly the fold chain's semantics. The literal-chain form
    stays the oracle-friendly zero-Python path for starter
    vocabularies; this is the path whose cost does NOT grow the
    expression tree with the vocabulary.

    Why it scales where the chain can't: the word kernel
    (:func:`_bpe_word_kernel`) runs only the merges whose merged
    string occurs in the word and caches per DISTINCT word, so
    per-batch cost is bounded by the batch's new-vocab mass, not its
    token count. Plan: pure mapInPandas projection — no shuffle,
    Arrow both ways, embarrassingly parallel at any corpus size.

    Words containing the \\x01/\\x02 sentinels are excluded, matching
    :func:`bpe_train`'s vocabulary contract."""
    from pyspark.sql.types import IntegerType, StructField

    word_tokens = _bpe_word_kernel(merges, len)

    def encode(text):
        words = _bpe_words(text)
        return (
            len(words),
            sum(len(w) for w in words),
            sum(word_tokens(w) for w in words),
        )

    return map_rows(
        df,
        [
            StructField("n_words", IntegerType(), False),
            StructField("n_chars", IntegerType(), False),
            StructField("n_bpe_tokens", IntegerType(), False),
        ],
        encode,
        [text_col],
        keep=[id_col],
    )


def corpus_alphabet(df: DataFrame, text_col: str = "text") -> list[str]:
    """The corpus's base-symbol alphabet: sorted distinct characters
    of its (sentinel-filtered) words — the id-0..n-1 layer of a
    char-level BPE vocabulary. One scan + one char-keyed distinct
    (alphabet-sized shuffle) + an alphabet-sized collect: a sanctioned
    metadata probe — the result is bounded by the script's character
    inventory, not the corpus bytes. Sorted in Python (codepoint
    order) so id assignment is engine-portable."""
    rows = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .filter(~F.col("w").contains("\x01") & ~F.col("w").contains("\x02"))
        .select(F.explode(F.split("w", "")).alias("ch"))
        .filter(F.col("ch") != "")
        .distinct()
        .collect()
    )
    return sorted(r["ch"] for r in rows)


def bpe_vocab(
    merges: list[tuple[str, str]], alphabet: list[str]
) -> dict[str, int]:
    """Deterministic piece → token-id map for a learned BPE model:
    the sorted alphabet takes ids 0..n-1, merge rank r takes
    n + r - 1 — rank order IS id order, the convention real BPE
    tokenizers (GPT-2 style: base symbols then merges.txt order) use,
    so a higher id always means a later-learned (rarer) piece. If two
    merge RULES produce the same piece string (possible when
    different symbol pairs concatenate identically), the earliest
    rank owns the id — first-wins, matching greedy encode where the
    earlier rule fires first."""
    vocab: dict[str, int] = {}
    for i, ch in enumerate(sorted(alphabet)):
        vocab.setdefault(ch, i)
    n = len(alphabet)
    for r, (a, b) in enumerate(merges, start=1):
        vocab.setdefault(a + b, n + r - 1)
    return vocab


def bpe_vocab_table(
    spark, merges: list[tuple[str, str]], alphabet: list[str]
) -> DataFrame:
    """The (token_id, piece, kind, rank) vocabulary table a training
    pipeline persists next to its shards — :func:`bpe_vocab` as a
    DataFrame (kind ``char`` rows carry rank NULL). Metadata-sized."""
    vocab = bpe_vocab(merges, alphabet)
    n = len(alphabet)
    rows = [
        (tid, piece, "char" if tid < n else "merge", None if tid < n else tid - n + 1)
        for piece, tid in sorted(vocab.items(), key=lambda kv: kv[1])
    ]
    return spark.createDataFrame(
        rows, "token_id int, piece string, kind string, rank int"
    )


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    alphabet: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    unk_id: int = -1,
) -> DataFrame:
    """Tokenize the corpus to TOKEN-ID SEQUENCES — the actual
    training-shard write-out: per document, the ordered ``array<int>``
    of BPE token ids (words in document order, pieces left-to-right
    within each word) plus its length. This is the step after
    :func:`bpe_train` /  :func:`bpe_encode_table` that turns a learned
    merge table into model input; ids follow :func:`bpe_vocab`
    (sorted alphabet then merge ranks). Characters outside
    ``alphabet`` map to ``unk_id``.

    Same Arrow-batched ``mapInPandas`` shape and word kernel as
    :func:`bpe_encode_table`, so it scales the same way. Pure
    projection: no shuffle, embarrassingly parallel;
    the ids column is the only wide output and it is exactly the
    payload a shard writer must move anyway.

    Words containing the \\x01/\\x02 sentinels are excluded, matching
    :func:`bpe_train`'s vocabulary contract (reference parity: the
    reference has no tokenizer induction at all — this extends its
    text surface per the LLM-pipeline brief)."""
    from pyspark.sql.types import ArrayType, IntegerType, StructField

    vocab = bpe_vocab(merges, alphabet)
    word_ids = _bpe_word_kernel(
        merges, lambda pieces: tuple(vocab.get(s, unk_id) for s in pieces)
    )

    def tokenize(text):
        ids = [i for w in _bpe_words(text) for i in word_ids(w)]
        return len(ids), ids

    return map_rows(
        df,
        [
            StructField("n_tokens", IntegerType(), False),
            StructField("token_ids", ArrayType(IntegerType(), False), False),
        ],
        tokenize,
        [text_col],
        keep=[id_col],
    )


def pack_token_sequences(
    df: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    ids_col: str = "token_ids",
    sep_id: int | None = None,
    pad_id: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """MATERIALIZE fixed-length training sequences from per-doc token
    ids (the :func:`bpe_tokenize` output) — the final shard-writing
    step: documents are laid end to end in ``id_col`` order (each
    followed by ``sep_id`` if given — the GPT-style EOS convention)
    and the global token stream is chopped every ``seq_len``. Output:
    (seq_id, input_ids array<int>, n_real) — ``n_real < seq_len``
    only on the final partial sequence, which is padded with
    ``pad_id`` when given. Where :func:`~denormalized_spark.operators.
    curation.pack_documents` reports each doc's OFFSETS, this emits
    the sequences themselves.

    100 TB shape: global offsets come from the prefix-sum pattern
    (range shuffle + local cumsum + numPartitions-row broadcast —
    never a single-reducer window); each doc then slices its own
    array into the ≤ m/seq_len + 2 sequence FRAGMENTS it spans (JVM
    higher-order slices, no per-token rows), and one seq-keyed
    shuffle assembles fragments in offset order. Every token moves
    exactly once — the unavoidable cost of writing shards — and the
    shuffle rows are array fragments, not tokens. Sequence ids are
    globally dense, so runs are bit-reproducible; at extreme scale
    pack per shard instead (drop the global order for a
    per-partition one), same trade documented on pack_documents."""
    from denormalized_spark.operators.ranking import with_global_running_sum

    ids: Column = F.col(ids_col)
    if sep_id is not None:
        ids = F.concat(ids, F.array(F.lit(sep_id).cast("int")))
    staged = (
        df.select(F.col(id_col), ids.alias("_ids"))
        .withColumn("_m", F.size("_ids"))
        .filter(F.col("_m") > 0)
        # the prefix-sum pattern consumes its input twice (local
        # cumsum + per-partition totals) and repartitionByRange
        # exchanges don't dedupe (sampled boundaries) — a lazy
        # localCheckpoint materializes the upstream ONCE (this input
        # is typically the Arrow tokenize kernel, the expensive part)
        # and both consumers read the cached blocks; packing is
        # inherently batch (global order), so cutting lineage is free
        .localCheckpoint(eager=False)
    )
    off = with_global_running_sum(
        staged,
        [F.col(id_col)],
        F.col("_m"),
        out_col="_off",
        exclusive=True,
        num_partitions=num_partitions,
    )
    # integer `div`, never floating F.floor(a/b): past 2^53 cumulative
    # tokens a double quotient loses integer exactness (offsets are
    # nonnegative, so div == floor here)
    first = F.expr(f"_off div {int(seq_len)}").cast("long")
    last = F.expr(f"(_off + _m - 1) div {int(seq_len)}").cast("long")
    start = F.greatest(F.col("seq_id") * seq_len - F.col("_off"), F.lit(0))
    end = F.least(
        (F.col("seq_id") + 1) * seq_len - F.col("_off"), F.col("_m")
    )
    frags = off.select(
        "_off", "_m", "_ids", F.explode(F.sequence(first, last)).alias("seq_id")
    ).select(
        "seq_id",
        (F.col("_off") + start).alias("_pos"),
        F.slice("_ids", (start + 1).cast("int"), (end - start).cast("int")).alias(
            "_frag"
        ),
    )
    out = (
        frags.groupBy("seq_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_frag"))),
                    lambda s: s["_frag"],
                )
            ).alias("input_ids")
        )
        .withColumn("n_real", F.size("input_ids").cast("int"))
    )
    if pad_id is not None:
        out = out.withColumn(
            "input_ids",
            F.concat(
                "input_ids",
                F.array_repeat(
                    F.lit(pad_id).cast("int"), seq_len - F.col("n_real")
                ),
            ),
        )
    return out.select("seq_id", "input_ids", "n_real")


def bpe_save(merges_df: DataFrame, path: str) -> None:
    """Persist a learned merge table (the :func:`bpe_train` output)
    as parquet — the model artifact an encode job loads."""
    merges_df.write.mode("overwrite").parquet(path)


def bpe_load(spark, path: str) -> list[tuple[str, str]]:
    """Load a persisted merge table back into the rank-ordered
    (sym_a, sym_b) list every encoder here consumes. Metadata-sized
    collect."""
    rows = spark.read.parquet(path).orderBy("rank").collect()
    return [(r["sym_a"], r["sym_b"]) for r in rows]


def doc_term_freq(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document term frequencies: explode → one shuffle keyed
    (doc, token) with map-side partial counts."""
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    return toks.groupBy(id_col, "token").agg(F.count("*").alias("tf"))


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` TF-IDF keywords per document (idf = ln(N/df)).

    Plan: (doc, token) count → token-keyed document frequency
    (vocabulary-sized, broadcast back) → per-doc row_number window.
    Every shuffle is keyed by doc or token — no global stage, so the
    plan survives corpus scale-up; the window partitions by doc_id
    (never a single-reducer global sort).

    Determinism contract for the oracle: scores are rounded to 6
    decimals BEFORE ranking and ties break on token, so rank order is
    engine-portable despite float association."""
    from pyspark.sql import Window

    tf = doc_term_freq(df, id_col, text_col)
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df_t"))
    n_docs = df.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "token",
            "tf",
            "df_t",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df_t")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "token", "tf", "df_t", "tfidf")
    )


def lines_of(text: Column | str) -> Column:
    """Non-empty trimmed lines of a document."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(
        F.transform(F.split(c, r"\n"), lambda l: F.trim(l)),
        lambda l: l != F.lit(""),
    )


def duplicate_line_fraction(text: Column | str) -> Column:
    """Fraction of lines that are repeats of an earlier line
    (Gopher-rule C4/MassiveText-style repetition signal: boilerplate
    and scraped nav bars score high). Pure per-row projection."""
    ls = lines_of(text)
    return F.when(
        F.size(ls) > 0,
        F.lit(1.0) - F.size(F.array_distinct(ls)) / F.size(ls),
    ).otherwise(F.lit(0.0))


def word_ngrams(text: Column | str, n: int = 2) -> Column:
    """ORDERED, non-distinct word n-grams (contrast
    :func:`~denormalized_spark.operators.dedup.word_shingles`, which
    distincts — repetition metrics need the multiplicity). Built by
    zip_with over n sliced copies of the token array: each slice
    evaluates the tokenization once per row; random access
    (``element_at`` in a transform lambda) would re-evaluate it per
    ELEMENT (see dedup.shingle_hashes for the measured pitfall)."""
    toks = tokens(text)
    cnt = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    slices = [F.slice(toks, j + 1, cnt) for j in range(n)]
    grams = slices[0]
    for j in range(1, n):
        grams = F.zip_with(grams, slices[j], lambda a, b: F.concat(a, F.lit(" "), b))
    return grams


def ngram_repetition(
    df: DataFrame, n: int = 2, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document n-gram repetition stats — the Gopher/MassiveText
    quality-filter family (Rae et al. 2021 §A1.1): fraction of n-gram
    occurrences taken by the single most frequent n-gram
    (``top_frac``) and by any n-gram occurring more than once
    (``dup_frac``). High scorers are machine-generated or templated
    text.

    Plan: explode n-grams → groupBy (doc, gram) with map-side partial
    counts → re-aggregate per doc. Two shuffles, both keyed by doc_id
    (+gram), no skew hotter than the longest single document. Docs
    with fewer than ``n`` tokens emit no rows."""
    grams = df.select(F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("gram"))
    per_gram = grams.groupBy(id_col, "gram").agg(F.count("*").alias("cnt"))
    return (
        per_gram.groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.max("cnt").alias("top_cnt"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias("dup_cnt"),
        )
        .select(
            id_col,
            "n_grams",
            (F.col("top_cnt") / F.col("n_grams")).alias("top_frac"),
            (F.col("dup_cnt") / F.col("n_grams")).alias("dup_frac"),
        )
    )


def token_entropy_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (nats)
    plus type-token ratio — the information-density quality signals:
    near-zero entropy flags degenerate repetition ("spam spam spam"),
    low TTR flags templated text; both are robust complements to the
    Gopher n-gram rules.

    H = ln(n) − (1/n)·Σ_t c_t·ln(c_t) over per-doc token counts c_t.

    Plan: explode tokens → groupBy (doc, token) with map-side partial
    counts → one per-doc re-aggregate. Two shuffles keyed by doc_id
    (+token): linear in corpus tokens, skew bounded by the longest
    single document — the same shape as :func:`ngram_repetition`.
    Docs with zero tokens emit no rows (no tokens → no distribution).
    """
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    per_tok = toks.groupBy(id_col, "tok").agg(F.count("*").alias("cnt"))
    return (
        per_tok.groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum(F.col("cnt") * F.log(F.col("cnt").cast("double"))).alias("_clogc"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_types",
            (F.col("n_types").cast("double") / F.col("n_tokens")).alias(
                "type_token_ratio"
            ),
            (
                F.log(F.col("n_tokens").cast("double"))
                - F.col("_clogc") / F.col("n_tokens")
            ).alias("entropy"),
        )
    )


def frequency_spectrum(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Corpus-level token frequency-of-frequencies (the Zipf/Good-
    Turing spectrum): for each occurrence count k, how many distinct
    token types occur exactly k times. The shape diagnostic for a
    training corpus — a healthy natural-language crawl is near-Zipfian
    (n_types ∝ k^-2 at the low end); bulk duplication or synthetic
    text bends the curve, and the hapax count (k=1) drives
    Good-Turing unseen-mass estimates.

    Plan: classic two-level wordcount — explode → groupBy token
    (map-side partial counts absorb hot-token skew: 'the' combines
    within each task before the shuffle) → groupBy count. The second
    shuffle is tiny (distinct k values ≪ types). Output rows =
    distinct frequencies: metadata-sized at any corpus scale.
    """
    toks = df.select(F.explode(tokens(text_col)).alias("tok"))
    per_tok = toks.groupBy("tok").agg(F.count("*").alias("freq"))
    return per_tok.groupBy("freq").agg(F.count("*").alias("n_types"))


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass per-document stats projection."""
    return df.select(
        "*",
        token_count(text_col).alias("n_tokens"),
        avg_token_length(text_col).alias("avg_token_len"),
        stopword_ratio(text_col).alias("stopword_ratio"),
        punct_ratio(text_col).alias("punct_ratio"),
        quality_score(text_col).alias("quality"),
        lang_id(text_col).alias("lang_pred"),
    )


def hashed_token_counts(text: Column | str, dim: int = 8) -> Column:
    """Feature hashing: array<long> of token counts per bucket
    (``token_hash32 % dim``) — the fastText-style featurizer for
    linear text classifiers. Pure per-row higher-order functions; the
    md5 token hash is the engine-portable one shared with the dedup
    stack.

    Single pass: bucket ids are materialized once per token (ONE md5
    per token), then a fold scatters them into the count array. The
    previous per-bucket ``F.filter`` form recomputed the md5 dim times
    per token — the fold's O(dim) array update per token is cheap long
    arithmetic, so the per-row cost drops from dim md5 evaluations per
    token to one (measured 7× at dim=64 on the classifier's feature
    pass at sf0.01). Same counts bit-for-bit: oracles unchanged."""
    from denormalized_spark.operators.dedup import token_hash32

    # element_at/transform over a DERIVED array re-evaluates its subtree
    # per access (see dedup.shingle_hashes) — so hash into a concrete
    # int array first, then fold over THAT attribute-bound array
    bucket_ids = F.transform(
        tokens(text), lambda t: (token_hash32(t) % dim).cast("int")
    )
    return F.aggregate(
        bucket_ids,
        F.array_repeat(F.lit(0).cast("long"), dim),
        lambda acc, h: F.transform(
            acc,
            lambda v, i: v + F.when(i == h, F.lit(1)).otherwise(F.lit(0)).cast("long"),
        ),
    )


def train_linear_classifier(
    df: DataFrame,
    label_col: Column | str,
    text_col: str = "text",
    dim: int = 8,
    iters: int = 3,
    lr_bits: int = 20,
) -> list[float]:
    """Distill a hashed-feature LINEAR classifier by batch gradient
    descent — the train side of the quality/language filtering loop
    (score with a big model once, train a cheap linear gate, run the
    gate over 100 TB). Returns the learned weight list.

    Each iteration is ONE distributed aggregation (sum gradient per
    feature — partial-agged, no shuffle of the corpus beyond the
    dim-column gradient row); the weight update happens driver-side
    on dim numbers. iters × one-pass — the same execution shape as
    :func:`~denormalized_spark.operators.similarity.kmeans_fit`.

    **Engine-portable by construction**: integer features/labels, a
    power-of-two learning rate (2^-lr_bits) and a floor-snap of each
    weight back to the 2^-lr_bits grid keep every intermediate an
    exact dyadic rational below 2^53 — sums are order-independent and
    bit-identical across Spark, DuckDB, and Python, so the training
    trajectory itself is oracle-checkable (no seeds, no float drift).

    **dim bound**: the prediction/gradient expression trees grow
    linearly in ``dim`` (one term per feature), so Catalyst analysis
    cost and the per-iteration collect are O(dim). Sensible for the
    hashing-trick regime this targets (dim ≤ ~256); guarded at 1024 —
    for genuinely wide models use MLlib's LogisticRegression instead.
    """
    import math

    if dim > 1024:
        raise ValueError(
            f"dim={dim} exceeds the supported bound (1024): the per-feature "
            "expression tree and driver-side gradient row grow linearly in "
            "dim; use pyspark.ml for wide models"
        )

    y = F.col(label_col) if isinstance(label_col, str) else label_col
    scale = float(2 ** lr_bits)
    feats = df.select(
        y.cast("long").alias("_y"), hashed_token_counts(text_col, dim).alias("_x")
    )
    w = [0.0] * dim
    for _ in range(iters):
        pred = None
        for j in range(dim):
            term = F.element_at("_x", j + 1) * F.lit(w[j])
            pred = term if pred is None else pred + term
        resid = pred - F.col("_y")
        g = feats.agg(
            *[
                # coalesce: F.sum over zero rows is NULL, which would
                # TypeError in the driver-side weight update below
                F.coalesce(
                    F.sum(resid * F.element_at("_x", j + 1)), F.lit(0.0)
                ).alias(f"g{j}")
                for j in range(dim)
            ]
        ).collect()[0]
        w = [
            math.floor((w[j] - g[f"g{j}"] / scale) * scale) / scale
            for j in range(dim)
        ]
    return w


def linear_classifier_score(
    weights: list[float], text_col: Column | str = "text"
) -> Column:
    """Score rows with a trained hashed-feature linear model (dot of
    :func:`hashed_token_counts` with the weight vector) — scan-speed
    inference for the trained gate."""
    counts = hashed_token_counts(text_col, len(weights))
    score = None
    for j, wj in enumerate(weights):
        term = F.element_at(counts, j + 1) * F.lit(wj)
        score = term if score is None else score + term
    return score


def ccnet_buckets(
    df: DataFrame,
    vocab: DataFrame | None = None,
    lang_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 4,
) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020): per
    language, rank documents by LM score and cut into head / middle /
    tail terciles — the published recipe for mixing "keep the head,
    sample the middle, drop the tail" training corpora. The LM here is
    the unigram stand-in (:func:`unigram_logprob_scores`; swap in a
    KenLM score column at 100 TB — only the score expression changes).

    Returns one row per doc: ``(id, lang, rlogp, bucket)`` with bucket
    ∈ head/middle/tail. Ranking happens on the ROUNDED score with an
    id tiebreak, so the tercile assignment is deterministic across
    engines and partitionings (raw float avg ordering would flip
    equal-score neighbors); the cut is ntile(3) over a lang-keyed
    window — scales to any language count, no global stage."""
    from pyspark.sql import Window

    scored = unigram_logprob_scores(df, vocab, id_col, text_col)
    withlang = scored.join(df.select(id_col, lang_col), id_col)
    rlogp = F.round(F.col("avg_logp"), round_digits)
    w = Window.partitionBy(lang_col).orderBy(
        rlogp.desc(), F.col(id_col).asc()
    )
    nt = F.ntile(3).over(w)
    bucket = (
        F.when(nt == 1, F.lit("head"))
        .when(nt == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return withlang.select(
        id_col, lang_col, rlogp.alias("rlogp"), bucket.alias("bucket")
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 top-k retrieval for one query (Robertson & Zaragoza
    2009, "The Probabilistic Relevance Framework"; idf in the
    always-positive Lucene form ``ln(1 + (N − df + 0.5)/(df + 0.5))``).
    The lexical leg of a hybrid retrieval stack — fuse with the ANN
    leg via :func:`~denormalized_spark.operators.similarity.rrf_fuse`.

    Plan shape (the 100 TB contract): doc lengths at scan speed;
    postings are RESTRICTED to the |q| query terms map-side (an
    ``isin`` literal prune on the exploded token stream), so the df
    aggregation and the per-doc score aggregation shuffle only
    query-term postings — cost ∝ corpus scan + |q|-term postings,
    never a full inverted index. Corpus stats (N, Σdl) are a 1-row
    broadcast; per-term df a ≤|q|-row broadcast join. Top-k is
    orderBy+limit = TakeOrderedAndProject (per-partition heaps, k
    rows to the driver).

    Engine portability: each (doc, term) contribution is floored to
    integer MICRO-units and the per-doc sum runs on exact integers —
    partition-order stable, and the transcendental idf on the micro
    grid is ulp-proof (the grid is ~10¹⁰ coarser than a double ulp).
    Ties break by ascending id. Returns ``(id, bm25)``.
    """
    ms = bm25_micro_scores(df, query_terms, k1, b, id_col, text_col)
    out = ms.select(
        id_col, (F.col("bm25_micro") / F.lit(1_000_000.0)).alias("bm25")
    )
    return out.orderBy(F.desc("bm25"), F.asc(id_col)).limit(k)


def bm25_micro_scores(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All-candidate BM25 scores in exact integer micro-units —
    :func:`bm25_topk`'s scoring core without the top-k, for consumers
    that re-rank or blend the full lexical candidate set (e.g.
    operators/similarity.blend_rerank). Same plan contract: postings
    pruned to the |q| query terms map-side, corpus stats a 1-row
    broadcast, per-(doc, term) contributions micro-floored so the
    per-doc sum is partition-order exact. Returns ``(id,
    bm25_micro)`` for every document matching >= 1 query term."""
    toks = tokens(text_col)
    qlit = [str(x) for x in query_terms]
    ex = (
        df.select(F.col(id_col), F.size(toks).alias("dl"), F.explode(toks).alias("term"))
        .filter(F.col("term").isin(qlit))
    )
    tf = ex.groupBy(id_col, "term").agg(
        F.count("*").alias("tf"), F.first("dl").alias("dl")
    )
    stats = df.select(F.size(toks).alias("_dl")).agg(
        F.count("*").alias("n"), F.sum("_dl").alias("sdl")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
    )
    avgdl = F.col("sdl").cast("double") / F.col("n")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tfn = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)
    )
    micro = F.floor(idf * tfn * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
    return (
        scored.select(F.col(id_col), micro.alias("_m"))
        .groupBy(id_col)
        .agg(F.sum("_m").cast("long").alias("bm25_micro"))
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
    id_col: str | None = None,
) -> DataFrame:
    """Collocation extraction by pointwise mutual information (Church
    & Hanks 1990 — the classic "strong tea vs powerful tea" statistic):
    over all ADJACENT token pairs in the corpus,

        pmi(x, y) = ln( c_xy · N / (c_x · c_y) )

    with N = total adjacent-pair count; emit the top-``k`` pairs by
    PMI (micro-floored; ties break lexicographically) among pairs with
    ``c_xy >= min_count`` — the support gate every PMI user needs,
    since bare PMI maximizes on hapax pairs. Columns:
    ``(w1, w2, n_xy, n_x, n_y, pmi_micro)``.

    Exactness: counts are exact integers ≤ corpus size < 2^53, the
    two products and one division are correctly-rounded doubles, and
    the single ln lands on the micro grid (the repo's BM25/idf
    transcendental-flooring argument: grid spacing ≫ libm ulp).

    Plan: pair generation is per-row zip_with over the token array —
    NO shuffle; then one pair-keyed count, two unigram marginal
    tables derived from the same pair table (no second corpus pass;
    joined WITHOUT a broadcast hint — marginals are vocab-sized, so
    let AQE pick broadcast vs shuffle at runtime), a 1-row N
    broadcast, and a k-row TakeOrdered. Unigram marginals count pair
    SLOTS (x as left, y as right), the convention that keeps
    Σ p(x,·) = Σ p(·,y) = 1 exactly."""
    if min_count < 1:
        raise ValueError(f"pmi_collocations: min_count must be >= 1, got {min_count}")
    toks = tokens(text_col)
    pairs_arr = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    pairs = (
        df.select(F.explode(pairs_arr).alias("_p"))
        .select("_p.w1", "_p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_xy"))
    )
    left = pairs.groupBy("w1").agg(F.sum("n_xy").alias("n_x"))
    right = pairs.groupBy("w2").agg(F.sum("n_xy").alias("n_y"))
    nn = pairs.agg(F.sum("n_xy").alias("_N"))
    scored = (
        pairs.filter(F.col("n_xy") >= min_count)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(nn))
    )
    pmi = F.floor(
        F.log(
            (F.col("n_xy").cast("double") * F.col("_N").cast("double"))
            / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
        )
        * 1_000_000
        + F.lit(0.5)
    ).cast("long")
    return (
        scored.select("w1", "w2", "n_xy", "n_x", "n_y", pmi.alias("pmi_micro"))
        .orderBy(F.desc("pmi_micro"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )


def vocab_richness(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Vocabulary-richness / unseen-mass estimators over a corpus —
    how much vocabulary the crawl has NOT seen yet, the coverage
    question behind "is more of this source worth scraping?":

    - Chao1 richness (Chao 1984, bias-corrected form):
      V̂ = V + N₁(N₁−1)/(2(N₂+1)) — a lower bound on true vocabulary
      size from the singleton/doubleton counts (well-defined at
      N₂ = 0).
    - Simple Good-Turing unseen mass (Good 1953; Gale & Sampson
      1995): P₀ = N₁/N, the probability the next token is novel.
    - The small-r smoothed counts r* = (r+1)·N_{r+1}/N_r for
      r = 1, 2 (the Good-Turing discounts LM smoothing uses).

    One row: ``(v_distinct, n_tokens, n1, n2, n3, chao1_milli,
    p0_unseen_micro, r1_star_milli, r2_star_milli)``. All inputs are
    integers (token counts and frequency-of-frequency counts); each
    statistic is one correctly-rounded double division, milli/micro-
    floored — engine-exact.

    Scale shape: explode → ONE token-keyed partial-agg count (corpus-
    linear shuffle, the TF-IDF document-frequency budget class), then
    a frequencies-of-frequencies groupBy on the count value (≤
    thousands of distinct r), then a 1-row agg. Nothing downstream of
    the first agg touches data-sized rows."""
    toks = df.select(F.explode(tokens(text_col)).alias("_t"))
    counts = toks.groupBy("_t").agg(F.count("*").alias("_r"))
    fof = counts.groupBy("_r").agg(F.count("*").cast("long").alias("_nr"))
    agg = fof.agg(
        F.sum("_nr").cast("long").alias("v_distinct"),
        F.sum(F.col("_r") * F.col("_nr")).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("_r") == 1, F.col("_nr")).otherwise(0))
        .cast("long").alias("n1"),
        F.sum(F.when(F.col("_r") == 2, F.col("_nr")).otherwise(0))
        .cast("long").alias("n2"),
        F.sum(F.when(F.col("_r") == 3, F.col("_nr")).otherwise(0))
        .cast("long").alias("n3"),
    )
    chao1 = F.col("v_distinct").cast("double") + (
        F.col("n1") * (F.col("n1") - 1)
    ).cast("double") / (2 * (F.col("n2") + 1)).cast("double")
    p0 = F.col("n1").cast("double") / F.col("n_tokens").cast("double")
    r1s = (2 * F.col("n2")).cast("double") / F.col("n1").cast("double")
    r2s = (3 * F.col("n3")).cast("double") / F.col("n2").cast("double")
    return agg.select(
        "v_distinct",
        "n_tokens",
        "n1",
        "n2",
        "n3",
        F.floor(chao1 * 1000 + F.lit(0.5)).cast("long").alias("chao1_milli"),
        F.floor(p0 * 1_000_000 + F.lit(0.5)).cast("long").alias("p0_unseen_micro"),
        F.floor(
            F.when(F.col("n1") > 0, r1s).otherwise(F.lit(0.0)) * 1000 + F.lit(0.5)
        ).cast("long").alias("r1_star_milli"),
        F.floor(
            F.when(F.col("n2") > 0, r2s).otherwise(F.lit(0.0)) * 1000 + F.lit(0.5)
        ).cast("long").alias("r2_star_milli"),
    )


def tokenizer_fertility(
    df: DataFrame, lang_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Tokenizer fertility panel per language (the multilingual-
    tokenizer evaluation from the mBERT/XLM/NLLB line of work):
    fertility = subword tokens per whitespace word, plus characters
    per subword token — the numbers that expose a tokenizer taxing
    some languages with 3× the sequence length (and hence 3× the
    training/inference cost per sentence) before anyone trains on
    the mix. Uses the repo's BPE-ish segmenter
    (:func:`bpe_ish_token_count`) as the subword stand-in — swap the
    count column for a real tokenizer's at deployment; only the
    expression changes.

    One language-keyed partial agg over integer counts; the ratios
    are single correctly-rounded divisions, milli-floored. Returns
    ``(lang, n_docs, n_chars, n_words, n_subwords, fertility_milli,
    chars_per_subword_milli)``."""
    agg = df.groupBy(F.col(lang_col).alias("lang")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.length(F.col(text_col))).cast("long").alias("n_chars"),
        F.sum(token_count(text_col)).cast("long").alias("n_words"),
        F.sum(
            F.size(F.regexp_extract_all(F.col(text_col), F.lit("[A-Za-z0-9]+"), 0))
            + F.length(F.regexp_replace(F.col(text_col), "[A-Za-z0-9\\s]", ""))
        ).cast("long").alias("n_subwords"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_chars",
        "n_words",
        "n_subwords",
        F.when(
            F.col("n_words") > 0,
            F.floor(
                (F.col("n_subwords") * 1000).cast("double")
                / F.col("n_words").cast("double")
                + F.lit(0.5)
            ).cast("long"),
        ).otherwise(F.lit(0).cast("long")).alias("fertility_milli"),
        F.when(
            F.col("n_subwords") > 0,
            F.floor(
                (F.col("n_chars") * 1000).cast("double")
                / F.col("n_subwords").cast("double")
                + F.lit(0.5)
            ).cast("long"),
        ).otherwise(F.lit(0).cast("long")).alias("chars_per_subword_milli"),
    )


def heaps_curve(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bins: int = 10,
    ngram: int = 1,
) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve: vocabulary size after
    each successive tenth of the corpus (by ``id_col`` order) — the
    "is more of this source still yielding new vocabulary?" curve
    that, with :func:`vocab_richness`'s Chao1 point estimate, decides
    whether a crawl is exhausted. Sub-linear growth (ratio → 1000
    milli) means saturation; Heaps' law predicts V(N) ∝ N^β with the
    ratio per doubling ≈ 2^β.

    The trick that makes it ONE pass: a token first enters the
    vocabulary at its MINIMUM bin, so V(k) is the cumulative sum of
    per-first-bin new-token counts — one token-keyed min-agg (the
    TF-IDF document-frequency budget), never k overlapping distincts.
    Growth is reported as the integer ratio V(bin)/V(bin−1) in milli
    — no logarithms. Returns ``(bin, new_tokens, vocab_cum,
    growth_ratio_milli)``; the rollup is an ``n_bins``-row metadata
    table (its cumulative window is a few-KB task)."""
    from pyspark.sql import Window

    from denormalized_spark.operators.ranking import with_global_row_number

    ranked = with_global_row_number(
        df.select(F.col(id_col), F.col(text_col)),
        order_by=[F.col(id_col).asc()],
        out_col="_rn",
        total_col="_nd",
    )
    # SQL-standard ntile bin by doc order (matches ntile semantics:
    # first N mod k bins take the extra row) — small-N safe
    N, k = F.col("_nd"), F.lit(int(n_bins))
    q = F.floor(N / k).cast("long")
    r = N % k
    big = q + 1
    bin_ = F.when(
        F.col("_rn") <= r * big, F.floor((F.col("_rn") - 1) / big).cast("long") + 1
    ).otherwise(
        F.when(q > 0, r + F.floor((F.col("_rn") - r * big - 1) / q).cast("long") + 1)
        .otherwise(r)
    )
    # ngram > 1 tracks the n-gram vocabulary — on small/synthetic
    # unigram vocabularies the curve saturates in the first bin and
    # says nothing; the n-gram space keeps growing much longer.
    # The token array is materialized as a COLUMN before the HOF:
    # element_at over the raw split expression would re-evaluate the
    # split per element access (the repo's documented HOF pitfall).
    withtk = ranked.withColumn("_tks", tokens(text_col))
    tkc = F.col("_tks")
    if ngram > 1:
        grams = F.transform(
            F.slice(tkc, 1, F.greatest(F.size(tkc) - (ngram - 1), F.lit(0))),
            lambda x, i: F.concat_ws(
                " ", *[F.element_at(tkc, i + j + 1) for j in range(ngram)]
            ),
        )
    else:
        grams = tkc
    toks = withtk.select(bin_.alias("_bin"), F.explode(grams).alias("_t"))
    first = toks.groupBy("_t").agg(F.min("_bin").cast("long").alias("_fb"))
    per = first.groupBy("_fb").agg(F.count("*").cast("long").alias("new_tokens"))
    # emit EVERY bin — a bin that introduced nothing is the
    # saturation signal itself, not a row to drop
    spark = df.sparkSession
    bins = spark.range(1, n_bins + 1).select(F.col("id").alias("_fb"))
    per = bins.join(per, "_fb", "left").select(
        "_fb", F.coalesce("new_tokens", F.lit(0)).cast("long").alias("new_tokens")
    )
    w = Window.orderBy("_fb").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        F.col("_fb").alias("bin"),
        "new_tokens",
        F.sum("new_tokens").over(w).cast("long").alias("vocab_cum"),
    )
    prev = F.lag("vocab_cum").over(Window.orderBy("bin"))
    return cum.select(
        "bin",
        "new_tokens",
        "vocab_cum",
        F.when(
            prev.isNotNull() & (prev > 0),
            F.floor(
                (F.col("vocab_cum") * 1000).cast("double") / prev.cast("double")
                + F.lit(0.5)
            ).cast("long"),
        ).otherwise(F.lit(0).cast("long")).alias("growth_ratio_milli"),
    )


def zipf_buckets(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Zipf-law diagnostic over octave (log₂) rank buckets: count
    corpus token frequencies, rank types by frequency (ties broken
    toward the lexicographically smaller token — a pinned total
    order), and roll ranks into buckets [2ᵇ, 2ᵇ⁺¹). Under Zipf's law
    with exponent s, the total frequency mass of consecutive octaves
    falls by ~2^(s−1) and the per-type mean frequency by ~2^s — so
    ``ratio_to_next_milli`` ≈ 2000 milli across buckets diagnoses
    s ≈ 1 (natural text), flatter ratios flag boilerplate/spam-heavy
    crawls. This is the log-binned Zipf check of Piantadosi 2014
    re-expressed WITHOUT logarithms: the octave index is the bit
    length of the integer rank (length(bin(rank)) − 1 — exact in both
    engines), and the slope proxy is one milli-floored integer ratio
    per bucket, so no transcendental is evaluated anywhere.

    Scale shape: one token-keyed partial/final count (map-side
    combine), one scale-safe global rank (ranking.global_ranks —
    range shuffle + broadcast prefix sums, no single-reducer sort),
    then a ≤64-row octave rollup and its 1-step lead join — metadata.
    Returns ``(bucket, rank_lo, rank_hi, n_types, total_freq,
    mean_freq_milli, ratio_to_next_milli)`` ordered by bucket."""
    from pyspark.sql import Window

    from denormalized_spark.operators.ranking import global_ranks

    tok = df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
    counts = tok.groupBy("tok").agg(F.count("*").cast("long").alias("freq"))
    ranked = global_ranks(
        counts,
        order_by=[F.desc("freq"), F.asc("tok")],
        rank_keys=[F.col("freq"), F.col("tok")],
    ).select(
        F.col("freq"),
        (F.length(F.bin(F.col("row_number"))) - 1).cast("long").alias("bucket"),
        F.col("row_number").alias("rank"),
    )
    per = ranked.groupBy("bucket").agg(
        F.min("rank").cast("long").alias("rank_lo"),
        F.max("rank").cast("long").alias("rank_hi"),
        F.count("*").cast("long").alias("n_types"),
        F.sum("freq").cast("long").alias("total_freq"),
    )
    w = Window.orderBy("bucket")
    nxt = F.lead("total_freq").over(w)
    return (
        per.withColumn("_next", nxt)
        .select(
            "bucket",
            "rank_lo",
            "rank_hi",
            "n_types",
            "total_freq",
            F.floor(
                (F.col("total_freq") * 1000).cast("double")
                / F.col("n_types").cast("double")
                + F.lit(0.5)
            ).cast("long").alias("mean_freq_milli"),
            F.when(
                F.col("_next") > 0,
                F.floor(
                    (F.col("total_freq") * 1000).cast("double")
                    / F.col("_next").cast("double")
                    + F.lit(0.5)
                ).cast("long"),
            ).otherwise(F.lit(None).cast("long")).alias("ratio_to_next_milli"),
        )
        .orderBy("bucket")
    )


def wordpiece_train(
    df: DataFrame,
    num_merges: int = 6,
    text_col: str = "text",
    max_vocab: int | None = None,
) -> DataFrame:
    """TRAIN a WordPiece merge table over the corpus (Schuster &
    Nakajima 2012 — the BERT tokenizer's induction rule): identical
    loop shape to :func:`bpe_train`, but each round merges the
    adjacent pair maximizing the LIKELIHOOD score
    count(ab)/(count(a)·count(b)) — the pair whose fusion most
    increases the unigram-LM corpus likelihood — instead of BPE's raw
    pair count. Returns (rank, sym_a, sym_b, merged, pair_count,
    count_a, count_b, score_e12).

    Engine-identical selection at ANY corpus scale: the score is
    quantized BEFORE ranking — score_e12 = ⌊cnt·10¹²/(c_a·c_b)⌋
    computed in IEEE double arithmetic (same operations, same
    rounding in Spark and DuckDB), ties broken (a, b) lexicographic —
    the repo's micro-floor-before-ranking discipline (score_gains).
    No decimal-division rounding-mode hazard, no cross-engine
    transcendental.

    Distributed shape — same 100 TB contract as bpe_train: ONE
    corpus-sized reduction (word-count shuffle); per round, on the
    vocabulary table only, the pair counts AND the symbol unit counts
    (one extra vocab-bounded explode/agg — the WordPiece-specific
    statistic), a broadcast-sized join of pairs to unit counts, and a
    1-ROW argmax collect; vocab rewrites localCheckpoint per round.
    Words containing the \\x01/\\x02 sentinels are excluded (oracle
    encoding contract, as bpe_train)."""
    spark = df.sparkSession
    words = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .filter(~F.col("word").contains("\x01") & ~F.col("word").contains("\x02"))
        .groupBy("word")
        .agg(F.count("*").alias("wcount"))
    )
    if max_vocab is not None:
        words = words.orderBy(F.desc("wcount"), F.asc("word")).limit(max_vocab)
    vocab = words.select(
        "word", "wcount", F.split("word", "").alias("syms")
    ).localCheckpoint(eager=True)

    merges: list[tuple] = []
    for rank in range(1, num_merges + 1):
        n = F.size("syms")
        pa = F.slice("syms", 1, F.greatest(n - 1, F.lit(0)))
        pb = F.slice("syms", 2, F.greatest(n - 1, F.lit(0)))
        pairs = (
            vocab.select(
                F.col("wcount"),
                F.explode(
                    F.zip_with(
                        pa, pb, lambda a, b: F.struct(a.alias("a"), b.alias("b"))
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("wcount").cast("long").alias("cnt"))
        )
        units = (
            vocab.select("wcount", F.explode("syms").alias("sym"))
            .groupBy("sym")
            .agg(F.sum("wcount").cast("long").alias("c"))
        )
        ua = units.select(F.col("sym").alias("a"), F.col("c").alias("count_a"))
        ub = units.select(F.col("sym").alias("b"), F.col("c").alias("count_b"))
        score = F.floor(
            F.col("cnt").cast("double") * F.lit(1_000_000_000_000.0)
            / (F.col("count_a").cast("double") * F.col("count_b").cast("double"))
        ).cast("long")
        best = (
            pairs.join(F.broadcast(ua), "a")
            .join(F.broadcast(ub), "b")
            .withColumn("score_e12", score)
            .orderBy(F.desc("score_e12"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()  # 1 row of metadata per round
        )
        if not best:
            break
        r = best[0]
        merges.append(
            (
                rank,
                r["a"],
                r["b"],
                r["a"] + r["b"],
                int(r["cnt"]),
                int(r["count_a"]),
                int(r["count_b"]),
                int(r["score_e12"]),
            )
        )
        vocab = vocab.withColumn(
            "syms", _merge_adjacent(F.col("syms"), r["a"], r["b"])
        ).localCheckpoint(eager=True)

    return spark.createDataFrame(
        merges,
        "rank int, sym_a string, sym_b string, merged string,"
        " pair_count long, count_a long, count_b long, score_e12 long",
    )


#: demo piece inventory for the unigram-LM Viterbi segmenter: pinned
#: micro-cost literals (≈ −ln p · 10⁶ for a plausible English subword
#: unigram LM, hand-pinned — the LANG_TRIGRAM_PROFILES posture: a
#: LITERAL both engines share, not a trained artifact). A piece is
#: preferred over its characters whenever its cost beats the sum of
#: their fallback costs (4e6 each).
UNIGRAM_DEMO_COSTS = {
    "th": 6_200_000, "he": 6_300_000, "in": 6_300_000, "er": 6_400_000,
    "an": 6_400_000, "re": 6_500_000, "ed": 6_500_000, "on": 6_500_000,
    "es": 6_600_000, "ti": 6_600_000, "te": 6_600_000, "or": 6_700_000,
    "at": 6_700_000, "en": 6_700_000, "nd": 6_800_000,
    "the": 8_600_000, "ing": 8_800_000, "ion": 9_000_000,
    "ent": 9_200_000, "and": 9_200_000, "for": 9_400_000,
    "tion": 11_000_000,
}


def unigram_viterbi_stats(
    df: DataFrame,
    vocab_costs: dict[str, int] | None = None,
    text_col: str = "text",
    max_piece_len: int = 4,
    char_cost: int = 4_000_000,
    max_vocab: int = 200,
    max_word_len: int = 32,
) -> DataFrame:
    """Unigram-LM Viterbi segmentation statistics (the DECODE side of
    Kudo 2018's SentencePiece unigram model): segment each word into
    the minimum-cost piece sequence under an integer micro-cost table
    (cost ≈ −log p; single characters are the universal fallback) and
    report pieces-per-word and total cost — the segmenter every
    unigram-LM tokenizer runs at inference, next to wordpiece_train /
    bpe_train on the induction side.

    Engine-exact DP without floats or backtracking: the per-position
    state is ONE integer v = cost·1024 + n_pieces — additive across
    pieces (each contributes cost·1024 + 1), so min v IS the
    lexicographic (cost, pieces) optimum for any word under 1024
    pieces, and both engines replay the identical integer recursion
    (Spark: an aggregate fold appending to the DP array; oracle: a
    recursive CTE carrying the DP list). Pieces absent from the
    vocabulary cost 10¹² (an unreachable sentinel — the char fallback
    always bounds the path below it).

    Scale shape: one corpus-sized token reduction to (word, count),
    a deterministic top-``max_vocab`` cap, then the DP runs on the
    CAPPED vocabulary table only — ≤ max_vocab · max_word_len ·
    max_piece_len integer ops total, corpus-size-independent (the
    bpe_train posture). Returns ``(word, wcount, n_pieces,
    cost_micro)``."""
    costs = UNIGRAM_DEMO_COSTS if vocab_costs is None else vocab_costs
    words = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .filter(F.length("word") <= max_word_len)
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("wcount"))
        .orderBy(F.desc("wcount"), F.asc("word"))
        .limit(max_vocab)
    )
    map_lit = F.create_map(
        *[F.lit(x) for k, c in sorted(costs.items()) for x in (k, c)]
    )

    def pc(s: Column) -> Column:
        return F.coalesce(
            F.element_at(map_lit, s),
            F.when(F.length(s) == 1, F.lit(char_cost)).otherwise(
                F.lit(1_000_000_000_000)
            ),
        ).cast("long")

    L = F.length("word")
    v = F.aggregate(
        F.sequence(F.lit(1), L),
        F.array(F.lit(0).cast("long")),
        lambda acc, i: F.concat(
            acc,
            F.array(
                F.array_min(
                    F.transform(
                        F.sequence(
                            F.greatest(F.lit(0), i - F.lit(max_piece_len)), i - 1
                        ),
                        lambda j: F.element_at(acc, (j + 1).cast("int"))
                        + pc(F.col("word").substr(j + 1, i - j)) * 1024
                        + 1,
                    )
                )
            ),
        ),
    )
    final = F.element_at(v, (L + 1).cast("int"))
    return words.select(
        "word",
        "wcount",
        (final % 1024).cast("long").alias("n_pieces"),
        F.floor(final.cast("double") / 1024.0).cast("long").alias("cost_micro"),
    )


def rake_keywords(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 20,
    stopwords: tuple[str, ...] = STOPWORDS,
) -> DataFrame:
    """RAKE keyword extraction (Rapid Automatic Keyword Extraction,
    Rose, Engel, Cramer & Cowley 2010): candidate phrases are maximal
    runs of non-stopword tokens (gaps-and-islands split at stopword
    boundaries), each word scores degree/frequency over the phrase
    co-occurrence graph (deg(w) = Σ phrase length over phrases
    containing w; freq(w) = occurrences — the paper's definitions),
    and a phrase scores the sum of its words' scores — the
    unsupervised keyword baseline every corpus exploration starts
    with.

    Exactness contract: word scores are milli-floored BEFORE the
    phrase sum (⌊deg·1000/freq⌋, one integer division per word), so
    every phrase score is an integer sum both engines replay
    identically; ties rank (phrase asc).

    Scale shape: normalize+tokenize is a per-row projection; the
    island split is a doc-keyed rank window (per-doc state bounded by
    doc length); word stats are one token-keyed partial/final agg,
    scored back over phrase words via a vocabulary-sized broadcast;
    top-k via TakeOrderedAndProject — no global sort. Returns
    ``(phrase, n_words, n_occurrences, score_milli)``."""
    from pyspark.sql import Window

    norm = F.concat(
        F.lit(" "),
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z ]", " "), r" +", " "
        ),
        F.lit(" "),
    )
    toks = df.select(
        F.col(id_col).alias("_doc"),
        F.posexplode(tokens(norm)).alias("_pos", "_w"),
    )
    nonstop = toks.filter(~F.col("_w").isin(*stopwords))
    w = Window.partitionBy("_doc").orderBy("_pos")
    # one row per phrase OCCURRENCE: (doc, island) with its ordered words
    occ_ph = (
        nonstop.withColumn("_isl", F.col("_pos") - F.row_number().over(w))
        .groupBy("_doc", "_isl")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_pos"), F.col("_w")))
            ).alias("_ws")
        )
        .select(
            "_doc",
            "_isl",
            F.transform(F.col("_ws"), lambda s: s["_w"]).alias("_words"),
        )
    )
    occ_words = occ_ph.select(
        "_doc", "_isl", F.size("_words").cast("long").alias("n_words"),
        F.explode("_words").alias("word"),
    )
    stats = occ_words.groupBy("word").agg(
        F.sum("n_words").cast("long").alias("_deg"),
        F.count("*").cast("long").alias("_freq"),
    )
    wscore = stats.select(
        "word",
        F.floor(
            (F.col("_deg") * 1000).cast("double") / F.col("_freq").cast("double")
        ).cast("long").alias("_wsm"),
    )
    per_occ = (
        occ_words.join(F.broadcast(wscore), "word")
        .groupBy("_doc", "_isl", "n_words")
        .agg(F.sum("_wsm").cast("long").alias("_score"))
    )
    # the ordered phrase string comes from occ_ph (collect_list after
    # the join has no order guarantee, so it can't be built here)
    per_occ = per_occ.join(
        occ_ph.select(
            "_doc", "_isl",
            F.concat_ws(" ", F.col("_words")).alias("phrase"),
        ),
        ["_doc", "_isl"],
    )
    return (
        per_occ.groupBy("phrase", "n_words")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.max("_score").cast("long").alias("score_milli"),
        )
        .orderBy(F.desc("score_milli"), F.asc("phrase"))
        .limit(top_k)
    )


def absolute_discount_bigram(
    df: DataFrame,
    text_col: str = "text",
    discount: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """Absolute-discounting bigram language model (Ney, Essen &
    Kneser 1994 — the discounting rule Kneser-Ney inherits), with the
    Kneser-Ney CONTINUATION distribution as the back-off:

        P_AD(w2|w1) = (max(c12 − D, 0) + D·T(w1)·P_cont(w2)) / c1
        P_cont(w2)  = |{w : c(w, w2) > 0}| / |distinct bigram types|

    The top-``k`` bigrams by count (ties lexicographic) are emitted
    with the MLE and the discounted probability side by side — the
    diagnostic table an LM-smoothing choice is made from (AD moves
    mass from frequent-but-expected pairs toward pairs with diverse
    continuations).

    Engine-exact: every count is an exact integer; the formula is one
    fixed-order IEEE expression over those integers and the literal
    D, micro-floored (the repo's quantized-estimator discipline) —
    no transcendentals at all.

    Scale shape: pair generation is a per-row zip_with (no shuffle);
    one pair-keyed count; marginals/continuation tables derive from
    the pair table (no second corpus pass; vocab-sized, AQE picks
    the join strategy); one 1-row type-count broadcast; k-row
    TakeOrdered. Returns ``(w1, w2, n_xy, n_x, p_mle_micro,
    p_ad_micro)``."""
    toks = tokens(text_col)
    pairs_arr = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    pairs = (
        df.select(F.explode(pairs_arr).alias("_p"))
        .select("_p.w1", "_p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("n_xy"))
    )
    left = pairs.groupBy("w1").agg(
        F.sum("n_xy").cast("long").alias("n_x"),
        F.count("*").cast("long").alias("n_follow"),
    )
    cont = pairs.groupBy("w2").agg(
        F.count("*").cast("long").alias("n_pred")
    )
    types = pairs.agg(F.count("*").cast("long").alias("_nt"))
    d_lit = F.lit(float(discount))
    p_ad = (
        (
            F.greatest(F.col("n_xy").cast("double") - d_lit, F.lit(0.0))
            + d_lit
            * F.col("n_follow").cast("double")
            * (F.col("n_pred").cast("double") / F.col("_nt").cast("double"))
        )
        / F.col("n_x").cast("double")
    )
    return (
        pairs.join(left, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .select(
            "w1",
            "w2",
            "n_xy",
            "n_x",
            F.floor(
                F.col("n_xy").cast("double") / F.col("n_x").cast("double")
                * F.lit(1_000_000.0)
                + F.lit(0.5)
            ).cast("long").alias("p_mle_micro"),
            F.floor(p_ad * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
            .alias("p_ad_micro"),
        )
        .orderBy(F.desc("n_xy"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )


def flesch_kincaid_by_group(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Flesch-Kincaid grade level per group (Kincaid et al. 1975 —
    0.39·(words/sentences) + 11.8·(syllables/word) − 15.59), the
    readability gate corpus curation stacks run beside the Gopher
    rules. Syllables use the standard vowel-group proxy (count of
    ``[aeiou]+`` runs, min 1 per word); this corpus has no sentence
    punctuation, so each document is ONE sentence (words/sentences =
    word count — documented, deterministic; real corpora would split
    on [.!?]).

    Engine-exact: word and vowel-group counts are exact integers per
    document; the grade is one fixed-order IEEE expression over them,
    milli-floored per document; the group mean divides two exact
    longs then milli-floors.

    Scale shape: per-row projection (regexp over each token — scan
    speed, no Python), one group-keyed partial/final agg. Returns
    ``(group, n_docs, avg_fk_milli)``."""
    toks = tokens(text_col)
    n_words = F.greatest(F.size(toks), F.lit(1))
    syl = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(F.regexp_count(w, F.lit("[aeiou]+")), F.lit(1)).cast("long"),
    )
    grade_milli = F.floor(
        (
            F.lit(0.39) * n_words.cast("double")
            + F.lit(11.8) * (syl.cast("double") / n_words.cast("double"))
            - F.lit(15.59)
        )
        * F.lit(1000.0)
        + F.lit(0.5)
    ).cast("long")
    per = df.select(F.col(group_col).alias("grp"), grade_milli.alias("_g"))
    return (
        per.groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.floor(
                F.sum("_g").cast("double") / F.count("*").cast("double")
                + F.lit(0.5)
            ).cast("long").alias("avg_fk_milli"),
        )
        .orderBy("grp")
    )


def burrows_delta_by_group(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    m: int = 30,
) -> DataFrame:
    """Burrows' Delta stylometry (Burrows 2002, "'Delta': a measure of
    stylistic difference"): z-score each document's relative frequency
    of the corpus's ``m`` most frequent words against the corpus
    mean/std of that word, then Delta(d) = mean |z| — the classic
    authorship/register distance; rolled up per group it measures how
    far each source's style sits from the corpus norm.

    Quantized-estimator semantics, engine-exact end to end: per-doc
    relative frequencies land on the micro grid (one floored division
    per cell, zero-count cells INCLUDED — the dense matrix Delta
    requires); μ_w and σ_w come from exact integer sums of those
    micro values (σ via the n·Σf²−(Σf)² form, one sqrt); each cell's
    |z| is milli-floored BEFORE the per-doc sum, so every aggregation
    sums exact integers (partition-order proof). The word panel is
    data-derived but deterministic: top-``m`` by corpus count, ties
    lexicographic.

    Scale shape: one corpus word count (top-m broadcast), one
    (doc × m) dense projection via a broadcast crossJoin of the
    m-row panel + left join of per-doc counts (both keyed joins AQE-
    broadcastable), one m-row stats table, two keyed reduces. At
    100 TB promote Σf² to decimal(38) (f_micro ≤ 10⁶ ⇒ long holds
    ~9·10⁶ docs per word). Returns ``(group, n_docs,
    avg_delta_milli)``."""
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("_id"),
        F.explode(tokens(text_col)).alias("tok"),
    )
    panel = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("_c"))
        .orderBy(F.desc("_c"), F.asc("tok"))
        .limit(m)
        .select("tok")
    )
    doc_len = toks.groupBy("grp", "_id").agg(
        F.count("*").cast("long").alias("_len")
    )
    cnt = (
        toks.join(F.broadcast(panel), "tok")
        .groupBy("grp", "_id", "tok")
        .agg(F.count("*").cast("long").alias("_cwd"))
    )
    dense = (
        doc_len.crossJoin(F.broadcast(panel))
        .join(cnt, ["grp", "_id", "tok"], "left")
        .select(
            "grp",
            "_id",
            "tok",
            F.floor(
                (F.coalesce(F.col("_cwd"), F.lit(0)) * 1_000_000).cast("double")
                / F.col("_len").cast("double")
                + F.lit(0.5)
            ).cast("long").alias("_f"),
        )
    )
    stats = dense.groupBy("tok").agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_f").cast("long").alias("_sf"),
        F.sum(F.col("_f") * F.col("_f")).cast("long").alias("_sf2"),
    ).select(
        "tok",
        (F.col("_sf").cast("double") / F.col("_n").cast("double")).alias("_mu"),
        F.when(
            F.col("_n") > 1,
            F.sqrt(
                F.greatest(
                    F.col("_n").cast("double") * F.col("_sf2").cast("double")
                    - F.col("_sf").cast("double") * F.col("_sf").cast("double"),
                    F.lit(0.0),
                )
                / (
                    F.col("_n").cast("double")
                    * (F.col("_n") - F.lit(1)).cast("double")
                )
            ),
        ).otherwise(F.lit(0.0)).alias("_sigma"),
    )
    z = dense.join(F.broadcast(stats), "tok").select(
        "grp",
        "_id",
        F.when(
            F.col("_sigma") > 0,
            F.floor(
                F.abs(F.col("_f").cast("double") - F.col("_mu"))
                / F.col("_sigma")
                * F.lit(1000.0)
                + F.lit(0.5)
            ).cast("long"),
        ).otherwise(F.lit(0).cast("long")).alias("_zm"),
    )
    per_doc = z.groupBy("grp", "_id").agg(
        F.floor(
            F.sum("_zm").cast("double") / F.lit(float(m)) + F.lit(0.5)
        ).cast("long").alias("_delta")
    )
    return (
        per_doc.groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.floor(
                F.sum("_delta").cast("double") / F.count("*").cast("double")
                + F.lit(0.5)
            ).cast("long").alias("avg_delta_milli"),
        )
        .orderBy("grp")
    )


def js_divergence_matrix(
    counts: DataFrame,
    group_col: str = "source",
    token_col: str = "token",
    count_col: str = "cnt",
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the token
    distributions of every group pair (Lin 1991) — the corpus-drift
    matrix a mixture designer reads to see which sources are
    linguistically close (candidates for merging) and which are the
    diversity outliers; symmetric and bounded in [0, ln 2], unlike
    the KL it averages. Input is a pre-aggregated (group, token,
    count) table (one corpus-linear tokenize+count upstream).

    JS(a,b) = ½Σ_t p ln(p/m) + ½Σ_t q ln(q/m), m = (p+q)/2. Exactness
    discipline: tokens present in BOTH groups contribute a per-token
    term pico-floored BEFORE the integer sum (Σ of floors — order
    free); the one-sided mass contributes ½·mass·ln2 where mass =
    (total − Σ matched counts)/total is ONE IEEE division of exact
    longs, pico-floored once per side — so every output value is an
    integer built from order-independent pieces and both engines
    hash-match. ln(2) is a Python literal baked into both plans.

    Scale shape: one k-row totals broadcast, ONE token-keyed
    self-join of the distribution table (output ≤ vocab·k²/2 rows),
    one (a, b)-keyed agg → k²/2 metadata rows. Returns ``(source_a,
    source_b, n_common_tokens, js_pico)``."""
    import math

    ln2 = math.log(2.0)
    totals = counts.groupBy(group_col).agg(
        F.sum(count_col).cast("long").alias("_tot")
    )
    dist = counts.join(F.broadcast(totals), group_col).select(
        F.col(group_col).alias("_g"),
        F.col(token_col).alias("_t"),
        F.col(count_col).cast("long").alias("_c"),
        F.col("_tot"),
    )
    a = dist.select(
        F.col("_g").alias("_ga"), F.col("_t"),
        F.col("_c").alias("_ca"), F.col("_tot").alias("_ta"),
    )
    b = dist.select(
        F.col("_g").alias("_gb"), F.col("_t"),
        F.col("_c").alias("_cb"), F.col("_tot").alias("_tb"),
    )
    j = a.join(b, "_t").filter(F.col("_ga") < F.col("_gb"))
    p = F.col("_ca").cast("double") / F.col("_ta").cast("double")
    q_ = F.col("_cb").cast("double") / F.col("_tb").cast("double")
    m = (p + q_) / F.lit(2.0)
    term = F.floor(
        (
            F.lit(0.5) * p * F.log(p / m) + F.lit(0.5) * q_ * F.log(q_ / m)
        ) * F.lit(1e12)
    ).cast("long")
    matched = j.groupBy(
        F.col("_ga").alias("source_a"), F.col("_gb").alias("source_b")
    ).agg(
        F.count("*").cast("long").alias("_nc"),
        F.sum(term).cast("long").alias("_mt0"),
        F.sum("_ca").cast("long").alias("_sca0"),
        F.sum("_cb").cast("long").alias("_scb0"),
    )
    # re-anchor on the FULL pair grid so disjoint-vocabulary pairs
    # keep a row (their JS is the ln 2 bound from the one-sided mass)
    # instead of vanishing from the matrix
    grid = (
        totals.select(
            F.col(group_col).alias("source_a"), F.col("_tot").alias("_tta")
        )
        .crossJoin(
            F.broadcast(
                totals.select(
                    F.col(group_col).alias("source_b"),
                    F.col("_tot").alias("_ttb"),
                )
            )
        )
        .filter(F.col("source_a") < F.col("source_b"))
    )
    per = grid.join(matched, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        F.coalesce("_nc", F.lit(0)).cast("long").alias("n_common_tokens"),
        F.coalesce("_mt0", F.lit(0)).cast("long").alias("_mt"),
        F.coalesce("_sca0", F.lit(0)).cast("long").alias("_sca"),
        F.coalesce("_scb0", F.lit(0)).cast("long").alias("_scb"),
        "_tta",
        "_ttb",
    )
    only_a = F.floor(
        F.lit(0.5 * ln2)
        * (F.col("_tta") - F.col("_sca")).cast("double")
        / F.col("_tta").cast("double")
        * F.lit(1e12)
    ).cast("long")
    only_b = F.floor(
        F.lit(0.5 * ln2)
        * (F.col("_ttb") - F.col("_scb")).cast("double")
        / F.col("_ttb").cast("double")
        * F.lit(1e12)
    ).cast("long")
    return per.select(
        "source_a",
        "source_b",
        "n_common_tokens",
        (F.col("_mt") + only_a + only_b).cast("long").alias("js_pico"),
    ).orderBy("source_a", "source_b")


def word_burstiness(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 30,
) -> DataFrame:
    """Word burstiness à la Church & Gale 1995 ("Poisson mixtures"):
    content words are BURSTY — once a document uses one it tends to
    repeat it — while function words scatter ~Poisson across
    documents. Per token: collection frequency cf, document frequency
    dfreq, the burst rate cf/dfreq (mean occurrences per containing
    doc), and the Poisson gap dfreq / (N·(1−e^(−cf/N))) — the
    observed-vs-Poisson document spread, ≪1 for bursty terms. The
    ranked report is the stopword/keyword discriminator a pipeline
    reads before hand-tuning stopword lists (an IDF column alone
    can't separate "frequent because everywhere" from "frequent
    because bursty").

    Exactness: burst_milli = floor(cf·1000 / dfreq) is integer DIV;
    the Poisson gap is ONE fixed-order IEEE expression over exact
    longs, milli-floored once (the one-floored-division-per-output
    discipline); exp/ln are trusted bit-identical cross-engine (the
    theil/entropy precedent).

    Scale shape: one explode + token-keyed agg (count + distinct-doc
    count, partials map-side), a 1-row corpus-count broadcast, then
    TakeOrderedAndProject(top_k). Returns ``(token, cf, dfreq,
    burst_milli, poisson_gap_milli)`` ordered cf desc, token asc."""
    tok = df.select(F.col(id_col).alias("_id"),
                    F.explode(tokens(text_col)).alias("token"))
    per = tok.groupBy("token").agg(
        F.count("*").cast("long").alias("cf"),
        F.count_distinct("_id").cast("long").alias("dfreq"),
    )
    n = df.agg(F.count("*").cast("long").alias("_n"))
    gap = F.floor(
        F.col("dfreq").cast("double")
        / (
            F.col("_n").cast("double")
            * (
                F.lit(1.0)
                - F.exp(-(F.col("cf").cast("double") / F.col("_n").cast("double")))
            )
        )
        * F.lit(1000.0)
    ).cast("long")
    return (
        per.crossJoin(F.broadcast(n))
        .select(
            "token",
            "cf",
            "dfreq",
            F.expr("cf * 1000 DIV dfreq").cast("long").alias("burst_milli"),
            gap.alias("poisson_gap_milli"),
        )
        .orderBy(F.desc("cf"), F.asc("token"))
        .limit(top_k)
    )
