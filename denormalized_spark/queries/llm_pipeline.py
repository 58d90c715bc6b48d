"""Training-data pipeline operators: dedup, text analysis, similarity
search — with DuckDB oracles built from the same md5-based hashing so
both engines compute identical values.

SQL fragments shared by the oracles are assembled in Python; the
Spark implementations live in operators/{dedup,text,similarity}.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from denormalized_spark.operators import dedup, similarity, text
from denormalized_spark.operators._hashing import md5_int_sql, md5_unit_sql
from denormalized_spark.queries._util import (
    _QC0_WEIGHT,
    _STOP_SQL,
    _TOKEN_HASHES,
    _TOKS,
    _gram_sql,
    _positional_gram_sql,
    q,
    t,
)


# ---- shared oracle SQL fragments -----------------------------------------


def _minhash_list(num_hashes: int) -> str:
    """Universal-hash MinHash matching operators.dedup.minhash_signature:
    base = the 32-bit numeric shingle hash folded into Z_M, then
    h_i = (a_i·(base mod M) + b_i) mod M with M = 2^31−1 and the same
    md5-derived (a_i, b_i) literals the Spark side folds with."""
    from denormalized_spark.operators.dedup import MERSENNE31, minhash_params

    parts = []
    for i in range(num_hashes):
        a, b = minhash_params(i)
        parts.append(
            f"list_min(list_transform(shingles, "
            f"h -> ({a} * (h % {MERSENNE31}) + {b}) % {MERSENNE31}))"
        )
    return "[" + ", ".join(parts) + "]"


_DOC_SHINGLES_CTE = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
hh AS (SELECT doc_id,
              {_TOKEN_HASHES} AS th
       FROM d),
sh AS (SELECT doc_id, {_gram_sql(3)} AS shingles FROM hh)
"""


def _lsh_bands_sql(id_col: str) -> str:
    """MinHash-LSH banding of the ``sh`` shingle CTE (8 hashes, 4 bands
    × 2 rows), matching operators.dedup._lsh_band_rows: CTEs ``mh``
    and ``bands(id_col, band, band_key)``."""
    return f"""
    mh AS (SELECT {id_col}, {_minhash_list(8)} AS mh FROM sh),
    bands AS (
      SELECT {id_col}, b.b AS band,
             md5(mh[b.b*2 + 1]::VARCHAR || ',' || mh[b.b*2 + 2]::VARCHAR) AS band_key
      FROM mh CROSS JOIN (VALUES (0), (1), (2), (3)) b(b)
    )"""


def _lsh_cand_sql(id_col: str) -> str:
    """LSH candidate pairs of the ``bands`` CTE: ``(id_a, id_b)``, one
    row per pair sharing ≥1 band bucket, matching
    operators.dedup.lsh_candidate_pairs."""
    return f"""
      SELECT DISTINCT a.{id_col} AS id_a, bb.{id_col} AS id_b
      FROM bands a JOIN bands bb
        ON a.band = bb.band AND a.band_key = bb.band_key AND a.{id_col} < bb.{id_col}"""


def _reach_sql(pairs: str, prefix: str = "") -> str:
    """Connected components of the ``(id_a, id_b)`` CTE ``pairs`` as a
    recursive fixpoint: ``{prefix}reach(id, label)`` holds every node
    with each node it reaches; ``min(label)`` per id is its component
    label, matching operators.dedup.connected_components. Needs
    ``WITH RECURSIVE``."""
    sym, reach = f"{prefix}sym", f"{prefix}reach"
    return f"""
    {sym} AS (SELECT id_a AS a, id_b AS b FROM {pairs}
            UNION SELECT id_b, id_a FROM {pairs}),
    {reach}(id, label) AS (
      SELECT a, a FROM {sym}
      UNION
      SELECT s.b, r.label FROM {reach} r JOIN {sym} s ON r.id = s.a
    )"""


# the doc shingles banded into LSH buckets (doc_id, band, band_key)
_LSH_BANDS_CTE = _DOC_SHINGLES_CTE + "," + _lsh_bands_sql("doc_id")

# candidate-gated shared-shingle groups per LSH pair, over the `ex`
# (doc, shingle) and `cand` CTEs of _LSH_GATE_CTES
_CAND_SHARED_SQL = """
      FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b, a.s
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      ) j SEMI JOIN cand c ON j.id_a = c.id_a AND j.id_b = c.id_b
      GROUP BY j.id_a, j.id_b, j.n_a, j.n_b"""

# exact trigram Jaccard of every LSH candidate pair (id_a, id_b, jaccard)
_CAND_JACCARD_SQL = (
    """
      SELECT j.id_a, j.id_b,
             count(*)::DOUBLE / (j.n_a + j.n_b - count(*)) AS jaccard"""
    + _CAND_SHARED_SQL
)

# AllPairs prefix-filtered exact trigram overlap over the `sh` CTE,
# matching operators.dedup.prefix_filter_jaccard_join at 60%: `od`
# per-doc frequency-ordered shingles, `vr` verified (i = |∩|, sa, sb)
_PPJOIN_CTES = """
    tk AS (SELECT doc_id, unnest(shingles) AS tok FROM sh),
    fr AS (SELECT tok, count(*) AS df FROM tk GROUP BY tok),
    od AS (SELECT doc_id, array_agg(tok ORDER BY df, tok) AS toks, count(*) AS sz
           FROM tk JOIN fr USING (tok) GROUP BY doc_id),
    pf AS (SELECT doc_id, sz,
                  unnest(toks[1 : sz - ((60 * sz + 99) // 100) + 1]) AS tok
           FROM od),
    cd AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc_id < b.doc_id
            AND 60 * a.sz <= 100 * b.sz AND 60 * b.sz <= 100 * a.sz),
    vr AS (SELECT c.id_a, c.id_b, len(list_intersect(x.toks, y.toks)) AS i,
                  x.sz AS sa, y.sz AS sb
           FROM cd c JOIN od x ON c.id_a = x.doc_id JOIN od y ON c.id_b = y.doc_id)"""

# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

@q(
    "dedup_exact",
    """
    SELECT md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_key,
           CAST(min(doc_id) AS BIGINT) AS canonical_id,
           count(*) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup with deterministic canonical survivor (min id)."""
    d = t(spark, sf, "documents").withColumn("content_key", text.content_hash("text"))
    out = dedup.exact_dedup_canonical(d, "content_key", "doc_id")
    return out.select("content_key", "canonical_id", "n_dups")


@q(
    "dedup_fingerprint",
    """
    WITH f AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct({toks})), ' ')) AS fp
      FROM documents
    )
    SELECT fp AS fingerprint, CAST(min(doc_id) AS BIGINT) AS canonical_id, count(*) AS n_dups
    FROM f GROUP BY fp
    """.format(toks=_TOKS),
)
def dedup_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup prefilter: group by order-insensitive token-set
    fingerprint (catches shuffled/duplicated-word docs)."""
    d = t(spark, sf, "documents").select(
        "doc_id", text.fingerprint("text").alias("fingerprint")
    )
    return d.groupBy("fingerprint").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_dups")
    )


@q(
    "dedup_minhash_signatures",
    _DOC_SHINGLES_CTE
    + f"""
    SELECT doc_id, mh[1] AS m0, mh[2] AS m1, mh[3] AS m2, mh[4] AS m3
    FROM (SELECT doc_id, {_minhash_list(4)} AS mh FROM sh) t
    """,
)
def dedup_minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash signatures (4 hashes, word-3-gram shingles) — computed
    per-row with higher-order functions, no shuffle."""
    d = t(spark, sf, "documents")
    sig = dedup.minhash_signatures(d, "doc_id", "text", num_hashes=4)
    return sig.select(
        "doc_id",
        *[F.element_at("minhash", i + 1).alias(f"m{i}") for i in range(4)],
    )


@q(
    "dedup_lsh_candidates",
    _LSH_BANDS_CTE + _lsh_cand_sql("doc_id"),
)
def dedup_lsh_candidates(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH candidate pairs (8 hashes, 4 bands × 2 rows):
    sub-quadratic near-dup discovery — the 100 TB path."""
    d = t(spark, sf, "documents")
    return dedup.lsh_candidate_pairs(d, "doc_id", "text", num_hashes=8, bands=4)


@q(
    "dedup_near_gate",
    _LSH_BANDS_CTE
    + """,
    owned AS (
      SELECT doc_id, band, band_key,
             row_number() OVER (PARTITION BY band, band_key ORDER BY doc_id) AS rn
      FROM bands
    )
    SELECT doc_id FROM owned WHERE rn = 1
    GROUP BY doc_id HAVING count(*) = 4
    """,
)
def dedup_near_gate(spark: SparkSession, sf: str) -> DataFrame:
    """First-claimant LSH near-dup gate, batch twin of the STREAMING
    near_dedup_stream operator (two chained stateful ops online;
    deterministic earliest-claimant here): a doc survives iff it owns
    all 4 of its LSH bands. The oracle replays the identical
    signature → band-key → earliest-owner pipeline in SQL. Stream-vs-
    batch parity is pinned in tests/test_near_dedup.py."""
    d = t(spark, sf, "documents").withColumn(
        "ts", F.timestamp_millis(F.col("doc_id") * 1000)
    )
    out = dedup.near_dedup_batch(d, "doc_id", "text", "ts", num_hashes=8, bands=4)
    return out.select("doc_id")


@q(
    "dedup_ppjoin_pairs",
    _DOC_SHINGLES_CTE
    + ","
    + _PPJOIN_CTES
    + """
    SELECT id_a, id_b, round(i::DOUBLE / (sa + sb - i)::DOUBLE, 6) AS jaccard
    FROM vr WHERE 100 * i >= 60 * (sa + sb - i)
    """,
)
def dedup_ppjoin_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT trigram-set Jaccard ≥ 0.6 similarity self-join via prefix
    filtering (AllPairs, Bayardo et al. 2007) — the exact tier beside
    the LSH paths: candidates come only from a self-join on each
    doc's frequency-rarest prefix grams (the Zipf tail — tiny join
    buckets by construction), a length filter prunes at the join, and
    the ∝-candidates verify is integer arithmetic (100·|∩| ≥
    60·(|a|+|b|−|∩|) — no float threshold boundary). Trigram elements
    (vocab³ space) keep prefix document-frequencies in the Zipf tail
    the theorem wants even on this corpus's closed vocabulary —
    measured at sf0.1: unigram sets saturate (57% of ALL pairs pass
    0.6), bigram prefixes still carry df≤296 grams (27.5M candidate
    mass), trigrams cap prefix df at 14 (0.8M — 34× less). The oracle replays the whole pipeline; tie-order
    differences cannot matter because the exact verify defines the
    output."""
    d = t(spark, sf, "documents")
    return dedup.prefix_filter_jaccard_join(d, threshold_pct=60, ngram=3)


@q(
    "dedup_jaccard_pairs",
    _DOC_SHINGLES_CTE
    + """,
    ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh)
    SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             count(*)::DOUBLE / (a.n_sh + b.n_sh - count(*)) AS jaccard
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
    ) t WHERE jaccard >= 0.2
    """,
)
def dedup_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact n-gram Jaccard via inverted-index join (shared-shingle
    groupBy) — the verify stage behind LSH candidates."""
    d = t(spark, sf, "documents")
    pairs = dedup.jaccard_pairs(d, "doc_id", "text", shingle_n=3, min_jaccard=0.2)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


_LSH_GATE_CTES = (
    _LSH_BANDS_CTE
    + """,
    cand AS ("""
    + _lsh_cand_sql("doc_id")
    + """
    ),
    ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh)
    """
)

# LSH-gated Jaccard >= 0.2 pairs `vp` and their connected components
# `reach` (see _reach_sql)
_LSH_CC_CTES = (
    _LSH_GATE_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + """,
    vp AS (
      SELECT id_a, id_b FROM ("""
    + _CAND_JACCARD_SQL
    + """
      ) t WHERE jaccard >= 0.2
    ),"""
    + _reach_sql("vp")
)


def _lsh_jaccard_pairs(d: DataFrame, min_jaccard: float = 0.2) -> DataFrame:
    """The Spark side of the ``cand`` → ``_CAND_JACCARD_SQL`` oracle
    blocks: 8-hash/4-band LSH candidate pairs, then the exact trigram
    Jaccard on those candidates only (``jaccard >= min_jaccard``)."""
    cand = dedup.lsh_candidate_pairs(d, "doc_id", "text", num_hashes=8, bands=4)
    return dedup.jaccard_pairs(
        d, "doc_id", "text", shingle_n=3, min_jaccard=min_jaccard, candidates=cand
    )


@q(
    "dedup_jaccard_lsh_verified",
    _LSH_GATE_CTES
    + "SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM ("
    + _CAND_JACCARD_SQL
    + """
    ) t WHERE jaccard >= 0.2
    """,
)
def dedup_jaccard_lsh_verified(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB dedup plan end-to-end: LSH candidates gate the exact
    Jaccard verify (``candidates=`` semi-join), so the inverted-index
    join only scores sub-quadratic LSH survivors instead of every
    shingle-sharing pair. ``dedup_jaccard_pairs`` keeps the ungated
    small-scale oracle variant."""
    d = t(spark, sf, "documents")
    pairs = _lsh_jaccard_pairs(d)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@q(
    "dedup_minhash_estimate",
    _LSH_GATE_CTES
    + f""",
    mh16 AS (SELECT doc_id, {_minhash_list(16)} AS mh FROM sh),
    est AS (
      SELECT c.id_a, c.id_b,
             len(list_filter(range(1, 17),
                 i -> a.mh[i] = b.mh[i]))::DOUBLE / 16 AS jaccard_est
      FROM cand c JOIN mh16 a ON c.id_a = a.doc_id
                  JOIN mh16 b ON c.id_b = b.doc_id
    ),
    exact AS ({_CAND_JACCARD_SQL}
    )
    SELECT e.id_a, e.id_b,
           round(e.jaccard_est, 6) AS jaccard_est,
           round(coalesce(x.jaccard, 0.0), 6) AS jaccard
    FROM est e LEFT JOIN exact x ON e.id_a = x.id_a AND e.id_b = x.id_b
    """,
)
def dedup_minhash_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """Estimate-only dedup verification: per LSH candidate pair, the
    16-hash MinHash agreement fraction (unbiased Jaccard estimator,
    stderr ≈ sqrt(J(1−J)/16)) side-by-side with the exact Jaccard.
    At extreme scale the estimate column alone decides — 2k longs per
    pair instead of two shingle sets — and this query verifies the
    estimator against truth on every candidate."""
    d = t(spark, sf, "documents")
    cand = dedup.lsh_candidate_pairs(d, "doc_id", "text", num_hashes=8, bands=4)
    est = dedup.minhash_estimate_pairs(d, cand, num_hashes=16)
    exact = dedup.jaccard_pairs(d, "doc_id", "text", shingle_n=3, candidates=cand)
    return (
        est.join(exact.select("id_a", "id_b", "jaccard"), ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            F.round("jaccard_est", 6).alias("jaccard_est"),
            F.round(F.coalesce("jaccard", F.lit(0.0)), 6).alias("jaccard"),
        )
    )


@q(
    "dedup_connected_components",
    _LSH_CC_CTES
    + """
    SELECT id AS doc_id, min(label) AS canonical_id FROM reach GROUP BY id
    """,
    eager=True,
)
def dedup_connected_components(spark: SparkSession, sf: str) -> DataFrame:
    """TRANSITIVE near-dup dedup: LSH-gated Jaccard pairs → connected
    components (min-label propagation, operators/dedup.
    connected_components) → every chained duplicate maps to one
    canonical doc_id. The oracle replays the same graph closure as a
    DuckDB recursive CTE — an iterative distributed algorithm checked
    value-for-value against a declarative fixpoint."""
    d = t(spark, sf, "documents")
    cc = dedup.connected_components(_lsh_jaccard_pairs(d), "id_a", "id_b")
    return cc.select(
        F.col("id").alias("doc_id"), F.col("label").alias("canonical_id")
    )


@q(
    "dedup_simhash",
    f"""
    WITH d AS (SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents),
    tok AS (SELECT doc_id, {md5_int_sql('s', 15)} AS h
            FROM (SELECT doc_id, unnest(toks) AS s FROM d) t),
    votes AS (
      SELECT doc_id, i.i AS bit,
             sum(CASE WHEN (h >> i.i) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM tok CROSS JOIN range(32) i(i)
      GROUP BY doc_id, i.i
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN vote > 0 THEN 1::BIGINT << bit ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """32-bit SimHash per document (per-row, JVM-only in Spark; the
    oracle expands the bit votes relationally)."""
    d = t(spark, sf, "documents")
    return d.select("doc_id", dedup.simhash("text", bits=32).alias("simhash"))


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@q(
    "text_stats",
    f"""
    WITH d AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                 / greatest(len(toks), 1), 4) AS avg_token_len,
           round(len(list_filter(toks, x -> list_contains({_STOP_SQL}, lower(x))))::DOUBLE
                 / greatest(len(toks), 1), 4) AS stop_ratio,
           round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                 / greatest(length(text), 1), 4) AS punct_ratio_r,
           CASE WHEN len(list_filter(toks, x -> list_contains({_STOP_SQL}, lower(x))))::DOUBLE
                     / greatest(len(toks), 1) >= 0.02
                THEN 'en' ELSE 'und' END AS lang_pred
    FROM d
    """,
)
def text_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document quality/language metrics — one scan, zero
    shuffles, all codegen."""
    d = t(spark, sf, "documents")
    return d.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        F.round(text.avg_token_length("text"), 4).alias("avg_token_len"),
        F.round(text.stopword_ratio("text"), 4).alias("stop_ratio"),
        F.round(text.punct_ratio("text"), 4).alias("punct_ratio_r"),
        text.lang_id("text").alias("lang_pred"),
    )


@q(
    "text_langid_accuracy",
    f"""
    WITH d AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
    pred AS (
      SELECT lang,
             CASE WHEN len(list_filter(toks, x -> list_contains({_STOP_SQL}, lower(x))))::DOUBLE
                       / greatest(len(toks), 1) >= 0.02
                  THEN 'en' ELSE 'und' END AS lang_pred
      FROM d
    )
    SELECT lang, lang_pred, count(*) AS n FROM pred GROUP BY lang, lang_pred
    """,
)
def text_langid_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID confusion matrix against the labeled lang column."""
    d = t(spark, sf, "documents")
    return (
        d.select("lang", text.lang_id("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
    )


def _ngram_lang_sql() -> str:
    """Oracle fragment mirroring text.lang_id_ngram exactly: same
    normalization, same profiles, same left-assoc score sums."""
    langs = sorted(text.LANG_TRIGRAM_PROFILES)
    norm = (
        "(' ' || regexp_replace(regexp_replace(lower(text), '[^a-z ]', ' ', 'g'),"
        " ' +', ' ', 'g') || ' ')"
    )
    score_defs = []
    for lang in langs:
        terms = " + ".join(
            f"((length(n) - length(replace(n, '{g}', ''))) / {len(g)})"
            for g in text.LANG_TRIGRAM_PROFILES[lang]
        )
        score_defs.append(f"(({terms}) / greatest(length(n) - 2, 1)) AS sc_{lang}")
    best = "greatest(" + ", ".join(f"sc_{lang}" for lang in langs) + ")"
    case = (
        "CASE "
        + " ".join(
            f"WHEN sc_{lang} = best AND best >= 0.005 THEN '{lang}'" for lang in langs
        )
        + " ELSE 'und' END"
    )
    return f"""
    WITH nrm AS (SELECT lang, {norm} AS n FROM documents),
    sc AS (SELECT lang, {", ".join(score_defs)} FROM nrm),
    b AS (SELECT lang, {best} AS best, * FROM sc)
    SELECT lang, {case} AS lang_pred_ngram, count(*) AS n
    FROM b GROUP BY lang, lang_pred_ngram
    """


@q("text_langid_ngram_confusion", _ngram_lang_sql())
def text_langid_ngram_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Char-trigram-profile language ID (textcat/CLD-style) as a
    confusion matrix vs the labeled lang column. Pure scalar
    replace-count expressions — scan speed, no arrays, no shuffles
    beyond the final small groupBy. (The synthetic corpus is
    English-like word soup for every label, so the interesting
    verified property is the deterministic scoring contract, not
    accuracy.)"""
    d = t(spark, sf, "documents")
    out = text.lang_id_ngram(d)
    return out.groupBy("lang", "lang_pred_ngram").agg(F.count("*").alias("n"))


@q(
    "text_token_totals",
    f"""
    WITH d AS (SELECT source, {_TOKS} AS toks FROM documents)
    SELECT source,
           CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
           CAST(max(len(toks)) AS BIGINT) AS max_tokens,
           round(avg(len(toks)), 4)       AS avg_tokens
    FROM d GROUP BY source
    """,
)
def text_token_totals(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus token budgeting per source — the canonical pre-training
    data-mix query."""
    d = t(spark, sf, "documents")
    n = text.token_count("text")
    return d.groupBy("source").agg(
        F.sum(n).alias("total_tokens"),
        F.max(n).alias("max_tokens"),
        F.round(F.avg(n), 4).alias("avg_tokens"),
    )


@q(
    "text_unigram_quality",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
    vocab AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT sum(cnt) AS t FROM vocab),
    scored AS (
      SELECT tok.doc_id, v.cnt, ln(v.cnt::DOUBLE / tot.t) AS logp
      FROM tok JOIN vocab v USING (token) CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(cnt) AS BIGINT) AS sum_freq,
           round(avg(logp), 4) AS avg_logp
    FROM scored GROUP BY doc_id
    """,
)
def text_unigram_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram-LM quality scoring — the perplexity-filter stand-in:
    score every doc by its mean token log-probability under the
    corpus's own unigram model. Explode → token-shuffle for the
    vocabulary (bounded output) → broadcast the LM back → per-doc
    re-aggregation; zero Python, two shuffles of the token stream.

    Stage split (r14 post-optimization runs of the since-deleted
    tools/profile_stages.py,
    idle box, sf0.1, min-of-3): cold 1.61-0.76 s across host states,
    WARM RE-EXECUTION 0.09-0.15 s → compile share ~90%. Cumulative
    stage walls: tokenize 0.20 s, +vocab agg 0.53 s, full score agg
    within noise of vocab. The 4.46× r13
    driver ratio is ~0.77 s of analysis+codegen fixed cost over an
    0.09 s execution — the execution beats the oracle's token-stream
    pass; the fixed cost amortizes to zero at scale."""
    d = t(spark, sf, "documents")
    out = text.unigram_logprob_scores(d)
    return out.select(
        "doc_id",
        "n_tokens",
        "sum_freq",
        F.round(F.col("avg_logp"), 4).alias("avg_logp"),
    )


@q(
    "text_ccnet_buckets",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
    vocab AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT sum(cnt) AS t FROM vocab),
    scored AS (
      SELECT tok.doc_id, ln(v.cnt::DOUBLE / tot.t) AS logp
      FROM tok JOIN vocab v USING (token) CROSS JOIN tot
    ),
    per_doc AS (SELECT doc_id, round(avg(logp), 4) AS rlogp
                FROM scored GROUP BY doc_id),
    cut AS (
      SELECT p.doc_id, dd.lang, p.rlogp,
             ntile(3) OVER (PARTITION BY dd.lang
                            ORDER BY p.rlogp DESC, p.doc_id ASC) AS nt
      FROM per_doc p JOIN documents dd USING (doc_id)
    )
    SELECT lang,
           CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(rlogp) AS min_rlogp,
           max(rlogp) AS max_rlogp
    FROM cut GROUP BY lang, nt
    """,
)
def text_ccnet_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet quality bucketing (Wenzek et al. 2020): per-language
    head/middle/tail terciles on the unigram-LM score (the published
    'keep the head, sample the middle, drop the tail' recipe;
    operators/text.ccnet_buckets — swap in a KenLM column at scale).
    Ranking on the rounded score with an id tiebreak makes the
    tercile CUT itself engine-deterministic; summarized per (lang,
    bucket) with exact doc counts and the rounded score range."""
    d = t(spark, sf, "documents")
    out = text.ccnet_buckets(d)
    return out.groupBy("lang", "bucket").agg(
        F.count("*").alias("n_docs"),
        F.min("rlogp").alias("min_rlogp"),
        F.max("rlogp").alias("max_rlogp"),
    )


@q(
    "text_quality_classifier",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (
      SELECT doc_id,
             list_sum(list_transform(toks, t -> {_QC0_WEIGHT}))
             / greatest(len(toks), 1) AS mean_w
      FROM d
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-mean_w)), 4) AS score,
           (1.0 / (1.0 + exp(-mean_w)) > 0.5) AS keep
    FROM s
    """,
)
def text_quality_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """Model-based quality filtering (the fastText-classifier stage of
    CCNet-style pipelines): hashed-feature linear scoring + sigmoid,
    entirely as a per-row projection — zero shuffles, scan speed at
    any corpus size. Pseudo-weights here are md5-derived (engine-
    portable for the oracle); production swaps in a broadcast
    MAP<bucket, weight> literal of trained weights."""
    d = t(spark, sf, "documents")
    score = text.hashed_linear_score("text")
    return d.select(
        "doc_id",
        F.round(score, 4).alias("score"),
        (score > 0.5).alias("keep"),
    )


@q(
    "text_bpe_pairs",
    f"""
    WITH d AS (SELECT {_TOKS} AS toks FROM documents),
    pr AS (
      SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS pair
      FROM d WHERE len(toks) >= 2
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS cnt
    FROM pr GROUP BY pair
    ORDER BY cnt DESC, pair LIMIT 20
    """,
)
def text_bpe_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer-training primitive: the BPE merge-candidate count —
    top-20 most frequent adjacent token pairs across the corpus. One
    flatMap + one map-side-combined count shuffle; top-k via
    TakeOrderedAndProject, never a global sort."""
    d = t(spark, sf, "documents")
    return text.bpe_pair_counts(d, top_k=20)


@q(
    "text_tfidf_keywords",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    n AS (SELECT count(*) AS n_docs FROM d),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
    dfreq AS (SELECT token, count(*) AS df_t FROM tf GROUP BY token),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, dfreq.df_t,
             round(tf.tf * ln(n_docs::DOUBLE / df_t), 6) AS tfidf
      FROM tf JOIN dfreq USING (token) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, token) AS rank
      FROM scored
    )
    SELECT doc_id, CAST(rank AS INT) AS rank, token,
           CAST(tf AS BIGINT) AS tf, CAST(df_t AS BIGINT) AS df_t, tfidf
    FROM ranked WHERE rank <= 5
    """,
)
def text_tfidf_keywords(spark: SparkSession, sf: str) -> DataFrame:
    """Top-5 TF-IDF keywords per document — corpus keyword extraction
    with a vocabulary-sized document-frequency table broadcast back
    onto the (doc, token) counts and a per-doc (never global) ranking
    window. Scores rounded before ranking for engine portability."""
    d = t(spark, sf, "documents")
    return text.tfidf_top_terms(d, k=5)


@q(
    "text_repetition",
    f"""
    WITH d AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS gram
      FROM d WHERE len(toks) >= 2
    ),
    bgc AS (SELECT doc_id, gram, count(*) AS cnt FROM bg GROUP BY doc_id, gram),
    bstat AS (
      SELECT doc_id, sum(cnt) AS n_bigrams, max(cnt) AS top_cnt,
             sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_cnt
      FROM bgc GROUP BY doc_id
    ),
    tg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS gram
      FROM d WHERE len(toks) >= 3
    ),
    tgc AS (SELECT doc_id, gram, count(*) AS cnt FROM tg GROUP BY doc_id, gram),
    tstat AS (
      SELECT doc_id, sum(cnt) AS t_n,
             sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS t_dup
      FROM tgc GROUP BY doc_id
    ),
    ln AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                         x -> x != '') AS ls
      FROM d
    )
    SELECT b.doc_id,
           round(CASE WHEN len(ls) > 0
                      THEN 1.0 - len(list_distinct(ls))::DOUBLE / len(ls)
                      ELSE 0.0 END, 4) AS dup_line_frac,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           round(top_cnt::DOUBLE / n_bigrams, 4) AS top_bigram_frac,
           round(dup_cnt::DOUBLE / n_bigrams, 4) AS dup_bigram_frac,
           round(t_dup::DOUBLE / t_n, 4) AS dup_trigram_frac
    FROM bstat b JOIN tstat t USING (doc_id) JOIN ln USING (doc_id)
    """,
)
def text_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher/MassiveText repetition quality filters (Rae et al. 2021
    §A1.1): duplicate-line fraction plus top-/duplicated-n-gram
    occurrence fractions for n=2,3. The line metric is a scan-speed
    projection; each n-gram metric is explode → (doc, gram) count →
    per-doc re-agg, all map-side-combinable and keyed by doc_id, so
    the plan holds at corpus scale (no global state, no skew hotter
    than the longest document)."""
    d = t(spark, sf, "documents")
    bi = text.ngram_repetition(d, 2)
    tri = text.ngram_repetition(d, 3).select(
        "doc_id", F.round("dup_frac", 4).alias("dup_trigram_frac")
    )
    ln = d.select("doc_id", F.round(text.duplicate_line_fraction("text"), 4).alias("dup_line_frac"))
    return (
        bi.join(tri, "doc_id")
        .join(ln, "doc_id")
        .select(
            "doc_id",
            "dup_line_frac",
            F.col("n_grams").alias("n_bigrams"),
            F.round("top_frac", 4).alias("top_bigram_frac"),
            F.round("dup_frac", 4).alias("dup_bigram_frac"),
            "dup_trigram_frac",
        )
    )


@q(
    "sim_quantize_int8",
    """
    WITH s AS (
      SELECT vec_id,
             embedding,
             greatest(list_max(list_transform(embedding, x -> abs(x))), 1e-12) AS scale
      FROM embeddings
    )
    SELECT vec_id,
           CAST(list_sum(list_transform(embedding,
                x -> CAST(round(x / scale * 127) AS BIGINT))) AS BIGINT) AS q_sum,
           round(scale, 6) AS q_scale_r,
           round(list_max(list_transform(embedding,
                x -> abs(round(x / scale * 127) * scale / 127 - x))), 6) AS max_abs_err
    FROM s
    """,
)
def sim_quantize_int8(spark: SparkSession, sf: str) -> DataFrame:
    """Int8 embedding quantization + reconstruction-error audit — the
    4× storage-reduction step before ANN indexing at corpus scale.
    Zero-shuffle per-row projection; the oracle recomputes the exact
    quantized values (symmetric max-abs scaling is engine-portable
    double arithmetic)."""
    from denormalized_spark.operators import similarity

    e = t(spark, sf, "embeddings")
    qd = similarity.quantize_embeddings(e)
    err = F.array_max(
        F.zip_with(
            similarity.dequantize(F.col("q_vec"), F.col("q_scale")),
            F.col("embedding"),
            lambda d, x: F.abs(d - x),
        )
    )
    q_sum = F.aggregate(
        F.col("q_vec"), F.lit(0).cast("long"), lambda a, q: a + q
    )
    return qd.select(
        "vec_id",
        q_sum.alias("q_sum"),
        F.round("q_scale", 6).alias("q_scale_r"),
        F.round(err, 6).alias("max_abs_err"),
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def _dot_sql(a: str, b: str, dim: int = 64) -> str:
    return " + ".join(f"({a}[{i}]::DOUBLE * {b}[{i}]::DOUBLE)" for i in range(1, dim + 1))


def _norm_sql(a: str, dim: int = 64) -> str:
    return "sqrt(" + " + ".join(f"({a}[{i}]::DOUBLE * {a}[{i}]::DOUBLE)" for i in range(1, dim + 1)) + ")"


@q(
    "sim_topk_query0",
    f"""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(({_dot_sql('e.embedding', 'q.embedding')})
                 / ({_norm_sql('e.embedding')} * {_norm_sql('q.embedding')}), 6) AS cosine_sim
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id != 0
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def sim_topk_query0(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-k against one query vector. Plan:
    broadcast 1-row query side, scan+score map-side, TakeOrdered —
    k rows per partition cross the wire. This IS the 100 TB plan."""
    e = t(spark, sf, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    scored = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qv))
    return (
        scored.select(
            "vec_id",
            F.round(similarity.cosine("embedding", "qvec"), 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(10)
    )


def _deq_dot_sql(a: str, sa: str, b: str, sb: str, dim: int = 64) -> str:
    """Dot product over int8-dequantized vectors, term order matching
    the Spark left fold."""
    term = (
        lambda v, s, i: f"(round({v}[{i}]::DOUBLE / {s} * 127) * {s} / 127)"
    )
    return " + ".join(
        f"({term(a, sa, i)} * {term(b, sb, i)})" for i in range(1, dim + 1)
    )


def _deq_norm_sql(a: str, sa: str, dim: int = 64) -> str:
    return f"sqrt({_deq_dot_sql(a, sa, a, sa, dim)})"


@q(
    "sim_topk_quantized_query0",
    f"""
    WITH s AS (
      SELECT vec_id, embedding,
             greatest(list_max(list_transform(embedding, x -> abs(x))), 1e-12) AS sc
      FROM embeddings
    ),
    q AS (SELECT embedding, sc FROM s WHERE vec_id = 0)
    SELECT s.vec_id,
           round(({_deq_dot_sql('s.embedding', 's.sc', 'q.embedding', 'q.sc')})
                 / ({_deq_norm_sql('s.embedding', 's.sc')}
                    * {_deq_norm_sql('q.embedding', 'q.sc')}), 6) AS cosine_sim
    FROM s CROSS JOIN q
    WHERE s.vec_id != 0
    ORDER BY cosine_sim DESC, s.vec_id
    LIMIT 10
    """,
)
def sim_topk_quantized_query0(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k over the INT8-quantized embedding store — proves the
    quantized path composes with retrieval: scan reads 4× fewer
    bytes, scoring runs on dequantized values, same broadcast +
    TakeOrdered plan as sim_topk_query0 (whose exact-float top-10 this
    approximates; at 64 dims the rank order survives quantization)."""
    e = t(spark, sf, "embeddings")
    qd = similarity.quantize_embeddings(e)
    qv = qd.filter(F.col("vec_id") == 0).select(
        F.col("q_vec").alias("qq"), F.col("q_scale").alias("qs")
    )
    scored = qd.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qv))
    deq_a = similarity.dequantize(F.col("q_vec"), F.col("q_scale"))
    deq_b = similarity.dequantize(F.col("qq"), F.col("qs"))
    return (
        scored.select(
            "vec_id",
            F.round(similarity.cosine(deq_a, deq_b), 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(10)
    )


@q(
    "sim_threshold_pairs",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(({_dot_sql('a.embedding', 'b.embedding')})
                 / ({_norm_sql('a.embedding')} * {_norm_sql('b.embedding')}), 6) AS cosine_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(({_dot_sql('a.embedding', 'b.embedding')})
                / ({_norm_sql('a.embedding')} * {_norm_sql('b.embedding')}), 6) >= 0.3
    """,
)
def sim_threshold_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """All-pairs cosine ≥ 0.3 (embedding near-dup detection).
    Correctness baseline: O(n²) self-join — at scale, LSH-bucket
    first (sim_lsh_buckets) and verify only candidates."""
    e = t(spark, sf, "embeddings")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("v_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = F.round(similarity.cosine(F.col("v_a"), F.col("v_b")), 6)
    return pairs.select("id_a", "id_b", cos.alias("cosine_sim")).filter(
        F.col("cosine_sim") >= 0.3
    )


def _lsh_sig_sql(tbl: int, num_planes: int, dim: int) -> str:
    """Per-table LSH signature as SQL. The hyperplanes are the same
    Python-computed (hashlib-md5-derived) float literals the Spark
    side constant-folds, so both engines evaluate identical
    arithmetic in identical order — the sign bits agree exactly."""
    from denormalized_spark.operators.similarity import hyperplane_components

    terms = []
    for i in range(num_planes):
        comps = hyperplane_components(tbl * num_planes + i, dim)
        dot = " + ".join(
            f"(embedding[{j + 1}]::DOUBLE * {comps[j]!r})" for j in range(dim)
        )
        terms.append(f"CASE WHEN ({dot}) > 0 THEN {1 << i} ELSE 0 END")
    return " + ".join(terms)


_LSH_PLANES, _LSH_TABLES = 4, 4
# Production template: ALWAYS cap bucket size. In-bucket pair generation
# is quadratic in population, so a degenerate region (constant/boilerplate
# embeddings) turns an uncapped bucket into the job's memory bound. 512 is
# ~4x the expected bucket population at the largest test SF (2000/16 = 125;
# max observed 198), so the cap never binds on healthy data — it exists to
# bound the pathological bucket. At production scale ALSO raise planes
# ∝ log2(corpus) (operators/similarity.lsh_bucketed_neighbors docstring).
_LSH_CAP = 512


def _lsh_ok_ctes(tables: int, cap: int) -> str:
    """Per-table surviving-bucket CTEs — the oracle mirror of
    max_bucket_size (a HAVING on per-signature population)."""
    return ",\n    ".join(
        f"ok{t_} AS (SELECT s{t_} AS b FROM sig GROUP BY s{t_}"
        f" HAVING count(*) <= {cap})"
        for t_ in range(tables)
    )


def _lsh_pair_cond(tables: int) -> str:
    """Candidate condition: the pair shares some table's bucket AND
    that bucket survived the size cap (pairs inside an oversized
    bucket can still surface through another table — same recall
    semantics as the Spark operator's per-(table,bucket) filter)."""
    return " OR ".join(
        f"(a.s{t_} = b.s{t_} AND a.s{t_} IN (SELECT b FROM ok{t_}))"
        for t_ in range(tables)
    )


@q(
    "sim_lsh_buckets",
    f"""
    WITH sig AS (
      SELECT vec_id, embedding,
             {", ".join(f"{_lsh_sig_sql(t_, _LSH_PLANES, 64)} AS s{t_}" for t_ in range(_LSH_TABLES))}
      FROM embeddings
    ),
    {_lsh_ok_ctes(_LSH_TABLES, _LSH_CAP)},
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.embedding AS va, b.embedding AS vb
      FROM sig a JOIN sig b
        ON a.vec_id < b.vec_id
      WHERE {_lsh_pair_cond(_LSH_TABLES)}
    )
    SELECT id_a, id_b, cosine_sim FROM (
      SELECT id_a, id_b,
             round(({_dot_sql('va', 'vb')}) / ({_norm_sql('va')} * {_norm_sql('vb')}), 6) AS cosine_sim
      FROM pairs
    ) t WHERE cosine_sim >= 0.3
    """,
)
def sim_lsh_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Random-hyperplane LSH ANN — the scale path. 4 tables × 4 planes
    (OR-construction): recall for a pair at angle θ is
    1 − (1 − (1 − θ/π)⁴)⁴ ≈ 87% at cos 0.8. Fully oracle-checked
    (the hyperplanes are engine-portable literals); tests additionally
    assert recall ≥ bound vs the brute-force sim_threshold_pairs.
    Carries the max_bucket_size backstop capping quadratic pair
    generation on degenerate buckets (see _LSH_CAP note). The 4-plane
    config is ORACLE-shaped (every hyperplane is a replayable SQL
    literal); a production run planes ∝ log2(corpus) — this exact
    body at 10 planes is measured at the 10× stress tier by
    tools/scale_check.stress_headline_lsh (r10: 6.98→8.61 s wall for
    10× vectors, sublinear)."""
    e = t(spark, sf, "embeddings")
    # inner prune at the exact pre-image of round(c,6) >= 0.3, so the
    # cheap filter runs before the dedup shuffle without changing the
    # rounded-value semantics the oracle checks
    out = similarity.lsh_bucketed_neighbors(
        e, dim=64, num_planes=_LSH_PLANES, num_tables=_LSH_TABLES,
        min_cosine=0.2999995, max_bucket_size=_LSH_CAP,
    )
    return out.select(
        "id_a", "id_b", F.round("cosine_sim", 6).alias("cosine_sim")
    ).filter(F.col("cosine_sim") >= 0.3)


_ND_PLANES, _ND_TABLES, _ND_TAU = 4, 8, 0.4

@q(
    "dedup_embedding_neardup",
    f"""
    WITH sig AS (
      SELECT vec_id, embedding,
             {", ".join(f"{_lsh_sig_sql(t_, _ND_PLANES, 64)} AS s{t_}" for t_ in range(_ND_TABLES))}
      FROM embeddings
    ),
    {_lsh_ok_ctes(_ND_TABLES, _LSH_CAP)},
    dups AS (
      SELECT DISTINCT b.vec_id AS dup_id
      FROM sig a JOIN sig b
        ON a.vec_id < b.vec_id
      WHERE ({_lsh_pair_cond(_ND_TABLES)})
        AND round(({_dot_sql('a.embedding', 'b.embedding')})
                  / ({_norm_sql('a.embedding')} * {_norm_sql('b.embedding')}), 6) >= {_ND_TAU}
    )
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE e.vec_id NOT IN (SELECT dup_id FROM dups)
    """,
)
def dedup_embedding_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-duplicate removal — the semantic-dedup
    stage of an LLM data pipeline. LSH-gated (4 planes × 8 tables:
    ~75% single-pass recall at cos 0.4; at production scale raise
    tables — cost is linear, the bucket join stays sub-quadratic),
    verify exact cosine on candidates only, drop the higher vec_id of
    each confirmed pair (min-id survivor, one pass — the standard
    star-dedup approximation of connected components). Fully
    oracle-checked via engine-portable hyperplane literals. Carries
    the max_bucket_size backstop bounding in-bucket pair generation
    on degenerate corpora (see _LSH_CAP note). The 4-plane config is
    ORACLE-shaped; the production-planed twin of this exact funnel
    (10 planes ∝ log2(corpus), 8 tables) is measured at the 10×
    stress tier by tools/scale_check.stress_headline_lsh (r10:
    9.10→15.65 s wall for 10× vectors, sublinear)."""
    from denormalized_spark.operators import similarity

    e = t(spark, sf, "embeddings")
    pairs = similarity.lsh_bucketed_neighbors(
        e, dim=64, num_planes=_ND_PLANES, num_tables=_ND_TABLES,
        min_cosine=_ND_TAU - 5e-7, max_bucket_size=_LSH_CAP,
    )
    dups = (
        pairs.filter(F.round("cosine_sim", 6) >= _ND_TAU)
        .select(F.col("id_b").alias("dup_id"))
        .distinct()
    )
    return e.join(
        dups, e["vec_id"] == dups["dup_id"], "left_anti"
    ).select("vec_id", "label")


def _cent_select_sql(src_vec: str, dim: int = 64) -> str:
    """Per-cluster rounded component means c_1..c_dim."""
    return ", ".join(
        f"round(avg({src_vec}[{j}]::DOUBLE), 6) AS c_{j}" for j in range(1, dim + 1)
    )


def _assign_sql(cent_cte: str, dim: int = 64) -> str:
    """One Lloyd assignment step: argmax of rounded cosine(e, c) with
    a deterministic cluster-asc tiebreak."""
    dot = " + ".join(
        f"(e.embedding[{j}]::DOUBLE * c.c_{j})" for j in range(1, dim + 1)
    )
    nc = "sqrt(" + " + ".join(f"(c.c_{j} * c.c_{j})" for j in range(1, dim + 1)) + ")"
    return f"""
      SELECT vec_id, embedding, cluster FROM (
        SELECT e.vec_id, e.embedding, c.cluster,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(({dot}) / ({_norm_sql('e.embedding')} * {nc}), 6) DESC,
                          c.cluster ASC
               ) AS rn
        FROM embeddings e CROSS JOIN {cent_cte} c
      ) WHERE rn = 1
    """


@q(
    "kmeans_clusters",
    f"""
    WITH c0 AS (
      SELECT label AS cluster, {_cent_select_sql('embedding')}
      FROM embeddings GROUP BY label
    ),
    a0 AS ({_assign_sql('c0')}),
    c1 AS (
      SELECT cluster, {_cent_select_sql('embedding')}
      FROM a0 GROUP BY cluster
    ),
    a1 AS ({_assign_sql('c1')})
    SELECT cluster, count(*) AS n,
           round(avg(embedding[1]::DOUBLE), 6) AS m0,
           round(avg(embedding[2]::DOUBLE), 6) AS m1,
           round(avg(embedding[3]::DOUBLE), 6) AS m2
    FROM a1 GROUP BY cluster
    """,
)
def kmeans_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Iterative k-means (Lloyd) over the embedding column: label
    centroids seed the quantizer, one full assign→update iteration,
    then the final assignment is summarized per cluster. Every
    iteration is fully distributed (broadcast k centroids, window
    argmax, partial-agg centroid update — operators/similarity.
    kmeans_fit); per-iteration rounding makes the trajectory
    engine-portable, so even this ITERATIVE algorithm is value-checked
    against DuckDB (two unrolled CTE iterations)."""
    from denormalized_spark.operators import similarity

    e = t(spark, sf, "embeddings")
    init = similarity.label_centroids(e)
    final = similarity.kmeans_fit(e, init, iterations=1)
    return final.groupBy("cluster").agg(
        F.count("*").alias("n"),
        *[
            F.round(F.avg(F.element_at("embedding", j + 1).cast("double")), 6).alias(
                f"m{j}"
            )
            for j in range(3)
        ],
    )


_SD_TAU, _SD_CAP = 0.3, 1024  # cap ≈ 5× the largest test-SF cluster


@q(
    "dedup_semdedup",
    f"""
    WITH c0 AS (
      SELECT label AS cluster, {_cent_select_sql('embedding')}
      FROM embeddings GROUP BY label
    ),
    a0 AS ({_assign_sql('c0')}),
    ok AS (SELECT cluster FROM a0 GROUP BY cluster HAVING count(*) <= {_SD_CAP}),
    el AS (SELECT a0.* FROM a0 JOIN ok USING (cluster)),
    dups AS (
      SELECT DISTINCT b.vec_id AS dup_id
      FROM el a JOIN el b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE round(({_dot_sql('a.embedding', 'b.embedding')})
                  / ({_norm_sql('a.embedding')} * {_norm_sql('b.embedding')}), 6) >= {_SD_TAU}
    )
    SELECT a.vec_id, a.cluster FROM a0 a
    WHERE a.vec_id NOT IN (SELECT dup_id FROM dups)
    """,
    eager=True,
)
def dedup_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): coarse-quantize the corpus
    (label-seeded centroids — in production, a kmeans_fit pass), then
    prune cosine>=tau near-duplicates WITHIN each cluster, min-id
    survivor. Complements dedup_embedding_neardup's LSH gating with
    the cluster-partitioned published alternative: pair work is
    Σ cᵢ² bounded by k ∝ corpus size (plus the max_cluster_size guard
    against degenerate quantizers, mirrored in the oracle's HAVING).
    The whole trajectory — centroid means, rounded-cosine argmax
    assignment, in-cluster pair verify — is value-checked against the
    DuckDB CTE replay."""
    from denormalized_spark.operators import similarity

    e = t(spark, sf, "embeddings")
    init = similarity.label_centroids(e)
    surv = similarity.semdedup(
        e, init, tau=_SD_TAU, max_cluster_size=_SD_CAP
    )
    return surv.select("vec_id", "cluster")


@q(
    "sim_centroid_by_label",
    """
    SELECT label,
           count(*) AS n,
           round(avg(embedding[1]::DOUBLE), 6) AS c0,
           round(avg(embedding[2]::DOUBLE), 6) AS c1,
           round(avg(embedding[3]::DOUBLE), 6) AS c2
    FROM embeddings GROUP BY label
    """,
)
def sim_centroid_by_label(spark: SparkSession, sf: str) -> DataFrame:
    """Per-cluster centroid components (the reduce step of one
    k-means/IVF iteration) — element_at over the vector column."""
    e = t(spark, sf, "embeddings")
    return e.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(F.avg(F.element_at("embedding", 1).cast("double")), 6).alias("c0"),
        F.round(F.avg(F.element_at("embedding", 2).cast("double")), 6).alias("c1"),
        F.round(F.avg(F.element_at("embedding", 3).cast("double")), 6).alias("c2"),
    )


def _sqd_sql(a: str, b: str, dim: int = 64) -> str:
    """Squared-L2 as a left-associated 64-term sum — the same float
    evaluation order as operators.similarity.sqdist's fold."""
    return " + ".join(
        f"(({a}[{j}]::DOUBLE - {b}[{j}]::DOUBLE)"
        f" * ({a}[{j}]::DOUBLE - {b}[{j}]::DOUBLE))"
        for j in range(1, dim + 1)
    )


def _kcenter_oracle(k: int, dim: int = 64) -> str:
    """Unrolled greedy farthest-point trajectory: s_r = argmax of the
    running min-distance d_{r-1} (ties to asc vec_id), d_r = least of
    d_{r-1} and the rounded distance² to s_r — the exact per-step
    rounding kcenter_select applies, so both engines walk the same
    selection sequence."""
    parts = [
        "s1 AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 1)",
        f"d1 AS (SELECT e.vec_id, e.embedding,"
        f" round({_sqd_sql('e.embedding', 's.embedding', dim)}, 6) AS md"
        f" FROM embeddings e CROSS JOIN s1 s)",
    ]
    for r in range(2, k + 1):
        parts.append(
            f"s{r} AS (SELECT vec_id, embedding, md FROM d{r-1}"
            f" ORDER BY md DESC, vec_id LIMIT 1)"
        )
        if r < k:
            parts.append(
                f"d{r} AS (SELECT d.vec_id, d.embedding,"
                f" least(d.md, round({_sqd_sql('d.embedding', 's.embedding', dim)}, 6)) AS md"
                f" FROM d{r-1} d CROSS JOIN s{r} s)"
            )
    sel = ["SELECT 1 AS center_rank, vec_id, CAST(NULL AS DOUBLE) AS radius FROM s1"]
    sel += [f"SELECT {r}, vec_id, md FROM s{r}" for r in range(2, k + 1)]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL ".join(sel)


@q(
    "sim_rrf_fusion_query0",
    f"""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    ca AS (SELECT e.vec_id,
                  round(({_dot_sql('e.embedding', 'q.embedding')})
                        / ({_norm_sql('e.embedding')} * {_norm_sql('q.embedding')}), 6) AS s
           FROM embeddings e CROSS JOIN q WHERE e.vec_id != 0
           ORDER BY s DESC, e.vec_id LIMIT 20),
    ra AS (SELECT vec_id, row_number() OVER (ORDER BY s DESC, vec_id) AS r FROM ca),
    cb AS (SELECT e.vec_id,
                  round({{sqd}}, 6) AS d
           FROM embeddings e CROSS JOIN q WHERE e.vec_id != 0
           ORDER BY d ASC, e.vec_id LIMIT 20),
    rb AS (SELECT vec_id, row_number() OVER (ORDER BY d ASC, vec_id) AS r FROM cb),
    u AS (SELECT vec_id, 1.0::DOUBLE / (60 + r) AS s FROM ra
          UNION ALL SELECT vec_id, 1.0::DOUBLE / (60 + r) FROM rb)
    SELECT vec_id, round(sum(s), 6) AS rrf_score
    FROM u GROUP BY vec_id
    ORDER BY rrf_score DESC, vec_id LIMIT 10
    """.replace("{sqd}", _sqd_sql("e.embedding", "q.embedding")),
)
def sim_rrf_fusion_query0(spark: SparkSession, sf: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two retrievers
    for query 0 — cosine top-20 and (negative) squared-L2 top-20 —
    into one hybrid top-10: score = Σ 1/(60 + rank). The production
    use fuses dense ANN with sparse/BM25 lists; the demo's two metric
    rankings exercise the identical plan: each retriever is its own
    TakeOrdered top-n (n-row metadata), fusion is a union + per-id
    sum + TakeOrdered. The in-list rank windows run over 20-row
    tables."""
    from pyspark.sql import Window

    e = t(spark, sf, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    scored = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qv))
    ca = (
        scored.select(
            "vec_id",
            F.round(similarity.cosine(F.col("embedding"), F.col("qvec")), 6).alias("s"),
        )
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(20)
    )
    cb = (
        scored.select(
            "vec_id",
            F.round(similarity.sqdist(F.col("embedding"), F.col("qvec")), 6).alias("d"),
        )
        .orderBy(F.asc("d"), F.asc("vec_id"))
        .limit(20)
    )
    ra = ca.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("s"), F.asc("vec_id")))
    )
    rb = cb.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.asc("d"), F.asc("vec_id")))
    )
    return similarity.rrf_fuse([ra, rb], topk=10)


@q(
    "curation_semantic_decontaminate",
    f"""
    WITH sig AS (
      SELECT vec_id, embedding,
             {", ".join(f"{_lsh_sig_sql(t_, _ND_PLANES, 64)} AS s{t_}" for t_ in range(_ND_TABLES))}
      FROM embeddings
    ),
    {_lsh_ok_ctes(_ND_TABLES, _LSH_CAP)},
    cont AS (
      SELECT DISTINCT CASE WHEN a.vec_id % 20 = 7 THEN b.vec_id
                           ELSE a.vec_id END AS cont_id
      FROM sig a JOIN sig b
        ON a.vec_id < b.vec_id
      WHERE (a.vec_id % 20 = 7) != (b.vec_id % 20 = 7)
        AND ({_lsh_pair_cond(_ND_TABLES)})
        AND round(({_dot_sql('a.embedding', 'b.embedding')})
                  / ({_norm_sql('a.embedding')} * {_norm_sql('b.embedding')}), 6) >= {_ND_TAU}
    )
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE e.vec_id % 20 != 7
      AND e.vec_id NOT IN (SELECT cont_id FROM cont)
    """,
)
def curation_semantic_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """SEMANTIC benchmark decontamination (the embedding-level
    complement of the n-gram curation_decontaminate): drop training
    vectors cosine-≥0.4 near any held-out eval vector (vec_id%20==7
    plays the eval set) — catches paraphrased/translated leakage no
    exact-substring check sees. One LSH bucket-collect pass over the
    combined corpus, cross-split pairs only, anti-join the train side
    out (operators/similarity.semantic_decontaminate, sharing the
    semantic-dedup machinery and its production bucket cap). Fully
    oracle-replayed including the gate."""
    from denormalized_spark.operators import similarity as sim

    e = t(spark, sf, "embeddings")
    ev = e.filter(F.col("vec_id") % 20 == 7).select("vec_id")
    out = sim.semantic_decontaminate(
        e, ev, tau=_ND_TAU, num_planes=_ND_PLANES, num_tables=_ND_TABLES,
        max_bucket_size=_LSH_CAP,
    )
    return out.select("vec_id", "label")


_KC_K = 6


@q("sim_kcenter_select", _kcenter_oracle(_KC_K), eager=True)
def sim_kcenter_select(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy k-center / farthest-point coreset selection (Gonzalez
    1985; Sener & Savarese 2018): pick the 6 most mutually distant
    embeddings — the diversity-subset selector of published coreset
    pipelines. Each pick is one distributed argmax (TakeOrdered, one
    row to the driver) + a map-side running-min update against the
    new center as a literal; no shuffle at any step. The DuckDB
    oracle replays the full greedy trajectory as unrolled CTEs on the
    same 6-decimal-rounded distances, so selection order, ids AND
    coverage radii are value-checked cross-engine."""
    from denormalized_spark.operators import similarity as sim

    e = t(spark, sf, "embeddings")
    return sim.kcenter_select(e, k=_KC_K)


# ---------------------------------------------------------------------------
# mergeable frequency sketches (Count-Min)
# ---------------------------------------------------------------------------

_CM_D, _CM_W = 4, 64  # width 64 << vocab at every SF: collisions are real

#: token counts + the full depth×width cell replay, shared by both
#: sketch oracles — same md5 row-salt contract as operators.sketches
_CM_CTES = f"""tok AS (SELECT unnest({_TOKS}) AS tok FROM documents),
    kc AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
    rs AS (SELECT unnest([{", ".join(str(r) for r in range(_CM_D))}]) AS r),
    cells AS (
      SELECT r AS cm_row,
             {md5_int_sql("'cm' || CAST(r AS VARCHAR) || ':' || tok", 8)}
               % {_CM_W} AS cm_col,
             CAST(sum(c) AS BIGINT) AS cnt
      FROM kc CROSS JOIN rs GROUP BY 1, 2
    )"""


@q(
    "sketch_cm_cells",
    f"""
    WITH {_CM_CTES}
    SELECT cm_row, cm_col, cnt FROM cells
    """,
)
def sketch_cm_cells(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min sketch of the corpus token-frequency distribution
    (Cormode & Muthukrishnan 2005): depth 4 × width 64 cell sums.
    Cells are sums of exact per-key partial counts, so the sketch is
    bit-identical under any partitioning and MERGEABLE across shards/
    micro-batches — the oracle rebuilds every cell from the same md5
    row-salt hashes and matches exactly."""
    from denormalized_spark.operators import sketches

    d = t(spark, sf, "documents").select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    return sketches.count_min(d, "tok", depth=_CM_D, width=_CM_W)


@q(
    "sketch_cm_heavy_hitters",
    f"""
    WITH {_CM_CTES},
    probes AS (
      SELECT k.tok, k.c, cl.cnt
      FROM kc k CROSS JOIN rs r
      JOIN cells cl
        ON cl.cm_row = r.r
       AND cl.cm_col = {md5_int_sql("'cm' || CAST(r.r AS VARCHAR) || ':' || k.tok", 8)} % {_CM_W}
    ),
    est AS (SELECT tok, CAST(min(cnt) AS BIGINT) AS cm_count,
                   CAST(min(c) AS BIGINT) AS exact_count
            FROM probes GROUP BY tok)
    SELECT tok, cm_count, exact_count FROM est
    WHERE cm_count >= CAST(ceil((SELECT count(*) FROM tok) / 50.0) AS BIGINT)
    """,
    eager=True,
)
def sketch_cm_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Heavy hitters via the Count-Min sketch: tokens whose estimate
    reaches 2% of corpus occurrences, exact count beside the estimate.
    The sketch never undercounts, so no true heavy hitter is missed;
    at width 64 the collisions are real and the oracle value-checks
    the one-sided overcounts too. Plan: the candidate table IS the
    sketch's own per-key partial agg (reused), probing is a broadcast
    join against ≤ 256 cells."""
    import math

    from denormalized_spark.operators import sketches

    d = t(spark, sf, "documents").select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    total = d.count()  # one scalar to the driver: the threshold, not data
    thr = int(math.ceil(total / 50.0))
    return sketches.cm_heavy_hitters(d, "tok", thr, depth=_CM_D, width=_CM_W)


#: HLL register derivation shared by both oracles: 60-bit md5 hash,
#: low 6 bits pick the register, rank of the lowest set bit of the
#: rest is rho (w=0 saturates at 55 = 61-p)
_HLL_CTES = f"""h AS (SELECT {md5_int_sql("text", 15)} AS h FROM documents),
    r AS (SELECT h & 63 AS reg,
                 CASE WHEN (h >> 6) = 0 THEN 55
                      ELSE bit_count(((h >> 6) & (-(h >> 6))) - 1) + 1 END AS rho
          FROM h),
    regs AS (SELECT reg, CAST(max(rho) AS BIGINT) AS rho FROM r GROUP BY reg)"""


@q(
    "sketch_hll_registers",
    f"""
    WITH {_HLL_CTES}
    SELECT reg, rho FROM regs
    """,
)
def sketch_hll_registers(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog register table (Flajolet et al. 2007) over distinct
    document texts — the mergeable distinct-count summary: sketch each
    shard/day once (≤64 rows of metadata), answer any union's
    cardinality later by per-register MAX, which Spark's scalar
    approx_count_distinct cannot do. All-integer (register index +
    lowest-set-bit rank from the md5 hash), so the oracle replays
    every register exactly."""
    from denormalized_spark.operators import sketches

    d = t(spark, sf, "documents")
    return sketches.hll_registers(d, "text", p=6)


@q(
    "sketch_hll_distinct",
    f"""
    WITH {_HLL_CTES},
    s AS (SELECT CAST(sum(CAST(2 ** (56 - rho) AS BIGINT)) AS BIGINT) AS s,
                 count(*) AS nz
          FROM regs),
    e AS (SELECT (0.709::DOUBLE * 64.0 * 64.0 * 72057594037927936.0)
                 / (s + (64 - nz) * 72057594037927936)::DOUBLE AS raw,
                 64 - nz AS v
          FROM s)
    SELECT round(CASE WHEN raw <= 160.0 AND v > 0
                      THEN 64.0 * ln(64.0 / v) ELSE raw END, 4) AS hll_estimate,
           (SELECT count(DISTINCT text) FROM documents) AS exact_distinct
    FROM e
    """,
)
def sketch_hll_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """HLL cardinality estimate beside the exact distinct count — the
    'how many unique docs / what's my dup rate' probe you run at scan
    speed before committing to a full dedup. The harmonic sum is
    accumulated as the integer Σ2^(56-rho) (exact under any partition
    order — a double sum would drift), one double division at the
    end; Flajolet's linear-counting branch handles the small range.
    Value-checked cross-engine to 4 decimals."""
    from denormalized_spark.operators import sketches

    d = t(spark, sf, "documents")
    regs = sketches.hll_registers(d, "text", p=6)
    est = sketches.hll_estimate(regs, p=6)
    exact = d.agg(F.count_distinct("text").alias("exact_distinct"))
    return est.crossJoin(F.broadcast(exact))


@q(
    "sketch_hll_group_distinct",
    f"""
    WITH h AS (SELECT lang, {md5_int_sql("text", 15)} AS h
               FROM documents),
    r AS (SELECT lang, h & 63 AS reg,
                 CASE WHEN (h >> 6) = 0 THEN 55
                      ELSE bit_count(((h >> 6) & (-(h >> 6))) - 1) + 1 END AS rho
          FROM h),
    regs AS (SELECT lang, reg, CAST(max(rho) AS BIGINT) AS rho
             FROM r GROUP BY lang, reg),
    s AS (SELECT lang, CAST(sum(CAST(2 ** (56 - rho) AS BIGINT)) AS BIGINT) AS s,
                 count(*) AS nz
          FROM regs GROUP BY lang),
    e AS (SELECT lang, (0.709::DOUBLE * 64.0 * 64.0 * 72057594037927936.0)
                 / (s + (64 - nz) * 72057594037927936)::DOUBLE AS raw,
                 64 - nz AS v
          FROM s)
    SELECT lang, round(CASE WHEN raw <= 160.0 AND v > 0
                            THEN 64.0 * ln(64.0 / v) ELSE raw END, 4) AS hll_estimate
    FROM e
    """,
)
def sketch_hll_group_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language HLL distinct-document estimates — the grouped form
    of the register-table sketch: one grouped partial-agg max builds
    every language's ≤64 registers in a single pass, the estimate
    aggregates key on the group (no single-partition stage), and the
    same tables max-merge along any rollup dimension. The per-domain
    'how many uniques per slice' probe a 100 TB curation report runs
    at scan speed."""
    from denormalized_spark.operators import sketches

    d = t(spark, sf, "documents")
    regs = sketches.hll_registers_grouped(d, "text", ["lang"], p=6)
    return sketches.hll_estimate_grouped(regs, ["lang"], p=6)


_KMV_K = 64


@q(
    "sketch_kmv_overlap",
    f"""
    WITH ta AS (SELECT DISTINCT tok FROM
                 (SELECT unnest({_TOKS}) AS tok FROM documents WHERE lang = 'en')),
    tb AS (SELECT DISTINCT tok FROM
                 (SELECT unnest({_TOKS}) AS tok FROM documents WHERE lang != 'en')),
    ska AS (SELECT kmv_h FROM (SELECT DISTINCT {md5_int_sql("tok", 15)} AS kmv_h FROM ta)
            ORDER BY kmv_h LIMIT {_KMV_K}),
    skb AS (SELECT kmv_h FROM (SELECT DISTINCT {md5_int_sql("tok", 15)} AS kmv_h FROM tb)
            ORDER BY kmv_h LIMIT {_KMV_K}),
    ell AS (SELECT kmv_h FROM (SELECT DISTINCT kmv_h FROM
                 (SELECT kmv_h FROM ska UNION ALL SELECT kmv_h FROM skb))
            ORDER BY kmv_h LIMIT {_KMV_K}),
    m AS (SELECT count(*) AS m FROM ell
          JOIN ska USING (kmv_h) JOIN skb USING (kmv_h)),
    l AS (SELECT count(*) AS l FROM ell),
    ex AS (SELECT (SELECT count(*) FROM ta JOIN tb USING (tok))::DOUBLE
                / (SELECT count(*) FROM (SELECT tok FROM ta UNION SELECT tok FROM tb))::DOUBLE AS ej)
    SELECT round(m::DOUBLE / l::DOUBLE, 4) AS kmv_jaccard,
           round(ej, 4) AS exact_jaccard
    FROM m, l, ex
    """,
)
def sketch_kmv_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """KMV bottom-k set-overlap estimation (Beyer et al. 2007): the
    Jaccard similarity of the English vs non-English token SETS from
    their 64-hash sketches alone, exact Jaccard beside it. At 100 TB
    this is the 'how much do these two crawls/shards overlap' probe:
    each side sketches independently at scan speed (distinct →
    TakeOrdered bottom-k, k rows out), the estimate combines two
    64-row metadata tables — no cross-corpus join ever runs. The
    oracle replays the order statistics exactly and the ratio to 4
    decimals."""
    from denormalized_spark.operators import sketches

    d = t(spark, sf, "documents")
    toks = lambda cond: d.filter(cond).select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    ta = toks(F.col("lang") == "en").distinct()
    tb = toks(F.col("lang") != "en").distinct()
    jac = sketches.kmv_jaccard(
        sketches.kmv_sketch(ta, "tok", _KMV_K),
        sketches.kmv_sketch(tb, "tok", _KMV_K),
        _KMV_K,
    )
    inter = ta.join(tb, "tok").agg(F.count("*").alias("_i"))
    union = ta.unionByName(tb).distinct().agg(F.count("*").alias("_u"))
    exact = inter.crossJoin(F.broadcast(union)).select(
        F.round(F.col("_i").cast("double") / F.col("_u").cast("double"), 4).alias(
            "exact_jaccard"
        )
    )
    return jac.crossJoin(F.broadcast(exact))


_HIST_LO, _HIST_HI, _HIST_B = 0.0, 600000.0, 120  # width 5000


def _hist_q_sql(q: float) -> str:
    name = f"q{str(q).replace('.', '_')}"
    width = (_HIST_HI - _HIST_LO) / _HIST_B
    return f"""(SELECT round({_HIST_LO} + (bin::DOUBLE
                 + ({q} * n::DOUBLE - (cum - cnt)::DOUBLE) / cnt::DOUBLE)
                 * {width}, 4) AS {name}
       FROM c WHERE cum::DOUBLE >= {q} * n::DOUBLE ORDER BY bin LIMIT 1)"""


@q(
    "sketch_hist_quantiles",
    f"""
    WITH h AS (SELECT CAST(least(greatest(floor((o_totalprice::DOUBLE - {_HIST_LO})
                 / {_HIST_HI - _HIST_LO} * {float(_HIST_B)}), 0), {_HIST_B - 1}) AS BIGINT) AS bin
               FROM orders),
    sk AS (SELECT bin, CAST(count(*) AS BIGINT) AS cnt FROM h GROUP BY bin),
    c AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum,
                 sum(cnt) OVER () AS n
          FROM sk)
    SELECT * FROM {_hist_q_sql(0.5)} q1, {_hist_q_sql(0.95)} q2, {_hist_q_sql(0.99)} q3
    """,
)
def sketch_hist_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable equi-width histogram sketch over order totals with
    linearly-interpolated p50/p95/p99 (error ≤ one bin width). The
    fourth classic mergeable summary beside Count-Min/HLL/KMV: each
    shard histograms at scan speed into ≤120 integer-count rows, any
    union's quantiles come from the summed table — no global sort, no
    re-scan, unlike an exact percentile. Integer counts + one fixed
    interpolation expression, replayed textually by the oracle."""
    from denormalized_spark.operators import sketches

    o = t(spark, sf, "orders")
    sk = sketches.hist_sketch(o, "o_totalprice", _HIST_LO, _HIST_HI, _HIST_B)
    return sketches.hist_quantiles(sk, [0.5, 0.95, 0.99], _HIST_LO, _HIST_HI, _HIST_B)


def _hist_gq_sql(q: float) -> str:
    name = f"q{str(q).replace('.', '_')}"
    width = (_HIST_HI - _HIST_LO) / _HIST_B
    return f"""(SELECT o_orderpriority,
                 round({_HIST_LO} + (bin::DOUBLE
                   + ({q} * n::DOUBLE - (cum - cnt)::DOUBLE) / cnt::DOUBLE)
                   * {width}, 4) AS {name}
       FROM (SELECT *, row_number() OVER (PARTITION BY o_orderpriority ORDER BY bin) AS rn
             FROM c WHERE cum::DOUBLE >= {q} * n::DOUBLE)
       WHERE rn = 1)"""


@q(
    "sketch_hist_group_quantiles",
    f"""
    WITH h AS (SELECT o_orderpriority,
                      CAST(least(greatest(floor((o_totalprice::DOUBLE - {_HIST_LO})
                        / {_HIST_HI - _HIST_LO} * {float(_HIST_B)}), 0), {_HIST_B - 1}) AS BIGINT) AS bin
               FROM orders),
    sk AS (SELECT o_orderpriority, bin, CAST(count(*) AS BIGINT) AS cnt
           FROM h GROUP BY 1, 2),
    c AS (SELECT o_orderpriority, bin, cnt,
                 sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bin) AS cum,
                 sum(cnt) OVER (PARTITION BY o_orderpriority) AS n
          FROM sk)
    SELECT a.o_orderpriority, a.q0_5, b.q0_95
    FROM {_hist_gq_sql(0.5)} a JOIN {_hist_gq_sql(0.95)} b USING (o_orderpriority)
    """,
)
def sketch_hist_group_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group histogram quantiles (p50/p95 of order totals per
    order priority): the grouped form of the mergeable histogram —
    every stage shuffles on the GROUP key (grouped partial-agg build,
    group-partitioned cumulative window, per-group first-hit rank),
    no single-partition exchange anywhere, so the same plan serves
    millions of groups. This is how per-domain/per-language corpus
    quantiles run at 100 TB: one pass, ≤bins rows of state per
    group."""
    from denormalized_spark.operators import sketches

    o = t(spark, sf, "orders")
    sk = sketches.hist_sketch_grouped(
        o, "o_totalprice", ["o_orderpriority"], _HIST_LO, _HIST_HI, _HIST_B
    )
    return sketches.hist_quantiles_grouped(
        sk, [0.5, 0.95], ["o_orderpriority"], _HIST_LO, _HIST_HI, _HIST_B
    )


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------

@q(
    "multimodal_features",
    f"""
    SELECT doc_id,
           {", ".join(
               f"round(CAST(('0x' || substr(md5(text), {8*j+1}, 8))::BIGINT"
               f" / 4294967296.0 AS REAL)::DOUBLE, 6) AS f{j}"
               for j in range(4)
           )}
    FROM documents WHERE doc_id < 200
    """,
)
def multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Binary-column feature extraction through the real mapInPandas
    plumbing (operators/multimodal.py): documents' text bytes stand in
    for image payloads; the deterministic md5 fake kernel makes the
    Arrow path fully oracle-checkable (the oracle recomputes the same
    md5-chained floats, float32-rounded like the array<float> schema).
    Swapping the fake for a PIL/ffmpeg kernel changes no plumbing."""
    from denormalized_spark.operators import multimodal

    d = (
        t(spark, sf, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    )
    feats = multimodal.image_features(d, "payload", dim=4, fake=True)
    return feats.select(
        "doc_id",
        *[
            F.round(F.element_at("features", j + 1).cast("double"), 6).alias(f"f{j}")
            for j in range(4)
        ],
    )


@q(
    "multimodal_audio_chunks",
    """
    WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
    c AS (
      SELECT doc_id, text,
             unnest(generate_series(0,
                    CAST(ceil(length(text) / 128.0) AS INT) - 1)) AS chunk_idx
      FROM d
    )
    SELECT doc_id,
           CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(chunk_idx * 128 AS BIGINT) AS offset_bytes,
           md5(substr(text, chunk_idx * 128 + 1, 128)) AS chunk_hash
    FROM c
    """,
)
def multimodal_audio_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Audio segmentation through the mapInPandas fan-out plumbing
    (operators/multimodal.audio_chunks): documents' ASCII bytes stand
    in for PCM payloads, chunked at 128-byte (4 ms @16 kHz/16-bit)
    boundaries; the oracle recomputes the chunk md5s from the same
    byte ranges. Swapping the fake for an ffmpeg decode kernel changes
    no plumbing."""
    from denormalized_spark.operators import multimodal

    d = (
        t(spark, sf, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    )
    out = multimodal.audio_chunks(d, "payload", chunk_ms=4, fake=True)
    return out.select("doc_id", "chunk_idx", "offset_bytes", "chunk_hash")


@q(
    "multimodal_wav_features",
    """
    SELECT doc_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(1 AS INT) AS n_channels,
           CAST((doc_id % 50 + 10) * (doc_id % 7 + 1) AS BIGINT) AS n_samples,
           round((doc_id % 50 + 10) * (doc_id % 7 + 1) * 1000.0 / 8000, 3)
               AS duration_ms,
           round(CAST((doc_id % 30 + 1) * 1000 AS DOUBLE), 6) AS rms,
           CAST((doc_id % 30 + 1) * 1000 AS BIGINT) AS peak,
           CAST(doc_id % 50 + 9 AS BIGINT) AS zero_crossings
    FROM documents WHERE doc_id < 200
    """,
)
def multimodal_wav_features(spark: SparkSession, sf: str) -> DataFrame:
    """REAL audio decode end-to-end, no fake kernel: write genuine
    RIFF/WAVE containers (stdlib wave, square-wave signal in closed
    form per doc_id — operators/multimodal.synthesize_wav_payloads),
    then parse them back and extract PCM features with the real
    audio_features kernel. The oracle recomputes every feature
    analytically from the signal definition: rms of a ±A square wave
    is exactly A, zero crossings = blocks - 1, duration from the
    header geometry."""
    from denormalized_spark.operators import multimodal

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 200).select("doc_id")
    wavs = multimodal.synthesize_wav_payloads(d, "doc_id", sample_rate=8000)
    feats = multimodal.audio_features(wavs, "payload")
    return feats.select(
        "doc_id",
        "sample_rate",
        "n_channels",
        "n_samples",
        F.round("duration_ms", 3).alias("duration_ms"),
        F.round("rms", 6).alias("rms"),
        "peak",
        "zero_crossings",
    )


# shared by the BMP and PNG stats queries: both synthesizers write the
# identical closed-form gradient, so one analytic oracle covers both
# container decoders
_IMAGE_GRADIENT_ORACLE = """
    SELECT doc_id,
           CAST(doc_id % 16 + 4 AS INT) AS width,
           CAST(doc_id % 12 + 4 AS INT) AS height,
           round(list_avg([(7*x + doc_id) % 256
                           for x in range(0, doc_id % 16 + 4)]), 6) AS mean_r,
           round(list_avg([(11*y + 2*doc_id) % 256
                           for y in range(0, doc_id % 12 + 4)]), 6) AS mean_g,
           round(list_avg(flatten(
               list_transform(range(0, doc_id % 16 + 4),
                   x -> [(x + y + 3*doc_id) % 256
                         for y in range(0, doc_id % 12 + 4)]))), 6) AS mean_b,
           round(0.299 * list_avg([(7*x + doc_id) % 256
                                   for x in range(0, doc_id % 16 + 4)])
               + 0.587 * list_avg([(11*y + 2*doc_id) % 256
                                   for y in range(0, doc_id % 12 + 4)])
               + 0.114 * list_avg(flatten(
                   list_transform(range(0, doc_id % 16 + 4),
                       x -> [(x + y + 3*doc_id) % 256
                             for y in range(0, doc_id % 12 + 4)]))), 6)
               AS mean_luma
    FROM documents WHERE doc_id < 200
    """


@q("multimodal_bmp_stats", _IMAGE_GRADIENT_ORACLE)
def multimodal_bmp_stats(spark: SparkSession, sf: str) -> DataFrame:
    """REAL image decode end-to-end, second real modality alongside
    WAV: write genuine 24-bit BMP containers (stdlib byte packing,
    closed-form per-channel gradients —
    operators/multimodal.synthesize_bmp_payloads) and decode them back
    with the real image_stats kernel (header parse + padded bottom-up
    BGR rows + numpy channel means). The oracle recomputes each
    channel mean analytically from the pixel formulas (integer sums —
    exact in doubles, identical across engines)."""
    from denormalized_spark.operators import multimodal

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 200).select("doc_id")
    bmps = multimodal.synthesize_bmp_payloads(d, "doc_id")
    stats = multimodal.image_stats(bmps, "payload")
    return stats.select(
        "doc_id",
        "width",
        "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round("mean_luma", 6).alias("mean_luma"),
    )


@q("multimodal_png_stats", _IMAGE_GRADIENT_ORACLE)
def multimodal_png_stats(spark: SparkSession, sf: str) -> DataFrame:
    """REAL PNG decode end-to-end: the same closed-form gradient as
    multimodal_bmp_stats written as genuine zlib-compressed PNG
    (operators/multimodal.synthesize_png_payloads) and decoded back
    through the stdlib inflate + scanline-unfilter kernel — one
    analytic oracle covers both container decoders because the pixels
    are identical."""
    from denormalized_spark.operators import multimodal

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 200).select("doc_id")
    pngs = multimodal.synthesize_png_payloads(d, "doc_id")
    stats = multimodal.image_stats(pngs, "payload")
    return stats.select(
        "doc_id",
        "width",
        "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round("mean_luma", 6).alias("mean_luma"),
    )


@q(
    "multimodal_image_features",
    """
    WITH img AS (
      SELECT doc_id, doc_id % 16 + 4 AS w, doc_id % 12 + 4 AS h
      FROM documents WHERE doc_id < 200
    ),
    px AS (
      SELECT doc_id,
             (yy.u * 4) // h AS ci, (xx.u * 4) // w AS cj,
             299*((7*xx.u + doc_id) % 256) + 587*((11*yy.u + 2*doc_id) % 256)
               + 114*((xx.u + yy.u + 3*doc_id) % 256) AS L
      FROM img, unnest(range(0, w)) AS xx(u), unnest(range(0, h)) AS yy(u)
    ),
    cells AS (
      SELECT doc_id, ci*4 + cj AS cell, sum(L) AS S, count(*) AS n
      FROM px GROUP BY doc_id, ci, cj
    )
    SELECT doc_id, CAST(cell AS INT) AS cell,
           floor(CAST(CAST(S/(n*1000.0) AS REAL) AS DOUBLE)*10000 + 0.5)/10000
             AS feature
    FROM cells
    """,
)
def multimodal_image_features(spark: SparkSession, sf: str) -> DataFrame:
    """The REAL image-embedding kernel end-to-end (operators/
    multimodal.image_features): gradient PNGs decoded through the
    stdlib inflate/unfilter path, then the 4×4 mean-pooled scaled-luma
    grid — all-integer accumulation with ONE IEEE division per cell,
    so the oracle replays the exact float from the closed-form pixel
    sums (float32 cast then binary HALF_UP, identical ops both
    sides). Features exploded to (doc_id, cell, feature) rows for
    repr-free double comparison."""
    from denormalized_spark.operators import multimodal

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 200).select("doc_id")
    pngs = multimodal.synthesize_png_payloads(d, "doc_id")
    feats = multimodal.image_features(pngs, "payload", dim=16)
    return feats.select(
        "doc_id", F.posexplode("features").alias("cell", "f")
    ).select(
        "doc_id",
        F.col("cell").cast("int").alias("cell"),
        (F.floor(F.col("f").cast("double") * 10000 + F.lit(0.5)) / 10000).alias(
            "feature"
        ),
    )


# shared by the image near-dup and image dedup-cluster oracles: md5-noise
# sampled pixels → dHash halves → 16-bit band keys
_IMG_PHASH_CTES = """
    WITH img AS (
      SELECT doc_id, doc_id % 23 AS seed, doc_id % 3 AS delta FROM documents
    ),
    samp AS (
      SELECT doc_id, seed, delta, ii.u AS i, jj.u AS j,
             md5(CAST(seed AS VARCHAR) || ':'
                 || CAST(((2*jj.u + 1) * 16) // 18 AS VARCHAR) || ':'
                 || CAST(2*ii.u + 1 AS VARCHAR)) AS hx
      FROM img, unnest(range(0, 8)) AS ii(u), unnest(range(0, 9)) AS jj(u)
    ),
    lum AS (
      SELECT doc_id, i, j,
             299*least(('0x' || substr(hx, 1, 2))::INT + delta, 255)
             + 587*('0x' || substr(hx, 3, 2))::INT
             + 114*('0x' || substr(hx, 5, 2))::INT AS L
      FROM samp
    ),
    bits AS (
      SELECT a.doc_id, a.i*8 + a.j AS pos,
             CASE WHEN a.L > b.L THEN 1 ELSE 0 END AS bit
      FROM lum a JOIN lum b ON a.doc_id = b.doc_id AND a.i = b.i
                           AND b.j = a.j + 1
      WHERE a.j < 8
    ),
    hashes AS (
      SELECT doc_id,
             sum(CASE WHEN pos < 32
                      THEN bit * (CAST(1 AS BIGINT) << (31 - pos))
                      ELSE 0 END) AS hi,
             sum(CASE WHEN pos >= 32
                      THEN bit * (CAST(1 AS BIGINT) << (63 - pos))
                      ELSE 0 END) AS lo
      FROM bits GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, hi, lo, t.u AS band,
             CASE t.u WHEN 0 THEN hi // 65536 WHEN 1 THEN hi % 65536
                      WHEN 2 THEN lo // 65536 ELSE lo % 65536 END AS key
      FROM hashes, unnest(range(0, 4)) AS t(u)
    ),
    npairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INT)
               AS hamming
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 6
    )"""


@q(
    "multimodal_image_neardup",
    _IMG_PHASH_CTES
    + """
    SELECT id_a, id_b, hamming FROM npairs
    """,
)
def multimodal_image_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual-hash image dedup end-to-end (operators/multimodal.
    image_near_dups): an md5-noise PNG corpus with planted duplicate
    classes (seed = doc_id % 23) and planted NEAR-duplicates (red
    brightness shift = doc_id % 3) is encoded, decoded, dHashed
    (nearest-sampled 9×8 integer grid), LSH-banded into four 16-bit
    keys, bucket-joined, and hamming-verified ≤ 6 — the image
    modality's analogue of dedup_simhash. The oracle replays the
    sampled pixels straight from the md5 definition (only the 72
    sampled pixels per image are ever computed SQL-side)."""
    from denormalized_spark.operators import multimodal

    d = (
        t(spark, sf, "documents")
        .select(
            "doc_id",
            (F.col("doc_id") % 23).alias("seed"),
            (F.col("doc_id") % 3).alias("delta"),
        )
    )
    imgs = multimodal.synthesize_noise_png_payloads(
        d, "seed", shift_col="delta"
    )
    out = multimodal.image_near_dups(imgs, "doc_id", "payload", method="dhash")
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


@q(
    "multimodal_image_near_gate",
    _IMG_PHASH_CTES
    + """,
    dts AS (
      SELECT doc_id, make_timestamp((1704067200 + doc_id) * 1000000) AS ts
      FROM documents
    ),
    own AS (
      SELECT b.doc_id, d.ts,
             row_number() OVER (PARTITION BY b.band, b.key
                                ORDER BY d.ts, b.doc_id) AS rn
      FROM bands b JOIN dts d USING (doc_id)
    )
    SELECT doc_id, min(ts) AS ts
    FROM own WHERE rn = 1
    GROUP BY doc_id HAVING count(*) = 4
    """,
)
def multimodal_image_near_gate(spark: SparkSession, sf: str) -> DataFrame:
    """The image near-dup GATE's deterministic batch twin
    (operators/multimodal.image_near_gate_batch) — the semantics the
    streaming gate reproduces online (stream==batch parity is pinned
    in tests/test_multimodal.py; this entry makes the ownership
    arithmetic itself driver-verified): every perceptual-hash band
    bucket is owned by its earliest (ts, id) claimant over the noise
    corpus (ts derived as epoch+doc_id so arrival order is the id
    order), survivors own all four. The oracle replays the hash CTEs
    plus a (band, key)-partitioned first-claimant window."""
    from denormalized_spark.operators import multimodal

    d = t(spark, sf, "documents").select(
        "doc_id",
        (F.col("doc_id") % 23).alias("seed"),
        (F.col("doc_id") % 3).alias("delta"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias("ts"),
    )
    imgs = multimodal.synthesize_noise_png_payloads(
        d, "seed", shift_col="delta"
    ).select("doc_id", "ts", "payload")
    return multimodal.image_near_gate_batch(imgs, "doc_id", "payload", "ts")


@q(
    "multimodal_audio_neardup",
    """
    WITH adoc AS (
      SELECT doc_id, doc_id % 23 AS seed FROM documents
    ),
    smp AS (
      SELECT doc_id, t.u AS t,
             ('0x' || substr(md5(CAST(seed AS VARCHAR) || ':'
                 || CAST(t.u // 8 AS VARCHAR)), ((t.u % 8) * 4) + 1, 2))::INT
             + 256 * ('0x' || substr(md5(CAST(seed AS VARCHAR) || ':'
                 || CAST(t.u // 8 AS VARCHAR)), ((t.u % 8) * 4) + 3, 2))::INT
               AS u
      FROM adoc, unnest(range(0, 1024)) AS t(u)
    ),
    fr AS (
      SELECT doc_id, t // 16 AS f, sum(abs((u // 4) - 8192)) AS e
      FROM smp GROUP BY doc_id, t // 16
    ),
    abits AS (
      SELECT a.doc_id, a.f AS pos, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
      FROM fr a JOIN fr b ON a.doc_id = b.doc_id AND b.f = a.f + 1
      WHERE a.f < 63
    ),
    ahashes AS (
      SELECT doc_id,
             sum(CASE WHEN pos < 32
                      THEN bit * (CAST(1 AS BIGINT) << (31 - pos))
                      ELSE 0 END) AS hi,
             sum(CASE WHEN pos >= 32
                      THEN bit * (CAST(1 AS BIGINT) << (62 - pos))
                      ELSE 0 END) AS lo
      FROM abits GROUP BY doc_id
    ),
    abands AS (
      SELECT doc_id, hi, lo, t.u AS band,
             CASE t.u WHEN 0 THEN hi // 65536 WHEN 1 THEN hi % 65536
                      WHEN 2 THEN lo // 65536 ELSE lo % 65536 END AS key
      FROM ahashes, unnest(range(0, 4)) AS t(u)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INT)
             AS hamming
    FROM abands a JOIN abands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 6
    """,
)
def multimodal_audio_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Audio near-dup end-to-end (operators/multimodal.
    audio_near_dups), closing the dedup modality triad: md5-noise
    WAVs (seed = doc_id % 23, loudness gain = doc_id % 3 + 1) are
    RIFF-encoded, decoded back through the stdlib wave kernel,
    energy-envelope fingerprinted (63 integer-exact delta bits),
    LSH-banded and hamming-verified ≤ 6. The gain variants pair at
    hamming 0 — the fingerprint's loudness invariance — which is
    also why the oracle can omit the gain entirely: every energy
    comparison is scale-invariant, so it replays the base samples
    straight from the md5 hex definition."""
    from denormalized_spark.operators import multimodal

    d = t(spark, sf, "documents").select(
        "doc_id",
        (F.col("doc_id") % 23).alias("seed"),
        (F.col("doc_id") % 3).alias("gain"),
    )
    wavs = multimodal.synthesize_noise_wav_payloads(
        d, "seed", gain_col="gain"
    )
    out = multimodal.audio_near_dups(wavs, "doc_id", "payload")
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


@q(
    "multimodal_image_dedup_clusters",
    _IMG_PHASH_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + ","
    + _reach_sql("npairs")
    + """
    SELECT id, min(label) AS label FROM reach GROUP BY id
    """,
    eager=True,
)
def multimodal_image_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Image dedup END TO END: the perceptual-hash near-dup pairs of
    multimodal_image_neardup fed through the generic min-label
    connected-components operator (operators/dedup.
    connected_components — label propagation with localCheckpoint
    per round) — visual duplicate CLUSTERS, the form a curation
    pipeline keeps one representative per. Composition proof: the
    image modality plugs into the same cluster/representative
    machinery as text and embedding dedup. The oracle replays the
    pairs and components recursively."""
    from denormalized_spark.operators import multimodal

    d = t(spark, sf, "documents").select(
        "doc_id",
        (F.col("doc_id") % 23).alias("seed"),
        (F.col("doc_id") % 3).alias("delta"),
    )
    imgs = multimodal.synthesize_noise_png_payloads(d, "seed", shift_col="delta")
    pairs = multimodal.image_near_dups(imgs, "doc_id", "payload", method="dhash")
    return dedup.connected_components(pairs, "id_a", "id_b").select(
        "id", "label"
    )


def _ivf_oracle(dim: int = 64, nprobe: int = 3, k: int = 10, qid: int = 0) -> str:
    """IVF oracle: identical coarse quantizer (rounded per-label mean
    centroids), identical argmax assignment (window with label
    tie-break), identical probe ranking — same arithmetic order as
    the Spark operators, so the probed sets agree exactly."""
    cent_comps = ", ".join(
        f"round(avg(embedding[{j + 1}]::DOUBLE), 6) AS c{j}" for j in range(dim)
    )
    cent_list = "[" + ", ".join(f"c{j}" for j in range(dim)) + "]"
    cos_vc = (
        f"({_dot_sql('v.embedding', 'c.centroid')})"
        f" / ({_norm_sql('v.embedding')} * {_norm_sql('c.centroid')})"
    )
    cos_cq = (
        f"({_dot_sql('c.centroid', 'q.qvec')})"
        f" / ({_norm_sql('c.centroid')} * {_norm_sql('q.qvec')})"
    )
    cos_aq = (
        f"({_dot_sql('a.embedding', 'q.qvec')})"
        f" / ({_norm_sql('a.embedding')} * {_norm_sql('q.qvec')})"
    )
    return f"""
    WITH cent0 AS (SELECT label, {cent_comps} FROM embeddings GROUP BY label),
    cent AS (SELECT label AS cluster, {cent_list} AS centroid FROM cent0),
    q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {qid}),
    scored AS (
      SELECT v.vec_id, v.embedding, c.cluster, {cos_vc} AS s
      FROM embeddings v CROSS JOIN cent c
    ),
    assign AS (
      SELECT vec_id, embedding, cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cluster) AS rn
        FROM scored
      ) t WHERE rn = 1
    ),
    probe AS (
      SELECT cluster FROM (
        SELECT c.cluster, row_number() OVER (ORDER BY {cos_cq} DESC, c.cluster) AS rn
        FROM cent c CROSS JOIN q
      ) t WHERE rn <= {nprobe}
    )
    SELECT a.vec_id, round({cos_aq}, 6) AS cosine_sim
    FROM assign a SEMI JOIN probe p ON a.cluster = p.cluster
    CROSS JOIN q
    WHERE a.vec_id != {qid}
    ORDER BY cosine_sim DESC, a.vec_id
    LIMIT {k}
    """


@q("sim_ivf_topk_query0", _ivf_oracle())
def sim_ivf_topk_query0(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN — the other scale path beside LSH: per-label centroid
    coarse quantizer, broadcast cluster assignment, probe the 3
    nearest clusters, brute-force only inside them. At 100 TB the
    assignment is a stored partition column; the probed scan is the
    same broadcast + TakeOrdered plan as the exact brute force over
    ~nprobe/n_clusters of the data."""
    e = t(spark, sf, "embeddings")
    return similarity.ivf_topk(
        e, query_vec_id=0, k=10, nprobe=3, dim=64, round_digits=6
    )


def _ivf_batch_oracle(
    dim: int = 64, nprobe: int = 3, k: int = 5, n_queries: int = 8
) -> str:
    """Batched-IVF oracle: same quantizer/assignment CTEs as
    _ivf_oracle, then a per-query probe ranking and a per-query
    rounded top-k — the DuckDB replay of ivf_batch_topk's one-pass
    plan."""
    cent_comps = ", ".join(
        f"round(avg(embedding[{j + 1}]::DOUBLE), 6) AS c{j}" for j in range(dim)
    )
    cent_list = "[" + ", ".join(f"c{j}" for j in range(dim)) + "]"
    cos_vc = (
        f"({_dot_sql('v.embedding', 'c.centroid')})"
        f" / ({_norm_sql('v.embedding')} * {_norm_sql('c.centroid')})"
    )
    cos_cq = (
        f"({_dot_sql('c.centroid', 'q.qvec')})"
        f" / ({_norm_sql('c.centroid')} * {_norm_sql('q.qvec')})"
    )
    cos_ap = (
        f"({_dot_sql('a.embedding', 'p.qvec')})"
        f" / ({_norm_sql('a.embedding')} * {_norm_sql('p.qvec')})"
    )
    return f"""
    WITH cent0 AS (SELECT label, {cent_comps} FROM embeddings GROUP BY label),
    cent AS (SELECT label AS cluster, {cent_list} AS centroid FROM cent0),
    q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
          WHERE vec_id < {n_queries}),
    scored AS (
      SELECT v.vec_id, v.embedding, c.cluster, {cos_vc} AS s
      FROM embeddings v CROSS JOIN cent c
    ),
    assign AS (
      SELECT vec_id, embedding, cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cluster) AS rn
        FROM scored
      ) t WHERE rn = 1
    ),
    probe AS (
      SELECT qid, qvec, cluster FROM (
        SELECT q.qid, q.qvec, c.cluster,
               row_number() OVER (PARTITION BY q.qid
                                  ORDER BY {cos_cq} DESC, c.cluster) AS rn
        FROM cent c CROSS JOIN q
      ) t WHERE rn <= {nprobe}
    ),
    cand AS (
      SELECT p.qid, a.vec_id, round({cos_ap}, 6) AS cosine_sim
      FROM assign a JOIN probe p ON a.cluster = p.cluster
      WHERE a.vec_id != p.qid
    )
    SELECT qid, vec_id, cosine_sim, CAST(rk AS INT) AS rk FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cosine_sim DESC, vec_id) AS rk
      FROM cand
    ) WHERE rk <= {k}
    """


@q("sim_ivf_batch", _ivf_batch_oracle())
def sim_ivf_batch(spark: SparkSession, sf: str) -> DataFrame:
    """BATCHED IVF retrieval against a prebuilt, reusable index
    (operators/similarity.ivf_batch_topk): the quantizer is fit and
    the corpus assigned ONCE (at scale: persisted parquet partitioned
    by cluster at ingest), then an 8-query block is answered in a
    single corpus pass — broadcast per-query probe list in, one
    cluster-keyed join, per-query WindowGroupLimit top-5 out. This is
    the scale fix for ivf_topk's one-shot form, which refits the
    quantizer per query; the plan-shape test pins that the corpus
    scan count does not grow with the query count."""
    e = t(spark, sf, "embeddings")
    cent = similarity.label_centroids(e, "label", "embedding", dim=64)
    assigned = similarity.assign_clusters(e, cent, "vec_id", "embedding")
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return similarity.ivf_batch_topk(
        queries, assigned, cent, k=5, nprobe=3, round_digits=6
    )


def _linear_trainer_oracle(dim: int = 8, iters: int = 3, lr_bits: int = 25) -> str:
    """Unrolled gradient-descent oracle, bit-identical to
    operators.text.train_linear_classifier: integer hashed features,
    power-of-two learning rate, floor-snap of weights to the 2^-lr
    grid each iteration — every intermediate is an exact dyadic below
    2^53, so sums are order-independent across engines."""
    s = f"{2 ** lr_bits}.0"
    cnt = lambda j: (
        f"CAST(len(list_filter({_TOKS}, "
        f"t -> {md5_int_sql('t', 8)} % {dim} = {j})) AS BIGINT)"
    )
    feats = ", ".join(f"{cnt(j)} AS x{j}" for j in range(dim))
    ctes = [
        f"feats AS (SELECT CAST(lang = 'en' AS BIGINT) AS y, {feats} FROM documents)",
        "w0 AS (SELECT " + ", ".join(f"0.0 AS w{j}" for j in range(dim)) + ")",
    ]
    for it in range(1, iters + 1):
        pred = " + ".join(f"f.x{j} * w.w{j}" for j in range(dim))
        grads = ", ".join(
            f"sum(({pred} - f.y) * f.x{j}) AS g{j}" for j in range(dim)
        )
        ctes.append(
            f"g{it} AS (SELECT {grads} FROM feats f CROSS JOIN w{it - 1} w)"
        )
        ws = ", ".join(
            f"floor((w.w{j} - g.g{j} / {s}) * {s}) / {s} AS w{j}"
            for j in range(dim)
        )
        ctes.append(f"w{it} AS (SELECT {ws} FROM w{it - 1} w CROSS JOIN g{it} g)")
    finals = " UNION ALL ".join(
        f"SELECT {j} AS feature, round(w{j}, 9) AS weight FROM w{iters}"
        for j in range(dim)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + finals


@q("text_train_linear_langid", _linear_trainer_oracle(), eager=True)
def text_train_linear_langid(spark: SparkSession, sf: str) -> DataFrame:
    """TRAIN a hashed-feature linear language gate by batch gradient
    descent (operators/text.train_linear_classifier): label = lang='en',
    8 hashed token-count features, 3 one-aggregation-per-iteration
    passes. The oracle replays the exact training trajectory in SQL —
    possible because the trainer is engine-portable by construction
    (integer features, 2^-25 learning rate, floor-snap to the dyadic
    grid: no float drift, no seeds). The learned weights are the
    query result."""
    from denormalized_spark.operators import text as txt

    d = t(spark, sf, "documents")
    w = txt.train_linear_classifier(
        d, (F.col("lang") == "en").cast("long"), "text",
        dim=8, iters=3, lr_bits=25,
    )
    return spark.createDataFrame(
        [(j, float(wj)) for j, wj in enumerate(w)], "feature int, weight double"
    ).select("feature", F.round("weight", 9).alias("weight"))


_GOPHER_STOP_SQL = "['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']"


@q(
    "text_gopher_rules",
    f"""
    WITH d AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
    m AS (
      SELECT doc_id,
             len(toks) AS n,
             list_sum(list_transform(toks, x -> length(x)))::DOUBLE
               / greatest(len(toks), 1) AS mean_len,
             (length(text) - length(replace(text, '#', '')))
               + (length(text) - length(replace(text, '...', ''))) / 3 AS n_sym,
             len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
             len(list_filter({_GOPHER_STOP_SQL},
                             s -> list_contains(list_transform(toks, x -> lower(x)), s)))
               AS stop_hits
      FROM d
    )
    SELECT doc_id,
           n >= 50 AND n <= 100000 AS gr_word_count,
           mean_len >= 3.0 AND mean_len <= 10.0 AS gr_mean_word_len,
           n_sym / greatest(n, 1) <= 0.1 AS gr_symbol_ratio,
           n_alpha::DOUBLE / greatest(n, 1) >= 0.8 AS gr_alpha_words,
           stop_hits >= 2 AS gr_stopwords,
           (n >= 50 AND n <= 100000) AND (mean_len >= 3.0 AND mean_len <= 10.0)
             AND (n_sym / greatest(n, 1) <= 0.1)
             AND (n_alpha::DOUBLE / greatest(n, 1) >= 0.8)
             AND (stop_hits >= 2) AS gopher_pass
    FROM m
    """,
)
def text_gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    """The Gopher heuristic quality gate (operators/text.gopher_rules)
    over documents: per-rule flags + overall pass, one scan, zero
    shuffles, boolean/integer arithmetic only (engine-portable without
    float tolerance)."""
    d = t(spark, sf, "documents")
    out = text.gopher_rules(d)
    return out.select(
        "doc_id", "gr_word_count", "gr_mean_word_len", "gr_symbol_ratio",
        "gr_alpha_words", "gr_stopwords", "gopher_pass",
    )


@q(
    "text_word_burstiness",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
    per AS (SELECT token, count(*)::BIGINT AS cf,
                   count(DISTINCT doc_id)::BIGINT AS dfreq
            FROM tok GROUP BY token),
    nn AS (SELECT count(*)::BIGINT AS n FROM documents)
    SELECT token, cf, dfreq,
           (cf * 1000 // dfreq)::BIGINT AS burst_milli,
           CAST(floor(dfreq::DOUBLE
                      / (n::DOUBLE * (1.0 - exp(-(cf::DOUBLE / n::DOUBLE))))
                      * 1000.0) AS BIGINT) AS poisson_gap_milli
    FROM per CROSS JOIN nn
    ORDER BY cf DESC, token ASC LIMIT 30
    """,
)
def text_word_burstiness(spark: SparkSession, sf: str) -> DataFrame:
    """Church-Gale word burstiness report (operators/text.
    word_burstiness; Church & Gale 1995): per high-frequency token,
    the burst rate cf/df and the observed-vs-Poisson document-spread
    gap — the statistic that separates "frequent because everywhere"
    (function words, gap ≈ 1) from "frequent because bursty" (content
    words, gap ≪ 1), which IDF alone cannot. One explode + token agg,
    1-row corpus-count broadcast, TakeOrdered(30)."""
    from denormalized_spark.operators.text import word_burstiness

    d = t(spark, sf, "documents")
    return word_burstiness(d)


def _js_oracle() -> str:
    import math

    h = repr(0.5 * math.log(2.0))
    p = "(ca::DOUBLE / ta::DOUBLE)"
    q_ = "(cb::DOUBLE / tb::DOUBLE)"
    m = f"(({p} + {q_}) / 2.0)"
    return f"""
    WITH d AS (SELECT source, unnest({_TOKS}) AS tok FROM documents),
    c AS (SELECT source, tok, count(*)::BIGINT AS cnt FROM d GROUP BY 1, 2),
    tt AS (SELECT source, sum(cnt)::BIGINT AS tot FROM c GROUP BY 1),
    ds AS (SELECT c.source AS g, c.tok AS t, c.cnt AS cc, tt.tot
           FROM c JOIN tt USING (source)),
    j AS (SELECT a.g AS ga, b.g AS gb, a.cc AS ca, a.tot AS ta,
                 b.cc AS cb, b.tot AS tb
          FROM ds a JOIN ds b ON a.t = b.t AND a.g < b.g),
    mtc AS (
      SELECT ga AS source_a, gb AS source_b,
             count(*)::BIGINT AS nc,
             sum(CAST(floor((0.5 * {p} * ln({p} / {m})
                             + 0.5 * {q_} * ln({q_} / {m})) * 1e12)
                      AS BIGINT))::BIGINT AS mt0,
             sum(ca)::BIGINT AS sca0, sum(cb)::BIGINT AS scb0
      FROM j GROUP BY 1, 2),
    grid AS (
      SELECT a.source AS source_a, a.tot AS tta,
             b.source AS source_b, b.tot AS ttb
      FROM tt a CROSS JOIN tt b WHERE a.source < b.source
    ),
    per AS (
      SELECT g.source_a, g.source_b,
             coalesce(m.nc, 0)::BIGINT AS n_common_tokens,
             coalesce(m.mt0, 0)::BIGINT AS mt,
             coalesce(m.sca0, 0)::BIGINT AS sca,
             coalesce(m.scb0, 0)::BIGINT AS scb,
             g.tta, g.ttb
      FROM grid g LEFT JOIN mtc m USING (source_a, source_b))
    SELECT source_a, source_b, n_common_tokens,
           (mt
            + CAST(floor({h} * (tta - sca)::DOUBLE / tta::DOUBLE * 1e12)
                   AS BIGINT)
            + CAST(floor({h} * (ttb - scb)::DOUBLE / ttb::DOUBLE * 1e12)
                   AS BIGINT))::BIGINT AS js_pico
    FROM per ORDER BY source_a, source_b
    """


@q("text_js_divergence_matrix", _js_oracle())
def text_js_divergence_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between every source pair's
    token distribution (operators/text.js_divergence_matrix; Lin
    1991) — the corpus-drift matrix for mixture design, symmetric and
    bounded unlike KL. Complements curation_mixture_divergence (which
    compares source SHARES to a target) by comparing the sources'
    CONTENT to each other. One tokenize+count pass, a k-row totals
    broadcast, one token-keyed self-join, a (pair)-keyed agg →
    k(k−1)/2 rows. Matched-token terms pico-floored before integer
    sums; one-sided mass from exact count sums with one IEEE division
    per side."""
    from denormalized_spark.operators.text import js_divergence_matrix

    d = t(spark, sf, "documents")
    counts = (
        d.select("source", F.explode(text.tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    return js_divergence_matrix(counts)


_AUC_MARGIN = (
    f"coalesce(list_sum(list_transform(toks, t -> {_QC0_WEIGHT})), 0.0)"
    " / greatest(len(toks), 1)"
)


@q(
    "text_quality_auc",
    f"""
    WITH d AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
    m AS (
      SELECT doc_id,
             CAST(floor(({_AUC_MARGIN}) * 1000000) AS BIGINT) AS s,
             len(toks) AS n,
             list_sum(list_transform(toks, x -> length(x)))::DOUBLE
               / greatest(len(toks), 1) AS mean_len,
             (length(text) - length(replace(text, '#', '')))
               + (length(text) - length(replace(text, '...', ''))) / 3 AS n_sym,
             len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
             len(list_filter({_GOPHER_STOP_SQL},
                             s -> list_contains(list_transform(toks, x -> lower(x)), s)))
               AS stop_hits
      FROM d
    ),
    sc AS (
      SELECT s,
             CASE WHEN (n >= 50 AND n <= 100000)
                       AND (mean_len >= 3.0 AND mean_len <= 10.0)
                       AND (n_sym / greatest(n, 1) <= 0.1)
                       AND (n_alpha::DOUBLE / greatest(n, 1) >= 0.8)
                       AND (stop_hits >= 2) THEN 1 ELSE 0 END AS y
      FROM m
    ),
    cells AS (SELECT s, sum(y)::BIGINT AS np, sum(1 - y)::BIGINT AS nn
              FROM sc GROUP BY s),
    c2 AS (SELECT s, np, nn,
                  coalesce(sum(np + nn) OVER (ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
           FROM cells),
    roll AS (SELECT sum(np)::BIGINT AS n_pos, sum(nn)::BIGINT AS n_neg,
                    sum(np * (2 * cb + np + nn + 1))::BIGINT AS r2
             FROM c2)
    SELECT n_pos, n_neg,
           (CASE WHEN n_pos > 0 AND n_neg > 0
                THEN ((r2 - n_pos * (n_pos + 1)) * 1000000)
                     // (2 * n_pos * n_neg)
                ELSE 500000 END)::BIGINT AS auc_micro,
           ((CASE WHEN n_pos > 0 AND n_neg > 0
                THEN ((r2 - n_pos * (n_pos + 1)) * 1000000)
                     // (2 * n_pos * n_neg)
                ELSE 500000 END) * 2 - 1000000)::BIGINT AS gini_micro
    FROM roll
    """,
)
def text_quality_auc(spark: SparkSession, sf: str) -> DataFrame:
    """Exact midrank ROC-AUC (operators/analytics.roc_auc; Hanley &
    McNeil 1982) of the hashed-linear quality score against the
    Gopher rule gate as the reference label — "does the cheap model
    score rank rule-passing docs above rule-failing ones?", the eval
    beside the calibration family. Ranks on the micro-floored
    PRE-SIGMOID margin (text.hashed_linear_margin — monotone in the
    sigmoid, no cross-engine exp ulp risk). With the default
    md5-pseudo-weights the honest readout is chance (≈0.5) — the
    null-calibration check, same posture as events_qini_uplift; swap
    in a trained weights map for the real readout. One score-keyed
    cell agg + the scale-safe prefix-sum-offsets pattern + a 1-row
    rollup; all rank arithmetic exact integers."""
    from denormalized_spark.operators.analytics import roc_auc

    d = t(spark, sf, "documents")
    g = text.gopher_rules(d)
    scored = g.select(
        F.floor(text.hashed_linear_margin("text") * F.lit(1_000_000.0))
        .cast("long").alias("s"),
        F.col("gopher_pass").cast("int").alias("y"),
    )
    return roc_auc(scored, "s", "y")


@q(
    "text_quality_percentile_gate",
    f"""
    WITH d AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, lang,
                 list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                   / greatest(len(toks), 1) AS atl
          FROM d),
    thr AS (SELECT quantile_cont(atl, 0.75) AS thr FROM s)
    SELECT lang,
           count(*) AS n_total,
           CAST(sum(CASE WHEN atl > thr.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
           round(any_value(thr.thr), 6) AS threshold
    FROM s, thr
    GROUP BY lang
    """,
)
def text_quality_percentile_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Data-driven quality gating: compute the corpus 75th percentile
    of mean token length (exact, linear interpolation — identical in
    Spark's percentile() and DuckDB's quantile_cont) as a 1-row
    broadcast threshold, then count per-language docs above it. The
    'keep the top quartile by metric' selection step, collect-free."""
    d = t(spark, sf, "documents")
    s = d.select("doc_id", "lang", text.avg_token_length("text").alias("atl"))
    thr = s.groupBy().agg(F.expr("percentile(atl, 0.75)").alias("thr"))
    return (
        s.join(F.broadcast(thr))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("atl") > F.col("thr"), 1).otherwise(0))
            .cast("long")
            .alias("n_above"),
            F.round(F.first("thr"), 6).alias("threshold"),
        )
    )


# ---------------------------------------------------------------------------
# round 5: containment, cluster representatives, entropy, Zipf spectrum,
# corpus data card
# ---------------------------------------------------------------------------

@q(
    "dedup_containment_pairs",
    _LSH_GATE_CTES
    + """
    SELECT id_a, id_b,
           round(n_shared::DOUBLE / n_a, 6) AS containment_a,
           round(n_shared::DOUBLE / n_b, 6) AS containment_b,
           round(greatest(n_shared::DOUBLE / n_a, n_shared::DOUBLE / n_b), 6)
             AS max_containment
    FROM (
      SELECT j.id_a, j.id_b, j.n_a, j.n_b, count(*) AS n_shared"""
    + _CAND_SHARED_SQL
    + """
    ) t
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric containment (|A∩B|/|A|) per LSH candidate pair — the
    partial-duplicate / quote-superset signal Jaccard misses
    (operators/dedup.containment_pairs). Candidate-gated: work ∝
    candidates × shingles-per-doc, never corpus²."""
    d = t(spark, sf, "documents")
    cand = dedup.lsh_candidate_pairs(d, "doc_id", "text", num_hashes=8, bands=4)
    pairs = dedup.containment_pairs(d, cand, "doc_id", "text", shingle_n=3)
    return pairs.select(
        "id_a",
        "id_b",
        F.round("containment_a", 6).alias("containment_a"),
        F.round("containment_b", 6).alias("containment_b"),
        F.round("max_containment", 6).alias("max_containment"),
    )


# quality_score (operators/text.quality_score) as a SQL fragment over a
# CTE exposing `text` and `toks`
_QUALITY_SQL = f"""(
  (CASE WHEN len(toks) BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END)
+ (CASE WHEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
              / greatest(length(text), 1) < 0.2 THEN 1.0 ELSE 0.0 END)
+ (CASE WHEN len(list_filter(toks, x -> list_contains({_STOP_SQL}, lower(x))))::DOUBLE
              / greatest(len(toks), 1) > 0.01
         AND len(list_filter(toks, x -> list_contains({_STOP_SQL}, lower(x))))::DOUBLE
              / greatest(len(toks), 1) < 0.6 THEN 1.0 ELSE 0.0 END)
) / 3.0"""


@q(
    "dedup_cluster_representatives",
    _LSH_CC_CTES
    + f""",
    comp AS (SELECT id, min(label) AS label FROM reach GROUP BY id),
    qd AS (SELECT doc_id, text, {{toks}} AS toks FROM documents),
    scored AS (
      SELECT q.doc_id,
             coalesce(c.label, q.doc_id) AS cluster,
             {_QUALITY_SQL} AS q_score
      FROM qd q LEFT JOIN comp c ON q.doc_id = c.id
    ),
    ranked AS (
      SELECT cluster, doc_id, q_score,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY q_score DESC, doc_id ASC) AS rk
      FROM scored
    )
    SELECT cluster,
           CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS representative_id,
           round(max(q_score), 6) AS best_score,
           count(*) AS n_members
    FROM ranked GROUP BY cluster
    """.replace("{toks}", _TOKS),
    eager=True,
)
def dedup_cluster_representatives(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-aware survivor selection: near-dup connected components
    → keep the argmax-quality member per cluster (min-id tiebreak),
    singletons represent themselves (operators/dedup.
    cluster_representatives). One label join + one max_by aggregate on
    top of the iterative component labels; the oracle replays the
    closure as a recursive CTE and the argmax as a window rank."""
    d = t(spark, sf, "documents")
    cc = dedup.connected_components(_lsh_jaccard_pairs(d), "id_a", "id_b")
    reps = dedup.cluster_representatives(d, cc, text.quality_score("text"), "doc_id")
    return reps.select(
        "cluster",
        "representative_id",
        F.round("best_score", 6).alias("best_score"),
        "n_members",
    )


@q(
    "text_token_entropy",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM d),
    pt AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY doc_id, tok)
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           count(*) AS n_types,
           round(count(*)::DOUBLE / sum(cnt), 6) AS type_token_ratio,
           round(ln(sum(cnt)::DOUBLE) - sum(cnt * ln(cnt::DOUBLE)) / sum(cnt), 6)
             AS entropy
    FROM pt GROUP BY doc_id
    """,
)
def text_token_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document Shannon entropy + type-token ratio
    (operators/text.token_entropy_stats): information-density quality
    signals — explode → (doc, token) partial counts → per-doc
    aggregate, two doc-keyed shuffles, linear in corpus tokens."""
    d = t(spark, sf, "documents")
    out = text.token_entropy_stats(d, "doc_id", "text")
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "n_types",
        F.round("type_token_ratio", 6).alias("type_token_ratio"),
        F.round("entropy", 6).alias("entropy"),
    )


@q(
    "text_frequency_spectrum",
    f"""
    WITH tok AS (SELECT unnest({_TOKS}) AS tok FROM documents),
    tf AS (SELECT tok, count(*) AS freq FROM tok GROUP BY tok)
    SELECT CAST(freq AS BIGINT) AS freq, count(*) AS n_types
    FROM tf GROUP BY freq
    """,
)
def text_frequency_spectrum(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus Zipf/Good-Turing frequency spectrum
    (operators/text.frequency_spectrum): count-of-counts over the
    token vocabulary. Classic two-level wordcount — map-side partial
    counts absorb hot-token skew; the second shuffle is metadata-sized
    (distinct frequencies)."""
    d = t(spark, sf, "documents")
    out = text.frequency_spectrum(d, "text")
    return out.select(F.col("freq").cast("long").alias("freq"), "n_types")


@q(
    "curation_data_card",
    f"""
    WITH d AS (SELECT doc_id, lang, source, text, {_TOKS} AS toks FROM documents),
    m AS (
      SELECT doc_id, lang, source,
             len(toks) AS nt,
             {_QUALITY_SQL} AS q,
             (CASE WHEN (len(toks) >= 50 AND len(toks) <= 100000)
                    AND (list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                           / greatest(len(toks), 1) BETWEEN 3.0 AND 10.0)
                    AND (((length(text) - length(replace(text, '#', '')))
                          + (length(text) - length(replace(text, '...', ''))) / 3)
                           / greatest(len(toks), 1) <= 0.1)
                    AND (len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                           / greatest(len(toks), 1) >= 0.8)
                    AND (len(list_filter({_GOPHER_STOP_SQL},
                             s -> list_contains(list_transform(toks, x -> lower(x)), s))) >= 2)
              THEN 1 ELSE 0 END) AS gp,
             md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS ck
      FROM d
    ),
    dup AS (
      SELECT *, (CASE WHEN count(*) OVER (PARTITION BY ck) > 1 THEN 1 ELSE 0 END) AS isdup
      FROM m
    )
    SELECT lang, source,
           CAST(GROUPING(lang, source) AS BIGINT) AS grouping_level,
           count(*) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS total_tokens,
           round(avg(q), 6) AS mean_quality,
           round(avg(gp), 6) AS gopher_pass_rate,
           round(avg(isdup), 6) AS dup_rate
    FROM dup
    GROUP BY GROUPING SETS ((lang), (source), ())
    """,
)
def curation_data_card(spark: SparkSession, sf: str) -> DataFrame:
    """The data card a corpus snapshot ships with
    (operators/curation.corpus_report): doc/token volumes, mean
    quality, Gopher pass rate, and exact-dup rate, per language, per
    source, and overall — ONE scan + one content-key shuffle + a
    single grouping-sets aggregate (Spark Expand), not one job per
    breakdown."""
    from denormalized_spark.operators import curation

    d = t(spark, sf, "documents")
    out = curation.corpus_report(d, ["lang", "source"], "doc_id", "text")
    return out.select(
        "lang",
        "source",
        F.col("grouping_level").cast("long").alias("grouping_level"),
        "n_docs",
        "total_tokens",
        F.round("mean_quality", 6).alias("mean_quality"),
        F.round("gopher_pass_rate", 6).alias("gopher_pass_rate"),
        F.round("dup_rate", 6).alias("dup_rate"),
    )


def _bpe_oracle(
    num_merges: int, max_vocab: int, *, sentinel_fallback: bool = False
) -> str:
    """Unrolled-iteration oracle for bpe_train: each merge round is a
    CTE pair (pair counts + argmax) and a vocab rewrite via the
    sentinel-encoded string replace (greedy left-to-right, matching
    the Spark fold's overlap rule).

    ``sentinel_fallback`` guards the ENCODE splice against early stop:
    if the corpus yields fewer than ``num_merges`` merges, an empty
    ``b{{i}}`` would cross-join-empty every downstream CTE, zeroing all
    encode counts while Spark encodes with the merges actually
    learned. The fallback unions a (chr(1), chr(1), -1) row into each
    argmax: cnt=-1 sorts last so it only wins when the round found NO
    pair, and the chr(1) "symbol" can never match the sentinel-encoded
    word string (words containing chr(1)/chr(2) are excluded from the
    vocabulary), so a fallback round is a pure no-op — exactly Spark's
    early break. The TRAIN oracle keeps it off: there an empty b{{i}}
    correctly truncates the output rows the way Spark's break does."""
    enc = (
        "list_aggregate(list_transform(syms, s -> chr(1)||s||chr(2)), "
        "'string_agg', '')"
    )
    parts = [
        f"""
    WITH w AS (
      SELECT word, count(*) AS wcount FROM (
        SELECT unnest({_TOKS}) AS word FROM documents) t
      WHERE NOT contains(word, chr(1)) AND NOT contains(word, chr(2))
      GROUP BY word
      ORDER BY wcount DESC, word ASC LIMIT {max_vocab}
    ),
    v1 AS (SELECT word, wcount,
                  [word[j] for j in range(1, length(word)+1)] AS syms
           FROM w)"""
    ]
    fallback = (
        " UNION ALL SELECT chr(1), chr(1), CAST(-1 AS BIGINT)"
        if sentinel_fallback
        else ""
    )
    for i in range(1, num_merges + 1):
        parts.append(f""",
    p{i} AS (
      SELECT t.u.a AS a, t.u.b AS b, sum(wcount) AS cnt
      FROM v{i}, unnest([{{'a': syms[j], 'b': syms[j+1]}}
                         for j in range(1, len(syms))]) AS t(u)
      GROUP BY t.u.a, t.u.b
    ),
    b{i} AS (SELECT a, b, cnt FROM (SELECT a, b, cnt FROM p{i}{fallback})
             ORDER BY cnt DESC, a ASC, b ASC LIMIT 1)""")
        if i < num_merges:
            parts.append(f""",
    v{i + 1} AS (
      SELECT word, wcount,
        list_filter(list_transform(string_split(
            replace({enc},
                    chr(1)||b{i}.a||chr(2)||chr(1)||b{i}.b||chr(2),
                    chr(1)||b{i}.a||b{i}.b||chr(2)),
            chr(2)||chr(1)),
          x -> replace(replace(x, chr(1), ''), chr(2), '')), x -> x != '')
          AS syms
      FROM v{i}, b{i}
    )""")
    selects = " UNION ALL ".join(
        f"SELECT {i} AS rank, a AS sym_a, b AS sym_b, a||b AS merged, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM b{i}"
        for i in range(1, num_merges + 1)
    )
    return "".join(parts) + "\n    " + selects


@q("text_bpe_train", _bpe_oracle(num_merges=6, max_vocab=2000), eager=True)
def text_bpe_train(spark: SparkSession, sf: str) -> DataFrame:
    """The BPE tokenizer-training loop itself (operators/text.
    bpe_train): 6 merge rounds over the top-2000-word vocabulary.
    Corpus-side cost is ONE word-count shuffle; every round after
    runs on the vocabulary table with a 1-row argmax probe — the
    oracle unrolls the identical rounds as chained CTEs with a
    sentinel-encoded greedy string replace."""
    d = t(spark, sf, "documents")
    return text.bpe_train(d, num_merges=6, text_col="text", max_vocab=2000)


@q(
    "text_bigram_quality",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
    uni AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT sum(cnt) AS t FROM uni),
    bg AS (
      SELECT doc_id, t.u.w1 AS w1, t.u.w2 AS w2
      FROM d, unnest([{{'w1': toks[j], 'w2': toks[j+1]}}
                      for j in range(1, len(toks))]) AS t(u)
    ),
    bic AS (SELECT w1, w2, count(*) AS bcnt FROM bg GROUP BY w1, w2),
    ctx AS (SELECT w1, sum(bcnt) AS ccnt FROM bic GROUP BY w1),
    scored AS (
      SELECT bg.doc_id,
             ln(greatest(
               0.7 * (bic.bcnt::DOUBLE / ctx.ccnt)
               + 0.3 * (uni.cnt::DOUBLE / tot.t),
               1e-9)) AS logp
      FROM bg
      JOIN bic USING (w1, w2)
      JOIN ctx USING (w1)
      JOIN uni ON bg.w2 = uni.token
      CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(logp), 4) AS avg_logp2
    FROM scored GROUP BY doc_id
    """,
)
def text_bigram_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated bigram-LM quality scoring (operators/text.
    bigram_logprob_scores): per-doc mean ln(0.7·P(w2|w1) + 0.3·P(w2))
    — Jelinek-Mercer smoothed, catches improbable word sequences the
    unigram filter misses. One bigram-keyed count shuffle + keyed
    scoring joins; self-scored here so every bigram is seen (the
    oracle's inner joins equal the Spark left joins)."""
    d = t(spark, sf, "documents")
    out = text.bigram_logprob_scores(d, "doc_id", "text")
    return out.select(
        "doc_id", "n_bigrams", F.round("avg_logp2", 4).alias("avg_logp2")
    )


_SPLIT_FRAC = md5_unit_sql("'split0' || CAST({key} AS VARCHAR)", 8)


@q(
    "curation_split_leakage",
    _LSH_CC_CTES
    + f""",
    comp AS (SELECT id, min(label) AS label FROM reach GROUP BY id),
    lbl AS (
      SELECT dd.doc_id, coalesce(c.label, dd.doc_id) AS grp
      FROM documents dd LEFT JOIN comp c ON dd.doc_id = c.id
    ),
    sp AS (
      SELECT doc_id,
             CASE WHEN {_SPLIT_FRAC.format(key='doc_id')} < 0.8
                  THEN 'train' ELSE 'val' END AS naive_split,
             CASE WHEN {_SPLIT_FRAC.format(key='grp')} < 0.8
                  THEN 'train' ELSE 'val' END AS grp_split
      FROM lbl
    ),
    pc AS (
      SELECT p.id_a, p.id_b,
             a.naive_split != b.naive_split AS naive_cross,
             a.grp_split != b.grp_split AS grp_cross
      FROM vp p JOIN sp a ON p.id_a = a.doc_id JOIN sp b ON p.id_b = b.doc_id
    )
    SELECT 'naive' AS mode, count(*) AS n_pairs,
           CAST(sum(CASE WHEN naive_cross THEN 1 ELSE 0 END) AS BIGINT) AS n_cross
    FROM pc
    UNION ALL
    SELECT 'group_aware', count(*),
           CAST(sum(CASE WHEN grp_cross THEN 1 ELSE 0 END) AS BIGINT)
    FROM pc
    """,
    eager=True,
)
def curation_split_leakage(spark: SparkSession, sf: str) -> DataFrame:
    """Train/val leakage audit — the invariant the group-aware split
    exists for: count near-dup pairs (LSH-gated Jaccard ≥ 0.2) whose
    endpoints land in DIFFERENT splits under (a) the naive per-doc
    hash split and (b) the group-aware split keyed on the connected-
    component label. Group-aware cross-split count is structurally 0
    (same cluster → same hash input → same split); the naive count is
    the leakage a real pipeline would silently ship. The oracle
    replays components recursively and the md5 split boundaries
    exactly."""
    from denormalized_spark.operators import curation

    d = t(spark, sf, "documents")
    pairs = _lsh_jaccard_pairs(d)
    cc = dedup.connected_components(pairs, "id_a", "id_b")
    lbl = d.join(
        cc.select(F.col("id").alias("doc_id"), "label"), "doc_id", "left"
    ).withColumn("grp", F.coalesce("label", F.col("doc_id")))
    w = {"train": 0.8, "val": 0.2}
    sp = curation.split_assign(
        curation.split_assign(lbl, w, split_col="naive_split"),
        w,
        group_col="grp",
        split_col="grp_split",
    ).select("doc_id", "naive_split", "grp_split")
    a = sp.select(
        F.col("doc_id").alias("id_a"),
        F.col("naive_split").alias("na"),
        F.col("grp_split").alias("ga"),
    )
    b = sp.select(
        F.col("doc_id").alias("id_b"),
        F.col("naive_split").alias("nb"),
        F.col("grp_split").alias("gb"),
    )
    pc = pairs.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
    naive = pc.agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.when(F.col("na") != F.col("nb"), 1).otherwise(0))
        .cast("long")
        .alias("n_cross"),
    ).select(F.lit("naive").alias("mode"), "n_pairs", "n_cross")
    grp = pc.agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.when(F.col("ga") != F.col("gb"), 1).otherwise(0))
        .cast("long")
        .alias("n_cross"),
    ).select(F.lit("group_aware").alias("mode"), "n_pairs", "n_cross")
    return naive.unionAll(grp)


_CENT64_SQL = ", ".join(
    f"round(avg(embedding[{i}]::DOUBLE), 6) AS c{i}" for i in range(1, 65)
)
_CARR_SQL = "[" + ", ".join(f"c{i}" for i in range(1, 65)) + "]"


@q(
    "sim_outlier_scores",
    f"""
    WITH cent AS (
      SELECT label, {_CENT64_SQL} FROM embeddings GROUP BY label
    ),
    ca AS (SELECT label, {_CARR_SQL} AS c FROM cent),
    scored AS (
      SELECT e.vec_id, e.label,
             round(({_dot_sql('e.embedding', 'ca.c')})
                   / ({_norm_sql('e.embedding')} * {_norm_sql('ca.c')}), 6)
               AS centroid_cos
      FROM embeddings e JOIN ca USING (label)
    ),
    thr AS (
      SELECT label, round(quantile_cont(centroid_cos, 0.1), 6) AS t
      FROM scored GROUP BY label
    )
    SELECT s.vec_id, s.label, s.centroid_cos,
           s.centroid_cos < thr.t AS is_outlier
    FROM scored s JOIN thr USING (label)
    """,
)
def sim_outlier_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding outlier screen (operators/similarity.outlier_scores):
    cosine of every vector to its own label centroid, bottom decile
    per label flagged — the mislabeled/OOD filter a curation pipeline
    runs before training. Two k-row broadcasts (centroids,
    thresholds), zero data shuffles; rounded scores keep the flag
    engine-portable."""
    e = t(spark, sf, "embeddings")
    return similarity.outlier_scores(e)


def _bpe_encode_oracle(num_merges: int, max_vocab: int) -> str:
    """Oracle for bpe_encode_counts: derive the b1..bN merges with the
    same CTE chain as _bpe_oracle, then re-encode every corpus word —
    sentinel string, N sequential replaces in rank order, piece
    count. Uses the sentinel-fallback b{i} form so a corpus yielding
    fewer than num_merges merges no-ops the missing rounds instead of
    cross-join-emptying the encode chain (matching Spark's early
    break)."""
    base = _bpe_oracle(num_merges, max_vocab, sentinel_fallback=True)
    # keep everything up to (but not including) the final merge-list
    # UNION ALL select; splice the encode stages instead
    chain = base[: base.rindex("\n    SELECT 1 AS rank")]
    enc = (
        "list_aggregate(list_transform([w[j] for j in range(1, length(w)+1)],"
        " s -> chr(1)||s||chr(2)), 'string_agg', '')"
    )
    for i in range(1, num_merges + 1):
        enc = (
            f"replace({enc}, chr(1)||b{i}.a||chr(2)||chr(1)||b{i}.b||chr(2),"
            f" chr(1)||b{i}.a||b{i}.b||chr(2))"
        )
    froms = ", ".join(f"b{i}" for i in range(1, num_merges + 1))
    return (
        chain
        + f""",
    docw AS (
      SELECT doc_id, unnest({_TOKS}) AS w FROM documents
    ),
    fw AS (
      SELECT doc_id, w FROM docw
      WHERE NOT contains(w, chr(1)) AND NOT contains(w, chr(2))
    ),
    encw AS (
      SELECT doc_id, length(w) AS nc,
             len(string_split({enc}, chr(2)||chr(1))) AS ns
      FROM fw, {froms}
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_words,
             sum(nc) AS n_chars, sum(ns) AS n_bpe_tokens
      FROM encw GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(a.n_words, 0) AS INT) AS n_words,
           CAST(coalesce(a.n_chars, 0) AS INT) AS n_chars,
           CAST(coalesce(a.n_bpe_tokens, 0) AS INT) AS n_bpe_tokens
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """
    )


def _bpe_tokenize_oracle(num_merges: int, max_vocab: int) -> str:
    """Oracle for bpe_tokenize: derive the merges with the same CTE
    chain as _bpe_encode_oracle, replay the id assignment — sorted
    distinct corpus chars get ids 0..n-1 (row_number over binary
    char order == the Python-sorted alphabet for this corpus), merge
    rank r gets n+r-1 with first-rank-wins on duplicate piece
    strings — then re-encode every word and emit each doc's ordered
    id sequence as a CSV string (the hash-portable array form)."""
    base = _bpe_oracle(num_merges, max_vocab, sentinel_fallback=True)
    chain = base[: base.rindex("\n    SELECT 1 AS rank")]
    enc = (
        "list_aggregate(list_transform([w[j] for j in range(1, length(w)+1)],"
        " s -> chr(1)||s||chr(2)), 'string_agg', '')"
    )
    for i in range(1, num_merges + 1):
        enc = (
            f"replace({enc}, chr(1)||b{i}.a||chr(2)||chr(1)||b{i}.b||chr(2),"
            f" chr(1)||b{i}.a||b{i}.b||chr(2))"
        )
    froms = ", ".join(f"b{i}" for i in range(1, num_merges + 1))
    mraw = " UNION ALL ".join(
        f"SELECT {i} AS rank, a||b AS piece FROM b{i} WHERE a != chr(1)"
        for i in range(1, num_merges + 1)
    )
    return (
        chain
        + f""",
    alpha AS (
      SELECT ch, CAST(row_number() OVER (ORDER BY ch) - 1 AS INT) AS cid
      FROM (
        SELECT DISTINCT t.u AS ch
        FROM (SELECT unnest({_TOKS}) AS word FROM documents) aw,
             unnest([aw.word[j] for j in range(1, length(aw.word)+1)]) AS t(u)
        WHERE NOT contains(aw.word, chr(1)) AND NOT contains(aw.word, chr(2))
      ) ac
    ),
    nalpha AS (SELECT CAST(count(*) AS INT) AS n FROM alpha),
    mraw AS ({mraw}),
    mv AS (SELECT piece, CAST(min(rank) AS INT) AS mrank FROM mraw GROUP BY piece),
    docw AS (
      SELECT doc_id, t.u.w AS w, t.u.wo AS wo
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents) dd,
           unnest([{{'w': toks[j], 'wo': j}} for j in range(1, len(toks)+1)]) AS t(u)
      WHERE NOT contains(t.u.w, chr(1)) AND NOT contains(t.u.w, chr(2))
    ),
    encw AS (
      SELECT doc_id, wo,
             list_filter(list_transform(string_split({enc}, chr(2)||chr(1)),
                            x -> replace(replace(x, chr(1), ''), chr(2), '')),
                         x -> x != '') AS pieces
      FROM docw, {froms}
    ),
    pc AS (
      SELECT doc_id, wo, s.u.p AS piece, s.u.po AS po
      FROM encw,
           unnest([{{'p': pieces[j], 'po': j}} for j in range(1, len(pieces)+1)]) AS s(u)
    ),
    tid AS (
      SELECT pc.doc_id, pc.wo, pc.po,
             coalesce(a.cid, nalpha.n + mv.mrank - 1, -1) AS id
      FROM pc
      CROSS JOIN nalpha
      LEFT JOIN alpha a ON length(pc.piece) = 1 AND a.ch = pc.piece
      LEFT JOIN mv ON pc.piece = mv.piece
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_tokens,
             string_agg(CAST(id AS VARCHAR), ',' ORDER BY wo, po) AS ids_csv
      FROM tid GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(agg.n_tokens, 0) AS INT) AS n_tokens,
           coalesce(agg.ids_csv, '') AS ids_csv
    FROM documents d LEFT JOIN agg USING (doc_id)
    """
    )


def _bpe_pack_oracle(num_merges: int, max_vocab: int, seq_len: int) -> str:
    """Oracle for pack_token_sequences over the tokenize oracle's id
    stream: per-doc exclusive prefix-sum offsets (docs in doc_id
    order), global position = offset + within-doc index, sequence =
    pos // seq_len, ids CSV-joined in position order."""
    base = _bpe_tokenize_oracle(num_merges, max_vocab)
    chain = base[: base.rindex(",\n    agg AS")]
    return (
        chain
        + f""",
    doctok AS (
      SELECT doc_id, id,
             row_number() OVER (PARTITION BY doc_id ORDER BY wo, po) - 1 AS idx
      FROM tid
    ),
    doclen AS (SELECT doc_id, count(*) AS m FROM tid GROUP BY doc_id),
    offs AS (
      SELECT doc_id,
             coalesce(sum(m) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM doclen
    ),
    stream AS (
      SELECT o.off + t.idx AS pos, t.id
      FROM doctok t JOIN offs o USING (doc_id)
    )
    SELECT CAST(pos // {seq_len} AS BIGINT) AS seq_id,
           CAST(count(*) AS INT) AS n_real,
           string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos) AS ids_csv
    FROM stream GROUP BY pos // {seq_len}
    """
    )


def _trained_merges(d: DataFrame) -> list[tuple[str, str]]:
    """The 6-merge table the BPE lanes train on ``d``, in rank order."""
    rows = text.bpe_train(d, num_merges=6, max_vocab=2000).collect()
    return [(r["sym_a"], r["sym_b"]) for r in sorted(rows, key=lambda r: r["rank"])]


@q("text_bpe_pack_sequences", _bpe_pack_oracle(6, 2000, 128), eager=True)
def text_bpe_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """The shard MATERIALIZER (operators/text.pack_token_sequences):
    the tokenized corpus laid end to end in doc order and chopped
    into 128-token training sequences — offsets via the prefix-sum
    pattern (no single-reducer window), fragment slices per doc, one
    seq-keyed assembly shuffle. Output (seq_id, n_real, ids_csv);
    with pack_documents (offset report) and bpe_tokenize (ids) this
    completes train → tokenize → shard."""
    d = t(spark, sf, "documents")
    merges = _trained_merges(d)
    toks = text.bpe_tokenize(d, merges, text.corpus_alphabet(d))
    packed = text.pack_token_sequences(toks, 128)
    return packed.select(
        "seq_id",
        "n_real",
        F.array_join(
            F.transform("input_ids", lambda x: x.cast("string")), ","
        ).alias("ids_csv"),
    )


@q("text_bpe_tokenize_ids", _bpe_tokenize_oracle(num_merges=6, max_vocab=2000), eager=True)
def text_bpe_tokenize_ids(spark: SparkSession, sf: str) -> DataFrame:
    """The training-shard write-out step (operators/text.bpe_tokenize):
    the learned merge table applied to every document, emitting the
    ordered per-doc TOKEN-ID sequence under the bpe_vocab id contract
    (sorted alphabet 0..n-1, then merge ranks) — the array a shard
    writer persists, here CSV-joined for hash portability. Pure
    Arrow-batched mapInPandas projection with a per-distinct-word id
    cache; the oracle replays id assignment and the greedy encode via
    the same unrolled-CTE machinery as text_bpe_encode."""
    d = t(spark, sf, "documents")
    merges = _trained_merges(d)
    alphabet = text.corpus_alphabet(d)
    out = text.bpe_tokenize(d, merges, alphabet)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.array_join(
            F.transform("token_ids", lambda x: x.cast("string")), ","
        ).alias("ids_csv"),
    )


@q("text_bpe_encode", _bpe_encode_oracle(num_merges=6, max_vocab=2000), eager=True)
def text_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    """The encode half of the tokenizer loop (operators/text.
    bpe_encode_counts): train the 6-merge table, bake it into the
    per-row greedy fold chain, and report per-document word/char/BPE-
    token counts — the realized compression of the learned vocabulary.
    Training is the vocab-bounded loop of text_bpe_train; encoding is
    one scan, zero shuffles (the merge table is literals)."""
    d = t(spark, sf, "documents")
    merges = _trained_merges(d)
    out = text.bpe_encode_counts(d, merges)
    return out.select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        F.col("n_chars").cast("int").alias("n_chars"),
        F.col("n_bpe_tokens").cast("int").alias("n_bpe_tokens"),
    )


@q("text_bpe_encode_full", _bpe_encode_oracle(num_merges=6, max_vocab=2000), eager=True)
def text_bpe_encode_full(spark: SparkSession, sf: str) -> DataFrame:
    """The PRODUCTION encode path (operators/text.bpe_encode_table):
    the same trained merge table applied through the Arrow-batched
    mapInPandas kernel instead of the literal fold chain — the form
    whose cost does not grow with vocabulary size (per-word substring
    prefilter + per-distinct-word cache), built for real 32k–100k
    merge tables. Oracled against the identical unrolled-CTE as
    text_bpe_encode at the 6-merge config: hash-equality here IS the
    kernel's bit-parity proof with the zero-Python chain; throughput
    at a ≥1k-merge table is measured in bench (bpe_encode_docs_per_sec)."""
    d = t(spark, sf, "documents")
    merges = _trained_merges(d)
    out = text.bpe_encode_table(d, merges)
    return out.select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        F.col("n_chars").cast("int").alias("n_chars"),
        F.col("n_bpe_tokens").cast("int").alias("n_bpe_tokens"),
    )


@q(
    "dedup_incremental_gate",
    _LSH_BANDS_CTE
    + """,
    hb AS (
      SELECT band, band_key FROM bands WHERE doc_id % 3 = 0
      GROUP BY band, band_key
    ),
    nb AS (SELECT * FROM bands WHERE doc_id % 3 != 0),
    flags AS (
      SELECT nb.doc_id,
             max(CASE WHEN hb.band_key IS NOT NULL THEN 1 ELSE 0 END) = 1 AS dup_hist
      FROM nb LEFT JOIN hb USING (band, band_key)
      GROUP BY nb.doc_id
    ),
    owned AS (
      SELECT doc_id, row_number() OVER (PARTITION BY band, band_key
                                        ORDER BY doc_id) AS rn
      FROM nb
    ),
    surv AS (
      SELECT doc_id FROM owned WHERE rn = 1 GROUP BY doc_id HAVING count(*) = 4
    )
    SELECT f.doc_id,
           f.dup_hist AS dup_of_history,
           s.doc_id IS NOT NULL AS batch_survivor,
           (NOT f.dup_hist) AND s.doc_id IS NOT NULL AS kept
    FROM flags f LEFT JOIN surv s USING (doc_id)
    """,
)
def dedup_incremental_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental near-dedup of a new batch against a HISTORICAL band
    index (operators/dedup.band_index + near_dedup_incremental): docs
    with doc_id % 3 == 0 play history, the rest arrive as the
    increment. History is scanned exactly once to build the
    bucket-sized index; the increment then dedups against all of it
    via one keyed join plus the whole-increment first-claimant gate
    (history-dups still claim their buckets, so their same-batch
    near-dups drop too, matching the one-shot batch gate on the
    union) — the daily-load pattern whose streaming twin is
    near_dedup_stream."""
    d = t(spark, sf, "documents")
    hist = d.filter(F.col("doc_id") % 3 == 0)
    new = d.filter(F.col("doc_id") % 3 != 0)
    idx = dedup.band_index(hist, "doc_id", "text", num_hashes=8, bands=4)
    flags, _updated = dedup.near_dedup_incremental(
        new, idx, "doc_id", "text", num_hashes=8, bands=4
    )
    return flags.select("doc_id", "dup_of_history", "batch_survivor", "kept")


def _fuzzy_names_oracle(
    max_distance: int = 3, unit: str = "word", gram_n: int = 2
) -> str:
    """Gate-replay oracle for the fuzzy name join: word- or char-
    n-gram MinHash banding over the sampled part names, then the
    exact Levenshtein verify on the candidates."""
    tok = (
        "list_filter(regexp_split_to_array(p_name, '\\s+'), x -> x != '')"
        if unit == "word"
        else "[p_name[j] for j in range(1, length(p_name) + 1)]"
    )
    return f"""
    WITH d AS (
      SELECT p_partkey AS id, p_name AS name,
             {tok} AS ws
      FROM part WHERE p_partkey % 5 = 0
    ),
    hh AS (SELECT id, name,
                  {_TOKEN_HASHES} AS th
           FROM d),
    sh AS (SELECT id, {_gram_sql(gram_n)} AS shingles FROM hh),
    {_lsh_bands_sql("id")},
    cand AS ({_lsh_cand_sql("id")}
    )
    SELECT c.id_a, c.id_b, na.name AS name_a, nb.name AS name_b,
           CAST(levenshtein(na.name, nb.name) AS INT) AS distance
    FROM cand c
    JOIN hh na ON na.id = c.id_a
    JOIN hh nb ON nb.id = c.id_b
    WHERE abs(length(na.name) - length(nb.name)) <= {max_distance}
      AND levenshtein(na.name, nb.name) <= {max_distance}
    """


@q("dedup_fuzzy_names", _fuzzy_names_oracle())
def dedup_fuzzy_names(spark: SparkSession, sf: str) -> DataFrame:
    """STRING-similarity self-join (operators/dedup.fuzzy_name_pairs):
    part names within 3 Levenshtein edits, discovered by the banded
    word-2-gram MinHash gate (one band-key shuffle) and verified
    exactly only on candidates — the entity fuzzy-match step, never
    an all-pairs DP. The oracle replays the identical gate and
    verify."""
    p = t(spark, sf, "part").filter(F.col("p_partkey") % 5 == 0)
    out = dedup.fuzzy_name_pairs(
        p, "p_partkey", "p_name", max_distance=3, num_hashes=8, bands=4,
        shingle_n=2,
    )
    return out.select(
        F.col("id_a"), F.col("id_b"), "name_a", "name_b",
        F.col("distance").cast("int").alias("distance"),
    )


@q(
    "dedup_fuzzy_names_char",
    _fuzzy_names_oracle(max_distance=2, unit="char", gram_n=3),
)
def dedup_fuzzy_names_char(spark: SparkSession, sf: str) -> DataFrame:
    """The TYPO-ROBUST fuzzy join (operators/dedup.fuzzy_name_pairs
    with ``shingle_unit="char"``): character-3-gram MinHash banding —
    a one-letter edit perturbs only ~3 grams, where it would delete a
    whole token from the word gate — then the Levenshtein ≤ 2 verify
    on candidates. Same gate-replay oracle with the char tokenizer."""
    p = t(spark, sf, "part").filter(F.col("p_partkey") % 5 == 0)
    out = dedup.fuzzy_name_pairs(
        p, "p_partkey", "p_name", max_distance=2, num_hashes=8, bands=4,
        shingle_n=3, shingle_unit="char",
    )
    return out.select(
        F.col("id_a"), F.col("id_b"), "name_a", "name_b",
        F.col("distance").cast("int").alias("distance"),
    )


def _corpus_overlap_oracle(num_hashes: int = 64) -> str:
    """Corpus-level MinHash overlap: per snapshot, each signature slot
    is the min of the affine hash over ALL shingle hashes (union of
    doc shingle sets = min over the unnested stream); overlap = the
    matching-slot fraction."""
    from denormalized_spark.operators.dedup import MERSENNE31, minhash_params

    def slot_mins() -> str:
        parts = []
        for i in range(num_hashes):
            a, b = minhash_params(i)
            parts.append(f"min(({a} * (h % {MERSENNE31}) + {b}) % {MERSENNE31})")
        return "[" + ", ".join(parts) + "]"

    match_terms = " + ".join(
        f"(CASE WHEN ma.m[{i + 1}] = mb.m[{i + 1}] THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    return (
        _DOC_SHINGLES_CTE
        + f""",
    ea AS (SELECT unnest(shingles) AS h FROM sh WHERE doc_id % 2 = 0),
    eb AS (SELECT unnest(shingles) AS h FROM sh WHERE doc_id % 2 = 1),
    ma AS (SELECT {slot_mins()} AS m FROM ea),
    mb AS (SELECT {slot_mins()} AS m FROM eb)
    SELECT CAST({match_terms} AS INT) AS matching_hashes,
           {num_hashes} AS num_hashes,
           round(({match_terms}) / {num_hashes}.0, 6) AS jaccard_estimate
    FROM ma, mb
    """
    )


@q("dedup_corpus_overlap", _corpus_overlap_oracle())
def dedup_corpus_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """CORPUS-to-corpus overlap (operators/dedup.corpus_overlap): the
    even/odd doc split plays two snapshots; their 1-row MinHash
    signatures estimate the Jaccard of the two shingle-set unions —
    the dataset-diff scalar a pipeline computes between snapshot
    versions in one scan each (and at 100 TB from STORED per-snapshot
    signatures, no rescan at all). Output is a single row:
    matching slots, total slots, estimate."""
    d = t(spark, sf, "documents")
    a = d.filter(F.col("doc_id") % 2 == 0)
    b = d.filter(F.col("doc_id") % 2 == 1)
    out = dedup.corpus_overlap(a, b, num_hashes=64)
    return out.select(
        F.col("matching_hashes").cast("int").alias("matching_hashes"),
        F.col("num_hashes").cast("int").alias("num_hashes"),
        "jaccard_estimate",
    )


def _projection_topk_oracle(
    out_dim: int = 16, dim: int = 64, k: int = 10, qid: int = 0
) -> str:
    """Projected-space top-k: embed the SAME md5-derived JL matrix
    literals, project every vector (rounded per component), rank by
    rounded cosine in the 16-dim space."""
    from denormalized_spark.operators.similarity import projection_components

    comps = []
    for i in range(out_dim):
        row = projection_components(i, dim)
        terms = " + ".join(
            f"(embedding[{j + 1}]::DOUBLE * {row[j]!r})" for j in range(dim)
        )
        comps.append(f"round({terms}, 6)")
    proj_list = "[" + ", ".join(comps) + "]"
    cos = (
        f"({_dot_sql('p.pv', 'q.qv', out_dim)})"
        f" / ({_norm_sql('p.pv', out_dim)} * {_norm_sql('q.qv', out_dim)})"
    )
    return f"""
    WITH p AS (SELECT vec_id, {proj_list} AS pv FROM embeddings),
    q AS (SELECT pv AS qv FROM p WHERE vec_id = {qid})
    SELECT p.vec_id, round({cos}, 6) AS cosine_sim
    FROM p CROSS JOIN q
    WHERE p.vec_id != {qid}
    ORDER BY cosine_sim DESC, p.vec_id ASC
    LIMIT {k}
    """


@q("sim_projection_topk", _projection_topk_oracle())
def sim_projection_topk(spark: SparkSession, sf: str) -> DataFrame:
    """ANN in a Johnson-Lindenstrauss-REDUCED space
    (operators/similarity.project_embeddings): 64-dim embeddings
    projected onto 16 deterministic md5-derived directions, then
    brute-force cosine top-10 in the small space — the 4× cheaper
    scan an embedding store runs after JL shrink (compose with int8
    quantization for the full storage path). Projection is a pure
    per-row expression; the top-k is the same 1-row broadcast +
    TakeOrderedAndProject plan as the exact path."""
    e = t(spark, sf, "embeddings")
    p = similarity.project_embeddings(e, out_dim=16, dim=64)
    qv = p.filter(F.col("vec_id") == 0).select(F.col("proj").alias("_qv"))
    scored = (
        p.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.round(
                similarity.cosine(F.col("proj"), F.col("_qv")), 6
            ).alias("cosine_sim"),
        )
    )
    return scored.orderBy(F.desc("cosine_sim"), F.asc("vec_id")).limit(10)


def _pq_topk_oracle(
    m: int = 4, dim: int = 64, k: int = 10, qid: int = 0
) -> str:
    """PQ/ADC oracle: same label-derived codebooks (rounded per-label
    means, codes by sorted label), same rounded-distance argmin
    encode, same ADC lookup sum."""
    sub = dim // m
    cent_comps = ", ".join(
        f"round(avg(embedding[{j + 1}]::DOUBLE), 6) AS c{j}" for j in range(dim)
    )

    def vdist(s: int) -> str:
        return " + ".join(
            f"(v.embedding[{s * sub + j + 1}]::DOUBLE - c.c{s * sub + j})"
            f" * (v.embedding[{s * sub + j + 1}]::DOUBLE - c.c{s * sub + j})"
            for j in range(sub)
        )

    def qdist(s: int) -> str:
        return " + ".join(
            f"(q.qv[{s * sub + j + 1}]::DOUBLE - c.c{s * sub + j})"
            f" * (q.qv[{s * sub + j + 1}]::DOUBLE - c.c{s * sub + j})"
            for j in range(sub)
        )

    mins = ", ".join(
        f"min({{'d': round({vdist(s)}, 6), 'c': c.code}}) AS m{s}"
        for s in range(m)
    )
    luts = ", ".join(f"round({qdist(s)}, 6) AS d{s}" for s in range(m))
    joins = " ".join(f"JOIN lut l{s} ON l{s}.code = e.c{s}" for s in range(m))
    adc = " + ".join(f"l{s}.d{s}" for s in range(m))
    codes = ", ".join(f"m{s}.c AS c{s}" for s in range(m))
    return f"""
    WITH cent0 AS (SELECT label, {cent_comps} FROM embeddings GROUP BY label),
    cent AS (SELECT row_number() OVER (ORDER BY label) - 1 AS code, * FROM cent0),
    enc0 AS (
      SELECT v.vec_id, {mins}
      FROM embeddings v CROSS JOIN cent c GROUP BY v.vec_id
    ),
    enc AS (SELECT vec_id, {codes} FROM enc0),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {qid}),
    lut AS (SELECT c.code, {luts} FROM cent c CROSS JOIN q)
    SELECT e.vec_id, round({adc}, 6) AS adc_dist
    FROM enc e {joins}
    WHERE e.vec_id != {qid}
    ORDER BY adc_dist ASC, e.vec_id ASC
    LIMIT {k}
    """


def _pq_distortion_oracle(m: int = 4, dim: int = 64) -> str:
    """Per-subspace PQ reconstruction MSE over the same label-derived
    codebooks and rounded-argmin encode as _pq_topk_oracle; per-row
    chosen distances micro-floored before integer sums."""
    sub = dim // m
    cent_comps = ", ".join(
        f"round(avg(embedding[{j + 1}]::DOUBLE), 6) AS c{j}" for j in range(dim)
    )

    def vdist(s: int) -> str:
        return " + ".join(
            f"(v.embedding[{s * sub + j + 1}]::DOUBLE - c.c{s * sub + j})"
            f" * (v.embedding[{s * sub + j + 1}]::DOUBLE - c.c{s * sub + j})"
            for j in range(sub)
        )

    mins = ", ".join(
        f"min({{'d': round({vdist(s)}, 6), 'c': c.code}}) AS m{s}"
        for s in range(m)
    )
    sums = ", ".join(
        f"sum(CAST(floor(m{s}.d * 1000000.0 + 0.5) AS BIGINT))::BIGINT AS s{s}"
        for s in range(m)
    )
    points = " UNION ALL ".join(
        f"SELECT {s} AS subspace, n AS n_vectors, (s{s} // n)::BIGINT AS"
        f" mse_micro FROM agg"
        for s in range(m)
    )
    return f"""
    WITH cent0 AS (SELECT label, {cent_comps} FROM embeddings GROUP BY label),
    cent AS (SELECT row_number() OVER (ORDER BY label) - 1 AS code, * FROM cent0),
    enc0 AS (
      SELECT v.vec_id, {mins}
      FROM embeddings v CROSS JOIN cent c GROUP BY v.vec_id
    ),
    agg AS (SELECT count(*)::BIGINT AS n, {sums} FROM enc0)
    SELECT subspace, n_vectors, mse_micro FROM ({points}) ORDER BY subspace
    """


@q("sim_pq_distortion", _pq_distortion_oracle(), eager=True)
def sim_pq_distortion(spark: SparkSession, sf: str) -> DataFrame:
    """Per-subquantizer PQ reconstruction MSE (operators/similarity.
    pq_distortion; the distortion of Jégou et al. 2011 §2) over the
    label-derived codebooks the PQ/ADC entries serve from — the
    index-health report that localizes WHICH subspace's codebook has
    drifted (recall curves say the index degraded; this says where,
    and it bounds the ADC score bias). Pure per-row projection
    against constant-folded codebook literals + one global partial
    agg; the m-row stack runs on the 1-row aggregate. Per-row chosen
    distances micro-floored before exact integer sums."""
    from denormalized_spark.operators.similarity import (
        pq_codebooks_from_labels,
        pq_distortion,
    )

    e = t(spark, sf, "embeddings")
    books = pq_codebooks_from_labels(e, m=4)
    return pq_distortion(e, books)


def _ivf_pq_oracle(
    m: int = 4, dim: int = 64, k: int = 10, nprobe: int = 3, qid: int = 0
) -> str:
    """Composed IVF-probe × PQ/ADC oracle: the _ivf_oracle assignment
    and probe CTEs gate which rows the _pq_topk_oracle ADC scores."""
    base = _pq_topk_oracle(m=m, dim=dim, k=k, qid=qid)
    # splice the IVF assignment/probe between the PQ CTEs and the
    # final ADC select: reuse cent (label-keyed centroids) for both
    cent_list = "[" + ", ".join(f"c{j}" for j in range(dim)) + "]"
    cos_vc = (
        f"({_dot_sql('v.embedding', 'cl.cl')})"
        f" / ({_norm_sql('v.embedding')} * {_norm_sql('cl.cl')})"
    )
    cos_cq = (
        f"({_dot_sql('cl.cl', 'q.qv')})"
        f" / ({_norm_sql('cl.cl')} * {_norm_sql('q.qv')})"
    )
    head, tail = base.split("SELECT e.vec_id,")
    adc_select = "SELECT e.vec_id," + tail
    # make the final select candidate-gated
    adc_select = adc_select.replace(
        "WHERE e.vec_id != %d" % qid,
        "SEMI JOIN probed p ON e.vec_id = p.vec_id\n"
        "    WHERE e.vec_id != %d" % qid,
    )
    return (
        head
        + f""", cl AS (SELECT label, {cent_list} AS cl FROM cent),
    scored AS (
      SELECT v.vec_id, cl.label, {cos_vc} AS s
      FROM embeddings v CROSS JOIN cl
    ),
    assign AS (
      SELECT vec_id, label FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, label) AS rn
        FROM scored
      ) t WHERE rn = 1
    ),
    probe AS (
      SELECT label FROM (
        SELECT cl.label, row_number() OVER (ORDER BY {cos_cq} DESC, cl.label) AS rn
        FROM cl CROSS JOIN q
      ) t WHERE rn <= {nprobe}
    ),
    probed AS (
      SELECT a.vec_id FROM assign a SEMI JOIN probe p ON a.label = p.label
    )
    """
        + adc_select
    )


def _query_vector(e: DataFrame) -> list[float]:
    """The embedding of ``vec_id == 0``, collected as the literal query
    vector of the top-k and MMR lanes."""
    return [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]


@q("sim_ivf_pq_topk", _ivf_pq_oracle(), eager=True)
def sim_ivf_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """The COMPOSED production retrieval path
    (operators/similarity.ivf_pq_topk): the stored index carries each
    vector's coarse cluster AND its PQ codes; a query ranks the k-row
    centroid table to 3 probe clusters, scans only those, and scores
    candidates as m=4 lookup-table reads — scan cost
    ~N·(nprobe/n_clusters)·m bytes, the billion-vector serving shape
    (re-rank the short list with full vectors where exactness
    matters)."""
    e = t(spark, sf, "embeddings")
    cent = similarity.label_centroids(e, "label", "embedding", dim=64)
    assigned = similarity.assign_clusters(e, cent, "vec_id", "embedding")
    books = similarity.pq_codebooks_from_labels(e, m=4, dim=64)
    enc = similarity.pq_encode(assigned, books)
    qvec = _query_vector(e)
    return similarity.ivf_pq_topk(
        enc.filter(F.col("vec_id") != 0), cent, books, qvec, k=10, nprobe=3
    )


@q("sim_pq_topk", _pq_topk_oracle(), eager=True)
def sim_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """PRODUCT-QUANTIZED ANN with asymmetric-distance scoring
    (operators/similarity.pq_encode / pq_topk): vectors become m=4
    subspace codes against label-derived codebooks; the query's
    distances to every codebook cell are precomputed into an m×k
    lookup table and each row's approximate distance is a sum of m
    TABLE LOOKUPS — the billion-scale plan where the scan touches m
    small ints per row instead of 64 floats, with codebooks/LUT as
    pure literals (zero joins, zero Python, TakeOrderedAndProject
    top-k). Production fits codebooks per subspace with kmeans_fit;
    the label quantizer keeps the oracle exact."""
    e = t(spark, sf, "embeddings")
    books = similarity.pq_codebooks_from_labels(e, m=4, dim=64)
    enc = similarity.pq_encode(e, books)
    qvec = _query_vector(e)
    return similarity.pq_topk(
        enc.filter(F.col("vec_id") != 0), books, qvec, k=10
    )


def _pq_train_oracle(m: int = 4, k: int = 8, sub: int = 16) -> str:
    """Unrolled 2-iteration Lloyd's oracle for the k-means PQ codebook
    TRAINER (operators/similarity.pq_codebooks_kmeans): seeds = the
    k smallest-vec_id subvectors, each iteration assigns every
    (vector, subspace) to its nearest cell by ROUNDED squared L2
    (code-asc tiebreak — same struct-min order as pq_encode), then
    re-centers each cell at the rounded component means; an emptied
    cell keeps its previous centroid (the coalesce). Distances are
    written as the same left-to-right 16-term sum the Spark fold
    evaluates, so the rounded values are bit-identical."""
    seed_comps = ", ".join(
        f"seeds.embedding[ss.s * {sub} + {j + 1}]::DOUBLE AS v_{j}"
        for j in range(sub)
    )
    sv_comps = ", ".join(
        f"e.embedding[ss.s * {sub} + {j + 1}]::DOUBLE AS x_{j}"
        for j in range(sub)
    )
    dist = " + ".join(
        f"(sv.x_{j} - b.v_{j}) * (sv.x_{j} - b.v_{j})" for j in range(sub)
    )
    upd = ", ".join(f"round(avg(a.x_{j}), 6) AS v_{j}" for j in range(sub))
    coal = ", ".join(f"coalesce(u.v_{j}, b.v_{j}) AS v_{j}" for j in range(sub))
    vs = ", ".join(f"v_{j}" for j in range(sub))

    def lloyd(book: str, a: str, u: str, nxt: str) -> str:
        return f"""
    {a} AS (
      SELECT * FROM (
        SELECT sv.*, b.c,
               row_number() OVER (
                 PARTITION BY sv.vec_id, sv.s
                 ORDER BY round({dist}, 6) ASC, b.c ASC
               ) AS rn
        FROM sv JOIN {book} b ON b.s = sv.s
      ) WHERE rn = 1
    ),
    {u} AS (SELECT a.s, a.c, {upd} FROM {a} a GROUP BY a.s, a.c),
    {nxt} AS (
      SELECT b.s, b.c, {coal}
      FROM {book} b LEFT JOIN {u} u ON u.s = b.s AND u.c = b.c
    )"""

    return f"""
    WITH ss AS (SELECT unnest(range({m})) AS s),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {k})
    ),
    book0 AS (SELECT ss.s, seeds.c, {seed_comps} FROM seeds CROSS JOIN ss),
    sv AS (SELECT e.vec_id, ss.s, {sv_comps} FROM embeddings e CROSS JOIN ss),
    {lloyd("book0", "a1", "u1", "book1")},
    {lloyd("book1", "a2", "u2", "book2")}
    SELECT s, c, {vs} FROM book2
    """


@q("sim_pq_train", _pq_train_oracle(), eager=True)
def sim_pq_train(spark: SparkSession, sf: str) -> DataFrame:
    """The k-means PQ codebook TRAINER itself, value-checked
    cross-engine (operators/similarity.pq_codebooks_kmeans): m=4
    subspaces × k=8 cells fitted with 2 Lloyd's iterations — each
    iteration is ONE corpus pass (pq_encode assignment with the
    current books as constant-folded literals) plus ONE (subspace,
    code)-keyed partial-agged update shuffle; only the m·k centroid
    rows reach the driver per iteration. Deterministic seeding (k
    smallest vec_ids) + per-iteration rounding make the whole
    TRAINING TRAJECTORY engine-portable, so the fitted codebook table
    hash-matches DuckDB's unrolled-CTE replay — the same pattern that
    oracles kmeans_clusters and text_train_linear_langid."""
    e = t(spark, sf, "embeddings")
    books = similarity.pq_codebooks_kmeans(
        e, m=4, k=8, iterations=2, dim=64
    )
    rows = [
        (s, c, *[float(v) for v in cell])
        for s, book in enumerate(books)
        for c, cell in enumerate(book)
    ]
    schema = "s long, c long, " + ", ".join(
        f"v_{j} double" for j in range(16)
    )
    return spark.createDataFrame(rows, schema)


@q(
    "sim_batch_topk",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT q.qid, e.vec_id,
             round(({_dot_sql('e.embedding', 'q.qv')})
                   / ({_norm_sql('e.embedding')} * {_norm_sql('q.qv')}), 6) AS cosine_sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != q.qid
    )
    SELECT qid, vec_id, cosine_sim, CAST(rk AS INT) AS rk FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cosine_sim DESC, vec_id) AS rk
      FROM scored
    ) WHERE rk <= 5
    """,
)
def sim_batch_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BATCHED retrieval: top-5 cosine neighbors for a whole query SET
    (8 vectors) in one plan — broadcast the query block onto the
    corpus scan (constant fan-out crossJoin, the multi-query
    generalization of sim_topk_query0's 1-row pattern), score
    map-side, per-query WindowGroupLimit rank. At 100 TB the query
    block stays driver-small (thousands of rows broadcast once) and
    only k rows per (partition, query) cross the wire — how a
    retrieval service amortizes embedding-corpus scans across a query
    batch."""
    e = t(spark, sf, "embeddings")
    from pyspark.sql import Window as W

    qs = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    scored = (
        e.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(similarity.cosine(F.col("embedding"), F.col("qv")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("qid", "vec_id", "cosine_sim", "rk")
    )


@q(
    "sim_hard_negatives",
    f"""
    WITH q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qv
               FROM embeddings WHERE vec_id < 16),
    scored AS (
      SELECT q.qid, e.vec_id, e.label,
             round(({_dot_sql('e.embedding', 'q.qv')})
                   / ({_norm_sql('e.embedding')} * {_norm_sql('q.qv')}), 6) AS cosine_sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != q.qid AND e.label != q.qlabel
    )
    SELECT qid, vec_id AS negative_id, label AS negative_label, cosine_sim
    FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cosine_sim DESC, vec_id) AS rk
      FROM scored
    ) WHERE rk = 1
    """,
)
def sim_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    (16 query vectors), the single most-similar vector with a
    DIFFERENT label — the near-miss that makes a triplet/InfoNCE
    batch informative, versus random negatives that teach nothing.
    Same broadcast-query-block scan as sim_batch_topk with the label
    inequality pushed into the scoring filter; per-anchor
    WindowGroupLimit keeps one row."""
    e = t(spark, sf, "embeddings")
    from pyspark.sql import Window as W

    qs = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qv"),
    )
    scored = (
        e.crossJoin(F.broadcast(qs))
        .filter((F.col("vec_id") != F.col("qid")) & (F.col("label") != F.col("qlabel")))
        .select(
            "qid",
            "vec_id",
            "label",
            F.round(similarity.cosine(F.col("embedding"), F.col("qv")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "qid",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("negative_label"),
            "cosine_sim",
        )
    )


@q(
    "text_structure_stats",
    r"""
    WITH aug AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 4 = 0
                     THEN ' see https://example.org/p/' || doc_id ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                     THEN ' ```code block here``` ' ELSE '' END
             || CASE WHEN doc_id % 3 = 0
                     THEN ' "a quoted span" and (a parenthetical)' ELSE '' END
               AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_urls,
           len(regexp_extract_all(text, '```')) // 2 AS n_code_fences,
           len(regexp_extract_all(text, '"[^"]*"')) AS n_quoted_spans,
           len(regexp_extract_all(text, '\([^)]*\)')) AS n_parentheticals,
           length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits
    FROM aug
    """,
)
def text_structure_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Structural document features — the markup-aware quality signals
    (URL density, code fences, quoted spans, parentheticals, digit
    mass) that feed format-aware filtering and routing (code vs prose
    corpora). The synthetic corpus has no markup, so deterministic
    spans are injected first; all counting is regexp_extract_all at
    scan speed — one projection, zero shuffles, no Python."""
    d = t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            "text",
            F.when(F.col("doc_id") % 4 == 0,
                   F.concat(F.lit(" see https://example.org/p/"),
                            F.col("doc_id").cast("string"))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit(" ```code block here``` ")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit(' "a quoted span" and (a parenthetical)')).otherwise(F.lit("")),
        ).alias("text"),
    )
    def n_matches(pat):
        return F.size(F.expr(f"regexp_extract_all(text, '{pat}', 0)"))
    return d.select(
        "doc_id",
        n_matches(r"https?://[^\\s]+").alias("n_urls"),
        (n_matches("```") / 2).cast("long").alias("n_code_fences"),
        n_matches(r'\"[^\"]*\"').alias("n_quoted_spans"),
        n_matches(r"\\([^)]*\\)").alias("n_parentheticals"),
        (F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))).alias(
            "n_digits"
        ),
    )


@q(
    "text_lang_mismatch",
    f"""
    WITH d AS (SELECT doc_id, lang, source, {_TOKS} AS toks FROM documents),
    p AS (
      SELECT doc_id, lang, source,
             CASE WHEN len(list_filter(toks, x -> list_contains({_STOP_SQL}, lower(x))))::DOUBLE
                       / greatest(len(toks), 1) >= 0.02
                  THEN 'en' ELSE 'und' END AS lang_pred
      FROM d
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN lang_pred != lang THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mismatch,
           round(sum(CASE WHEN lang_pred != lang THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS mismatch_rate
    FROM p GROUP BY source
    """,
)
def text_lang_mismatch(spark: SparkSession, sf: str) -> DataFrame:
    """Label-noise detection: per source, how often the content-based
    language detector disagrees with the recorded lang label — the
    screen that catches mislabeled scrapes before a per-language
    mixture is materialized from bad labels. One scan + one
    source-keyed partial-agged shuffle."""
    d = t(spark, sf, "documents")
    p = d.select("source", "lang", text.lang_id("text").alias("lang_pred"))
    return p.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("lang_pred") != F.col("lang"), 1).otherwise(0))
        .cast("long")
        .alias("n_mismatch"),
        F.round(
            F.sum(F.when(F.col("lang_pred") != F.col("lang"), 1).otherwise(0))
            / F.count("*"),
            6,
        ).alias("mismatch_rate"),
    )


def _ivf_recall_oracle(k: int = 10, qid: int = 0, nprobe: int = 3) -> str:
    """Recall@k of IVF vs exact brute force, as one SQL statement:
    reuse the IVF oracle's CTE chain (via a subquery) intersected with
    the exact top-k."""
    ivf = _ivf_oracle(nprobe=nprobe, k=k, qid=qid).strip()
    brute = f"""
      SELECT e.vec_id
      FROM embeddings e CROSS JOIN (SELECT embedding AS qvec FROM embeddings
                                    WHERE vec_id = {qid}) q
      WHERE e.vec_id != {qid}
      ORDER BY round(({_dot_sql('e.embedding', 'q.qvec')})
                     / ({_norm_sql('e.embedding')} * {_norm_sql('q.qvec')}), 6) DESC,
               e.vec_id
      LIMIT {k}
    """
    return f"""
    WITH ivf AS ({ivf}),
    brute AS ({brute})
    SELECT {k} AS k,
           CAST((SELECT count(*) FROM ivf SEMI JOIN brute USING (vec_id)) AS BIGINT)
             AS n_overlap,
           round((SELECT count(*) FROM ivf SEMI JOIN brute USING (vec_id))::DOUBLE
                 / {k}, 6) AS recall_at_k
    """


@q("sim_ivf_recall", _ivf_recall_oracle())
def sim_ivf_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Measured recall@10 of the IVF index against exact brute force
    for the standard query vector — the quality metric an ANN
    deployment monitors when tuning nprobe/cluster count; both sides
    run in one plan (probed scan + broadcast top-k intersect), and
    the oracle recomputes the identical quantizer, probes, and exact
    set, so the recall NUMBER itself is driver-verified."""
    e = t(spark, sf, "embeddings")
    k = 10
    ivf = similarity.ivf_topk(e, query_vec_id=0, k=k, nprobe=3, dim=64, round_digits=6)
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    brute = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(similarity.cosine(F.col("embedding"), F.col("qvec")), 6).alias(
                "s"
            ),
        )
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(k)
    )
    overlap = ivf.select("vec_id").join(brute.select("vec_id"), "vec_id", "left_semi")
    return overlap.agg(F.count("*").alias("n_overlap")).select(
        F.lit(k).alias("k"),
        F.col("n_overlap").cast("long").alias("n_overlap"),
        F.round(F.col("n_overlap") / F.lit(k), 6).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# cross-document repeated-passage detection (exact-substring dedup)
# ---------------------------------------------------------------------------

def _repeated_span_cte(n: int, min_docs: int) -> str:
    gram = _positional_gram_sql(n)
    return f"""
WITH d AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
hh AS (SELECT doc_id,
              {_TOKEN_HASHES} AS th
       FROM d),
pg AS (SELECT doc_id,
              [{{'pos': i - 1, 'gram': {gram}}}
               for i in range(1, len(th) - {n} + 2)] AS grams
       FROM hh WHERE len(th) >= {n}),
gu AS (SELECT doc_id, unnest(grams) AS u FROM pg),
gp AS (SELECT doc_id, u.pos AS pos, u.gram AS gram FROM gu),
dup AS (SELECT gram FROM gp GROUP BY gram
        HAVING count(DISTINCT doc_id) >= {min_docs}),
hit AS (SELECT gp.doc_id, gp.pos FROM gp JOIN dup USING (gram)),
brk AS (SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL
                         OR pos - lag(pos) OVER w > {n}
                    THEN 1 ELSE 0 END AS b
        FROM hit WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
isl AS (SELECT doc_id, pos,
               sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM brk),
spans AS (SELECT doc_id, min(pos) AS span_start, max(pos) + {n} AS span_end,
                 max(pos) + {n} - min(pos) AS span_tokens
          FROM isl GROUP BY doc_id, island)
"""


@q(
    "dedup_repeated_spans",
    _repeated_span_cte(5, 2)
    + "SELECT doc_id, span_start, span_end, span_tokens FROM spans",
)
def dedup_repeated_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document repeated-passage spans (exact-substring dedup a
    la Lee et al. 2022, n-gram-span form): maximal merged spans of
    word 5-grams that occur in >= 2 distinct documents. Linear-work
    substitute for a corpus suffix array — one gram-keyed shuffle for
    the distinct-doc count, one id-keyed shuffle for the span merge.
    The oracle replays gram hashing, the duplicated-gram gate, and
    the island merge as CTEs."""
    d = t(spark, sf, "documents")
    return dedup.repeated_ngram_spans(d, "doc_id", "text", n=5, min_docs=2)


@q(
    "dedup_span_strip",
    _repeated_span_cte(5, 2)
    + """,
agg AS (SELECT doc_id, count(*) AS n_spans, sum(span_tokens) AS dup_tokens
        FROM spans GROUP BY doc_id)
SELECT d.doc_id,
       CAST(len(ws) AS BIGINT) AS n_tokens,
       CAST(len(ws) - coalesce(agg.dup_tokens, 0) AS BIGINT) AS kept_tokens,
       CAST(coalesce(agg.n_spans, 0) AS BIGINT) AS n_spans
FROM d LEFT JOIN agg USING (doc_id)
""",
)
def dedup_span_strip(spark: SparkSession, sf: str) -> DataFrame:
    """Strip duplicated cross-document passages and report per-doc
    token accounting. The Spark side actually REBUILDS each document
    (higher-order token filter over the span list) and counts the
    surviving tokens, while the oracle derives the expected survivor
    count arithmetically from the span table — so a hash match proves
    the strip's token indexing end-to-end, not just the span math."""
    d = t(spark, sf, "documents")
    out = dedup.strip_repeated_ngrams(d, "doc_id", "text", n=5, min_docs=2)
    return out.select("doc_id", "n_tokens", "kept_tokens", "n_spans")


@q(
    "text_bm25_topk",
    f"""
    WITH tok AS (
      SELECT doc_id, len({_TOKS}) AS dl, unnest({_TOKS}) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
      FROM tok WHERE term IN ('scan', 'join', 'filter')
      GROUP BY 1, 2
    ),
    stats AS (
      SELECT count(*) AS n, sum(len({_TOKS})) AS sdl FROM documents
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id,
             floor(
               ln(1.0 + (n - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
               * ((tf * (1.2::DOUBLE + 1.0))
                  / (tf + 1.2::DOUBLE * ((1.0::DOUBLE - 0.75)
                                         + 0.75::DOUBLE * dl / (sdl::DOUBLE / n))))
               * 1000000.0 + 0.5
             )::BIGINT AS m
      FROM tf, dfreq, stats WHERE tf.term = dfreq.term
    )
    SELECT doc_id, sum(m) / 1000000.0 AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC LIMIT 10
    """,
)
def text_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Okapi BM25 lexical retrieval (Robertson & Zaragoza 2009,
    Lucene idf form), top-10 for the fixed query
    {{scan, join, filter}} — the lexical leg beside the ANN leg
    (fuse with sim_rrf_fusion's rrf_fuse). Postings pruned to the
    query terms MAP-SIDE before any shuffle; contributions floored to
    integer micro-units so the per-doc sum is partition-order exact;
    the oracle mirrors every IEEE op including the left-associated
    multiply chain and the Python-precomputed (k1+1)/(1−b) constants.
    See operators/text.bm25_topk for the 100 TB plan notes."""
    return text.bm25_topk(
        t(spark, sf, "documents"), ["scan", "join", "filter"], k=10
    )


_BLOOM_M, _BLOOM_K = 16384, 4

_BLOOM_CTES = f"""hs AS (SELECT unnest([{", ".join(str(i) for i in range(_BLOOM_K))}]) AS i),
    bits AS (
      SELECT DISTINCT
        {md5_int_sql("'bl' || i::VARCHAR || ':' || user_id::VARCHAR", 8)}
          % {_BLOOM_M} AS bit
      FROM (SELECT DISTINCT user_id FROM events) CROSS JOIN hs
    )"""


@q(
    "sketch_bloom_bits",
    f"""
    WITH {_BLOOM_CTES}
    SELECT bit FROM bits
    """,
)
def sketch_bloom_bits(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom filter over the event user population (Bloom 1970) as a
    set-bit row table — the third member of the mergeable sketch
    family (cells=sums: CM; registers=maxes: HLL; bits=SET-UNION:
    Bloom). ≤ m_bits rows of metadata, bit-identical under any
    partitioning, mergeable by union-distinct — sketch per shard/day
    once, answer "user definitely never seen" probes forever. The
    oracle rebuilds every set bit from the same salted-md5 family."""
    from denormalized_spark.operators import sketches

    ev = t(spark, sf, "events").select("user_id")
    return sketches.bloom_bits(ev, "user_id", m_bits=_BLOOM_M, n_hashes=_BLOOM_K)


@q(
    "sketch_bloom_probe",
    f"""
    WITH {_BLOOM_CTES},
    probes AS (SELECT pid FROM range(3000) t(pid)),
    pb AS (
      SELECT pid,
             {md5_int_sql("'bl' || i::VARCHAR || ':' || pid::VARCHAR", 8)}
               % {_BLOOM_M} AS bit
      FROM probes CROSS JOIN hs
    ),
    mem AS (
      SELECT pid, (count(b.bit) = {_BLOOM_K}) AS m
      FROM pb LEFT JOIN bits b USING (bit) GROUP BY pid
    ),
    truth AS (SELECT DISTINCT user_id FROM events)
    SELECT count(*)::BIGINT AS n_probes,
           CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
           CAST(sum(CASE WHEN t.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_present,
           CAST(sum(CASE WHEN m AND t.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_pos
    FROM mem LEFT JOIN truth t ON mem.pid = t.user_id
    """,
)
def sketch_bloom_probe(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom membership probe with the false-positive rate MEASURED:
    3,000 candidate user ids probed against the filter built from the
    events table, compared row-for-row with exact membership — one
    aggregate row (n_probes, n_members, n_present, n_false_pos). No
    false negatives by construction (the oracle would catch one as a
    value mismatch); false positives ride the (1−e^(−kn/m))^k rate
    (~0.9%% at sf0.1's 1,500 users, m=16384, k=4). Probe plan: filter
    broadcast, k exploded rows per probe, one keyed count — scan
    speed over the probe stream."""
    from denormalized_spark.operators import sketches

    ev = t(spark, sf, "events").select("user_id")
    bits = sketches.bloom_bits(ev, "user_id", m_bits=_BLOOM_M, n_hashes=_BLOOM_K)
    probes = spark.range(3000).select(F.col("id").alias("user_id"))
    mem = sketches.bloom_probe(
        bits, probes, "user_id", m_bits=_BLOOM_M, n_hashes=_BLOOM_K
    )
    truth = ev.distinct().withColumn("_t", F.lit(1))
    return mem.join(truth, "user_id", "left").agg(
        F.count("*").alias("n_probes"),
        F.sum(F.when(F.col("bloom_member"), 1).otherwise(0)).alias("n_members"),
        F.sum(F.when(F.col("_t").isNotNull(), 1).otherwise(0)).alias("n_present"),
        F.sum(
            F.when(F.col("bloom_member") & F.col("_t").isNull(), 1).otherwise(0)
        ).alias("n_false_pos"),
    )


def _winnow_cte(k: int = 4, w: int = 4) -> str:
    """Winnowing selection replayed in SQL: same positional gram
    hashes, same per-window list_min, same rightmost tie-break
    (list_max over the argmin positions)."""
    gram = _positional_gram_sql(k)
    mn = f"list_min(gs[i:i+{w - 1}])"
    sel_item = (
        "{'fp_hash': " + mn + ", "
        "'pos': list_max([j for j in range(i, i+" + str(w) + ") "
        "if gs[j] = " + mn + "]) - 1}"
    )
    return f"""d AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
    hh AS (SELECT doc_id,
                  {_TOKEN_HASHES} AS th
           FROM d),
    pg AS (SELECT doc_id,
                  [{gram} for i in range(1, len(th) - {k} + 2)] AS gs
           FROM hh WHERE len(th) >= {k}),
    sel AS (SELECT doc_id,
                   [{sel_item}
                    for i in range(1, len(gs) - {w} + 2)] AS sels
            FROM pg WHERE len(gs) >= {w}),
    fpu AS (SELECT doc_id, unnest(sels) AS s FROM sel),
    fps AS (SELECT DISTINCT doc_id, s.fp_hash AS fp_hash, s.pos AS pos FROM fpu)"""


@q(
    "dedup_winnow_fingerprints",
    f"""
    WITH {_winnow_cte(4, 4)}
    SELECT doc_id,
           count(*)::BIGINT AS n_fps,
           CAST(sum(fp_hash * (pos + 1)) AS BIGINT) AS fp_sum
    FROM fps GROUP BY doc_id
    """,
)
def dedup_winnow_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003 — MOSS) per doc,
    value-checked as (count, position-weighted checksum): the sum
    fp_hash·(pos+1) is exact integer (< 2^52 at any plausible doc
    length), so the oracle catches a single selection or tie-break
    divergence. Density 2/(w+1) — the fingerprint stream is a ~10×
    compressed, match-LOCALIZING summary of the gram stream. See
    operators/dedup.winnow_fingerprints for the scan-speed HOF plan."""
    from denormalized_spark.operators import dedup

    fps = dedup.winnow_fingerprints(t(spark, sf, "documents"), k=4, w=4)
    return fps.groupBy("doc_id").agg(
        F.count("*").alias("n_fps"),
        F.sum(F.col("fp_hash") * (F.col("pos") + 1)).alias("fp_sum"),
    )


@q(
    "dedup_winnow_pairs",
    f"""
    WITH {_winnow_cte(4, 4)},
    dh AS (SELECT DISTINCT doc_id, fp_hash FROM fps),
    ok AS (SELECT fp_hash FROM dh GROUP BY fp_hash
           HAVING count(*) BETWEEN 2 AND 64),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM dh a JOIN dh b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
      JOIN ok ON ok.fp_hash = a.fp_hash
    )
    SELECT id_a, id_b, count(*)::BIGINT AS n_shared
    FROM pairs GROUP BY 1, 2 HAVING count(*) >= 3
    """,
)
def dedup_winnow_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """MOSS overlap report: pairs sharing ≥ 3 winnowing fingerprints.
    Fingerprint-keyed bucket-collect under the repo cap contract
    (operators/_bucketing.py — boilerplate fingerprints in > 64 docs
    drop whole, mirrored by the HAVING band), per-bucket pair
    generation, one pair-keyed count: work ∝ Σ bucket² ≤ cap·|fps|,
    never corpus-quadratic."""
    from denormalized_spark.operators import dedup

    return dedup.winnow_pairs(
        t(spark, sf, "documents"), k=4, w=4, min_shared=3, max_bucket_size=64
    )


def _jl_comp_sql(j: int, dim: int = 64, out_dim: int = 16) -> str:
    """One JL component replayed in SQL: the same md5-derived sign
    literals, the same left-associated sum, the same exact 1/sqrt(16)
    = 0.25 scale."""
    signs = similarity.jl_signs(j, dim)
    terms = " + ".join(
        f"(embedding[{i + 1}]::DOUBLE * {signs[i]})" for i in range(dim)
    )
    return f"round(({terms}) * 0.25::DOUBLE, 6)"


@q(
    "sim_jl_project",
    f"""
    SELECT vec_id,
           unnest(range(0, 16)) AS component_idx,
           unnest([{", ".join(_jl_comp_sql(j) for j in range(16))}]) AS jl_value
    FROM embeddings
    """,
)
def sim_jl_project(spark: SparkSession, sf: str) -> DataFrame:
    """Johnson-Lindenstrauss ±1 random projection 64→16 (Achlioptas
    2003): the cheap distance-preserving squeeze in front of scoring/
    clustering/ANN — 4× fewer bytes through every downstream shuffle.
    Map-only scan, sign matrix constant-folded; every component
    hash-checked against the oracle's identical literal arithmetic.
    The operator returns ``(vec_id, jl_proj array<double>)``; the
    registry entry posexplodes to ``(vec_id, component_idx, jl_value)``
    rows because the driver's canonicalizer (pandas sort_values over
    all columns) cannot hash ndarray cells — r10 driver-red lesson,
    mirrored by the oracle's zipped unnest."""
    p = similarity.jl_project(t(spark, sf, "embeddings"), dim=64, out_dim=16)
    return p.select(
        "vec_id", F.posexplode("jl_proj").alias("component_idx", "jl_value")
    ).withColumn("component_idx", F.col("component_idx").cast("long"))


@q(
    "sim_jl_distortion",
    f"""
    WITH p AS (
      SELECT vec_id, embedding,
             [{", ".join(_jl_comp_sql(j) for j in range(16))}] AS jp
      FROM embeddings WHERE vec_id < 40
    ),
    pr AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             ({" + ".join(f"((a.jp[{i}] - b.jp[{i}]) * (a.jp[{i}] - b.jp[{i}]))" for i in range(1, 17))})
             / ({" + ".join(f"((a.embedding[{i}]::DOUBLE - b.embedding[{i}]::DOUBLE) * (a.embedding[{i}]::DOUBLE - b.embedding[{i}]::DOUBLE))" for i in range(1, 65))})
               AS ratio
      FROM p a JOIN p b ON a.vec_id < b.vec_id
    )
    SELECT count(*)::BIGINT AS n_pairs,
           CAST(min(floor(ratio * 1000000 + 0.5)) AS BIGINT) AS min_ratio_micro,
           CAST(max(floor(ratio * 1000000 + 0.5)) AS BIGINT) AS max_ratio_micro,
           CAST(sum(floor(ratio * 1000000 + 0.5)) AS BIGINT) AS sum_ratio_micro
    FROM pr
    """,
)
def sim_jl_distortion(spark: SparkSession, sf: str) -> DataFrame:
    """The JL guarantee MEASURED: distance² ratios (projected/original)
    over all pairs of the first 40 vectors — min/max/sum of the
    micro-floored ratios in one aggregate row. Per-pair ratios land on
    the integer micro grid before aggregation, so the sum is
    partition-order exact. Expected concentration around 1.0 at k=16
    (ε ≈ √(ln n / k)); the unit test pins the band."""
    e = t(spark, sf, "embeddings").filter(F.col("vec_id") < 40)
    p = similarity.jl_project(e, dim=64, out_dim=16)
    j = e.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va")).join(
        p.select(F.col("vec_id").alias("ia"), F.col("jl_proj").alias("pa")), "ia"
    )
    k = e.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb")).join(
        p.select(F.col("vec_id").alias("ib"), F.col("jl_proj").alias("pb")), "ib"
    )
    pairs = j.join(k, F.col("ia") < F.col("ib"))
    d2 = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    ratio = d2(F.col("pa"), F.col("pb")) / d2(F.col("va"), F.col("vb"))
    micro = F.floor(ratio * 1_000_000 + F.lit(0.5)).cast("long")
    return pairs.select(micro.alias("_m")).agg(
        F.count("*").alias("n_pairs"),
        F.min("_m").alias("min_ratio_micro"),
        F.max("_m").alias("max_ratio_micro"),
        F.sum("_m").alias("sum_ratio_micro"),
    )


_CS_D, _CS_W = 5, 64

_CS_CTES = f"""tokc AS (SELECT unnest({_TOKS}) AS tok FROM documents),
    kcs AS (SELECT tok, count(*)::BIGINT AS c FROM tokc GROUP BY tok),
    rcs AS (SELECT unnest([{", ".join(str(r) for r in range(_CS_D))}]) AS r),
    cs_cells AS (
      SELECT r AS cs_row,
             {md5_int_sql("'cs' || r::VARCHAR || ':' || tok", 8)}
               % {_CS_W} AS cs_col,
             CAST(sum(CASE WHEN {md5_int_sql("'css' || r::VARCHAR || ':' || tok", 1)} % 2 = 1
                           THEN c ELSE -c END) AS BIGINT) AS cnt
      FROM kcs CROSS JOIN rcs GROUP BY 1, 2
    )"""


@q(
    "sketch_cs_cells",
    f"""
    WITH {_CS_CTES}
    SELECT cs_row, cs_col, cnt FROM cs_cells
    """,
)
def sketch_cs_cells(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Sketch (Charikar, Chen & Farach-Colton 2002) of the
    corpus token frequencies: depth 5 × width 64 SIGNED cell sums —
    Count-Min's two-sided cousin (unbiased point estimates; rows
    square into AMS F₂ estimators). Same mergeable/partition-order-
    exact build as the CM cells; the oracle replays every signed sum
    from the salted-md5 bucket and sign families."""
    from denormalized_spark.operators import sketches

    d = t(spark, sf, "documents").select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    return sketches.count_sketch(d, "tok", depth=_CS_D, width=_CS_W)


@q(
    "sketch_cs_f2",
    f"""
    WITH {_CS_CTES},
    rowsums AS (SELECT cs_row, sum(cnt * cnt) AS s2 FROM cs_cells GROUP BY 1)
    SELECT CAST(list_sort(list(s2))[{(_CS_D + 1) // 2}] AS BIGINT) AS f2_estimate,
           (SELECT CAST(sum(c * c) AS BIGINT) FROM kcs) AS f2_exact
    FROM rowsums
    """,
)
def sketch_cs_f2(spark: SparkSession, sf: str) -> DataFrame:
    """AMS second-moment estimation (Alon, Matias & Szegedy 1996)
    from the Count-Sketch: F₂ = Σ f_k² is the self-join size — the
    cardinality input a join planner wants — estimated as the exact
    middle order statistic of the 5 per-row Σcell² values, with the
    exact F₂ beside it so the oracle value-checks estimator quality,
    not just plumbing. All-integer throughout."""
    from denormalized_spark.operators import sketches

    d = t(spark, sf, "documents").select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    est = sketches.cs_f2_estimate(
        sketches.count_sketch(d, "tok", depth=_CS_D, width=_CS_W), depth=_CS_D
    )
    exact = (
        d.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).alias("f2_exact"))
    )
    return est.crossJoin(F.broadcast(exact))


_PCA_IDX = ", ".join(str(i) for i in range(1, 65))

_PCA_XQ = (
    "xq AS (SELECT vec_id, list_transform(embedding, "
    "x -> CAST(floor(x::DOUBLE * 10000 + 0.5) AS BIGINT)) AS v FROM embeddings)"
)


@q(
    "sim_pca_moments",
    f"""
    WITH {_PCA_XQ},
    ax AS (SELECT unnest([{_PCA_IDX}]) AS i),
    sec AS (SELECT i, j, CAST(sum(v[i] * v[j]) AS BIGINT) AS s
            FROM xq, ax t1(i), ax t2(j) WHERE j >= i GROUP BY i, j),
    fst AS (SELECT i, 0 AS j, CAST(sum(v[i]) AS BIGINT) AS s
            FROM xq, ax t(i) GROUP BY i),
    cnt AS (SELECT 0 AS i, 0 AS j, count(*)::BIGINT AS s FROM xq)
    SELECT i, j, s FROM sec
    UNION ALL SELECT i, j, s FROM fst
    UNION ALL SELECT i, j, s FROM cnt
    """,
)
def sim_pca_moments(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass exact integer PCA moment summary over the embedding
    corpus: upper-triangle second moments + first moments + count as
    one (i, j, s) table — dim²/2 rows of metadata from one scan +
    one keyed partial agg, THE distributed-PCA data pass (everything
    downstream runs on this constant-size summary). Quantized to the
    1e-4 grid with binary HALF_UP, so every cell is partition-order
    exact and the oracle replays it bit-for-bit."""
    return similarity.pca_moments(t(spark, sf, "embeddings"), dim=64)


def _pca_power_sql(iters: int = 3) -> str:
    """Unrolled power-iteration CTE chain: exact-int matvec (HUGEINT
    sums), IEEE correctly-rounded sqrt, milli-grid renormalization —
    the same trajectory operators/similarity.pca_power_top walks in
    Python bigints."""
    ctes = [
        _PCA_XQ,
        f"ax AS (SELECT unnest([{_PCA_IDX}]) AS i)",
        """sec AS (SELECT i, j, CAST(sum(v[i] * v[j]) AS BIGINT) AS s
            FROM xq, ax t1(i), ax t2(j) WHERE j >= i GROUP BY i, j)""",
        """fst AS (SELECT i, CAST(sum(v[i]) AS BIGINT) AS sx FROM xq, ax t(i) GROUP BY i)""",
        "cnt AS (SELECT count(*)::BIGINT AS n FROM xq)",
        "msym AS (SELECT i, j, s FROM sec UNION ALL SELECT j AS i, i AS j, s FROM sec WHERE i < j)",
        """mfull AS (
      SELECT m.i, m.j,
             CAST(floor((c.n * m.s - a.sx * b.sx)::DOUBLE / (c.n * c.n) * 10000 + 0.5)
                  AS BIGINT) AS mq
      FROM msym m, cnt c, fst a, fst b WHERE a.i = m.i AND b.i = m.j)""",
        "v0 AS (SELECT i, CAST(CASE WHEN i = 1 THEN 1000 ELSE 0 END AS BIGINT) AS v FROM ax)",
    ]
    for t_ in range(1, iters + 1):
        ctes.append(
            f"""cv{t_} AS (SELECT m.i AS i, CAST(sum(m.mq * v.v) AS BIGINT) AS cv
      FROM mfull m JOIN v{t_ - 1} v ON m.j = v.i GROUP BY m.i)"""
        )
        ctes.append(
            f"n{t_} AS (SELECT sum(cv::HUGEINT * cv) AS s2 FROM cv{t_})"
        )
        ctes.append(
            f"""v{t_} AS (SELECT i, CAST(floor(cv::DOUBLE / sqrt(s2::DOUBLE) * 1000 + 0.5)
                       AS BIGINT) AS v FROM cv{t_}, n{t_})"""
        )
    return ",\n    ".join(ctes)


@q(
    "sim_pca_project",
    f"""
    WITH {_pca_power_sql(3)}
    SELECT q.vec_id,
           CAST(sum(q.v[w.i] * w.v) AS BIGINT) AS pc1_e7
    FROM xq q, v3 w GROUP BY q.vec_id
    """,
    eager=True,
)
def sim_pca_project(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed PCA, end to end: one-pass integer moment summary →
    3 power iterations on the n²-scaled centered matrix (driver-side
    Python bigints — the covariance is metadata, exactly like k-means
    centroids) → map-only projection of every vector onto the top
    component, scored as an EXACT integer dot in 1e-7 units. The
    oracle replays the entire trajectory (HUGEINT matvec sums, IEEE
    sqrt, milli-grid renormalization) in an unrolled CTE — same
    oracle pattern as kmeans/PageRank, extended to matrix iteration.
    PSD covariance + e₁ seed make the sign deterministic."""
    return similarity.pca_top_project(
        t(spark, sf, "embeddings"), dim=64, iterations=3
    )


@q(
    "dedup_snm_pairs",
    """
    WITH s AS (
      SELECT doc_id, substr(text, 1, 24) AS k,
             row_number() OVER (ORDER BY substr(text, 1, 24), doc_id) AS rn
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.k AS key_a, b.k AS key_b
    FROM s a JOIN s b ON b.rn BETWEEN a.rn + 1 AND a.rn + 4
    """,
)
def dedup_snm_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995): sort by
    a 24-char text prefix, pair every record with its 4 successors —
    candidates ∝ n·(w−1), the classic key-driven alternative to LSH
    blocking (near-dup rewrites share prefixes, so they co-occur in a
    window without any hashing). Feed the pairs to the gated Jaccard
    verifier exactly like the LSH candidates. Deterministic: key ties
    break by id in both engines."""
    from denormalized_spark.operators import dedup

    return dedup.snm_candidate_pairs(
        t(spark, sf, "documents"),
        F.substring("text", 1, 24),
        window=5,
    )


def _hll_user_regs_sql(cte: str, where: str) -> str:
    """Register CTE for a user cohort (md5 of user_id::VARCHAR — the
    same cast chain Spark's hll_registers applies to a BIGINT key)."""
    return f"""{cte}h AS (
      SELECT {md5_int_sql("user_id::VARCHAR", 15)} AS h
      FROM (SELECT DISTINCT user_id FROM events WHERE {where})
    ),
    {cte} AS (
      SELECT h & 63 AS reg,
             CAST(max(CASE WHEN (h >> 6) = 0 THEN 55
                  ELSE bit_count(((h >> 6) & (-(h >> 6))) - 1) + 1 END) AS BIGINT) AS rho
      FROM {cte}h GROUP BY 1
    )"""


def _hll_est_from_sql(regs: str, out: str) -> str:
    """Estimate CTE chain over a register CTE (p=6 constants — the
    same integer-exact harmonic sum as sketch_hll_distinct's)."""
    return f"""{out}s AS (
      SELECT CAST(sum(CAST(2 ** (56 - rho) AS BIGINT)) AS BIGINT) AS s,
             count(*) AS nz
      FROM {regs}
    ),
    {out} AS (
      SELECT round(CASE WHEN raw <= 160.0 AND v > 0
                        THEN 64.0 * ln(64.0 / v) ELSE raw END, 4) AS est
      FROM (SELECT (0.709::DOUBLE * 64.0 * 64.0 * 72057594037927936.0)
                   / (s + (64 - nz) * 72057594037927936)::DOUBLE AS raw,
                   64 - nz AS v
            FROM {out}s)
    )"""


_HLL_A_WHERE = "event_type = 'click' AND user_id % 2 = 0"
_HLL_B_WHERE = "event_type = 'purchase' AND user_id % 3 = 0"


@q(
    "sketch_hll_intersect",
    f"""
    WITH {_hll_user_regs_sql('ra', _HLL_A_WHERE)},
    {_hll_user_regs_sql('rb', _HLL_B_WHERE)},
    ru AS (SELECT reg, CAST(max(rho) AS BIGINT) AS rho
           FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY reg),
    {_hll_est_from_sql('ra', 'ea')},
    {_hll_est_from_sql('rb', 'eb')},
    {_hll_est_from_sql('ru', 'eu')},
    exact AS (
      SELECT count(*)::BIGINT AS exact_intersect FROM (
        SELECT DISTINCT user_id FROM events WHERE {_HLL_A_WHERE}
        INTERSECT
        SELECT DISTINCT user_id FROM events WHERE {_HLL_B_WHERE}
      )
    )
    SELECT ea.est AS est_a, eb.est AS est_b, eu.est AS est_union,
           floor((ea.est + eb.est - eu.est) * 10000 + 0.5) / 10000 AS est_intersect,
           exact_intersect
    FROM ea, eb, eu, exact
    """,
)
def sketch_hll_intersect(spark: SparkSession, sf: str) -> DataFrame:
    """Audience-overlap by inclusion–exclusion over HLL register
    tables: two user cohorts (even-id clickers, ≡0-mod-3 purchasers —
    known ~1/6-of-users truth), union via exact register max-merge
    (no extra pass), |A∩B| ≈ est_a + est_b − est_union, with the
    EXACT intersection beside it so the oracle value-checks estimator
    accuracy, not just plumbing. The overlap-vs-union caveat and the
    KMV alternative are in the operator docstring."""
    from denormalized_spark.operators import sketches

    ev = t(spark, sf, "events")
    a = ev.filter((F.col("event_type") == "click") & (F.col("user_id") % 2 == 0))
    b = ev.filter((F.col("event_type") == "purchase") & (F.col("user_id") % 3 == 0))
    ra = sketches.hll_registers(a.select("user_id"), "user_id", p=6)
    rb = sketches.hll_registers(b.select("user_id"), "user_id", p=6)
    est = sketches.hll_intersect_estimate(ra, rb, p=6)
    exact = (
        a.select("user_id")
        .distinct()
        .join(b.select("user_id").distinct(), "user_id", "left_semi")
        .agg(F.count("*").alias("exact_intersect"))
    )
    return est.crossJoin(F.broadcast(exact))


@q(
    "dedup_weighted_minhash",
    f"""
    WITH tokw AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    tfw AS (SELECT doc_id, tok, count(*) AS c FROM tokw GROUP BY 1, 2),
    rep AS (SELECT doc_id, tok, unnest(range(1, least(c, 16) + 1)) AS i FROM tfw),
    hh AS (SELECT doc_id,
                  {md5_int_sql("tok || ':' || i::VARCHAR", 8)}
                    % 2147483647 AS hh
           FROM rep),
    sl AS (
      SELECT doc_id,
           CAST(min((164269695 * hh + 1370462736) % 2147483647) AS BIGINT) AS s0,
           CAST(min((1071859921 * hh + 619624011) % 2147483647) AS BIGINT) AS s1,
           CAST(min((1893425661 * hh + 1962986430) % 2147483647) AS BIGINT) AS s2,
           CAST(min((1293095852 * hh + 1798301277) % 2147483647) AS BIGINT) AS s3,
           CAST(min((1133468981 * hh + 1909863133) % 2147483647) AS BIGINT) AS s4,
           CAST(min((148488241 * hh + 813965002) % 2147483647) AS BIGINT) AS s5,
           CAST(min((263346711 * hh + 26849950) % 2147483647) AS BIGINT) AS s6,
           CAST(min((376050573 * hh + 856801040) % 2147483647) AS BIGINT) AS s7,
           CAST(min((817107255 * hh + 1095661946) % 2147483647) AS BIGINT) AS s8,
           CAST(min((1538927511 * hh + 1849162706) % 2147483647) AS BIGINT) AS s9,
           CAST(min((1037296364 * hh + 1188378687) % 2147483647) AS BIGINT) AS s10,
           CAST(min((1778220387 * hh + 510017701) % 2147483647) AS BIGINT) AS s11,
           CAST(min((1756759315 * hh + 410657071) % 2147483647) AS BIGINT) AS s12,
           CAST(min((1762106009 * hh + 1422770906) % 2147483647) AS BIGINT) AS s13,
           CAST(min((762874016 * hh + 1257238662) % 2147483647) AS BIGINT) AS s14,
           CAST(min((1688879376 * hh + 2126896705) % 2147483647) AS BIGINT) AS s15
      FROM hh GROUP BY doc_id
    )
    SELECT doc_id,
           unnest(range(0, 16)) AS slot,
           unnest([s0, s1, s2, s3, s4, s5, s6, s7, s8, s9, s10, s11, s12, s13, s14, s15]) AS wmh_value
    FROM sl
    """,
)
def dedup_weighted_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted (tf-bag) MinHash signatures via integer-weight
    expansion (Gollapudi & Panigrahy 2006): min(tf, 16) salted copies
    per token, plain MinHash over the expanded multiset — slot-match
    probability equals the WEIGHTED Jaccard Σmin(tf)/Σmax(tf), the
    similarity a tf-aware dedup wants. Same universal-hash family as
    the set MinHash, so LSH banding downstream is shared; every slot
    replayed exactly by the oracle. Estimator-accuracy test in
    tests/test_near_dedup.py. The operator keeps its
    ``(doc_id, wmh array<long>)`` shape; the registry entry
    posexplodes to ``(doc_id, slot, wmh_value)`` rows because the
    driver's canonicalizer cannot hash ndarray cells (r10
    driver-red), mirrored by the oracle's zipped unnest over the
    existing s0..s15 CTE columns."""
    from denormalized_spark.operators import dedup

    sig = dedup.weighted_minhash_signatures(t(spark, sf, "documents"))
    return sig.select(
        "doc_id", F.posexplode("wmh").alias("slot", "wmh_value")
    ).withColumn("slot", F.col("slot").cast("long"))


@q(
    "sketch_mg_heavy_hitters",
    f"""
    WITH tokm AS (
      SELECT lang, unnest({_TOKS}) AS tok FROM documents
    ),
    cnt AS (SELECT lang, tok, count(*)::BIGINT AS c FROM tokm GROUP BY 1, 2),
    rk AS (SELECT lang, tok, c,
                  row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS rn
           FROM cnt),
    res AS (SELECT lang, c AS r FROM rk WHERE rn = 9),
    adj AS (
      SELECT rk.tok, rk.c - coalesce(res.r, 0) AS ca
      FROM rk LEFT JOIN res ON res.lang = rk.lang
      WHERE rk.rn <= 8 AND rk.c - coalesce(res.r, 0) > 0
    ),
    sumr AS (SELECT coalesce(sum(r), 0)::BIGINT AS sum_rs FROM res),
    comb AS (SELECT tok, sum(ca)::BIGINT AS cc FROM adj GROUP BY tok),
    rk2 AS (SELECT tok, cc, row_number() OVER (ORDER BY cc DESC, tok) AS rn2 FROM comb),
    rm AS (SELECT coalesce(max(cc), 0)::BIGINT AS rm FROM rk2 WHERE rn2 = 9)
    SELECT tok, CAST(cc - rm AS BIGINT) AS mg_count,
           CAST(sum_rs + rm AS BIGINT) AS error_bound
    FROM rk2, rm, sumr
    WHERE rn2 <= 8 AND cc - rm > 0
    """,
)
def sketch_mg_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Shard-merged Misra-Gries heavy hitters over corpus tokens
    (shards = language — a data column, so the summary is partition-
    layout independent): the deletion-based counterpart of the
    Count-Min heavy hitters (MG never overcounts, CM never
    undercounts — run both and every key's truth is bracketed). The
    per-key certified undercount bound (Σ shard residuals + merge
    residual) is a COLUMN, hash-checked with the counters. See
    operators/sketches.misra_gries_merged for the derived-from-exact-
    counts determinism argument."""
    from denormalized_spark.operators import sketches

    d = t(spark, sf, "documents").select(
        "lang", F.explode(F.split(F.col("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    return sketches.misra_gries_merged(d, "tok", "lang", k=8)


@q(
    "sketch_kmv_set_ops",
    f"""
    WITH ta AS (SELECT DISTINCT tok FROM
                 (SELECT unnest({_TOKS}) AS tok FROM documents WHERE lang = 'en')),
    tb AS (SELECT DISTINCT tok FROM
                 (SELECT unnest({_TOKS}) AS tok FROM documents WHERE lang != 'en')),
    ska AS (SELECT kmv_h FROM (SELECT DISTINCT {md5_int_sql("tok", 15)} AS kmv_h FROM ta)
            ORDER BY kmv_h LIMIT {_KMV_K}),
    skb AS (SELECT kmv_h FROM (SELECT DISTINCT {md5_int_sql("tok", 15)} AS kmv_h FROM tb)
            ORDER BY kmv_h LIMIT {_KMV_K}),
    ell AS (SELECT kmv_h FROM (SELECT DISTINCT kmv_h FROM
                 (SELECT kmv_h FROM ska UNION ALL SELECT kmv_h FROM skb))
            ORDER BY kmv_h LIMIT {_KMV_K}),
    a1 AS (SELECT count(*)::BIGINT AS na, max(kmv_h) AS ha FROM ska),
    b1 AS (SELECT count(*)::BIGINT AS nb, max(kmv_h) AS hb FROM skb),
    u1 AS (SELECT count(*)::BIGINT AS l, max(kmv_h) AS hu FROM ell),
    m1 AS (SELECT count(*)::BIGINT AS m FROM ell
           JOIN ska USING (kmv_h) JOIN skb USING (kmv_h)),
    es AS (
      SELECT CASE WHEN na < {_KMV_K} THEN na::DOUBLE
                  ELSE {_KMV_K - 1}::DOUBLE * 1152921504606846976::DOUBLE / ha::DOUBLE END AS ea,
             CASE WHEN nb < {_KMV_K} THEN nb::DOUBLE
                  ELSE {_KMV_K - 1}::DOUBLE * 1152921504606846976::DOUBLE / hb::DOUBLE END AS eb,
             CASE WHEN l < {_KMV_K} THEN l::DOUBLE
                  ELSE {_KMV_K - 1}::DOUBLE * 1152921504606846976::DOUBLE / hu::DOUBLE END AS eu,
             m::DOUBLE / l::DOUBLE AS jac
      FROM a1, b1, u1, m1
    )
    SELECT round(ea, 4) AS est_a, round(eb, 4) AS est_b,
           round(eu, 4) AS est_union, round(jac, 4) AS kmv_jaccard,
           round(jac * eu, 4) AS est_intersect,
           round(greatest(ea - jac * eu, 0.0), 4) AS est_diff_a,
           round(greatest(eb - jac * eu, 0.0), 4) AS est_diff_b
    FROM es
    """,
)
def sketch_kmv_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """The full KMV set-operation algebra (Beyer et al. 2007; the
    theta-sketch core) over the English vs non-English token sets:
    union from the merged sketch's k-th order statistic, intersection
    as Jaccard x union, differences by inclusion-exclusion — every
    pairwise overlap question two 100 TB crawls can ask, answered from
    two 64-row metadata tables with no cross-corpus join. Extends
    `sketch_kmv_overlap` (Jaccard only); order statistics exact, the
    fixed-order float chain replayed to 4 decimals by the oracle."""
    from denormalized_spark.operators import sketches

    d = t(spark, sf, "documents")
    toks = lambda cond: d.filter(cond).select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    sa = sketches.kmv_sketch(toks(F.col("lang") == "en").distinct(), "tok", _KMV_K)
    sb = sketches.kmv_sketch(toks(F.col("lang") != "en").distinct(), "tok", _KMV_K)
    return sketches.kmv_set_estimates(sa, sb, _KMV_K)


@q(
    "text_pmi_collocations",
    f"""
    WITH toks AS (SELECT {_TOKS} AS tk FROM documents),
    pr AS (SELECT unnest(tk[1:len(tk)-1]) AS w1, unnest(tk[2:len(tk)]) AS w2
           FROM toks),
    cnt AS (SELECT w1, w2, count(*)::BIGINT AS n_xy FROM pr GROUP BY 1, 2),
    lx AS (SELECT w1, sum(n_xy)::BIGINT AS n_x FROM cnt GROUP BY w1),
    ry AS (SELECT w2, sum(n_xy)::BIGINT AS n_y FROM cnt GROUP BY w2),
    nn AS (SELECT sum(n_xy)::BIGINT AS nt FROM cnt)
    SELECT w1, w2, n_xy, n_x, n_y,
           CAST(floor(ln((n_xy::DOUBLE * nt::DOUBLE)
                         / (n_x::DOUBLE * n_y::DOUBLE)) * 1000000 + 0.5)
                AS BIGINT) AS pmi_micro
    FROM cnt JOIN lx USING (w1) JOIN ry USING (w2) CROSS JOIN nn
    WHERE n_xy >= 5
    ORDER BY pmi_micro DESC, w1, w2 LIMIT 20
    """,
)
def text_pmi_collocations(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information (Church &
    Hanks 1990) with min-support 5 — the phrase/multi-word-expression
    detector a tokenizer-training or n-gram-hygiene pipeline runs
    before merging frequent units. Pair generation is per-row
    zip_with (no shuffle); marginals derive from the pair table.
    Transcendental ln micro-floored (the BM25/idf ulp argument);
    deterministic (pmi, w1, w2) top-k tiebreak."""
    from denormalized_spark.operators.text import pmi_collocations

    return pmi_collocations(t(spark, sf, "documents"), "text", min_count=5, k=20)


_FS_COMPARISONS = [
    # (field, m = P(agree|match), u = P(agree|non-match)) — u roughly
    # 1/|domain| for the part attribute domains (25 brands, 150 types,
    # 50 sizes); m reflects entry noise on true matches
    ("brand", 0.9, 0.04),
    ("type", 0.85, 0.007),
    ("size", 0.8, 0.02),
]


def _fs_oracle() -> str:
    import math

    w = {
        name: (
            int(math.floor(math.log(m / u) * 1_000_000 + 0.5)),
            int(math.floor(math.log((1 - m) / (1 - u)) * 1_000_000 + 0.5)),
        )
        for name, m, u in _FS_COMPARISONS
    }
    score = " + ".join(
        f"(CASE WHEN agr_{n} THEN {wa} ELSE {wd} END)" for n, (wa, wd) in w.items()
    )
    return f"""
    WITH s AS (
      SELECT p_partkey, substr(p_name, 1, 12) AS k, p_brand, p_type, p_size,
             row_number() OVER (ORDER BY substr(p_name, 1, 12), p_partkey) AS rn
      FROM part
    ),
    pr AS (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
             a.p_brand = b.p_brand AS agr_brand,
             a.p_type = b.p_type AS agr_type,
             a.p_size = b.p_size AS agr_size
      FROM s a JOIN s b ON b.rn BETWEEN a.rn + 1 AND a.rn + 2
    )
    SELECT id_a, id_b, agr_brand, agr_type, agr_size,
           CAST({score} AS BIGINT) AS fs_score_micro,
           ({score}) >= 0 AS is_match
    FROM pr
    """


@q("dedup_fellegi_sunter", _fs_oracle())
def dedup_fellegi_sunter(spark: SparkSession, sf: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage over
    sorted-neighborhood candidates: block parts by a 12-char name
    prefix (window 3 — the Hernández-Stolfo scheme already oracled in
    dedup_snm_pairs), then score each pair by summing per-field
    log-likelihood weights (agree → ln(m/u), disagree →
    ln((1−m)/(1−u))) over brand/type/size. Weights are PRECOMPUTED
    micro-nat integers (the damping_complement literal pattern), so
    scoring is integer addition — bit-identical and replayed by the
    oracle with the same literals. The verify/score stage of entity
    resolution: map-only over the blocked stream, never the cross
    product. See operators/dedup.fellegi_sunter_scores."""
    from denormalized_spark.operators import dedup

    p = t(spark, sf, "part")
    pairs = dedup.snm_candidate_pairs(
        p, F.substring("p_name", 1, 12), id_col="p_partkey", window=3
    ).select("id_a", "id_b")
    attrs = lambda side: p.select(
        F.col("p_partkey").alias(f"id_{side}"),
        F.col("p_brand").alias(f"_b_{side}"),
        F.col("p_type").alias(f"_t_{side}"),
        F.col("p_size").alias(f"_s_{side}"),
    )
    j = pairs.join(attrs("a"), "id_a").join(attrs("b"), "id_b")
    comps = [
        ("brand", F.col("_b_a") == F.col("_b_b"), 0.9, 0.04),
        ("type", F.col("_t_a") == F.col("_t_b"), 0.85, 0.007),
        ("size", F.col("_s_a") == F.col("_s_b"), 0.8, 0.02),
    ]
    return dedup.fellegi_sunter_scores(j, comps).select(
        "id_a", "id_b", "agr_brand", "agr_type", "agr_size",
        "fs_score_micro", "is_match",
    )


# ---------------------------------------------------------------------------
# t-digest quantile sketch (Dunning & Ertl 2019)
# ---------------------------------------------------------------------------

_TD_DELTA = 32


def _td_scale_sql(q_expr: str) -> str:
    from denormalized_spark.operators.sketches import tdigest_scale_sql

    return tdigest_scale_sql(q_expr, _TD_DELTA)


_TD_CENT_CTE = f"""
WITH r AS (
  SELECT l_extendedprice::DOUBLE AS v,
         row_number() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS r,
         count(*) OVER () AS n
  FROM lineitem
),
k AS (
  SELECT v,
         CAST(least(greatest(floor({_td_scale_sql('(2*r - 1)::DOUBLE / (2*n)::DOUBLE')}), 0),
                    {_TD_DELTA - 1}) AS BIGINT) AS cluster
  FROM r
),
sk AS (
  SELECT cluster, count(*)::BIGINT AS w,
         floor(avg(v) * 10000 + 0.5) / 10000 AS mean_e4,
         min(v) AS vmin, max(v) AS vmax
  FROM k GROUP BY cluster
)
"""


@q(
    "sketch_tdigest_centroids",
    _TD_CENT_CTE + "SELECT cluster, w, mean_e4, vmin, vmax FROM sk",
)
def sketch_tdigest_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """t-digest over line-item extended price: ≤32 centroid rows with
    rank-space-adaptive sizes — small clusters at the tails (relative
    accuracy at p1/p99, where the equi-width histogram sketch is
    weakest), large in the middle. Mergeable (tdigest_merge) and
    bound-free: unlike hist_sketch it needs no [lo, hi) up front. The
    scale function is the sqrt-based member of Dunning's k₁ family —
    chosen because IEEE sqrt is CORRECTLY ROUNDED (asin is not), so
    the pinned double chain assigns every rank to the same cluster in
    both engines, bit-exactly. Build: one distributed ORDER BY
    (range partition + broadcast prefix sums, no single-reducer
    stage) + one partial-agg groupBy onto metadata.
    See operators/sketches.tdigest_centroids."""
    from denormalized_spark.operators import sketches

    li = t(spark, sf, "lineitem")
    return sketches.tdigest_centroids(
        li, "l_extendedprice", order_extra=["l_orderkey", "l_linenumber"],
        delta=_TD_DELTA,
    )


def _td_q_sql(q: float) -> str:
    name = f"q{str(q).replace('.', '_')}"
    t_ = f"({q} * tw::DOUBLE)"
    est = f'mean_e4 + ({t_} - mid) / (nmid - mid) * (nmean - mean_e4)'
    return f"""(
      SELECT floor(({est}) * 10000 + 0.5) / 10000 AS {name}
      FROM m WHERE mid <= {t_} AND nmid IS NOT NULL AND {t_} < nmid
      UNION ALL
      SELECT mean_e4 FROM m
      WHERE cluster = (SELECT min(cluster) FROM m) AND {t_} < mid
      UNION ALL
      SELECT mean_e4 FROM m WHERE nmid IS NULL AND {t_} >= mid
    )"""


@q(
    "sketch_tdigest_quantiles",
    _TD_CENT_CTE
    + f""",
    c AS (SELECT cluster, w, mean_e4,
                 sum(w) OVER (ORDER BY cluster) AS cum,
                 sum(w) OVER () AS tw FROM sk),
    m AS (SELECT cluster, mean_e4, tw,
                 (2*cum - w)::DOUBLE / 2.0 AS mid,
                 lead(mean_e4) OVER (ORDER BY cluster) AS nmean,
                 lead((2*cum - w)::DOUBLE / 2.0) OVER (ORDER BY cluster) AS nmid
          FROM c)
    SELECT * FROM {_td_q_sql(0.01)} a, {_td_q_sql(0.25)} b, {_td_q_sql(0.5)} c2,
                  {_td_q_sql(0.75)} d, {_td_q_sql(0.99)} e
    """,
    eager=True,
)
def sketch_tdigest_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """p1/p25/p50/p75/p99 of extended price from the t-digest: the
    standard midpoint interpolation over cumulative centroid weights,
    entirely on the ≤32-row centroid table (metadata — its
    unpartitioned window is a few-KB single task). The centroid table
    is localCheckpoint'd first: the quantile walk consumes it several
    times and the global-rank subplan must not re-execute per
    consumption (ranking.with_global_row_number's contract). Every
    arithmetic step is a pinned-order double chain the oracle replays
    textually; estimates land within one centroid span of exact —
    ~0.5% here, with RELATIVE tail accuracy by the scale function's
    construction. See operators/sketches.tdigest_quantiles."""
    from denormalized_spark.operators import sketches

    li = t(spark, sf, "lineitem")
    cent = sketches.tdigest_centroids(
        li, "l_extendedprice", order_extra=["l_orderkey", "l_linenumber"],
        delta=_TD_DELTA,
    ).localCheckpoint()
    return sketches.tdigest_quantiles(cent, [0.01, 0.25, 0.5, 0.75, 0.99])


@q(
    "text_vocab_richness",
    f"""
    WITH toks AS (
      SELECT unnest({_TOKS}) AS t FROM documents
    ),
    counts AS (SELECT t, count(*)::BIGINT AS r FROM toks GROUP BY t),
    fof AS (SELECT r, count(*)::BIGINT AS nr FROM counts GROUP BY r),
    agg AS (
      SELECT sum(nr)::BIGINT AS v_distinct,
             sum(r * nr)::BIGINT AS n_tokens,
             sum(CASE WHEN r = 1 THEN nr ELSE 0 END)::BIGINT AS n1,
             sum(CASE WHEN r = 2 THEN nr ELSE 0 END)::BIGINT AS n2,
             sum(CASE WHEN r = 3 THEN nr ELSE 0 END)::BIGINT AS n3
      FROM fof
    )
    SELECT v_distinct, n_tokens, n1, n2, n3,
           CAST(floor((v_distinct::DOUBLE
                + (n1 * (n1 - 1))::DOUBLE / (2 * (n2 + 1))::DOUBLE)
                * 1000 + 0.5) AS BIGINT) AS chao1_milli,
           CAST(floor(n1::DOUBLE / n_tokens::DOUBLE * 1000000 + 0.5)
                AS BIGINT) AS p0_unseen_micro,
           CAST(floor(CASE WHEN n1 > 0
                  THEN (2 * n2)::DOUBLE / n1::DOUBLE ELSE 0.0 END
                * 1000 + 0.5) AS BIGINT) AS r1_star_milli,
           CAST(floor(CASE WHEN n2 > 0
                  THEN (3 * n3)::DOUBLE / n2::DOUBLE ELSE 0.0 END
                * 1000 + 0.5) AS BIGINT) AS r2_star_milli
    FROM agg
    """,
)
def text_vocab_richness(spark: SparkSession, sf: str) -> DataFrame:
    """Chao1 vocabulary-richness lower bound + simple Good-Turing
    unseen mass and small-r smoothed counts over the corpus
    (operators/text.vocab_richness) — the crawl-coverage panel: "how
    much vocabulary haven't we seen, and what's the chance the next
    token is novel?" One corpus-linear token-keyed count, then a
    frequencies-of-frequencies groupBy — the same shuffle budget as
    the TF-IDF document-frequency table; all statistics are single
    integer-ratio divisions the oracle replays exactly."""
    from denormalized_spark.operators.text import vocab_richness

    d = t(spark, sf, "documents")
    return vocab_richness(d, "text")


def _ndcg_oracle(k: int = 10, qid: int = 0, nprobe: int = 3) -> str:
    """NDCG@k / MRR of IVF vs exact, reusing the IVF oracle chain;
    discounts are the same Python-generated micro literals the Spark
    plan embeds."""
    from denormalized_spark.operators.similarity import ndcg_weight_table

    ivf = _ivf_oracle(nprobe=nprobe, k=k, qid=qid).strip()
    wrows = ", ".join(f"({r}, {w})" for r, w in ndcg_weight_table(k))
    brute = f"""
      SELECT e.vec_id,
             row_number() OVER (
               ORDER BY round(({_dot_sql('e.embedding', 'q.qvec')})
                        / ({_norm_sql('e.embedding')} * {_norm_sql('q.qvec')}), 6)
                        DESC, e.vec_id) AS rank
      FROM embeddings e CROSS JOIN (SELECT embedding AS qvec FROM embeddings
                                    WHERE vec_id = {qid}) q
      WHERE e.vec_id != {qid}
      QUALIFY rank <= {k}
    """
    return f"""
    WITH ivf AS ({ivf}),
    ar AS (SELECT vec_id,
                  row_number() OVER (ORDER BY cosine_sim DESC, vec_id) AS rank
           FROM ivf),
    brute AS ({brute}),
    wt(r, w) AS (VALUES {wrows}),
    rel AS (SELECT a.rank, wt.w,
                   coalesce({k} + 1 - b.rank, 0)::BIGINT AS rel
            FROM ar a LEFT JOIN brute b USING (vec_id)
            JOIN wt ON wt.r = a.rank),
    d AS (SELECT sum(rel * w)::BIGINT AS dcg,
                 sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)::BIGINT AS n_hits,
                 min(CASE WHEN rel > 0 THEN rank END) AS first_hit
          FROM rel),
    i AS (SELECT sum(({k} + 1 - b.rank)::BIGINT * wt.w)::BIGINT AS idcg
          FROM brute b JOIN wt ON wt.r = b.rank)
    SELECT {k}::BIGINT AS k, n_hits, dcg, idcg,
           CASE WHEN idcg > 0
                THEN CAST(floor(dcg::DOUBLE / idcg::DOUBLE * 1000000 + 0.5)
                          AS BIGINT)
                ELSE 0 END AS ndcg_micro,
           CASE WHEN first_hit IS NOT NULL
                THEN CAST(floor(1000000.0 / first_hit::DOUBLE + 0.5) AS BIGINT)
                ELSE 0 END AS mrr_micro
    FROM d CROSS JOIN i
    """


@q("sim_ndcg_ivf", _ndcg_oracle())
def sim_ndcg_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """NDCG@10 + MRR of the IVF index against exact brute force
    (operators/similarity.ndcg_eval): the head-order metric beside
    sim_ivf_recall's set metric — an index can hold 9/10 recall while
    scrambling the top of the list, and the log-discount bills that.
    Graded relevance = exact-rank order; discounts are precomputed
    micro-integer literals shared with the oracle, so both DCG sums
    are exact integers. All eval joins run on two 10-row lists."""
    from denormalized_spark.operators.similarity import ndcg_eval
    from pyspark.sql import Window

    e = t(spark, sf, "embeddings")
    k = 10
    ivf = similarity.ivf_topk(
        e, query_vec_id=0, k=k, nprobe=3, dim=64, round_digits=6
    )
    # ranked k-row lists: the unpartitioned window is metadata by
    # construction (k rows)
    ar = ivf.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("cosine_sim"), F.asc("vec_id"))),
    )
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    brute = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(similarity.cosine(F.col("embedding"), F.col("qvec")), 6).alias("s"),
        )
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("s"), F.asc("vec_id"))),
        )
    )
    return ndcg_eval(ar, brute, "vec_id", k)


@q(
    "sketch_cm_join_size",
    f"""
    WITH kc_a AS (SELECT user_id::VARCHAR AS _k, count(*)::BIGINT AS _c
                  FROM events GROUP BY 1),
    kc_b AS (SELECT o_custkey::VARCHAR AS _k, count(*)::BIGINT AS _c
             FROM orders GROUP BY 1),
    ca AS (
      SELECT cm_row, {md5_int_sql("'cm' || cm_row::VARCHAR || ':' || _k", 8)} % 512 AS cm_col,
             sum(_c)::BIGINT AS cnt
      FROM kc_a CROSS JOIN range(4) r(cm_row) GROUP BY 1, 2
    ),
    cb AS (
      SELECT cm_row, {md5_int_sql("'cm' || cm_row::VARCHAR || ':' || _k", 8)} % 512 AS cm_col,
             sum(_c)::BIGINT AS cnt
      FROM kc_b CROSS JOIN range(4) r(cm_row) GROUP BY 1, 2
    ),
    ip AS (SELECT ca.cm_row, sum(ca.cnt * cb.cnt)::BIGINT AS p
           FROM ca JOIN cb USING (cm_row, cm_col) GROUP BY 1),
    est AS (SELECT min(p)::BIGINT AS join_size_est,
                   count(*)::BIGINT AS rows_used FROM ip),
    ex AS (SELECT sum(a._c * b._c)::BIGINT AS exact_join_size
           FROM kc_a a JOIN kc_b b USING (_k))
    SELECT join_size_est, rows_used, exact_join_size,
           CAST(floor(join_size_est::DOUBLE / exact_join_size::DOUBLE
                * 1000 + 0.5) AS BIGINT) AS over_ratio_milli
    FROM est CROSS JOIN ex
    """,
)
def sketch_cm_join_size(spark: SparkSession, sf: str) -> DataFrame:
    """Join-cardinality estimation from Count-Min inner products
    (operators/sketches.cm_join_size, AGM/Cormode-Garofalakis): the
    |events ⋈ orders on user| size a cost-based planner would consult
    WITHOUT scanning either side — two ≤ depth·width sketch tables,
    one (row, col) equi-join, a depth-row min. Never undercounts; the
    entry also computes the exact Σ f_A·f_B so the overestimate ratio
    itself is driver-verified (the sim_ivf_recall posture). All
    integers."""
    from denormalized_spark.operators import sketches

    e = t(spark, sf, "events").select(F.col("user_id").cast("string").alias("k"))
    o = t(spark, sf, "orders").select(F.col("o_custkey").cast("string").alias("k"))
    sa = sketches.count_min(e, "k", depth=4, width=512)
    sb = sketches.count_min(o, "k", depth=4, width=512)
    est = sketches.cm_join_size(sa, sb, depth=4)
    fa = e.groupBy("k").agg(F.count("*").alias("_ca"))
    fb = o.groupBy("k").agg(F.count("*").alias("_cb"))
    ex = fa.join(fb, "k").agg(
        F.sum(F.col("_ca") * F.col("_cb")).cast("long").alias("exact_join_size")
    )
    return est.crossJoin(F.broadcast(ex)).select(
        "join_size_est",
        "rows_used",
        "exact_join_size",
        F.floor(
            F.col("join_size_est").cast("double")
            / F.col("exact_join_size").cast("double") * 1000 + F.lit(0.5)
        ).cast("long").alias("over_ratio_milli"),
    )


def _gains_oracle() -> str:
    """Gains table of the en-trigram-density score vs the en label —
    same normalization/profile literals as _ngram_lang_sql, micro-
    floored score, SQL-standard ntile."""
    norm = (
        "(' ' || regexp_replace(regexp_replace(lower(text), '[^a-z ]', ' ', 'g'),"
        " ' +', ' ', 'g') || ' ')"
    )
    terms = " + ".join(
        f"((length(n) - length(replace(n, '{g}', ''))) / {len(g)})"
        for g in text.LANG_TRIGRAM_PROFILES["en"]
    )
    return f"""
    WITH nrm AS (SELECT doc_id, lang, {norm} AS n FROM documents),
    sc AS (SELECT doc_id,
                  CAST(floor((({terms}) / greatest(length(n) - 2, 1))
                       * 1000000 + 0.5) AS BIGINT) AS s,
                  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           FROM nrm),
    rk AS (SELECT s, y, ntile(10) OVER (ORDER BY s DESC, doc_id) AS bin
           FROM sc),
    per AS (SELECT bin::BIGINT AS bin, count(*)::BIGINT AS n,
                   sum(y)::BIGINT AS pos
            FROM rk GROUP BY 1),
    tot AS (SELECT sum(n)::BIGINT AS tn, sum(pos)::BIGINT AS tp FROM per),
    cum AS (SELECT bin, n, pos,
                   sum(pos) OVER (ORDER BY bin)::BIGINT AS cpos
            FROM per)
    SELECT bin, n, pos,
           CAST(floor((pos * 1000)::DOUBLE / n::DOUBLE + 0.5) AS BIGINT)
             AS pos_rate_milli,
           CASE WHEN tp > 0
                THEN CAST(floor((pos * tn * 1000)::DOUBLE / (n * tp)::DOUBLE + 0.5)
                          AS BIGINT) ELSE 0 END AS lift_milli,
           CASE WHEN tp > 0
                THEN CAST(floor((cpos * 1000)::DOUBLE / tp::DOUBLE + 0.5) AS BIGINT)
                ELSE 0 END AS cum_gain_milli
    FROM cum CROSS JOIN tot ORDER BY bin
    """


@q("text_classifier_gains", _gains_oracle())
def text_classifier_gains(spark: SparkSession, sf: str) -> DataFrame:
    """Decile gains/lift table (operators/analytics.score_gains) of
    the en-trigram-density score against the en label — the scorecard
    diagnostic ("which decile captures the positives") beside the
    confusion matrix. Score is micro-floored to an INTEGER before
    ranking so ntile boundaries can never flip between engines. (Same
    corpus caveat as text_langid_ngram_confusion: the synthetic docs
    are English-like for every label, so the verified property is the
    deterministic ranking/binning contract — lift hovers near 1000
    milli by construction.) Ranking is the scale-safe global ntile;
    the rollup is 10-row metadata."""
    from denormalized_spark.operators.analytics import score_gains
    from denormalized_spark.operators.text import LANG_TRIGRAM_PROFILES

    d = t(spark, sf, "documents")
    norm = F.concat(
        F.lit(" "),
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z ]", " "), r" +", " "
        ),
        F.lit(" "),
    )
    withn = d.withColumn("_lnorm", norm)
    n = F.col("_lnorm")
    hits = None
    for g in LANG_TRIGRAM_PROFILES["en"]:
        cnt = (F.length(n) - F.length(F.replace(n, F.lit(g), F.lit("")))) / len(g)
        hits = cnt if hits is None else hits + cnt
    dens = hits / F.greatest(F.length(n) - 2, F.lit(1))
    scored = withn.select(
        "doc_id",
        F.floor(dens * 1_000_000 + F.lit(0.5)).cast("long").alias("s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    return score_gains(scored, "s", "y", "doc_id", n_bins=10).orderBy("bin")


@q(
    "text_tokenizer_fertility",
    f"""
    SELECT lang,
           count(*)::BIGINT AS n_docs,
           sum(length(text))::BIGINT AS n_chars,
           sum(len({_TOKS}))::BIGINT AS n_words,
           sum(len(regexp_extract_all(text, '[A-Za-z0-9]+'))
               + length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')))::BIGINT
             AS n_subwords,
           CASE WHEN sum(len({_TOKS})) > 0
                THEN CAST(floor((sum(len(regexp_extract_all(text, '[A-Za-z0-9]+'))
                          + length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')))
                          * 1000)::DOUBLE
                         / sum(len({_TOKS}))::DOUBLE + 0.5) AS BIGINT)
                ELSE 0 END AS fertility_milli,
           CASE WHEN sum(len(regexp_extract_all(text, '[A-Za-z0-9]+'))
                     + length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))) > 0
                THEN CAST(floor((sum(length(text)) * 1000)::DOUBLE
                         / sum(len(regexp_extract_all(text, '[A-Za-z0-9]+'))
                           + length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')))::DOUBLE
                         + 0.5) AS BIGINT)
                ELSE 0 END AS chars_per_subword_milli
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer fertility per language
    (operators/text.tokenizer_fertility): subwords per word and chars
    per subword — the multilingual-tokenizer tax table (a language at
    3× fertility pays 3× sequence length for the same sentence). The
    subword segmenter is RE2-safe (alnum runs + punctuation chars) so
    the oracle replays it exactly; all counts are integers, ratios
    milli-floored. One language-keyed partial agg at scan speed."""
    from denormalized_spark.operators.text import tokenizer_fertility

    d = t(spark, sf, "documents")
    return tokenizer_fertility(d).orderBy("lang")


@q(
    "sketch_tdigest_grouped",
    f"""
    WITH r AS (
      SELECT o_orderpriority, o_totalprice::DOUBLE AS v,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS r,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    ),
    k AS (
      SELECT o_orderpriority, v,
             CAST(least(greatest(floor({{scale}}), 0), {_TD_DELTA - 1})
                  AS BIGINT) AS cluster
      FROM r
    )
    SELECT o_orderpriority, cluster, count(*)::BIGINT AS w,
           floor(avg(v) * 10000 + 0.5) / 10000 AS mean_e4,
           min(v) AS vmin, max(v) AS vmax
    FROM k GROUP BY 1, 2
    """.replace(
        "{scale}", _td_scale_sql("(2*r - 1)::DOUBLE / (2*n)::DOUBLE")
    ),
)
def sketch_tdigest_grouped(spark: SparkSession, sf: str) -> DataFrame:
    """Per-priority t-digest of order totals
    (operators/sketches.tdigest_centroids_grouped): the grouped twin
    of the corpus digest — per-domain tail-accurate quantiles with
    every stage shuffled on the GROUP key (group-partitioned rank
    window, (group, cluster) partial agg; no global sort anywhere),
    the plan shape that serves millions of groups at 100 TB. Same
    correctly-rounded sqrt scale chain, so cluster assignment is
    engine-exact."""
    from denormalized_spark.operators import sketches

    o = t(spark, sf, "orders")
    return sketches.tdigest_centroids_grouped(
        o, "o_orderpriority", "o_totalprice", order_extra=["o_orderkey"],
        delta=_TD_DELTA,
    )


@q(
    "dedup_threshold_curve",
    _LSH_GATE_CTES
    + """
    , jp AS (
      SELECT round(jaccard, 6) AS j FROM ("""
    + _CAND_JACCARD_SQL
    + """
      ) t
    ),
    b AS (SELECT CAST(least(floor(j * 10), 9) AS BIGINT) AS bucket,
                 count(*)::BIGINT AS n_pairs
          FROM jp GROUP BY 1)
    SELECT bucket, n_pairs,
           sum(n_pairs) OVER (ORDER BY bucket DESC)::BIGINT AS cum_pairs_ge
    FROM b ORDER BY bucket
    """,
)
def dedup_threshold_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup threshold-tuning curve: exact Jaccard over the LSH
    candidate survivors bucketed into similarity deciles, with the
    cumulative pair count at-or-above each bucket — the knee of this
    curve IS how a production near-dup threshold gets chosen (too low
    merges distinct docs, too high leaves templated near-dups; the
    curve shows where pair mass falls off). Same gated verify plan as
    dedup_jaccard_lsh_verified but UNthresholded, so the whole
    distribution is visible; the rollup is a ≤10-row metadata table
    and its suffix-sum window a few-KB task."""
    from pyspark.sql import Window

    d = t(spark, sf, "documents")
    pairs = _lsh_jaccard_pairs(d, min_jaccard=0.0)
    b = (
        pairs.select(
            F.least(F.floor(F.round("jaccard", 6) * 10), F.lit(9))
            .cast("long").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )
    w = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return b.select(
        "bucket",
        "n_pairs",
        F.sum("n_pairs").over(w).cast("long").alias("cum_pairs_ge"),
    ).orderBy("bucket")


@q(
    "text_heaps_curve",
    f"""
    WITH r AS (
      SELECT doc_id, text,
             row_number() OVER (ORDER BY doc_id) AS rn,
             count(*) OVER () AS nd
      FROM documents
    ),
    b AS (
      SELECT CASE WHEN rn <= (nd % 10) * (nd // 10 + 1)
                  THEN CAST(floor((rn - 1) / (nd // 10 + 1)) AS BIGINT) + 1
                  ELSE CASE WHEN nd // 10 > 0
                       THEN (nd % 10) + CAST(floor((rn - (nd % 10) * (nd // 10 + 1) - 1)
                            / (nd // 10)) AS BIGINT) + 1
                       ELSE nd % 10 END
             END AS bin, text
      FROM r
    ),
    toks AS (SELECT bin, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                 for i in range(1, len(ws) - 1)]) AS t
             FROM (SELECT bin, {_TOKS} AS ws FROM b) w),
    first AS (SELECT t, min(bin)::BIGINT AS fb FROM toks GROUP BY t),
    per0 AS (SELECT fb, count(*)::BIGINT AS new_tokens FROM first GROUP BY fb),
    per AS (SELECT r2.fb, coalesce(per0.new_tokens, 0)::BIGINT AS new_tokens
            FROM (SELECT unnest(range(1, 11))::BIGINT AS fb) r2
            LEFT JOIN per0 USING (fb)),
    cum AS (SELECT fb AS bin, new_tokens,
                   sum(new_tokens) OVER (ORDER BY fb)::BIGINT AS vocab_cum
            FROM per)
    SELECT bin, new_tokens, vocab_cum,
           CASE WHEN lag(vocab_cum) OVER (ORDER BY bin) > 0
                THEN CAST(floor((vocab_cum * 1000)::DOUBLE
                     / lag(vocab_cum) OVER (ORDER BY bin)::DOUBLE + 0.5)
                     AS BIGINT)
                ELSE 0 END AS growth_ratio_milli
    FROM cum ORDER BY bin
    """,
)
def text_heaps_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve over corpus tenths
    (operators/text.heaps_curve): cumulative vocabulary after each
    successive tenth of the corpus, with the per-step growth ratio —
    the crawl-saturation curve beside text_vocab_richness's Chao1
    point estimate. One token-keyed min-bin agg (a token enters the
    vocabulary at its MINIMUM bin, so the curve is one cumulative sum
    — never k overlapping distincts); logarithm-free integer ratios.
    Tracks the word-TRIGRAM vocabulary: the synthetic corpus's
    unigram vocabulary saturates inside the first tenth (a 1-row
    curve that says nothing), while the trigram space keeps growing
    across all ten bins — the same reason production Heaps fits use
    n-gram or subword vocabularies."""
    from denormalized_spark.operators.text import heaps_curve

    d = t(spark, sf, "documents")
    return heaps_curve(d, ngram=3).orderBy("bin")


# ---- classifier calibration (reliability bins / ECE / histogram apply) ----

_CALIB_MULT = 12000  # density → milli-probability spread (measured: occupies
                     # all 10 fixed-width bins at sf0.01)


def _calib_score_cte() -> str:
    """Shared oracle CTE: the en-trigram-density score of the gains
    table mapped to an integer milli-probability (×12000, clamped to
    [0, 1000]) plus the en label."""
    norm = (
        "(' ' || regexp_replace(regexp_replace(lower(text), '[^a-z ]', ' ', 'g'),"
        " ' +', ' ', 'g') || ' ')"
    )
    terms = " + ".join(
        f"((length(n) - length(replace(n, '{g}', ''))) / {len(g)})"
        for g in text.LANG_TRIGRAM_PROFILES["en"]
    )
    return f"""
    WITH nrm AS (SELECT doc_id, lang, {norm} AS n FROM documents),
    sc AS (SELECT doc_id,
                  least(1000, CAST(floor((({terms}) / greatest(length(n) - 2, 1))
                       * {_CALIB_MULT} + 0.5) AS BIGINT)) AS s,
                  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           FROM nrm),
    b AS (SELECT least(CAST(floor((s * 10)::DOUBLE / 1000.0) AS BIGINT), 9) AS bin,
                 s, y
          FROM sc)
    """


def _calib_scored(spark: SparkSession, sf: str) -> DataFrame:
    """Spark twin of _calib_score_cte: (doc_id, s, y)."""
    from denormalized_spark.operators.text import LANG_TRIGRAM_PROFILES

    d = t(spark, sf, "documents")
    norm = F.concat(
        F.lit(" "),
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z ]", " "), r" +", " "
        ),
        F.lit(" "),
    )
    withn = d.withColumn("_lnorm", norm)
    n = F.col("_lnorm")
    hits = None
    for g in LANG_TRIGRAM_PROFILES["en"]:
        cnt = (F.length(n) - F.length(F.replace(n, F.lit(g), F.lit("")))) / len(g)
        hits = cnt if hits is None else hits + cnt
    dens = hits / F.greatest(F.length(n) - 2, F.lit(1))
    return withn.select(
        "doc_id",
        F.least(
            F.lit(1000).cast("long"),
            F.floor(dens * _CALIB_MULT + F.lit(0.5)).cast("long"),
        ).alias("s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )


@q(
    "text_calibration_reliability",
    _calib_score_cte()
    + """
    , per AS (SELECT bin, count(*)::BIGINT AS n, sum(y)::BIGINT AS pos,
                     sum(s)::BIGINT AS ssum
              FROM b GROUP BY 1)
    SELECT bin, n, pos,
           CAST(floor(ssum::DOUBLE / n::DOUBLE + 0.5) AS BIGINT) AS conf_milli,
           CAST(floor((pos * 1000)::DOUBLE / n::DOUBLE + 0.5) AS BIGINT)
             AS acc_milli,
           CAST(floor((abs(pos * 1000 - ssum) * 1000)::DOUBLE / n::DOUBLE + 0.5)
                AS BIGINT) AS gap_micro
    FROM per ORDER BY bin
    """,
)
def text_calibration_reliability(spark: SparkSession, sf: str) -> DataFrame:
    """Reliability diagram / histogram-binning calibration table
    (operators/analytics.calibration_bins; Zadrozny & Elkan 2001,
    Niculescu-Mizil & Caruana 2005) of the en-trigram-density
    pseudo-probability against the en label: per fixed-width bin, how
    often the label actually occurred (accuracy) vs the mean claimed
    probability (confidence) — the table every quality-classifier
    gate should be checked against before its scores are trusted as
    probabilities. The score is milli-floored to an INTEGER before
    binning (fixed-width binning on floats would flip boundary docs
    between engines); per-bin gaps share the integer numerator
    |1000·pos − Σs| through one floored division each. (Same
    synthetic-corpus caveat as text_classifier_gains: the verified
    property is the deterministic binning/arithmetic contract.)
    Scale shape: one bin-keyed partial/final agg → ≤10-row metadata."""
    from denormalized_spark.operators.analytics import calibration_bins

    return calibration_bins(_calib_scored(spark, sf), "s", "y").orderBy("bin")


@q(
    "text_calibration_summary",
    _calib_score_cte()
    + """
    , per AS (SELECT bin, count(*)::BIGINT AS n, sum(y)::BIGINT AS pos,
                     sum(s)::BIGINT AS ssum,
                     sum((s - 1000 * y) * (s - 1000 * y))::BIGINT AS sqsum
              FROM b GROUP BY 1),
    g AS (SELECT n, pos, ssum, sqsum,
                 abs(pos * 1000 - ssum)::BIGINT AS num,
                 CAST(floor((abs(pos * 1000 - ssum) * 1000)::DOUBLE / n::DOUBLE
                      + 0.5) AS BIGINT) AS gap
          FROM per),
    tot AS (SELECT sum(n)::BIGINT AS n, sum(pos)::BIGINT AS pos,
                   sum(num)::BIGINT AS tnum, sum(sqsum)::BIGINT AS tsq,
                   max(gap)::BIGINT AS mce_micro
            FROM g)
    SELECT n, pos,
           CAST(floor((pos * 1000)::DOUBLE / n::DOUBLE + 0.5) AS BIGINT)
             AS base_rate_milli,
           CAST(floor((tnum * 1000)::DOUBLE / n::DOUBLE + 0.5) AS BIGINT)
             AS ece_micro,
           mce_micro,
           CAST(floor(tsq::DOUBLE / n::DOUBLE + 0.5) AS BIGINT) AS brier_micro
    FROM tot
    """,
)
def text_calibration_summary(spark: SparkSession, sf: str) -> DataFrame:
    """One-row calibration scorecard
    (operators/analytics.calibration_summary): ECE (Naeini et al.
    2015 — telescopes to Σ|1000·pos_b − Σs_b|/(1000·N), an integer
    numerator through ONE division), MCE (worst bin's single-division
    gap) and the Brier score (integer numerator Σ(s−1000y)²) of the
    en-trigram pseudo-probability vs the en label. No transcendental
    on either engine. Scale shape: bin-keyed partial/final agg to
    ≤10 rows, then a 1-row metadata final."""
    from denormalized_spark.operators.analytics import calibration_summary

    return calibration_summary(_calib_scored(spark, sf), "s", "y")


@q(
    "text_calibration_apply",
    _calib_score_cte()
    + """
    , per AS (SELECT bin, count(*)::BIGINT AS n, sum(y)::BIGINT AS pos
              FROM b GROUP BY 1),
    mp AS (SELECT bin,
                  CAST(floor((pos * 1000)::DOUBLE / n::DOUBLE + 0.5) AS BIGINT)
                    AS calibrated_milli
           FROM per),
    wb AS (SELECT sc.doc_id, sc.s, sc.y,
                  least(CAST(floor((sc.s * 10)::DOUBLE / 1000.0) AS BIGINT), 9)
                    AS bin
           FROM sc)
    SELECT wb.doc_id, wb.s AS score_milli, wb.bin, mp.calibrated_milli
    FROM wb LEFT JOIN mp USING (bin)
    """,
)
def text_calibration_apply(spark: SparkSession, sf: str) -> DataFrame:
    """Histogram-binning calibration APPLIED per document
    (operators/analytics.calibration_apply): fit the 10-bin map on
    the (score, label) pairs and rewrite every doc's raw
    milli-probability to its bin's empirical accuracy — the
    calibrated probability a downstream quality gate should threshold
    on (the cheap no-exp/no-log alternative to Platt scaling). Scale
    shape: the map is a ≤10-row broadcast; the apply is a map-side
    broadcast-hash join — the corpus side never shuffles."""
    from denormalized_spark.operators.analytics import calibration_apply

    scored = _calib_scored(spark, sf)
    return calibration_apply(scored, "s", "y").select(
        "doc_id",
        F.col("s").alias("score_milli"),
        "bin",
        "calibrated_milli",
    )


@q(
    "text_zipf_buckets",
    f"""
    WITH tok AS (SELECT unnest({_TOKS}) AS tok FROM documents),
    c AS (SELECT tok, count(*)::BIGINT AS freq FROM tok GROUP BY tok),
    r AS (SELECT freq,
                 row_number() OVER (ORDER BY freq DESC, tok) AS rank
          FROM c),
    bk AS (SELECT freq, rank,
                  (length(bin(rank)) - 1)::BIGINT AS bucket
           FROM r),
    per AS (SELECT bucket, min(rank)::BIGINT AS rank_lo,
                   max(rank)::BIGINT AS rank_hi,
                   count(*)::BIGINT AS n_types, sum(freq)::BIGINT AS total_freq
            FROM bk GROUP BY 1),
    led AS (SELECT *, lead(total_freq) OVER (ORDER BY bucket) AS nxt FROM per)
    SELECT bucket, rank_lo, rank_hi, n_types, total_freq,
           CAST(floor((total_freq * 1000)::DOUBLE / n_types::DOUBLE + 0.5)
                AS BIGINT) AS mean_freq_milli,
           CASE WHEN nxt > 0
                THEN CAST(floor((total_freq * 1000)::DOUBLE / nxt::DOUBLE + 0.5)
                          AS BIGINT)
                ELSE -1 END AS ratio_to_next_milli
    FROM led ORDER BY bucket
    """,
)
def text_zipf_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf-law octave diagnostic (operators/text.zipf_buckets;
    Piantadosi 2014's log-binned rank/frequency check, logarithm-free):
    corpus token frequencies ranked with a pinned total order, ranks
    rolled into [2ᵇ, 2ᵇ⁺¹) buckets via the integer bit length
    (length(bin(rank))−1 — exact in both engines), and per-octave
    mass ratios milli-floored; ratio ≈ 2000 across octaves diagnoses
    the Zipf exponent ≈ 1 of natural text, flatter ratios flag
    boilerplate-heavy crawls. Scale shape: token-keyed count with
    map-side combine, the scale-safe global rank (range shuffle +
    broadcast prefix sums), then a ≤64-row metadata rollup. The last
    bucket's ratio is the −1 sentinel (no next octave)."""
    from denormalized_spark.operators.text import zipf_buckets

    d = t(spark, sf, "documents")
    out = zipf_buckets(d)
    return out.withColumn(
        "ratio_to_next_milli",
        F.coalesce(F.col("ratio_to_next_milli"), F.lit(-1).cast("long")),
    )


def _wordpiece_oracle(num_merges: int, max_vocab: int) -> str:
    """Unrolled-iteration oracle for wordpiece_train: the _bpe_oracle
    round structure (pair-count CTE + argmax + sentinel-replace vocab
    rewrite) extended with the WordPiece unit-count CTE per round and
    the e12-quantized likelihood score ordering — the identical IEEE
    double floor both engines compute.

    Every vocabulary CTE ``v{i}`` is ``MATERIALIZED``: round i reads it
    three times (unit counts, pair counts, the next rewrite), and
    DuckDB 1.0 inlines a plain CTE at each reference, so six rounds
    re-evaluated ``v1`` hundreds of times (not done after 2 minutes at
    sf0.001, against 0.2 s materialized)."""
    enc = (
        "list_aggregate(list_transform(syms, s -> chr(1)||s||chr(2)), "
        "'string_agg', '')"
    )
    parts = [
        f"""
    WITH w AS (
      SELECT word, count(*) AS wcount FROM (
        SELECT unnest({_TOKS}) AS word FROM documents) t
      WHERE NOT contains(word, chr(1)) AND NOT contains(word, chr(2))
      GROUP BY word
      ORDER BY wcount DESC, word ASC LIMIT {max_vocab}
    ),
    v1 AS MATERIALIZED (SELECT word, wcount,
                  [word[j] for j in range(1, length(word)+1)] AS syms
           FROM w)"""
    ]
    for i in range(1, num_merges + 1):
        parts.append(f""",
    u{i} AS (
      SELECT t.s AS sym, sum(wcount)::BIGINT AS c
      FROM v{i}, unnest(syms) AS t(s) GROUP BY t.s
    ),
    p{i} AS (
      SELECT t.u.a AS a, t.u.b AS b, sum(wcount)::BIGINT AS cnt
      FROM v{i}, unnest([{{'a': syms[j], 'b': syms[j+1]}}
                         for j in range(1, len(syms))]) AS t(u)
      GROUP BY t.u.a, t.u.b
    ),
    b{i} AS (
      SELECT a, b, cnt, ca.c AS count_a, cb.c AS count_b,
             CAST(floor(cnt::DOUBLE * 1000000000000.0
                  / (ca.c::DOUBLE * cb.c::DOUBLE)) AS BIGINT) AS score_e12
      FROM p{i} JOIN u{i} ca ON ca.sym = p{i}.a
                JOIN u{i} cb ON cb.sym = p{i}.b
      ORDER BY score_e12 DESC, a ASC, b ASC LIMIT 1)""")
        if i < num_merges:
            parts.append(f""",
    v{i + 1} AS MATERIALIZED (
      SELECT word, wcount,
        list_filter(list_transform(string_split(
            replace({enc},
                    chr(1)||b{i}.a||chr(2)||chr(1)||b{i}.b||chr(2),
                    chr(1)||b{i}.a||b{i}.b||chr(2)),
            chr(2)||chr(1)),
          x -> replace(replace(x, chr(1), ''), chr(2), '')), x -> x != '')
          AS syms
      FROM v{i}, b{i}
    )""")
    selects = " UNION ALL ".join(
        f"SELECT {i} AS rank, a AS sym_a, b AS sym_b, a||b AS merged, "
        f"cnt AS pair_count, count_a, count_b, score_e12 FROM b{i}"
        for i in range(1, num_merges + 1)
    )
    return "".join(parts) + f" SELECT * FROM ({selects}) ORDER BY rank"


@q("text_wordpiece_train", _wordpiece_oracle(num_merges=6, max_vocab=2000), eager=True)
def text_wordpiece_train(spark: SparkSession, sf: str) -> DataFrame:
    """WordPiece tokenizer induction (operators/text.wordpiece_train;
    Schuster & Nakajima 2012 — the BERT tokenizer's training rule)
    beside text_bpe_train: same vocabulary-bounded merge loop, but
    each round fuses the pair maximizing the unigram-LM likelihood
    ratio count(ab)/(count(a)·count(b)) rather than the raw count —
    so frequent-but-expected pairs lose to rarer, more "surprising"
    collocations. Selection ranks the e12-QUANTIZED score (one IEEE
    double floor both engines replay identically; ties (a, b)
    lexicographic), the micro-floor-before-ranking discipline. The
    oracle replays all 6 rounds as unrolled CTEs with the same unit-
    count and score arithmetic. Per round: vocab-bounded pair + unit
    aggs, a broadcast join, and a 1-row argmax collect."""
    from denormalized_spark.operators.text import wordpiece_train

    d = t(spark, sf, "documents")
    return wordpiece_train(d, num_merges=6, max_vocab=2000).orderBy("rank")


@q(
    "sim_mips_topk",
    f"""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round({_dot_sql('e.embedding', 'q.embedding')}, 6) AS inner_product
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id != 0
    ORDER BY inner_product DESC, e.vec_id
    LIMIT 10
    """,
)
def sim_mips_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Maximum-inner-product top-k (operators/similarity.mips_topk) —
    the recommendation-scoring objective where magnitude carries
    signal and cosine would erase it. Exact plan: 1-row query
    broadcast, map-side dot products (identical left-fold term order
    to the oracle, so the doubles match bit-for-bit), TakeOrdered.
    The sublinear path is operators/similarity.mips_augment
    (Neyshabur & Srebro 2015's MIPS→cosine unit-sphere reduction,
    order-equivalence proven in tests/test_similarity.py) feeding the
    existing hyperplane-LSH index unchanged. Both engines rank the
    e6-ROUNDED score (round_digits=6 here; the oracle's ORDER BY
    refers to the round(...,6) alias), so raw-score ties that round
    equal at the top-k boundary break on vec_id identically."""
    from denormalized_spark.operators.similarity import mips_topk

    e = t(spark, sf, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    return mips_topk(e.filter(F.col("vec_id") != 0), qv, k=10, round_digits=6)


def _viterbi_oracle(max_piece_len: int = 4, max_vocab: int = 200,
                    max_word_len: int = 32) -> str:
    """Recursive-CTE replay of the packed-integer Viterbi DP: each
    iteration appends position pos+1's min to the carried DP list —
    the identical v = cost·1024 + n_pieces recursion Spark folds."""
    from denormalized_spark.operators.text import UNIGRAM_DEMO_COSTS

    piece = "substr(word, j + 1, pos + 1 - j)"
    cases = " ".join(
        f"WHEN '{k}' THEN {c}" for k, c in sorted(UNIGRAM_DEMO_COSTS.items())
    )
    pc = (
        f"(CASE {piece} {cases} ELSE CASE WHEN length({piece}) = 1 "
        f"THEN 4000000 ELSE 1000000000000 END END)"
    )
    return f"""
    WITH RECURSIVE w AS (
      SELECT word, count(*)::BIGINT AS wcount FROM (
        SELECT unnest({_TOKS}) AS word FROM documents) t
      WHERE length(word) <= {max_word_len}
      GROUP BY word ORDER BY wcount DESC, word ASC LIMIT {max_vocab}
    ),
    dp AS (
      SELECT word, wcount, 0 AS pos, [0::BIGINT] AS v FROM w
      UNION ALL
      SELECT word, wcount, pos + 1,
             list_append(v, list_min([
                v[j + 1] + {pc} * 1024 + 1
                for j in range(greatest(0, pos + 1 - {max_piece_len}), pos + 1)]))
      FROM dp WHERE pos < length(word)
    )
    SELECT word, wcount,
           (v[length(word) + 1] % 1024)::BIGINT AS n_pieces,
           (v[length(word) + 1] // 1024)::BIGINT AS cost_micro
    FROM dp WHERE pos = length(word)
    """


@q("text_unigram_viterbi", _viterbi_oracle())
def text_unigram_viterbi(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram-LM Viterbi segmentation of the top-200 corpus words
    (operators/text.unigram_viterbi_stats; the decode side of Kudo
    2018's SentencePiece unigram model) under the pinned
    UNIGRAM_DEMO_COSTS micro-cost literals: min-cost piece sequence
    per word with single-character fallback, reporting pieces and
    total cost. The DP state is ONE packed integer
    v = cost·1024 + n_pieces (additive per piece, so min v is the
    lexicographic (cost, pieces) optimum) — Spark folds the DP array
    with aggregate(), the oracle replays it as a recursive CTE
    carrying the same list, and every operation is integer, so the
    trajectories are identical. Corpus work is one token reduction;
    the DP itself runs on ≤200 capped words — metadata."""
    from denormalized_spark.operators.text import unigram_viterbi_stats

    d = t(spark, sf, "documents")
    return unigram_viterbi_stats(d)


def _rake_oracle(top_k: int = 20) -> str:
    from denormalized_spark.operators.text import STOPWORDS

    norm = (
        "(' ' || regexp_replace(regexp_replace(lower(text), '[^a-z ]', ' ', 'g'),"
        " ' +', ' ', 'g') || ' ')"
    )
    stop = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
    WITH nrm AS (SELECT doc_id,
                        list_filter(string_split({norm}, ' '), x -> x != '')
                          AS toks
                 FROM documents),
    tk AS (SELECT doc_id, t.u.w AS w, t.u.i AS i
           FROM nrm, unnest([{{'w': toks[i], 'i': i}}
                             for i in range(1, len(toks) + 1)]) AS t(u)),
    ns AS (SELECT doc_id, w, i FROM tk WHERE w NOT IN ({stop})),
    isl AS (SELECT doc_id, w, i,
                   i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS g
            FROM ns),
    occw AS (SELECT doc_id, g, w, i,
                    count(*) OVER (PARTITION BY doc_id, g) AS n_words
             FROM isl),
    stats AS (SELECT w, sum(n_words)::BIGINT AS deg, count(*)::BIGINT AS freq
              FROM occw GROUP BY w),
    ws AS (SELECT w, CAST(floor((deg * 1000)::DOUBLE / freq::DOUBLE) AS BIGINT)
                    AS wsm
           FROM stats),
    po AS (SELECT o.doc_id, o.g, max(o.n_words)::BIGINT AS n_words,
                  sum(ws.wsm)::BIGINT AS score,
                  string_agg(o.w, ' ' ORDER BY o.i) AS phrase
           FROM occw o JOIN ws ON ws.w = o.w GROUP BY o.doc_id, o.g)
    SELECT phrase, n_words, count(*)::BIGINT AS n_occurrences,
           max(score)::BIGINT AS score_milli
    FROM po GROUP BY phrase, n_words
    ORDER BY score_milli DESC, phrase LIMIT {top_k}
    """


@q("text_rake_keywords", _rake_oracle())
def text_rake_keywords(spark: SparkSession, sf: str) -> DataFrame:
    """RAKE keyword extraction (operators/text.rake_keywords; Rose et
    al. 2010) over the corpus: stopword-boundary phrase candidates
    (the gaps-and-islands split), degree/frequency word scores
    milli-floored BEFORE the phrase sum so both engines replay the
    identical integer arithmetic, top-20 via TakeOrdered. The plan's
    only data-sized stages are the tokenize projection and the
    doc-keyed island window; word scoring is a vocabulary-sized
    broadcast join."""
    from denormalized_spark.operators.text import rake_keywords

    d = t(spark, sf, "documents")
    return rake_keywords(d)


def _mmr_oracle(k: int = 8) -> str:
    """Unrolled greedy MMR: round r's CTE cross-joins the r−1 1-row
    selections, penalizes by the greatest selected-cosine, and takes
    the deterministic argmax — the exact trajectory Spark's k
    metadata probes walk."""
    def cos(a: str, b: str) -> str:
        return (
            f"(({_dot_sql(a, b)}) / ({_norm_sql(a)} * {_norm_sql(b)}))"
        )

    parts = [f"""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    scored AS (SELECT e.vec_id, e.embedding,
                      {cos('e.embedding', 'q.embedding')} AS rel
               FROM embeddings e CROSS JOIN q WHERE e.vec_id != 0),
    s1 AS (SELECT vec_id, embedding, rel, 0.5 * rel AS sc
           FROM scored ORDER BY sc DESC, vec_id LIMIT 1)"""]
    for r in range(2, k + 1):
        prevs = ", ".join(f"s{j}" for j in range(1, r))
        notin = ", ".join(f"s{j}.vec_id" for j in range(1, r))
        coss = [cos("e.embedding", f"s{j}.embedding") for j in range(1, r)]
        pen = coss[0] if len(coss) == 1 else "greatest(" + ", ".join(coss) + ")"
        parts.append(f""",
    s{r} AS (SELECT e.vec_id, e.embedding, e.rel,
                    0.5 * e.rel - 0.5 * {pen} AS sc
             FROM scored e, {prevs}
             WHERE e.vec_id NOT IN ({notin})
             ORDER BY sc DESC, e.vec_id LIMIT 1)""")
    sel = " UNION ALL ".join(
        f"SELECT {r} AS round, vec_id, round(rel, 6) AS relevance_r6, "
        f"round(sc, 6) AS mmr_score_r6 FROM s{r}"
        for r in range(1, k + 1)
    )
    return "".join(parts) + f" SELECT * FROM ({sel}) ORDER BY round"


@q("sim_mmr_rerank", _mmr_oracle(), eager=True)
def sim_mmr_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-8 for query vector 0
    (operators/similarity.mmr_select; Carbonell & Goldstein 1998,
    λ=0.5): round 1 takes the most relevant vector, each later round
    the best relevance-minus-redundancy tradeoff against everything
    already picked — the rerank RAG retrievers run so near-duplicate
    passages don't crowd the context window. The greedy trajectory is
    engine-identical (shared-fold cosines, same λ literal, id
    tie-break); the oracle unrolls the 8 rounds as 1-row CTE
    selections. Plan: 8 scan+TakeOrdered(1) metadata probes (the
    kmeans/bpe loop posture); selected vectors re-enter as ≤8 literal
    arrays, never a join."""
    from denormalized_spark.operators.similarity import mmr_select

    e = t(spark, sf, "embeddings")
    return mmr_select(e.filter(F.col("vec_id") != 0), _query_vector(e), k=8)


def _recall_curve_oracle(ks=(1, 5, 10, 20)) -> str:
    """ONE k=max(ks) IVF chain + ONE exact top-max(ks) scan, both
    ranked, prefix-counted per curve point — the same nested-prefix
    property the Spark side uses: under the total order (rounded
    score DESC, vec_id ASC) every top-k list is a prefix of the
    top-max(ks) list, so |top_k(ivf) ∩ top_k(brute)| =
    #{v : rank_ivf(v) ≤ k AND rank_brute(v) ≤ k} over the two
    max(ks)-row lists. The previous form unrolled the whole
    fit+assign+probe chain once PER curve point — a 170 KB statement
    whose DuckDB execution intermittently exhausted the oracle
    child's memory cap (r14: 4× smaller SQL, ~10× lighter peak,
    value-identical — verified row-for-row against the unrolled
    form at all three SFs)."""
    kmax = max(ks)
    ivf = _ivf_oracle(nprobe=3, k=kmax, qid=0).strip()
    brute = f"""
      SELECT e.vec_id,
             round(({_dot_sql('e.embedding', 'q.qvec')})
                   / ({_norm_sql('e.embedding')} * {_norm_sql('q.qvec')}), 6) AS s
      FROM embeddings e CROSS JOIN (SELECT embedding AS qvec FROM embeddings
                                    WHERE vec_id = 0) q
      WHERE e.vec_id != 0
      ORDER BY s DESC, e.vec_id
      LIMIT {kmax}
    """
    ks_values = ", ".join(f"({k})" for k in ks)
    return f"""
    WITH ivf AS ({ivf}),
    ivfr AS (SELECT vec_id,
                    row_number() OVER (ORDER BY cosine_sim DESC, vec_id ASC) AS ri
             FROM ivf),
    brute AS ({brute}),
    bruter AS (SELECT vec_id,
                      row_number() OVER (ORDER BY s DESC, vec_id ASC) AS rb
               FROM brute),
    both_r AS (SELECT ri, rb FROM ivfr JOIN bruter USING (vec_id)),
    ks(k) AS (VALUES {ks_values})
    SELECT k,
           CAST((SELECT count(*) FROM both_r WHERE ri <= k AND rb <= k)
                AS BIGINT) AS n_overlap,
           round((SELECT count(*) FROM both_r WHERE ri <= k AND rb <= k)::DOUBLE
                 / k, 6) AS recall_at_k
    FROM ks ORDER BY k
    """


@q("sim_recall_curve", _recall_curve_oracle())
def sim_recall_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@k CURVE of the IVF index vs exact brute force for
    k ∈ {1, 5, 10, 20} — the tuning plot (not just the single
    recall@10 point of sim_ivf_recall) an ANN deployment reads before
    picking k/nprobe: small-k recall shows head quality, large-k the
    tail the reranker can recover. Under the deterministic total
    order (rounded score desc, vec_id asc) top-k lists are NESTED
    PREFIXES of top-20 for both the IVF and the exact scan, so the
    whole curve comes from ONE quantizer fit + ONE probed scan + ONE
    brute scan at k=max(ks): rank both 20-row lists, join on vec_id,
    and count pairs with both ranks ≤ k per curve point — ≤80
    metadata rows after the two scans (a per-point form would run the
    fit+assign+scan chain FOUR times, ~4× this wall). The oracle
    (unchanged) still replays all four chains; the nested-prefix
    property makes the values identical."""
    from pyspark.sql import Window

    ks = (1, 5, 10, 20)
    kmax = max(ks)
    e = t(spark, sf, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    ivf = similarity.ivf_topk(
        e, query_vec_id=0, k=kmax, nprobe=3, dim=64, round_digits=6
    )
    # rank within the kmax-row lists (metadata-sized windows)
    ivfr = ivf.select(
        "vec_id",
        F.row_number().over(
            Window.orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        ).alias("_ri"),
    )
    brute = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(
                similarity.cosine(F.col("embedding"), F.col("qvec")), 6
            ).alias("_s"),
        )
        .orderBy(F.desc("_s"), F.asc("vec_id"))
        .limit(kmax)
    )
    bruter = brute.select(
        "vec_id",
        F.row_number().over(
            Window.orderBy(F.desc("_s"), F.asc("vec_id"))
        ).alias("_rb"),
    )
    both = ivfr.join(bruter, "vec_id")
    ks_df = spark.range(0, len(ks)).select(
        F.element_at(
            F.array(*[F.lit(k) for k in ks]), (F.col("id") + 1).cast("int")
        ).cast("int").alias("k")
    )
    counts = (
        both.crossJoin(F.broadcast(ks_df.select(F.col("k").alias("_k"))))
        .filter((F.col("_ri") <= F.col("_k")) & (F.col("_rb") <= F.col("_k")))
        .groupBy(F.col("_k").alias("k"))
        .agg(F.count("*").cast("long").alias("n_overlap"))
    )
    return (
        ks_df.join(counts, "k", "left")
        .select(
            "k",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            F.round(
                F.coalesce("n_overlap", F.lit(0)) / F.col("k"), 6
            ).alias("recall_at_k"),
        )
        .orderBy("k")
    )


def _nprobe_curve_oracle(ps=(1, 2, 4, 8), k: int = 10, qid: int = 0) -> str:
    """nprobe sweep sharing ONE quantizer/assignment CTE chain; each
    sweep point is a candidate-subset top-k + brute intersect."""
    dim = 64
    cent_comps = ", ".join(
        f"round(avg(embedding[{j + 1}]::DOUBLE), 6) AS c{j}" for j in range(dim)
    )
    cent_list = "[" + ", ".join(f"c{j}" for j in range(dim)) + "]"
    cos_vc = (
        f"({_dot_sql('v.embedding', 'c.centroid')})"
        f" / ({_norm_sql('v.embedding')} * {_norm_sql('c.centroid')})"
    )
    cos_cq = (
        f"({_dot_sql('c.centroid', 'q.qvec')})"
        f" / ({_norm_sql('c.centroid')} * {_norm_sql('q.qvec')})"
    )
    cos_aq = (
        f"({_dot_sql('a.embedding', 'q.qvec')})"
        f" / ({_norm_sql('a.embedding')} * {_norm_sql('q.qvec')})"
    )
    points = " UNION ALL ".join(
        f"""
        SELECT {p} AS nprobe,
               CAST((SELECT count(*) FROM
                      (SELECT vec_id FROM scored_c
                       WHERE crank <= {p}
                       ORDER BY s DESC, vec_id LIMIT {k})
                     SEMI JOIN brute USING (vec_id)) AS BIGINT) AS n_overlap
        """
        for p in ps
    )
    return f"""
    WITH cent0 AS (SELECT label, {cent_comps} FROM embeddings GROUP BY label),
    cent AS (SELECT label AS cluster, {cent_list} AS centroid FROM cent0),
    q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {qid}),
    sc0 AS (
      SELECT v.vec_id, v.embedding, c.cluster, {cos_vc} AS s
      FROM embeddings v CROSS JOIN cent c
    ),
    assign AS (
      SELECT vec_id, embedding, cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cluster) AS rn
        FROM sc0
      ) t WHERE rn = 1
    ),
    cranks AS (
      SELECT c.cluster, row_number() OVER (ORDER BY {cos_cq} DESC, c.cluster)
               AS crank
      FROM cent c CROSS JOIN q
    ),
    scored_c AS (
      SELECT a.vec_id, r.crank, round({cos_aq}, 6) AS s
      FROM assign a JOIN cranks r ON a.cluster = r.cluster
      CROSS JOIN q WHERE a.vec_id != {qid}
    ),
    brute AS (
      SELECT e.vec_id
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != {qid}
      ORDER BY round(({_dot_sql('e.embedding', 'q.qvec')})
                     / ({_norm_sql('e.embedding')} * {_norm_sql('q.qvec')}), 6)
               DESC, e.vec_id
      LIMIT {k}
    )
    SELECT nprobe, n_overlap,
           round(n_overlap::DOUBLE / {k}, 6) AS recall_at_k
    FROM ({points}) ORDER BY nprobe
    """


@q("sim_nprobe_curve", _nprobe_curve_oracle(), eager=True)
def sim_nprobe_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@10 vs nprobe ∈ {1,2,4,8} — the OTHER axis of the ANN
    tuning plane beside sim_recall_curve's k sweep: how many IVF
    lists must be probed before recall saturates, THE cost/recall
    dial an IVF deployment actually turns (probe cost grows linearly
    in nprobe; recall saturates). ONE quantizer fit + ONE assignment
    + ONE probed scoring pass serve all four points: the candidate
    set for nprobe p is the crank ≤ p subset (probe sets are nested),
    so each sweep point is a TakeOrdered(10) over the
    localCheckpoint'd scored candidates — no per-point re-scan (the
    sim_recall_curve lesson). Oracle shares one CTE chain the same
    way."""
    from pyspark.sql import Window

    ps = (1, 2, 4, 8)
    k = 10
    e = t(spark, sf, "embeddings")
    cent = similarity.label_centroids(e, "label", "embedding", 64)
    assigned = similarity.assign_clusters(e, cent, "vec_id", "embedding")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    cranks = (
        cent.crossJoin(F.broadcast(qv))
        .select(
            "cluster",
            F.row_number().over(
                Window.orderBy(
                    F.desc(
                        similarity.cosine(F.col("centroid"), F.col("qvec"))
                    ),
                    F.asc("cluster"),
                )
            ).alias("crank"),
        )
    )
    scored = (
        assigned.join(F.broadcast(cranks), "cluster")
        .filter(F.col("vec_id") != 0)
        .filter(F.col("crank") <= max(ps))
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "crank",
            F.round(
                similarity.cosine(F.col("embedding"), F.col("qvec")), 6
            ).alias("_s"),
        )
        .localCheckpoint(eager=True)  # one scoring pass shared by the sweep
    )
    brute = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(
                similarity.cosine(F.col("embedding"), F.col("qvec")), 6
            ).alias("_s"),
        )
        .orderBy(F.desc("_s"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id")
        .localCheckpoint(eager=True)
    )
    frames = []
    for p in ps:
        topk = (
            scored.filter(F.col("crank") <= p)
            .orderBy(F.desc("_s"), F.asc("vec_id"))
            .limit(k)
            .select("vec_id")
        )
        frames.append(
            topk.join(brute, "vec_id", "left_semi")
            .agg(F.count("*").cast("long").alias("n_overlap"))
            .select(
                F.lit(p).alias("nprobe"),
                "n_overlap",
                F.round(F.col("n_overlap") / F.lit(k), 6).alias("recall_at_k"),
            )
        )
    out = frames[0]
    for f_ in frames[1:]:
        out = out.unionAll(f_)
    return out.orderBy("nprobe")


def _ivf_incr_oracle(dim: int = 64, mod: int = 5, rem: int = 3) -> str:
    """CTE replay of the Sculley running-mean IVF update: label
    centroids from the OLD batch, rounded-cosine argmax assignment of
    both batches, then the per-component blended mean and the
    micro-floored L2 drift — every float op in the same fixed order
    the Spark operator unrolls."""

    def assign(src: str) -> str:
        dot = " + ".join(
            f"(e.embedding[{j}]::DOUBLE * c.c_{j})" for j in range(1, dim + 1)
        )
        nc = (
            "sqrt("
            + " + ".join(f"(c.c_{j} * c.c_{j})" for j in range(1, dim + 1))
            + ")"
        )
        return f"""
          SELECT vec_id, embedding, cluster FROM (
            SELECT e.vec_id, e.embedding, c.cluster,
                   row_number() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY round(({dot}) / ({_norm_sql('e.embedding')} * {nc}), 6) DESC,
                              c.cluster ASC
                   ) AS rn
            FROM {src} e CROSS JOIN c0 c
          ) WHERE rn = 1
        """

    m_cols = ", ".join(
        f"round(avg(embedding[{j}]::DOUBLE), 6) AS m_{j}" for j in range(1, dim + 1)
    )
    u_cols = ", ".join(
        f"CASE WHEN n_added > 0 THEN "
        f"round((n_before::DOUBLE * c_{j} + n_added::DOUBLE * m_{j})"
        f" / (n_before + n_added)::DOUBLE, 6) ELSE c_{j} END AS u_{j}"
        for j in range(1, dim + 1)
    )
    l2 = " + ".join(f"((u_{j} - c_{j}) * (u_{j} - c_{j}))" for j in range(1, dim + 1))
    return f"""
    WITH old AS (SELECT * FROM embeddings WHERE vec_id % {mod} != {rem}),
    newb AS (SELECT * FROM embeddings WHERE vec_id % {mod} = {rem}),
    c0 AS (SELECT label AS cluster, {_cent_select_sql('embedding')}
           FROM old GROUP BY label),
    a_old AS ({assign('old')}),
    a_new AS ({assign('newb')}),
    nold AS (SELECT cluster, count(*)::BIGINT AS n_before FROM a_old GROUP BY cluster),
    nst AS (SELECT cluster, count(*)::BIGINT AS n_added, {m_cols}
            FROM a_new GROUP BY cluster),
    up AS (SELECT c0.cluster,
                  coalesce(nold.n_before, 0)::BIGINT AS n_before,
                  coalesce(nst.n_added, 0)::BIGINT AS n_added,
                  c0.* EXCLUDE (cluster), nst.* EXCLUDE (cluster, n_added)
           FROM c0 LEFT JOIN nold USING (cluster) LEFT JOIN nst USING (cluster)),
    fin AS (SELECT cluster, n_before, n_added, {u_cols},
                   {", ".join(f"c_{j}" for j in range(1, dim + 1))}
            FROM up)
    SELECT cluster, n_before, n_added,
           CAST(floor(sqrt({l2}) * 1000000.0 + 0.5) AS BIGINT) AS shift_micro,
           u_1 AS c0, u_2 AS c1, u_3 AS c2
    FROM fin ORDER BY cluster
    """


@q("sim_ivf_incremental", _ivf_incr_oracle())
def sim_ivf_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming IVF index maintenance (operators/similarity.
    ivf_incremental_update; Sculley 2010's web-scale mini-batch
    k-means update) — the r12 advisor's "streaming IVF maintenance"
    new-wave item: an arriving batch (vec_id % 5 == 3 plays the
    micro-batch) is broadcast-assigned to the existing label-seeded
    quantizer, then each list's centroid takes the running-mean blend
    c' = (n·c + m·x̄)/(n + m) from ROUNDED quantities only, and the
    micro-floored L2 drift per cluster is the refit-scheduling signal.
    Per-batch cost ∝ batch size (one broadcast-assign + one partial
    agg + a k-row join), never corpus size — the posture that keeps
    an IVF index serving while 100 TB accretes. The whole trajectory
    is value-checked against the DuckDB CTE replay."""
    from denormalized_spark.operators import similarity

    e = t(spark, sf, "embeddings")
    old = e.filter(F.col("vec_id") % 5 != 3)
    new = e.filter(F.col("vec_id") % 5 == 3)
    cent = similarity.label_centroids(old)
    return similarity.ivf_incremental_update(old, new, cent)


_PB_K = 20  # block size in tokens


def _pblock_cte(k: int = _PB_K) -> str:
    """documents → (doc_id, block_idx, block_hash): the same
    non-overlapping k-token rolling-hash blocks paragraph_blocks
    projects (one md5 per token, (acc·31 + h) mod 2^32 fold)."""
    return f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
    hh AS (SELECT doc_id,
                  {_TOKEN_HASHES} AS th
           FROM d),
    blk AS (SELECT doc_id, u.b AS block_idx,
                   list_reduce(
                     list_prepend(0::BIGINT,
                                  th[u.b * {k} + 1 : least((u.b + 1) * {k}, len(th))]),
                     (acc, x) -> (acc * 31 + x) % 4294967296) AS block_hash
            FROM hh,
                 (SELECT unnest(range(0, greatest(ceil(len(th) / {k})::INT, 1))) AS b) u)
    """


@q(
    "dedup_paragraph_blocks",
    _pblock_cte()
    + """
    , dup AS (SELECT block_hash FROM blk GROUP BY block_hash
              HAVING count(DISTINCT doc_id) >= 2)
    SELECT doc_id,
           count(*)::BIGINT AS n_blocks,
           sum(CASE WHEN block_hash IN (SELECT block_hash FROM dup)
                    THEN 1 ELSE 0 END)::BIGINT AS n_dup_blocks,
           CAST(floor((sum(CASE WHEN block_hash IN (SELECT block_hash FROM dup)
                                THEN 1 ELSE 0 END) * 1000)::DOUBLE
                / count(*)::DOUBLE + 0.5) AS BIGINT) AS dup_frac_milli
    FROM blk GROUP BY doc_id
    HAVING sum(CASE WHEN block_hash IN (SELECT block_hash FROM dup)
                    THEN 1 ELSE 0 END) > 0
    ORDER BY doc_id
    """,
)
def dedup_paragraph_blocks(spark: SparkSession, sf: str) -> DataFrame:
    """Paragraph-level substring dedup (operators/dedup.
    paragraph_block_dedup) — the r12 advisor's new-wave item: the
    distributable fixed-block relaxation of Lee et al. 2021's
    suffix-array ExactSubstr. Per document, the count and fraction of
    its 20-token blocks that also appear in another document — the
    passage-reuse signal doc-level minhash misses. Blocks are a
    scan-side projection (no shuffle); the duplicated-hash set is one
    uniformly-keyed aggregation at corpus_tokens/20 volume; the
    rollup re-joins on the same key."""
    from denormalized_spark.operators import dedup

    d = t(spark, sf, "documents")
    return dedup.paragraph_block_dedup(d, block_tokens=_PB_K)


# Platt-style calibration weights for the hybrid blend (in production
# these are calibration_summary's fitted (A, B) rescaled; pinned here
# so both engines replay the same literals)
_BLEND_W_LEX, _BLEND_W_DENSE = 1.7159, 2.3481


@q(
    "sim_blend_rerank",
    f"""
    WITH tok AS (
      SELECT doc_id, len({_TOKS}) AS dl, unnest({_TOKS}) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
      FROM tok WHERE term IN ('scan', 'join', 'filter')
      GROUP BY 1, 2
    ),
    stats AS (
      SELECT count(*) AS n, sum(len({_TOKS})) AS sdl FROM documents
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id,
             floor(
               ln(1.0 + (n - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
               * ((tf * (1.2::DOUBLE + 1.0))
                  / (tf + 1.2::DOUBLE * ((1.0::DOUBLE - 0.75)
                                         + 0.75::DOUBLE * dl / (sdl::DOUBLE / n))))
               * 1000000.0 + 0.5
             )::BIGINT AS m
      FROM tf, dfreq, stats WHERE tf.term = dfreq.term
    ),
    lex AS (SELECT doc_id, sum(m)::BIGINT AS bm25_micro FROM scored GROUP BY doc_id),
    mx AS (SELECT max(bm25_micro)::BIGINT AS mxv FROM lex),
    qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
    dense AS (
      SELECT e.vec_id AS doc_id,
             round(({_dot_sql('e.embedding', 'q')})
                   / ({_norm_sql('e.embedding')} * {_norm_sql('q')}), 6) AS cosine_r6
      FROM embeddings e CROSS JOIN qv
    )
    SELECT lex.doc_id, bm25_micro, cosine_r6,
           CAST(floor(
             ({_BLEND_W_LEX}::DOUBLE * (bm25_micro::DOUBLE / mxv::DOUBLE)
              + {_BLEND_W_DENSE}::DOUBLE * ((cosine_r6 + 1.0::DOUBLE) / 2.0::DOUBLE))
             * 1000000.0 + 0.5) AS BIGINT) AS blend_micro
    FROM lex JOIN dense USING (doc_id) CROSS JOIN mx
    ORDER BY blend_micro DESC, doc_id ASC LIMIT 15
    """,
)
def sim_blend_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """Calibrated lexical+dense score-blend rerank (operators/
    similarity.blend_rerank; Ma, Korotkov & Lin 2021's BM25-dense
    linear interpolation) — the r12 advisor's "calibrated score-blend
    rerank" new-wave item. The BM25 candidate set for the fixed query
    {scan, join, filter} is re-scored by w_lex·lex_norm +
    w_dense·dense_norm with pinned Platt-style weights (ranking by
    the linear blend ≡ by the calibrated sigmoid — σ is monotone);
    lex_norm divides two exact longs, dense_norm is the bounded
    (cos_r6+1)/2, and the blend is micro-floored before ranking so
    both engines break ties on doc_id identically. One keyed
    candidate-side join + two 1-row broadcasts + TakeOrdered."""
    from denormalized_spark.operators import similarity

    d = t(spark, sf, "documents")
    e = t(spark, sf, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    return similarity.blend_rerank(
        d, e, ["scan", "join", "filter"], qv,
        w_lex=_BLEND_W_LEX, w_dense=_BLEND_W_DENSE, k=15,
    )


@q(
    "sim_split_drift",
    f"""
    WITH a AS (SELECT * FROM embeddings WHERE vec_id % 2 = 0),
    b AS (SELECT * FROM embeddings WHERE vec_id % 2 = 1),
    ca AS (SELECT label, {_cent_select_sql('embedding')} FROM a GROUP BY label),
    cb AS (SELECT label, {_cent_select_sql('embedding')} FROM b GROUP BY label),
    na AS (SELECT label, count(*)::BIGINT AS n_a FROM a GROUP BY label),
    nb AS (SELECT label, count(*)::BIGINT AS n_b FROM b GROUP BY label)
    SELECT ca.label, n_a, n_b,
           round(({" + ".join(f"(ca.c_{j} * cb.c_{j})" for j in range(1, 65))})
                 / (sqrt({" + ".join(f"(ca.c_{j} * ca.c_{j})" for j in range(1, 65))})
                    * sqrt({" + ".join(f"(cb.c_{j} * cb.c_{j})" for j in range(1, 65))})), 6)
             AS drift_cosine_r6
    FROM ca JOIN cb USING (label) JOIN na USING (label) JOIN nb USING (label)
    ORDER BY ca.label
    """,
)
def sim_split_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label centroid drift between the even/odd vec_id halves
    (operators/similarity.split_centroid_drift) — the train/serve
    split-skew check: a label whose half-centroids' cosine falls
    far from 1.0 is drifting or undersized. Two per-label partial
    aggs + a k-row join; the cosine runs the shared fixed-order fold
    over 6-rounded component means, so both engines agree
    bit-for-bit."""
    from denormalized_spark.operators import similarity

    e = t(spark, sf, "embeddings")
    return similarity.split_centroid_drift(
        e.filter(F.col("vec_id") % 2 == 0), e.filter(F.col("vec_id") % 2 == 1)
    )


@q(
    "dedup_eval_pairs",
    _LSH_GATE_CTES
    + ","
    + _PPJOIN_CTES
    + """,
    gold AS (SELECT id_a, id_b FROM vr WHERE 100 * i >= 60 * (sa + sb - i)),
    cnt AS (
      SELECT (SELECT count(*) FROM cand)::BIGINT AS n_system,
             (SELECT count(*) FROM gold)::BIGINT AS n_gold,
             (SELECT count(*) FROM cand SEMI JOIN gold g
               ON cand.id_a = g.id_a AND cand.id_b = g.id_b)::BIGINT AS n_both
    )
    SELECT n_system, n_gold, n_both,
           CAST(floor((n_both * 1000)::DOUBLE / n_system::DOUBLE + 0.5) AS BIGINT)
             AS precision_milli,
           CAST(floor((n_both * 1000)::DOUBLE / n_gold::DOUBLE + 0.5) AS BIGINT)
             AS recall_milli,
           CAST(floor((n_both * 2000)::DOUBLE / (n_system + n_gold)::DOUBLE + 0.5)
                AS BIGINT) AS f1_milli
    FROM cnt
    """,
)
def dedup_eval_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Pair-counting evaluation of the minhash-LSH CANDIDATE stage
    against an independent exact detector (the pairwise member of the
    clustering-eval family — the pair-F1 counterpart of B-cubed,
    Amigo et al. 2009): SYSTEM = 8-hash/4-band LSH candidate pairs,
    GOLD = prefix-filtered exact trigram Jaccard >= 0.6 (Bayardo et
    al. 2007's AllPairs — NO LSH gate, so the two detectors share no
    machinery). Precision is the banding stage's false-candidate
    rate (what the verify stage must filter: 0.34-0.89 across SFs);
    recall confirms the 2-row-band OR-construction catches every
    true pair at these thresholds; pair-F1 uses the exact integer
    identity F1 = 2|S∩G|/(|S|+|G|). All three milli-floored from
    exact pair counts. Both legs are existing sub-quadratic plans;
    the intersection is one (id, id)-keyed semi-join; the rollup 1
    metadata row."""
    from denormalized_spark.operators import dedup

    d = t(spark, sf, "documents")
    sys_pairs = dedup.lsh_candidate_pairs(
        d, "doc_id", "text", num_hashes=8, bands=4
    ).select("id_a", "id_b")
    gold = dedup.prefix_filter_jaccard_join(d, threshold_pct=60, ngram=3).select(
        "id_a", "id_b"
    )
    both = sys_pairs.join(gold, ["id_a", "id_b"], "left_semi")
    counts = (
        sys_pairs.agg(F.count("*").cast("long").alias("n_system"))
        .crossJoin(gold.agg(F.count("*").cast("long").alias("n_gold")))
        .crossJoin(both.agg(F.count("*").cast("long").alias("n_both")))
    )
    return counts.select(
        "n_system",
        "n_gold",
        "n_both",
        F.floor(
            (F.col("n_both") * 1000).cast("double")
            / F.col("n_system").cast("double") + F.lit(0.5)
        ).cast("long").alias("precision_milli"),
        F.floor(
            (F.col("n_both") * 1000).cast("double")
            / F.col("n_gold").cast("double") + F.lit(0.5)
        ).cast("long").alias("recall_milli"),
        F.floor(
            (F.col("n_both") * 2000).cast("double")
            / (F.col("n_system") + F.col("n_gold")).cast("double") + F.lit(0.5)
        ).cast("long").alias("f1_milli"),
    )


@q(
    "dedup_eval_bcubed",
    _LSH_GATE_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + ","
    + _PPJOIN_CTES
    + """,
    gold AS (SELECT id_a, id_b FROM vr WHERE 100 * i >= 60 * (sa + sb - i)),"""
    + _reach_sql("cand", "s")
    + """,
    sysc AS (SELECT id, min(label) AS c FROM sreach GROUP BY id),"""
    + _reach_sql("gold", "g")
    + """,
    goldc AS (SELECT id, min(label) AS c FROM greach GROUP BY id),
    lab AS (
      SELECT d.doc_id,
             coalesce(s.c, d.doc_id)::BIGINT AS sc,
             coalesce(g.c, d.doc_id)::BIGINT AS gc
      FROM documents d LEFT JOIN sysc s ON d.doc_id = s.id
                       LEFT JOIN goldc g ON d.doc_id = g.id
    ),
    cells AS (SELECT sc, gc, count(*)::BIGINT AS n FROM lab GROUP BY sc, gc),
    scs AS (SELECT sc, sum(n)::BIGINT AS sc_size FROM cells GROUP BY sc),
    gcs AS (SELECT gc, sum(n)::BIGINT AS gc_size FROM cells GROUP BY gc),
    per AS (SELECT c.sc, c.gc, c.n,
                   (c.n * c.n * 1000000) // s.sc_size AS p,
                   (c.n * c.n * 1000000) // g.gc_size AS r
            FROM cells c JOIN scs s USING (sc) JOIN gcs g USING (gc)),
    roll AS (SELECT sum(n)::BIGINT AS n_docs,
                    count(DISTINCT sc)::BIGINT AS n_sys_clusters,
                    count(DISTINCT gc)::BIGINT AS n_gold_clusters,
                    sum(p)::BIGINT AS ps, sum(r)::BIGINT AS rs
             FROM per)
    SELECT n_docs, n_sys_clusters, n_gold_clusters,
           (ps // n_docs)::BIGINT AS bcubed_precision_micro,
           (rs // n_docs)::BIGINT AS bcubed_recall_micro,
           (CASE WHEN (ps // n_docs) + (rs // n_docs) > 0
                THEN (2 * (ps // n_docs) * (rs // n_docs))
                     // ((ps // n_docs) + (rs // n_docs))
                ELSE 0 END)::BIGINT AS bcubed_f1_micro
    FROM roll
    """,
    eager=True,
)
def dedup_eval_bcubed(spark: SparkSession, sf: str) -> DataFrame:
    """B-cubed CLUSTER-level evaluation of the production dedup
    pipeline (operators/dedup.bcubed_eval; Bagga & Baldwin 1998,
    Amigó et al. 2009) — the cluster-level complement of
    dedup_eval_pairs, which only counts PAIRS: SYSTEM = connected
    components over the RAW 8-hash/4-band LSH candidate pairs (the
    same system leg dedup_eval_pairs scores — banding false
    positives CHAIN here, so over-merge shows up as trapped-element
    precision loss), GOLD = components over the exact
    prefix-filtered AllPairs join at Jaccard ≥ 0.6 (Bayardo et al.
    2007 — no LSH machinery shared), universe = every document
    (absent docs are singletons). B³ punishes over-merge per trapped
    element, the failure mode pair counting under-weights — the
    verified pipeline (dedup_connected_components' clustering) scores
    B³=1.0 against this gold at bench SFs, which is why the
    UNVERIFIED stage is the one worth grading. All arithmetic is
    Σ-of-floors integer
    (cell n²·10⁶ DIV cluster size; final DIV by N; F1 on the micro
    grid). Both detector legs are existing sub-quadratic plans; the
    closures run on the (tiny) pair graphs; the cell agg is one
    (sc, gc)-keyed corpus pass; the oracle replays BOTH min-label
    closures as recursive CTEs."""
    from denormalized_spark.operators import dedup

    d = t(spark, sf, "documents")
    sys_pairs = dedup.lsh_candidate_pairs(
        d, "doc_id", "text", num_hashes=8, bands=4
    ).select("id_a", "id_b")
    gold = dedup.prefix_filter_jaccard_join(
        d, threshold_pct=60, ngram=3
    ).select("id_a", "id_b")
    return dedup.bcubed_eval(d, sys_pairs, gold, id_col="doc_id")


_CDC_MOD = 16


@q(
    "dedup_cdc_chunks",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
    hh AS (SELECT doc_id,
                  {_TOKEN_HASHES} AS th
           FROM d),
    ex AS (SELECT doc_id, u.i AS pos, th[u.i] AS h
           FROM hh, (SELECT unnest(range(1, len(th) + 1)) AS i) u),
    g AS (SELECT doc_id, pos, h,
                 sum(CASE WHEN h % {_CDC_MOD} = 0 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS chunk_idx
          FROM ex),
    chunk AS (
      SELECT doc_id, chunk_idx,
             count(*)::BIGINT AS n_tokens,
             list_reduce(list_prepend(0::BIGINT, list(h ORDER BY pos)),
                         (acc, x) -> (acc * 31 + x) % 4294967296) AS chunk_hash
      FROM g GROUP BY doc_id, chunk_idx
    ),
    dup AS (SELECT chunk_hash FROM chunk GROUP BY chunk_hash
            HAVING count(DISTINCT doc_id) >= 2)
    SELECT doc_id,
           count(*)::BIGINT AS n_chunks,
           sum(CASE WHEN chunk_hash IN (SELECT chunk_hash FROM dup)
                    THEN 1 ELSE 0 END)::BIGINT AS n_dup_chunks,
           CAST(floor((sum(CASE WHEN chunk_hash IN (SELECT chunk_hash FROM dup)
                                THEN 1 ELSE 0 END) * 1000)::DOUBLE
                / count(*)::DOUBLE + 0.5) AS BIGINT) AS dup_frac_milli
    FROM chunk GROUP BY doc_id
    HAVING sum(CASE WHEN chunk_hash IN (SELECT chunk_hash FROM dup)
                    THEN 1 ELSE 0 END) > 0
    ORDER BY doc_id
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Content-defined-chunking dedup report (operators/dedup.
    cdc_chunk_dedup; Muthitacharoen et al. 2001's LBFS cut rule at
    token granularity): chunks re-anchor at hash-boundary tokens, so
    an early insertion shifts fixed blocks permanently but CDC chunks
    re-synchronize at the next anchor — the shift-robust twin of
    dedup_paragraph_blocks with the SAME output schema for chunker
    A/B. One posexplode + one doc-keyed prefix-sum window + one
    (doc, chunk) ordered fold; dup detection is the same uniformly-
    keyed chunk_hash aggregation."""
    from denormalized_spark.operators import dedup

    d = t(spark, sf, "documents")
    return dedup.cdc_chunk_dedup(d, boundary_mod=_CDC_MOD)


@q(
    "text_ad_bigram",
    f"""
    WITH d AS (SELECT {_TOKS} AS ws FROM documents),
    pr AS (SELECT unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS p FROM d
           WHERE len(ws) >= 2),
    pairs AS (SELECT p[1] AS w1, p[2] AS w2, count(*)::BIGINT AS n_xy
              FROM pr GROUP BY 1, 2),
    lft AS (SELECT w1, sum(n_xy)::BIGINT AS n_x, count(*)::BIGINT AS n_follow
            FROM pairs GROUP BY w1),
    cont AS (SELECT w2, count(*)::BIGINT AS n_pred FROM pairs GROUP BY w2),
    ty AS (SELECT count(*)::BIGINT AS nt FROM pairs)
    SELECT w1, w2, n_xy, n_x,
           CAST(floor(n_xy::DOUBLE / n_x::DOUBLE * 1000000.0 + 0.5) AS BIGINT)
             AS p_mle_micro,
           CAST(floor(
             (greatest(n_xy::DOUBLE - 0.75, 0.0)
              + 0.75 * n_follow::DOUBLE * (n_pred::DOUBLE / nt::DOUBLE))
             / n_x::DOUBLE * 1000000.0 + 0.5) AS BIGINT) AS p_ad_micro
    FROM pairs JOIN lft USING (w1) JOIN cont USING (w2) CROSS JOIN ty
    ORDER BY n_xy DESC, w1 ASC, w2 ASC LIMIT 20
    """,
)
def text_ad_bigram(spark: SparkSession, sf: str) -> DataFrame:
    """Absolute-discounting bigram LM table (operators/text.
    absolute_discount_bigram; Ney, Essen & Kneser 1994, with the
    Kneser-Ney continuation back-off): MLE vs discounted probability
    for the corpus's top-20 bigrams — the smoothing diagnostic beside
    text_bpe_pairs/pmi. Pure integer counts + one fixed-order IEEE
    expression per value, micro-floored; no transcendentals. Pair
    generation per-row, one pair-keyed count, vocab-sized marginal
    joins, 1-row type-count broadcast, 20-row TakeOrdered."""
    from denormalized_spark.operators import text as T

    return T.absolute_discount_bigram(
        t(spark, sf, "documents"), discount=0.75, k=20
    )


@q(
    "text_readability_fk",
    f"""
    WITH d AS (SELECT source, {_TOKS} AS ws FROM documents),
    per AS (
      SELECT source,
             CAST(floor(
               (0.39 * greatest(len(ws), 1)::DOUBLE
                + 11.8 * (list_sum(list_transform(ws,
                    w -> greatest(len(regexp_extract_all(w, '[aeiou]+')), 1)))::DOUBLE
                          / greatest(len(ws), 1)::DOUBLE)
                - 15.59) * 1000.0 + 0.5) AS BIGINT) AS g
      FROM d
    )
    SELECT source AS grp, count(*)::BIGINT AS n_docs,
           CAST(floor(sum(g)::DOUBLE / count(*)::DOUBLE + 0.5) AS BIGINT)
             AS avg_fk_milli
    FROM per GROUP BY source ORDER BY source
    """,
)
def text_readability_fk(spark: SparkSession, sf: str) -> DataFrame:
    """Flesch-Kincaid grade level per source (operators/text.
    flesch_kincaid_by_group; Kincaid et al. 1975) with the vowel-group
    syllable proxy — the readability lens of the quality-gate family.
    Integer counts per doc, one fixed-order IEEE grade expression
    milli-floored, one source-keyed agg."""
    from denormalized_spark.operators import text as T

    return T.flesch_kincaid_by_group(t(spark, sf, "documents"))


@q(
    "text_burrows_delta",
    f"""
    WITH tk AS (SELECT source AS grp, doc_id, unnest({_TOKS}) AS tok
                FROM documents),
    panel AS (SELECT tok FROM tk GROUP BY tok
              ORDER BY count(*) DESC, tok ASC LIMIT 30),
    dl AS (SELECT grp, doc_id, count(*)::BIGINT AS dlen FROM tk GROUP BY 1, 2),
    cnt AS (SELECT grp, doc_id, tok, count(*)::BIGINT AS cwd
            FROM tk SEMI JOIN panel USING (tok) GROUP BY 1, 2, 3),
    dense AS (
      SELECT dl.grp, dl.doc_id, p.tok,
             CAST(floor((coalesce(cnt.cwd, 0) * 1000000)::DOUBLE
                  / dl.dlen::DOUBLE + 0.5) AS BIGINT) AS f
      FROM dl CROSS JOIN panel p
      LEFT JOIN cnt ON cnt.grp = dl.grp AND cnt.doc_id = dl.doc_id
                   AND cnt.tok = p.tok
    ),
    st AS (
      SELECT tok, count(*)::BIGINT AS n, sum(f)::BIGINT AS sf,
             sum(f * f)::BIGINT AS sf2
      FROM dense GROUP BY tok
    ),
    sig AS (
      SELECT tok, sf::DOUBLE / n::DOUBLE AS mu,
             CASE WHEN n > 1 THEN
               sqrt(greatest(n::DOUBLE * sf2::DOUBLE - sf::DOUBLE * sf::DOUBLE,
                             0.0) / (n::DOUBLE * (n - 1)::DOUBLE))
             ELSE 0.0 END AS sigma
      FROM st
    ),
    z AS (
      SELECT d.grp, d.doc_id,
             CASE WHEN s.sigma > 0 THEN
               CAST(floor(abs(d.f::DOUBLE - s.mu) / s.sigma * 1000.0 + 0.5)
                    AS BIGINT)
             ELSE 0::BIGINT END AS zm
      FROM dense d JOIN sig s USING (tok)
    ),
    pd AS (
      SELECT grp, doc_id,
             CAST(floor(sum(zm)::DOUBLE / 30.0 + 0.5) AS BIGINT) AS delta
      FROM z GROUP BY 1, 2
    )
    SELECT grp, count(*)::BIGINT AS n_docs,
           CAST(floor(sum(delta)::DOUBLE / count(*)::DOUBLE + 0.5) AS BIGINT)
             AS avg_delta_milli
    FROM pd GROUP BY grp ORDER BY grp
    """,
)
def text_burrows_delta(spark: SparkSession, sf: str) -> DataFrame:
    """Burrows' Delta stylometry rolled up per source (operators/
    text.burrows_delta_by_group; Burrows 2002): mean |z| of each
    document's top-30-word relative frequencies against the corpus
    norm — the authorship/register distance, here answering "which
    source's style deviates most". Every cell milli/micro-floored
    before aggregation so all sums are exact integers; the word panel
    is deterministic (top-30 by count, ties lexicographic)."""
    from denormalized_spark.operators import text as T

    return T.burrows_delta_by_group(t(spark, sf, "documents"), m=30)


def _textrank_iter_sql(i: int) -> str:
    """One unrolled weighted-PageRank iteration over the word graph —
    float ops ordered exactly as operators/graph.pagerank with
    weight_col set (the _prw_iter_sql recipe on word nodes)."""
    p, r = i - 1, i
    return f"""tc{r} AS (SELECT e.dst, sum(r.rank * e.n / od.outdeg) AS s
           FROM e JOIN od USING (src) JOIN tr{p} r ON e.src = r.node
           GROUP BY e.dst),
    td{r} AS (SELECT coalesce(sum(r.rank), 0.0) AS dang
             FROM tr{p} r LEFT JOIN od ON r.node = od.src WHERE od.src IS NULL),
    tr{r} AS (SELECT n.node,
                    round(0.15 / (SELECT n FROM nn)
                          + 0.85 * (coalesce(c.s, 0.0)
                                    + (SELECT dang FROM td{r}) / (SELECT n FROM nn)),
                          9) AS rank
             FROM nodes n LEFT JOIN tc{r} c ON n.node = c.dst)"""


@q(
    "text_textrank_keywords",
    f"""
    WITH d AS (SELECT {_TOKS} AS ws FROM documents),
    pr AS (SELECT unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS p FROM d
           WHERE len(ws) >= 2),
    und AS (SELECT p[1] AS a, p[2] AS b FROM pr),
    e AS (
      SELECT src, dst, count(*)::BIGINT AS n FROM (
        SELECT a AS src, b AS dst FROM und
        UNION ALL
        SELECT b AS src, a AS dst FROM und
      ) GROUP BY 1, 2
    ),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    od AS (SELECT src, sum(n)::DOUBLE AS outdeg FROM e GROUP BY src),
    tr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
    {_textrank_iter_sql(1)},
    {_textrank_iter_sql(2)},
    {_textrank_iter_sql(3)}
    SELECT node AS word, rank FROM tr3
    ORDER BY rank DESC, word ASC LIMIT 20
    """,
    eager=True,
)
def text_textrank_keywords(spark: SparkSession, sf: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): weighted
    PageRank over the adjacent-token co-occurrence graph (undirected
    — each pair feeds both directions), top-20 words by rank. Reuses
    operators/graph.pagerank with weight_col (the Markov random-walk
    machinery), with its per-iteration 9-digit re-rounding making the
    3-round trajectory oracle-checkable as unrolled CTEs. The graph
    build is a per-row zip_with + pair-keyed count; iterations run on
    the vocab-sized metadata graph."""
    from denormalized_spark.operators import graph
    from denormalized_spark.operators.text import tokens

    d = t(spark, sf, "documents")
    toks = tokens("text")
    pairs_arr = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    und = d.select(F.explode(pairs_arr).alias("_p")).select("_p.a", "_p.b")
    edges = (
        und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(und.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("n"))
    )
    ranks = graph.pagerank(edges, iterations=3, damping=0.85, weight_col="n")
    return (
        ranks.select(F.col("node").alias("word"), "rank")
        .orderBy(F.desc("rank"), F.asc("word"))
        .limit(20)
    )


@q(
    "sim_knn_ood",
    f"""
    WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
    pairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             CAST(floor(({_dot_sql('a.embedding', 'b.embedding')})
                  / ({_norm_sql('a.embedding')} * {_norm_sql('b.embedding')})
                  * 1000000.0 + 0.5) AS BIGINT) AS cm
      FROM s a JOIN s b ON a.vec_id != b.vec_id
    ),
    top AS (
      SELECT ia, cm,
             row_number() OVER (PARTITION BY ia ORDER BY cm DESC, ib ASC) AS rn
      FROM pairs
    )
    SELECT vec_id, knn_dist_micro FROM (
      SELECT ia AS vec_id,
             CAST(floor((count(*) * 1000000 - sum(cm))::DOUBLE
                  / count(*)::DOUBLE + 0.5) AS BIGINT) AS knn_dist_micro
      FROM top WHERE rn <= 5 GROUP BY ia
    ) ORDER BY knn_dist_micro DESC, vec_id ASC LIMIT 20
    """,
)
def sim_knn_ood(spark: SparkSession, sf: str) -> DataFrame:
    """k-NN-distance OOD detection (operators/similarity.
    knn_ood_scores; Sun et al. 2022): top-20 most isolated vectors of
    a deterministic 20% sample by mean quantized cosine distance to
    their 5 nearest neighbors — the label-free curation screen beside
    outlier_scores' centroid form. All-pairs on the SAMPLE is the
    oracle baseline; the corpus path gates the same scoring through
    the LSH/IVF candidate machinery."""
    from denormalized_spark.operators import similarity

    e = t(spark, sf, "embeddings").filter(F.col("vec_id") % 5 == 0)
    scores = similarity.knn_ood_scores(e, k=5)
    return scores.orderBy(F.desc("knn_dist_micro"), F.asc("vec_id")).limit(20)


_SCURVE_EDGES = [0.02, 0.05, 0.1, 0.2, 0.5, 0.8]  # bucket lower edges
_SCURVE_MIDS = [0.035, 0.075, 0.15, 0.35, 0.65, 0.9]


def _scurve_theory_milli() -> list[int]:
    """Theoretical banding capture probability 1−(1−j^r)^b at each
    Jaccard-bucket midpoint for the 8-hash/4-band (r=2) config —
    Python-computed literals embedded in BOTH engines (the EWMA/NDCG
    literal-table discipline). Buckets follow this corpus's bimodal
    pair mass (a background cloud at j<0.1 and a near-dup cliff at
    j>=0.8): [0.02,0.05), [0.05,0.1), [0.1,0.2), [0.2,0.5),
    [0.5,0.8), [0.8,1]."""
    import math

    return [
        math.floor((1.0 - (1.0 - m ** 2) ** 4) * 1000 + 0.5)
        for m in _SCURVE_MIDS
    ]


_SCURVE_THEO = _scurve_theory_milli()

_SCURVE_BUCKET_SQL = (
    "CASE WHEN j < 0.05 THEN 0 WHEN j < 0.1 THEN 1 WHEN j < 0.2 THEN 2 "
    "WHEN j < 0.5 THEN 3 WHEN j < 0.8 THEN 4 ELSE 5 END"
)


@q(
    "dedup_lsh_scurve",
    _LSH_GATE_CTES
    + f""",
    truth AS (
      SELECT id_a, id_b, round(jaccard, 6) AS j FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               count(*)::DOUBLE / (a.n_sh + b.n_sh - count(*)) AS jaccard
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
      ) t WHERE jaccard >= 0.02
    ),
    bucketed AS (
      SELECT ({_SCURVE_BUCKET_SQL})::INT AS bucket, id_a, id_b FROM truth
    ),
    caught AS (
      SELECT b.bucket, count(*)::BIGINT AS n_caught
      FROM bucketed b SEMI JOIN cand c
        ON b.id_a = c.id_a AND b.id_b = c.id_b
      GROUP BY b.bucket
    ),
    theo AS (
      SELECT unnest(range(6))::INT AS bucket,
             unnest([{", ".join(str(v) for v in _SCURVE_THEO)}])::BIGINT
               AS theo_milli
    )
    SELECT t.bucket, coalesce(n_pairs, 0)::BIGINT AS n_pairs,
           coalesce(n_caught, 0)::BIGINT AS n_caught,
           CASE WHEN coalesce(n_pairs, 0) > 0 THEN
             CAST(floor((coalesce(n_caught, 0) * 1000)::DOUBLE
                  / n_pairs::DOUBLE + 0.5) AS BIGINT)
           ELSE 0::BIGINT END AS capture_milli,
           t.theo_milli
    FROM theo t
    LEFT JOIN (SELECT bucket, count(*)::BIGINT AS n_pairs FROM bucketed
               GROUP BY bucket) np USING (bucket)
    LEFT JOIN caught USING (bucket)
    ORDER BY t.bucket
    """,
)
def dedup_lsh_scurve(spark: SparkSession, sf: str) -> DataFrame:
    """Banding S-curve validation (the minhash-LSH tuning chart of
    Leskovec/Rajaraman/Ullman's MMDS ch. 3): bucket the TRUE Jaccard
    pairs (>= 0.02, exact inverted-index join) by similarity and
    report the measured candidate-capture rate of the 8-hash/4-band
    config beside the theoretical 1−(1−j²)⁴ at each bucket midpoint
    (Python-computed literals in both engines). Buckets track this
    corpus's bimodal pair mass — the j<0.1 background cloud (where
    capture must be ≈0: the banding FALSE-POSITIVE budget) and the
    j>=0.8 near-dup cliff (where it must be ≈1) — which is exactly
    how b and r are tuned against a dedup threshold. Shares the LSH
    gate CTEs; the rollup is a 6-row metadata table."""
    from denormalized_spark.operators import dedup

    d = t(spark, sf, "documents")
    truth = dedup.jaccard_pairs(d, "doc_id", "text", shingle_n=3, min_jaccard=0.02)
    cand = dedup.lsh_candidate_pairs(
        d, "doc_id", "text", num_hashes=8, bands=4
    ).withColumn("_c", F.lit(1))
    j = F.round("jaccard", 6)
    bucketed = truth.select(
        F.when(j < 0.05, 0)
        .when(j < 0.1, 1)
        .when(j < 0.2, 2)
        .when(j < 0.5, 3)
        .when(j < 0.8, 4)
        .otherwise(5)
        .cast("int")
        .alias("bucket"),
        "id_a",
        "id_b",
    )
    joined = bucketed.join(cand, ["id_a", "id_b"], "left")
    measured = joined.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.coalesce(F.col("_c"), F.lit(0))).cast("long").alias("n_caught"),
    )
    theo = spark.createDataFrame(
        [(i, v) for i, v in enumerate(_SCURVE_THEO)],
        "bucket int, theo_milli long",
    )
    return (
        theo.join(measured, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_caught", F.lit(0)).cast("long").alias("n_caught"),
            F.when(
                F.coalesce(F.col("n_pairs"), F.lit(0)) > 0,
                F.floor(
                    (F.col("n_caught") * 1000).cast("double")
                    / F.col("n_pairs").cast("double")
                    + F.lit(0.5)
                ).cast("long"),
            ).otherwise(F.lit(0).cast("long")).alias("capture_milli"),
            "theo_milli",
        )
        .orderBy("bucket")
    )


_FCDC_MOD, _FCDC_MIN, _FCDC_MAX = 16, 4, 12


def _fastcdc_oracle(mod: int, min_t: int, max_t: int | None = None) -> str:
    """Recursive-CTE replay of the FastCDC cut recurrence; when
    ``max_t`` is set the acceptance test mirrors the operator's
    forced-cut clamp (boundary-past-min OR gap ≥ max)."""
    accept = (f"(th[pos + 1] % {mod} = 0"
              f" AND (pos + 1 - cuts[len(cuts)]) >= {min_t})")
    if max_t is not None:
        accept = f"({accept} OR (pos + 1 - cuts[len(cuts)]) >= {max_t})"
    return f"""
    WITH RECURSIVE d AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
    hh AS (SELECT doc_id,
                  {_TOKEN_HASHES} AS th
           FROM d WHERE len(ws) >= 1),
    cr AS (
      SELECT doc_id, 1 AS pos, [1::BIGINT] AS cuts, th FROM hh
      UNION ALL
      SELECT doc_id, pos + 1,
             CASE WHEN {accept}
                  THEN list_append(cuts, (pos + 1)::BIGINT) ELSE cuts END,
             th
      FROM cr WHERE pos < len(th)
    ),"""


# chunk materialization shared by every FastCDC oracle variant
_FCDC_CHUNK_TAIL = """
    fin AS (SELECT doc_id, cuts, th FROM cr WHERE pos = len(th)),
    ex AS (SELECT doc_id, u.i AS pos,
                  len(list_filter(cuts, c -> c <= u.i)) - 1 AS cid,
                  th[u.i] AS h
           FROM fin, (SELECT unnest(range(1, len(th) + 1)) AS i) u),
    chunk AS (
      SELECT doc_id, cid AS chunk_idx,
             count(*)::BIGINT AS n_tokens,
             list_reduce(list_prepend(0::BIGINT, list(h ORDER BY pos)),
                         (acc, x) -> (acc * 31 + x) % 4294967296) AS chunk_hash
      FROM ex GROUP BY doc_id, cid
    )"""


@q(
    "dedup_fastcdc_chunks",
    _fastcdc_oracle(_FCDC_MOD, _FCDC_MIN)
    + _FCDC_CHUNK_TAIL
    + f""",
    dup AS (SELECT chunk_hash FROM chunk GROUP BY chunk_hash
            HAVING count(DISTINCT doc_id) >= 2)
    SELECT doc_id,
           count(*)::BIGINT AS n_chunks,
           sum(CASE WHEN chunk_hash IN (SELECT chunk_hash FROM dup)
                    THEN 1 ELSE 0 END)::BIGINT AS n_dup_chunks,
           CAST(floor((sum(CASE WHEN chunk_hash IN (SELECT chunk_hash FROM dup)
                                THEN 1 ELSE 0 END) * 1000)::DOUBLE
                / count(*)::DOUBLE + 0.5) AS BIGINT) AS dup_frac_milli
    FROM chunk GROUP BY doc_id
    HAVING sum(CASE WHEN chunk_hash IN (SELECT chunk_hash FROM dup)
                    THEN 1 ELSE 0 END) > 0
    ORDER BY doc_id
    """,
)
def dedup_fastcdc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """FastCDC-normalized chunk dedup (operators/dedup.
    fastcdc_chunk_dedup; Xia et al. 2016): content-defined cuts with a
    4-token minimum chunk size — the clamp that removes cdc_chunks'
    trivially-colliding 1-token chunks while keeping edit
    re-synchronization. Boundary acceptance is a per-row sequential
    fold (eval_once-bound, no re-evaluation blowup); the oracle
    replays the identical recurrence as a recursive CTE carrying the
    accepted-cut list (the Viterbi state-carry pattern). Same output
    schema as dedup_cdc_chunks / dedup_paragraph_blocks for the
    three-way chunker A/B."""
    from denormalized_spark.operators import dedup

    d = t(spark, sf, "documents")
    return dedup.fastcdc_chunk_dedup(
        d, boundary_mod=_FCDC_MOD, min_tokens=_FCDC_MIN
    )


@q(
    "dedup_fastcdc_maxclamp",
    _fastcdc_oracle(_FCDC_MOD, _FCDC_MIN, _FCDC_MAX)
    + _FCDC_CHUNK_TAIL
    + """
    SELECT n_tokens,
           count(*)::BIGINT AS n_chunks,
           count(DISTINCT doc_id)::BIGINT AS n_docs
    FROM chunk GROUP BY n_tokens ORDER BY n_tokens
    """,
)
def dedup_fastcdc_maxclamp(spark: SparkSession, sf: str) -> DataFrame:
    """FastCDC with BOTH clamps (operators/dedup.fastcdc_chunks with
    max_tokens; Xia et al. 2016 §3.2's normalized chunking): gap ≥ 12
    forces a cut regardless of the hash, bounding the worst-case
    chunk that a boundary-free token run otherwise grows to document
    size. Reported as the chunk-size histogram ``(n_tokens, n_chunks,
    n_docs)`` — every row must sit in [1, 12] with the clamp on
    (min-only chunking has a geometric tail past 12; the unit test
    pins the bound). Same per-row sequential fold as
    dedup_fastcdc_chunks — the clamp only widens the cut-acceptance
    predicate; oracle = the shared recursive CTE with the OR'd
    forced-cut test. Completes the r13 FastCDC seed (docstring
    documented the min-only gap)."""
    from denormalized_spark.operators import dedup

    d = t(spark, sf, "documents")
    chunks = dedup.fastcdc_chunks(
        d, boundary_mod=_FCDC_MOD, min_tokens=_FCDC_MIN,
        max_tokens=_FCDC_MAX,
    )
    return (
        chunks.groupBy("n_tokens")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
        )
        .orderBy("n_tokens")
    )


@q(
    "curation_softdedup_weights",
    _LSH_CC_CTES
    + """,
    comp AS (SELECT id AS doc_id, min(label) AS lab FROM reach GROUP BY id),
    csz AS (SELECT lab, count(*)::BIGINT AS cluster_size FROM comp GROUP BY lab),
    wts AS (
      SELECT dd.doc_id, dd.source,
             coalesce(csz.cluster_size, 1)::BIGINT AS cluster_size
      FROM documents dd
      LEFT JOIN comp ON comp.doc_id = dd.doc_id
      LEFT JOIN csz ON csz.lab = comp.lab
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(CAST(floor(1000.0 / cluster_size::DOUBLE + 0.5) AS BIGINT))::BIGINT
             AS effective_milli,
           CAST(floor(sum(CAST(floor(1000.0 / cluster_size::DOUBLE + 0.5)
                                AS BIGINT))::DOUBLE / count(*)::DOUBLE + 0.5)
                AS BIGINT) AS keep_ratio_milli
    FROM wts GROUP BY source ORDER BY source
    """,
    eager=True,
)
def curation_softdedup_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Soft deduplication rollup (operators/curation.softdedup_weights):
    every document weighted 1/|near-dup cluster| (clusters = the
    LSH-gated Jaccard >= 0.2 transitive closure of
    dedup_connected_components; absent docs are singletons) — the
    downweight-don't-delete alternative to survivor-pick dedup, so
    each piece of content contributes unit training mass however many
    copies exist. Per source: exact integer sum of milli weights
    (effective corpus size) and the implied keep ratio. The oracle
    replays the closure as the same recursive CTE."""
    from denormalized_spark.operators import curation, dedup

    d = t(spark, sf, "documents")
    cc = dedup.connected_components(_lsh_jaccard_pairs(d), "id_a", "id_b")
    weighted = curation.softdedup_weights(d, cc)
    return (
        weighted.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("weight_milli").cast("long").alias("effective_milli"),
            F.floor(
                F.sum("weight_milli").cast("double")
                / F.count("*").cast("double")
                + F.lit(0.5)
            ).cast("long").alias("keep_ratio_milli"),
        )
        .orderBy("source")
    )


def _pca_oracle(dim: int = 8, iterations: int = 8) -> str:
    """Unrolled power-iteration replay: 6-rounded means/covariance
    avg() cells, then per-iteration matrix-vector product + re-rounded
    normalization — float ops in exactly the operator's fold order
    (a leading 0.0 term, left-associated sums)."""
    xs = [f"embedding[{j + 1}]::DOUBLE" for j in range(dim)]
    m_cols = ", ".join(
        f"round(avg({xs[j]}), 6) AS m{j}" for j in range(dim)
    )
    c_cols = ", ".join(
        f"round(avg(({xs[j]} - m{j}) * ({xs[k]} - m{k})), 6) AS c{j}_{k}"
        for j in range(dim)
        for k in range(dim)
    )
    c_list = ", ".join(f"c{j}_{k}" for j in range(dim) for k in range(dim))
    v0 = ", ".join(
        f"{'1.0' if j == 0 else '0.0'}::DOUBLE AS v{j}" for j in range(dim)
    )
    its = ""
    prev = "it0"
    for r in range(1, iterations + 1):
        w_cols = ", ".join(
            "(0.0 + "
            + " + ".join(f"(c{j}_{k} * v{k})" for k in range(dim))
            + f") AS w{j}"
            for j in range(dim)
        )
        nrm = (
            "sqrt(0.0 + "
            + " + ".join(f"(w{j} * w{j})" for j in range(dim))
            + ")"
        )
        v_cols = ", ".join(
            f"CASE WHEN {nrm} > 0 THEN round(w{j} / {nrm}, 6) "
            f"ELSE {'1.0' if j == 0 else '0.0'}::DOUBLE END AS v{j}"
            for j in range(dim)
        )
        its += f""",
    pw{r} AS (SELECT {c_list}, {w_cols} FROM {prev}),
    it{r} AS (SELECT {c_list}, {v_cols} FROM pw{r})"""
        prev = f"it{r}"
    quad = (
        "0.0 + "
        + " + ".join(
            f"(v{j} * c{j}_{k} * v{k})" for j in range(dim) for k in range(dim)
        )
    )
    sel = " UNION ALL ".join(
        f"SELECT {j}::INT AS idx, v{j} AS loading_r6 FROM {prev}"
        for j in range(dim)
    )
    return f"""
    WITH mm AS (SELECT {m_cols} FROM embeddings),
    cov AS (SELECT {c_cols} FROM embeddings CROSS JOIN mm),
    it0 AS (SELECT {c_list}, {v0} FROM cov){its}
    SELECT * FROM (
      {sel}
      UNION ALL
      SELECT -1::INT, round({quad}, 6) FROM {prev}
    ) ORDER BY idx
    """


@q("sim_pca_top_component", _pca_oracle(), eager=True)
def sim_pca_top_component(spark: SparkSession, sf: str) -> DataFrame:
    """Top principal component of the first 8 embedding coordinates
    (operators/similarity.pca_power_top_component; von Mises power
    iteration — the kernel inside every truncated-PCA solver): ONE
    data pass builds the 8×8 covariance (6-rounded avg cells), then
    8 iterations of v ← C·v/‖C·v‖ run on 1-row metadata with
    per-round re-rounding (the kmeans/pagerank discipline), making
    the whole float trajectory checkable against the unrolled-CTE
    replay. Returns the 8 loadings plus the Rayleigh-quotient
    eigenvalue row (idx = -1)."""
    from denormalized_spark.operators import similarity

    e = t(spark, sf, "embeddings")
    return similarity.pca_power_top_component(e, dim=8, iterations=8)
