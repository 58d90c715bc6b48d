"""Corpus-curation queries: benchmark decontamination, context-window
chunking, deterministic mixture sampling, and the end-to-end curation
pipeline — each with a DuckDB oracle recomputing the identical
md5-based decisions.

Spark implementations live in operators/curation.py; the oracles
reuse the engine-portable hash of operators/_hashing.py (token hash =
first 8 md5 hex chars) and the shared n-gram SQL of queries/_util.py
(n-gram hash = positional-constant mix mod 2^32).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from denormalized_spark.operators import curation, text
from denormalized_spark.operators._hashing import md5_int_sql, md5_unit_sql
from denormalized_spark.queries._util import (
    _QC0_WEIGHT,
    _STOP_SQL,
    _TOKEN_HASHES,
    _TOKS,
    _gram_sql,
    q,
    t,
)


#: documents CTE → per-doc 5-gram hash arrays (benchmark split on doc_id % 20 == 7)
_GRAMS_CTE = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
hh AS (SELECT doc_id,
              {_TOKEN_HASHES} AS th
       FROM d),
g AS (SELECT doc_id, {_gram_sql(5)} AS grams FROM hh),
bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 20 = 7),
cont AS (SELECT DISTINCT x.doc_id
         FROM (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 20 != 7) x
         JOIN bench USING (gram))
"""


def _split(spark: SparkSession, sf: str):
    """Benchmark/corpus split used by the decontamination queries:
    every 20th doc (doc_id % 20 == 7) plays the eval set."""
    d = t(spark, sf, "documents")
    return d.filter(F.col("doc_id") % 20 != 7), d.filter(F.col("doc_id") % 20 == 7)


@q(
    "curation_decontaminate",
    _GRAMS_CTE
    + """
    SELECT doc_id, source FROM documents
    WHERE doc_id % 20 != 7 AND doc_id NOT IN (SELECT doc_id FROM cont)
    """,
)
def curation_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: drop corpus docs sharing any word
    5-gram with the held-out eval split (the 13-gram rule scaled to
    this corpus's ~30-word vocabulary). Corpus side never shuffles:
    broadcast gram set in, broadcast contaminated-id set out."""
    corpus, bench = _split(spark, sf)
    clean = curation.decontaminate(corpus, bench, n=5)
    return clean.select("doc_id", "source")


@q(
    "curation_decontaminate_bloom",
    _GRAMS_CTE
    + """
    SELECT doc_id, source FROM documents
    WHERE doc_id % 20 != 7 AND doc_id NOT IN (SELECT doc_id FROM cont)
    """,
)
def curation_decontaminate_bloom(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB decontamination path: same semantics as
    ``curation_decontaminate`` (identical oracle), with the corpus
    explode gated behind the 1-row broadcast Bloom bitmap
    (operators/curation.py ``prefilter_bits``) so only possible
    sharers explode. Hash-equality against the ungated oracle IS the
    no-false-negatives proof."""
    corpus, bench = _split(spark, sf)
    clean = curation.decontaminate(corpus, bench, n=5, prefilter_bits=1 << 18)
    return clean.select("doc_id", "source")


@q(
    "curation_chunks",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
    u AS (SELECT doc_id,
                 unnest([{{'cid': s // 24, 'txt': array_to_string(ws[s+1 : s+32], ' ')}}
                         for s in range(0, len(ws), 24)]) AS c
          FROM d)
    SELECT doc_id, CAST(c.cid AS INT) AS chunk_id, md5(c.txt) AS chunk_hash,
           len(string_split(c.txt, ' ')) AS n_chunk_tokens
    FROM u
    """,
)
def curation_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Context-window chunking: 32-token chunks, stride 24 (8-token
    overlap). Pure projection + explode — scan speed; chunk text is
    reduced to its md5 so the result stays narrow."""
    d = t(spark, sf, "documents")
    out = curation.chunk_documents(
        d, chunk_tokens=32, stride=24, keep_text=False
    )
    return out.select("doc_id", "chunk_id", "chunk_hash", "n_chunk_tokens")


#: target mixture: web-ish sources kept at 90%, the long tail at 25%,
#: src15+ absent from the rate table → dropped (default_rate=0)
_MIX_RATES = {f"src{i}": (0.9 if i < 5 else 0.25) for i in range(15)}
_MIX_VALUES = ", ".join(f"('{k}', {v})" for k, v in _MIX_RATES.items())


@q(
    "dedup_ngram_duplication_rate",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
    hh AS (SELECT doc_id,
                  {_TOKEN_HASHES} AS th
           FROM d),
    g AS (SELECT doc_id, {_gram_sql(3)} AS grams FROM hh),
    e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    c AS (SELECT gram, count(*) AS dfreq FROM e GROUP BY gram)
    SELECT e.doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN c.dfreq >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           round(sum(CASE WHEN c.dfreq >= 2 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS dup_gram_rate
    FROM e JOIN c USING (gram)
    GROUP BY e.doc_id
    """,
)
def dedup_ngram_duplication_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc duplicated-content rate (operators/dedup.py
    duplicated_ngram_rate): fraction of each doc's distinct 3-grams
    appearing in >=1 other document — the corpus-level boilerplate/
    memorization signal pairwise dedup misses. One gram-keyed shuffle
    (exchange reused for the count join), no pair generation."""
    from denormalized_spark.operators.dedup import duplicated_ngram_rate

    return duplicated_ngram_rate(t(spark, sf, "documents"), n=3)


@q(
    "dedup_gram_novelty",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
    hh AS (SELECT doc_id,
                  {_TOKEN_HASHES} AS th
           FROM d),
    g AS (SELECT doc_id, {_gram_sql(3)} AS grams FROM hh),
    e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    f AS (SELECT gram, min(doc_id) AS first_id FROM e GROUP BY gram)
    SELECT e.doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN f.first_id = e.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           round(sum(CASE WHEN f.first_id = e.doc_id THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS novelty_rate
    FROM e JOIN f USING (gram)
    GROUP BY e.doc_id
    """,
)
def dedup_gram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc novelty by arrival order (operators/dedup.gram_novelty):
    fraction of each doc's distinct 3-grams whose first corpus
    occurrence is this doc — the incremental-contribution curation
    signal, ordered complement of dedup_ngram_duplication_rate. Same
    budget: one gram-keyed shuffle (exchange reused for the min-owner
    join), no pair generation."""
    from denormalized_spark.operators.dedup import gram_novelty

    return gram_novelty(t(spark, sf, "documents"), n=3)


_SOLVER_W = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
_SOLVER_W_VALUES = ", ".join(f"('{k}', {v})" for k, v in _SOLVER_W.items())


@q(
    "curation_mixture_solver",
    f"""
    WITH avail AS (
      SELECT source, CAST(sum(len({_TOKS})) AS DOUBLE) AS a
      FROM documents GROUP BY source
    ),
    -- LEFT join FROM the weight table, mirroring mixture_solve: a
    -- weighted stratum absent from the corpus keeps its constraint
    -- a/w = 0 (forcing T = 0) instead of dropping out of the min
    j AS (SELECT wt.source, coalesce(a, 0.0) AS a, w
          FROM (VALUES {_SOLVER_W_VALUES}) wt(source, w)
          LEFT JOIN avail USING (source)),
    t AS (SELECT min(a / w) AS t FROM j),
    rates AS (
      -- floor before the BIGINT cast: DuckDB CAST rounds-to-nearest,
      -- Spark cast truncates; both sides floor explicitly
      SELECT j.source, CAST(a AS BIGINT) AS available_tokens,
             CASE WHEN a > 0 THEN least(1.0, w * t.t / a) ELSE 0.0 END AS rate,
             CAST(floor(w * t.t) AS BIGINT) AS target_tokens
      FROM j, t
    ),
    kept AS (
      SELECT d.source, count(*) AS n_docs_kept,
             CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens_kept
      FROM documents d JOIN rates USING (source)
      WHERE {md5_unit_sql("'mix0' || CAST(d.doc_id AS VARCHAR)", 8)} < rates.rate
      GROUP BY d.source
    )
    SELECT rates.source, available_tokens, round(rate, 6) AS rate, target_tokens,
           coalesce(n_docs_kept, 0) AS n_docs_kept,
           coalesce(n_tokens_kept, 0) AS n_tokens_kept
    FROM rates LEFT JOIN kept USING (source)
    """,
)
def curation_mixture_solver(spark: SparkSession, sf: str) -> DataFrame:
    """Mixture SOLVER (operators/curation.py mixture_solve): derive
    the largest token budget achievable under target source weights
    (T = min available/weight — the binding source keeps rate 1),
    then apply the solved per-source rates deterministically. Output
    is the per-source plan plus realized counts. Lazy and collect-
    free: k-row availability agg, 1-row budget broadcast, one corpus
    scan."""
    d = t(spark, sf, "documents")
    sampled, rates = curation.mixture_solve(d, _SOLVER_W)
    realized = sampled.groupBy("source").agg(
        F.count("*").alias("n_docs_kept"),
        F.sum(text.token_count("text")).cast("long").alias("n_tokens_kept"),
    )
    return (
        rates.join(realized, "source", "left")
        .select(
            "source",
            "available_tokens",
            F.round("rate", 6).alias("rate"),
            "target_tokens",
            F.coalesce("n_docs_kept", F.lit(0).cast("long")).alias("n_docs_kept"),
            F.coalesce("n_tokens_kept", F.lit(0).cast("long")).alias(
                "n_tokens_kept"
            ),
        )
    )


@q(
    "curation_eval_sample",
    f"""
    WITH r AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {md5_unit_sql("'ev0' || CAST(doc_id AS VARCHAR)", 8)} ASC,
                        doc_id ASC
             ) AS rk
      FROM documents
    )
    SELECT doc_id, lang, CAST(rk AS INT) AS rk FROM r WHERE rk <= 10
    """,
)
def curation_eval_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-SIZE deterministic per-group sampling
    (operators/curation.sample_n_per_group): exactly 10 docs per
    language, ranked by md5 fraction — the eval-set builder whose
    sample is uniform, engine-reproducible, and append-stable in the
    reservoir sense. One group-keyed shuffle with WindowGroupLimit
    rank pushdown."""
    d = t(spark, sf, "documents")
    out = curation.sample_n_per_group(d, n=10, group_col="lang")
    w_frac = curation.sample_fraction("doc_id", "ev0")
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(w_frac.asc(), F.col("doc_id").asc())
    return out.select(
        "doc_id", "lang", F.row_number().over(w).cast("int").alias("rk")
    )


@q(
    "curation_mixture",
    f"""
    SELECT d.doc_id, d.source FROM documents d
    JOIN (VALUES {_MIX_VALUES}) r(source, rate) USING (source)
    WHERE {md5_unit_sql("'mix1' || CAST(d.doc_id AS VARCHAR)", 8)} < r.rate
    """,
)
def curation_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic mixture sampling: per-source keep rates applied
    via an md5 fraction — reproducible across reruns, partitionings,
    and engines (rand(seed) is partition-dependent; this is not)."""
    d = t(spark, sf, "documents")
    out = curation.mixture_sample(d, _MIX_RATES, seed="mix1")
    return out.select("doc_id", "source")


_DSIR_B = 4096

#: the DSIR estimator fit as shared oracle CTEs (toks → per-bucket
#: counts → corpus totals → Laplace-smoothed micro-nat LLR weights),
#: reused by both the weighting and the resampling entries
_DSIR_W_CTES = f"""toks AS (
      SELECT doc_id, lang = 'en' AS is_tgt,
             {md5_int_sql("tok", 8)} % {_DSIR_B} AS bucket
      FROM (SELECT doc_id, lang, unnest({_TOKS}) AS tok FROM documents)
    ),
    b AS (
      SELECT bucket, count(*) AS raw_cnt,
             count(*) FILTER (WHERE is_tgt) AS tgt_cnt
      FROM toks GROUP BY bucket
    ),
    tot AS (SELECT sum(raw_cnt) AS rt, sum(tgt_cnt) AS tt FROM b),
    w AS (
      SELECT bucket,
             CAST(floor((ln((tgt_cnt + 1)::DOUBLE / (tt + {_DSIR_B})::DOUBLE)
                       - ln((raw_cnt + 1)::DOUBLE / (rt + {_DSIR_B})::DOUBLE))
                        * 1000000.0 + 0.5) AS BIGINT) AS w_micros
      FROM b CROSS JOIN tot
    )"""


@q(
    "curation_dsir_weights",
    f"""
    WITH {_DSIR_W_CTES}
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT)        AS n_tokens,
           CAST(sum(w.w_micros) AS BIGINT) AS weight_micros,
           CAST(sum(w.w_micros) AS BIGINT) > 0 AS kept
    FROM toks t JOIN w USING (bucket)
    GROUP BY t.doc_id
    """,
)
def curation_dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance weighting (Xie et al. 2023): hashed-unigram
    log-likelihood ratio of the English slice vs the whole corpus,
    summed per document in integer micro-nats (exact under any
    partition order — the float sum a naive port would use is not
    hash-stable). ``kept`` = more target-like than raw. The estimator
    fit (per-bucket Laplace-smoothed counts) and the scoring pass are
    both replayed by the oracle from the same md5 token-hash
    contract the dedup oracles use."""
    d = t(spark, sf, "documents")
    return curation.importance_weights(
        d, target=F.col("lang") == "en", num_buckets=_DSIR_B
    )


_DSIR_N = 100


@q(
    "curation_dsir_resample",
    f"""
    WITH {_DSIR_W_CTES},
    scored AS (
      SELECT t.doc_id, CAST(sum(w.w_micros) AS BIGINT) AS weight_micros
      FROM toks t JOIN w USING (bucket) GROUP BY t.doc_id
    )
    SELECT doc_id, weight_micros,
           weight_micros + CAST(floor(-ln(-ln(
             (({md5_int_sql("'dsir-rs0' || CAST(doc_id AS VARCHAR)", 8)}
               + 0.5) / 4294967296.0)
           )) * 1000000.0 + 0.5) AS BIGINT) AS key_micros
    FROM scored
    ORDER BY key_micros DESC, doc_id
    LIMIT {_DSIR_N}
    """,
)
def curation_dsir_resample(spark: SparkSession, sf: str) -> DataFrame:
    """The sampling half of DSIR (Xie et al. 2023): draw {n} docs
    without replacement ∝ exp(importance weight) via the Gumbel-top-k
    trick — the ranking key is weight_micros + floored micro-nat
    Gumbel noise from the md5 uniform, a plain BIGINT both engines
    compute identically. Spark executes the top-n as
    TakeOrderedAndProject over the broadcast-scored corpus; the
    oracle replays the estimator fit, the scoring sum, the noise, and
    the cut."""
    d = t(spark, sf, "documents")
    return curation.importance_resample(
        d, n=_DSIR_N, target=F.col("lang") == "en", num_buckets=_DSIR_B
    )


@q(
    "curation_split",
    f"""
    WITH a AS (
      SELECT source,
             CASE WHEN {md5_unit_sql("'split0' || CAST(doc_id AS VARCHAR)", 8)} < 0.8
                  THEN 'train'
                  WHEN {md5_unit_sql("'split0' || CAST(doc_id AS VARCHAR)", 8)} < 0.9
                  THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, source, count(*) AS n FROM a GROUP BY split, source
    """,
)
def curation_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split (md5-fraction
    boundaries, engine-portable), reported as per-(split, source)
    counts. The assignment itself is a zero-shuffle projection; the
    group-aware variant (hash a near-dup cluster label instead of the
    row id, preventing leakage across splits) is covered by unit
    tests."""
    d = t(spark, sf, "documents")
    out = curation.split_assign(d, {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.groupBy("split", "source").agg(F.count("*").alias("n"))


@q(
    "curation_pack",
    f"""
    WITH d AS (SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents),
    o AS (SELECT doc_id, n_tokens,
                 CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                 AS token_offset
          FROM d)
    SELECT doc_id, n_tokens, token_offset,
           token_offset // 256 AS first_seq,
           CASE WHEN n_tokens > 0 THEN (token_offset + n_tokens - 1) // 256
                ELSE token_offset // 256 END AS last_seq
    FROM o
    """,
)
def curation_pack(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing: docs laid end-to-end in doc_id order, chopped
    into 256-token training sequences; each doc reports its global
    token offset and first/last sequence. The running sum is computed
    without a single-reducer window (range shuffle + broadcast prefix
    offsets — operators/ranking.py), unlike the oracle's global OVER."""
    d = t(spark, sf, "documents").select(
        "doc_id", text.token_count("text").alias("n_tokens")
    )
    out = curation.pack_documents(d, seq_tokens=256)
    return out.select("doc_id", "n_tokens", "token_offset", "first_seq", "last_seq")


#: deterministic PII injection for the redaction query: the corpus has
#: no real PII, so both engines append the same synthetic spans
_PII_SUFFIX_SQL = (
    "' contact user' || CAST(doc_id AS VARCHAR) || '@mail' || CAST(doc_id % 7 AS VARCHAR) "
    "|| '.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1 ssn 123-45-' "
    "|| CAST(1000 + doc_id % 9000 AS VARCHAR)"
)


@q(
    "curation_redact",
    f"""
    WITH d AS (SELECT doc_id, text || {_PII_SUFFIX_SQL} AS text FROM documents),
    r AS (SELECT doc_id,
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
                     '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '<IP>', 'g'),
                   '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b', '<SSN>', 'g') AS redacted
          FROM d)
    SELECT doc_id, md5(redacted) AS redacted_hash,
           len(regexp_extract_all(redacted, '<EMAIL>|<IP>|<SSN>')) AS n_redactions
    FROM r
    """,
)
def curation_redact(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrubbing: emails / IPv4s / SSN-format spans replaced with
    typed placeholders. The corpus is synthetic (no real PII), so the
    query injects deterministic spans first; both engines then redact
    identically. Pure projection — scan speed."""
    d = t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            "text",
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".com from 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 ssn 123-45-"), (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        ).alias("text"),
    )
    red = d.select("doc_id", curation.redact_pii("text").alias("redacted"))
    return red.select(
        "doc_id",
        F.md5("redacted").alias("redacted_hash"),
        F.size(F.expr(r"regexp_extract_all(redacted, '<EMAIL>|<IP>|<SSN>', 0)")).alias(
            "n_redactions"
        ),
    )




@q(
    "curation_quota",
    f"""
    WITH d AS (SELECT doc_id, source,
                      len(list_filter({_TOKS}, x -> list_contains({_STOP_SQL}, lower(x))))::DOUBLE
                      / greatest(len({_TOKS}), 1) AS score
               FROM documents),
    r AS (SELECT doc_id, source, score,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY score DESC, doc_id ASC) AS rk
          FROM d)
    SELECT doc_id, source, round(score, 4) AS score FROM r WHERE rk <= 10
    """,
)
def curation_quota(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain quota selection: the 10 best docs per source by
    stopword density (stand-in for a model-based quality score; same
    column contract). Per-group top-k via window row_number — Spark
    rewrites it to a WindowGroupLimit, so no group materializes more
    than the quota past the sort. Ties broken by doc_id: fully
    deterministic, hence oracle-checkable."""
    d = t(spark, sf, "documents")
    scored = d.select(
        "doc_id", "source", text.stopword_ratio("text").alias("score")
    )
    out = curation.quota_select(
        scored, quota=10, strata_col="source", score_col="score"
    )
    return out.select("doc_id", "source", F.round("score", 4).alias("score"))


@q(
    "curation_contamination_report",
    _GRAMS_CTE
    + """
    , bg AS (SELECT doc_id AS bench_id, unnest(grams) AS gram FROM g
             WHERE doc_id % 20 = 7),
    cg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 20 != 7),
    hits AS (
      SELECT DISTINCT bg.bench_id, cg.doc_id
      FROM bg JOIN cg USING (gram)
    )
    SELECT bench_id, CAST(count(*) AS BIGINT) AS n_contaminating_docs
    FROM hits GROUP BY bench_id ORDER BY n_contaminating_docs DESC, bench_id
    """,
)
def curation_contamination_report(spark: SparkSession, sf: str) -> DataFrame:
    """The ops-side inverse of decontamination: per BENCHMARK doc, how
    many corpus docs share ≥1 5-gram with it — the 'which eval sets
    are compromised, how badly' report run before any training job.
    Same broadcast-gated shape as decontaminate (the benchmark side is
    tiny); the corpus explodes once and joins on the gram key."""
    corpus, bench = _split(spark, sf)
    from denormalized_spark.operators.dedup import shingle_hashes

    bg = bench.select(
        F.col("doc_id").alias("bench_id"),
        F.explode(shingle_hashes("text", 5)).alias("gram"),
    )
    cg = corpus.select("doc_id", F.explode(shingle_hashes("text", 5)).alias("gram"))
    hits = cg.join(F.broadcast(bg), "gram").select("bench_id", "doc_id").distinct()
    return (
        hits.groupBy("bench_id")
        .agg(F.count("*").cast("long").alias("n_contaminating_docs"))
        .orderBy(F.desc("n_contaminating_docs"), F.asc("bench_id"))
    )


@q(
    "curation_full_funnel",
    _GRAMS_CTE
    + f"""
    , tk AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents
             WHERE doc_id % 20 != 7),
    quality AS (
      SELECT * FROM tk
      WHERE 1.0 / (1.0 + exp(-(
        list_sum(list_transform(toks, t -> {_QC0_WEIGHT}))
        / greatest(len(toks), 1)))) > 0.5
    ),
    fp AS (SELECT *, md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS f
           FROM quality),
    keepers AS (SELECT f, min(doc_id) AS keep_id FROM fp GROUP BY f),
    dd AS (SELECT fp.* FROM fp JOIN keepers k
           ON fp.f = k.f AND fp.doc_id = k.keep_id),
    clean AS (SELECT * FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
    sp AS (
      SELECT *, CASE WHEN {md5_unit_sql("'split0' || CAST(doc_id AS VARCHAR)", 8)} < 0.9
                     THEN 'train' ELSE 'val' END AS split
      FROM clean
    )
    SELECT split, source, count(*) AS n_docs,
           CAST(sum(len(toks)) AS BIGINT) AS n_tokens
    FROM sp GROUP BY split, source
    """,
)
def curation_full_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """The COMPLETE training-data funnel as one Catalyst plan:
    model-based quality filter (hashed-linear classifier, per-row) →
    fingerprint near-dup removal (min-id survivor) → benchmark
    decontamination (broadcast n-gram gate) → deterministic 90/10
    train/val split → per-(split, source) token budget. Every stage
    is either a projection or a key-local shuffle; the only broadcast
    is the benchmark gram set. This is the query a 100 TB pre-training
    prep run actually executes.

    Stage split (r14 post-optimization runs of the since-deleted
    tools/profile_stages.py,
    idle box, sf0.1, min-of-3): cold 1.53 s, WARM RE-EXECUTION
    0.089 s → compile share 94%. Cumulative stage walls:
    quality_filter 0.75 s, +fingerprint_dedup 0.03 s, +decontaminate
    0.52 s, split+agg within noise (r14 removed the duplicated
    corpus shuffle via gram_source=corpus; pre-optimization: cold
    1.81 s, fingerprint_dedup marginal 0.27 s). The four-stage funnel compiles one large
    whole-stage-codegen region per stage — that compile, not
    execution, is what the bench ratio tracks at sf0.1."""
    from pyspark.sql import Window

    corpus, bench = _split(spark, sf)
    q_pass = corpus.filter(text.hashed_linear_score("text") > 0.5)
    fp = q_pass.withColumn("f", text.fingerprint("text"))
    # min-id survivor per fingerprint as a rank-limit window: ONE
    # fingerprint-keyed shuffle and one corpus pass (the groupBy +
    # semi-join form costs two of each — measured 33% slower at sf0.1)
    w = Window.partitionBy("f").orderBy("doc_id")
    dd = (
        fp.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "source", "text")
    )
    # Bloom prefilter off at bench scale — see curation_pipeline's
    # docstring for the r6 measurement (gate on at explode-dominated
    # corpus scales; results identical either way).
    # gram_source=corpus (r14): probe contamination on the RAW corpus
    # scan instead of the dd stream — dd's subtree (quality classifier
    # + fingerprint-window SHUFFLE of the whole corpus) was duplicated
    # into the gram-explode branch, i.e. two corpus shuffles per run.
    # Identical result (the oracle's cont CTE already probes the raw
    # corpus; extra ids never match the anti-join), one corpus-wide
    # shuffle instead of two.
    clean = curation.decontaminate(dd, bench, n=5, gram_source=corpus)
    sp = curation.split_assign(clean, {"train": 0.9, "val": 0.1})
    return sp.groupBy("split", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(text.token_count("text")).cast("long").alias("n_tokens"),
    )


@q(
    "curation_pipeline",
    _GRAMS_CTE
    + f"""
    , clean AS (
      SELECT * FROM documents
      WHERE doc_id % 20 != 7 AND doc_id NOT IN (SELECT doc_id FROM cont)
    ),
    sampled AS (
      SELECT c.doc_id, c.source, c.text FROM clean c
      JOIN (VALUES {_MIX_VALUES}) r(source, rate) USING (source)
      WHERE {md5_unit_sql("'mix1' || CAST(c.doc_id AS VARCHAR)", 8)} < r.rate
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
    FROM sampled GROUP BY source
    """,
)
def curation_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end curation: decontaminate → mixture-sample → token
    budget by source. One broadcast-gated pass over the corpus plus a
    final partial/final aggregation — the full pre-training data-prep
    funnel as a single Catalyst plan.

    Why the Bloom prefilter stays OFF here (measured, r6): at sf0.1
    the gated form runs 2.42 s vs 1.52 s ungated — the bitmap build
    jobs plus the per-row probe pass cost more than the 5000-doc
    explode they avoid. At corpus scales where the explode dominates
    the scan, flip it on — the result is hash-identical (no false
    negatives), driver-proven by ``curation_decontaminate_bloom``.

    Stage split (r14 post-optimization runs of the since-deleted
    tools/profile_stages.py,
    idle box, sf0.1, min-of-3): cold 1.01 s, WARM RE-EXECUTION
    0.071 s → compile share 93%. Cumulative stage walls:
    decontaminate 0.78 s, +mixture_sample 0.06 s, +token agg 0.32 s
    (r14 cut the bench-gram distinct and the rate-table join; the
    pre-optimization split was cold 1.85 s / decontaminate 1.32 s). The own-oracle ratio
    bench records is ~95% Janino/analysis fixed cost that (a) never
    reaches an executor, (b) inflates under host CPU contention —
    the r13 driver-run 7.19× vs this-tree idle 3.11× is that fixed
    cost moving, not the plan. At corpus scale the comparable number
    is the 0.09 s execution."""
    corpus, bench = _split(spark, sf)
    clean = curation.decontaminate(corpus, bench, n=5)
    sampled = curation.mixture_sample(clean, _MIX_RATES, seed="mix1")
    return sampled.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(text.token_count("text")).cast("long").alias("n_tokens"),
    )


@q(
    "curation_boilerplate_lines",
    """
    WITH aug AS (
      SELECT doc_id,
             concat_ws(chr(10), text,
                       CASE WHEN doc_id % 3 = 0
                            THEN 'all rights reserved - example corp' END,
                       CASE WHEN doc_id % 97 = 0
                            THEN 'rare footer line' END) AS text
      FROM documents
    ),
    l AS (
      SELECT doc_id, trim(unnest(string_split(text, chr(10)))) AS line FROM aug
    ),
    bl AS (
      SELECT line FROM (
        SELECT line, count(DISTINCT doc_id) AS nd FROM l WHERE line != ''
        GROUP BY line
      ) WHERE nd >= 10
    ),
    bset AS (SELECT coalesce(list(line), []) AS bl FROM bl)
    SELECT a.doc_id,
           array_to_string(
             list_filter(string_split(a.text, chr(10)),
                         x -> trim(x) = '' OR NOT list_contains(b.bl, trim(x))),
             chr(10)) AS clean_text,
           len(string_split(a.text, chr(10)))
             - len(string_split(array_to_string(
                 list_filter(string_split(a.text, chr(10)),
                             x -> trim(x) = '' OR NOT list_contains(b.bl, trim(x))),
                 chr(10)), chr(10))) AS n_removed
    FROM aug a CROSS JOIN bset b
    """,
)
def curation_boilerplate_lines(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style cross-document line dedup
    (operators/curation.remove_boilerplate_lines): the synthetic corpus
    has no repeated lines, so the query plants two deterministic
    footers — one on every third doc (167 docs, over the min_docs=10
    threshold → stripped everywhere) and one on every 97th (6 docs,
    under threshold → kept). The oracle recomputes the same counting,
    capping, and line filtering with DuckDB list functions."""
    d = t(spark, sf, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("all rights reserved - example corp"),
            ),
            F.when(F.col("doc_id") % 97 == 0, F.lit("rare footer line")),
        ).alias("text"),
    )
    out = curation.remove_boilerplate_lines(d, min_docs=10)
    n_lines = F.size(F.split("text", "\n"))
    n_clean = F.size(F.split("clean_text", "\n"))
    return out.select(
        "doc_id", "clean_text", (n_lines - n_clean).cast("long").alias("n_removed")
    )


@q(
    "curation_validate",
    f"""
    WITH agg AS (
      -- CAST ... AS BIGINT: DuckDB types sum(int) as HUGEINT, which pandas
      -- materializes as float64 and breaks the driver's value-hash vs Spark's
      -- long column (same fix as curation_pipeline's oracle).
      SELECT count(*) AS n,
             CAST(sum(CASE WHEN length(text) > 0 THEN 0 ELSE 1 END) AS BIGINT)
               AS v_text_nonempty,
             CAST(sum(CASE WHEN len({_TOKS}) >= 5 THEN 0 ELSE 1 END) AS BIGINT)
               AS v_min_tokens,
             CAST(sum(CASE WHEN lang IN ('en','de','fr','es') THEN 0 ELSE 1 END)
               AS BIGINT) AS v_known_lang,
             CAST(sum(CASE WHEN n_chars = length(text) THEN 0 ELSE 1 END)
               AS BIGINT) AS v_nchars_consistent,
             CAST(sum(CASE WHEN text IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS v_null__text,
             CAST(sum(CASE WHEN lang IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS v_null__lang
      FROM documents
    )
    SELECT 'text_nonempty' AS rule, n AS n_rows, v_text_nonempty AS n_violations,
           round(1.0 - v_text_nonempty / CAST(n AS DOUBLE), 6) AS pass_rate FROM agg
    UNION ALL SELECT 'min_tokens', n, v_min_tokens,
           round(1.0 - v_min_tokens / CAST(n AS DOUBLE), 6) FROM agg
    UNION ALL SELECT 'known_lang', n, v_known_lang,
           round(1.0 - v_known_lang / CAST(n AS DOUBLE), 6) FROM agg
    UNION ALL SELECT 'nchars_consistent', n, v_nchars_consistent,
           round(1.0 - v_nchars_consistent / CAST(n AS DOUBLE), 6) FROM agg
    UNION ALL SELECT 'null__text', n, v_null__text,
           round(1.0 - v_null__text / CAST(n AS DOUBLE), 6) FROM agg
    UNION ALL SELECT 'null__lang', n, v_null__lang,
           round(1.0 - v_null__lang / CAST(n AS DOUBLE), 6) FROM agg
    """,
)
def curation_validate(spark: SparkSession, sf: str) -> DataFrame:
    """Expectations gate (operators/curation.validate_corpus): 4
    content rules + null profile over documents, ALL evaluated in one
    partial-agged scan (no per-rule passes). The oracle recomputes the
    identical conditional counts."""
    from denormalized_spark.operators import text as txt

    d = t(spark, sf, "documents")
    rules = {
        "text_nonempty": F.length("text") > 0,
        "min_tokens": F.size(txt.tokens("text")) >= 5,
        "known_lang": F.col("lang").isin("en", "de", "fr", "es"),
        "nchars_consistent": F.col("n_chars") == F.length("text"),
    }
    out = curation.validate_corpus(
        d.select("text", "lang", "n_chars"), rules, include_null_profile=True
    )
    # keep the oracle's rule set: drop the auto null-profile rows the
    # SQL doesn't enumerate (documents has no null text/lang at these
    # SFs, but the rule ROWS must match exactly)
    return out.filter(
        F.col("rule").isin(
            "text_nonempty", "min_tokens", "known_lang", "nchars_consistent",
            "null__text", "null__lang",
        )
    )


@q(
    "curation_dedup_lines",
    """
    WITH aug AS (
      SELECT doc_id,
             concat_ws(chr(10), text,
                       'repeated nav block', text,
                       CASE WHEN doc_id % 2 = 0 THEN 'repeated nav block' END,
                       'unique footer ' || doc_id) AS text
      FROM documents
    ),
    s AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM aug),
    r AS (
      SELECT doc_id, len(ls) AS n_lines_before,
             [ls[j] for j in range(1, len(ls)+1)
                    if trim(ls[j]) = ''
                    OR list_position(list_transform(ls, x -> trim(x)),
                                     trim(ls[j])) = j] AS kept
      FROM s
    )
    SELECT doc_id,
           md5(array_to_string(kept, chr(10))) AS clean_hash,
           CAST(n_lines_before AS INT) AS n_lines_before,
           CAST(len(kept) AS INT) AS n_lines_after
    FROM r
    """,
)
def curation_dedup_lines(spark: SparkSession, sf: str) -> DataFrame:
    """Within-document duplicate-line removal (operators/curation.
    dedup_document_lines): keep-first per trimmed line, whitespace
    lines preserved. The synthetic corpus has no newlines, so each doc
    is augmented with a repeated nav block (and the doc body itself
    repeated) before the rewrite; both engines then drop the same
    lines. Pure per-row projection — zero shuffles."""
    d = t(spark, sf, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            "text",
            F.lit("repeated nav block"),
            "text",
            F.when(F.col("doc_id") % 2 == 0, F.lit("repeated nav block")),
            F.concat(F.lit("unique footer "), F.col("doc_id").cast("string")),
        ).alias("text"),
    )
    before = F.size(F.split("text", "\n")).alias("n_lines_before")
    out = curation.dedup_document_lines(d)
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_hash"),
        before,
        F.size(F.split("clean_text", "\n")).alias("n_lines_after"),
    )


@q(
    "curation_chunk_dup_rate",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
    u AS (SELECT doc_id,
                 unnest([md5(array_to_string(ws[s+1 : s+32], ' '))
                         for s in range(0, len(ws), 32)]) AS h
          FROM d),
    hc AS (SELECT h, count(DISTINCT doc_id) AS nd FROM u GROUP BY h)
    SELECT u.doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN hc.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_chunks,
           round(sum(CASE WHEN hc.nd > 1 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS chunk_dup_rate
    FROM u JOIN hc USING (h)
    GROUP BY u.doc_id
    """,
)
def curation_chunk_dup_rate(spark: SparkSession, sf: str) -> DataFrame:
    """CHUNK-granular duplication: split every doc into 32-token
    chunks (disjoint), hash them, and report per-document the
    fraction of chunks that also appear in ANOTHER document — the
    mid-scale dup signal between exact document dedup (too coarse:
    one changed line defeats it) and shingle Jaccard (pairwise): a
    doc scoring 0.8 here is mostly recycled content even if no single
    whole-doc pair crosses a Jaccard threshold. Plan: chunk explode →
    one chunk-hash-keyed count shuffle (distinct-doc counts) → rejoin
    the chunk stream → per-doc aggregate. Work linear in corpus
    tokens; the hash table is chunk-type-bounded."""
    d = t(spark, sf, "documents")
    chunks = curation.chunk_documents(d, chunk_tokens=32, keep_text=False).select(
        "doc_id", F.col("chunk_hash").alias("h")
    )
    hc = chunks.groupBy("h").agg(F.countDistinct("doc_id").alias("nd"))
    return (
        chunks.join(hc, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_shared_chunks"),
            F.round(
                F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
                / F.count("*"),
                6,
            ).alias("chunk_dup_rate"),
        )
    )


@q(
    "curation_drift_report",
    f"""
    WITH d AS (
      SELECT lang, doc_id % 2 = 0 AS prev, len({_TOKS}) AS nt,
             (CASE WHEN len({_TOKS}) BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END) AS len_ok
      FROM documents
    )
    SELECT lang,
           CAST(sum(CASE WHEN prev THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_prev,
           CAST(sum(CASE WHEN prev THEN 0 ELSE 1 END) AS BIGINT) AS n_docs_curr,
           CAST(sum(CASE WHEN prev THEN nt ELSE 0 END) AS BIGINT) AS tokens_prev,
           CAST(sum(CASE WHEN prev THEN 0 ELSE nt END) AS BIGINT) AS tokens_curr,
           round(avg(CASE WHEN prev THEN len_ok END), 6) AS len_ok_rate_prev,
           round(avg(CASE WHEN prev THEN NULL ELSE len_ok END), 6) AS len_ok_rate_curr,
           round(avg(CASE WHEN prev THEN NULL ELSE len_ok END)
                 - avg(CASE WHEN prev THEN len_ok END), 6) AS len_ok_rate_delta
    FROM d GROUP BY lang
    """,
)
def curation_drift_report(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot-over-snapshot drift: per language, doc/token volume
    and a quality-signal rate for the previous vs current crawl
    (parity split stands in for two snapshot partitions) plus the
    delta — the regression alarm a recurring ingest pipeline fires
    on. ONE conditional-aggregation scan, no self-join: at 100 TB the
    two snapshots are partition predicates on the same table, and the
    report is a single partial-agged pass over both."""
    d = t(spark, sf, "documents").select(
        "lang",
        (F.col("doc_id") % 2 == 0).alias("prev"),
        text.token_count("text").alias("nt"),
        F.when(
            text.token_count("text").between(10, 10000), F.lit(1.0)
        ).otherwise(F.lit(0.0)).alias("len_ok"),
    )
    p = F.col("prev")
    return d.groupBy("lang").agg(
        F.sum(F.when(p, 1).otherwise(0)).cast("long").alias("n_docs_prev"),
        F.sum(F.when(p, 0).otherwise(1)).cast("long").alias("n_docs_curr"),
        F.sum(F.when(p, F.col("nt")).otherwise(0)).cast("long").alias("tokens_prev"),
        F.sum(F.when(p, 0).otherwise(F.col("nt"))).cast("long").alias("tokens_curr"),
        F.round(F.avg(F.when(p, F.col("len_ok"))), 6).alias("len_ok_rate_prev"),
        F.round(F.avg(F.when(~p, F.col("len_ok"))), 6).alias("len_ok_rate_curr"),
        F.round(
            F.avg(F.when(~p, F.col("len_ok"))) - F.avg(F.when(p, F.col("len_ok"))),
            6,
        ).alias("len_ok_rate_delta"),
    )


@q(
    "curation_weighted_eval_sample",
    f"""
    WITH k AS (
      SELECT doc_id, source, n_chars,
             CAST(floor(ln(n_chars::DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
             + CAST(floor(-ln(-ln(
                 (({md5_int_sql("'wev0' || CAST(doc_id AS VARCHAR)", 8)}
                   + 0.5) / 4294967296.0)
               )) * 1000000.0 + 0.5) AS BIGINT) AS key
      FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY key DESC, doc_id) AS rk
          FROM k)
    SELECT doc_id, source, n_chars FROM r WHERE rk <= 20
    """,
)
def curation_weighted_eval_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted per-stratum sampling without replacement (Efraimidis &
    Spirakis 2006, Gumbel-key form): exactly 20 docs per source with
    inclusion probability proportional to length — the quality-weighted
    eval-set builder beside the uniform curation_eval_sample. Integer
    micro-nat keys (log-weight + Gumbel noise from the md5 uniform)
    make the draw reproducible across engines; one group-keyed shuffle
    + WindowGroupLimit rank."""
    d = t(spark, sf, "documents")
    out = curation.weighted_sample_n_per_group(
        d, n=20, weight="n_chars", group_col="source", seed="wev0"
    )
    return out.select("doc_id", "source", "n_chars")


@q(
    "curation_winsorize_prices",
    """
    WITH thr AS (
      SELECT quantile_cont(o_totalprice, 0.05) AS winsor_lo,
             quantile_cont(o_totalprice, 0.95) AS winsor_hi
      FROM orders
    )
    SELECT o_orderkey, o_totalprice,
           round(winsor_lo, 6) AS lo_r, round(winsor_hi, 6) AS hi_r,
           round(least(greatest(o_totalprice, winsor_lo), winsor_hi), 6)
             AS price_winsor
    FROM orders, thr
    """,
)
def curation_winsorize_prices(spark: SparkSession, sf: str) -> DataFrame:
    """Winsorize order prices at the exact [5%, 95%] percentiles —
    outlier clamping that preserves row count (the feature-pipeline
    form of outlier treatment; a filter would change batch
    cardinality). The thresholds are one linear-interpolated
    percentile agg (Spark percentile == DuckDB quantile_cont, the
    percentile-gate precedent) broadcast onto a map pass. See
    operators/curation.winsorize."""
    from denormalized_spark.operators.curation import winsorize

    o = t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    w = winsorize(o, "o_totalprice", 0.05, 0.95, out_col="price_winsor")
    return w.select(
        "o_orderkey",
        "o_totalprice",
        F.round("winsor_lo", 6).alias("lo_r"),
        F.round("winsor_hi", 6).alias("hi_r"),
        F.round("price_winsor", 6).alias("price_winsor"),
    )


@q(
    "curation_rank_normalize",
    """
    WITH rn AS (
      SELECT o_orderkey, o_totalprice,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rank,
             count(*) OVER () AS n
      FROM orders
    )
    SELECT o_orderkey, o_totalprice, CAST(rank AS BIGINT) AS rank,
           CAST(floor(rank::DOUBLE / (n + 1)::DOUBLE * 1000000 + 0.5) AS BIGINT)
             AS quantile_micro
    FROM rn
    """,
)
def curation_rank_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Rank-normalize order prices to (0,1) quantiles — the
    distribution-free feature transform. Ranks come from the
    scale-safe global row number (range partition + broadcast
    prefix sums), NOT a single-reducer window like the oracle's —
    same totals, 100 TB-safe. See operators/curation.rank_normalize."""
    from denormalized_spark.operators.curation import rank_normalize

    o = t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    return rank_normalize(o, "o_totalprice", "o_orderkey")


@q(
    "curation_temperature_mixture",
    """
    WITH sizes AS (SELECT source AS stratum, sum(n_chars)::BIGINT AS n
                   FROM documents GROUP BY 1),
    w AS (SELECT stratum, n,
                 CAST(floor(sqrt(n::DOUBLE) * 1000000 + 0.5) AS BIGINT)
                   AS temp_weight
          FROM sizes),
    tot AS (SELECT sum(n)::BIGINT AS tn, sum(temp_weight)::BIGINT AS tw
            FROM w),
    sh AS (
      SELECT stratum, n,
             CAST(floor((n * 1000000)::DOUBLE / tn::DOUBLE + 0.5) AS BIGINT)
               AS share_micro,
             temp_weight,
             CAST(floor((temp_weight * 1000000)::DOUBLE / tw::DOUBLE + 0.5)
                  AS BIGINT) AS temp_share_micro
      FROM w CROSS JOIN tot
    )
    SELECT stratum, n, share_micro, temp_weight, temp_share_micro,
           CASE WHEN share_micro > 0
                THEN CAST(floor((temp_share_micro * 1000)::DOUBLE
                         / share_micro::DOUBLE + 0.5) AS BIGINT)
                ELSE 0 END AS boost_milli
    FROM sh ORDER BY stratum
    """,
)
def curation_temperature_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """α=0.5 temperature-sampling mixture over sources, sized by
    character mass (operators/curation.temperature_mixture — the
    XLM/mBERT p_i ∝ n_i^α rule): natural share, smoothed share, and
    the boost each low-resource stratum receives. n^α stays on
    correctly-rounded sqrts (dyadic α only — pow() is rejected as an
    engine hazard) and every weight is micro-floored to an integer
    BEFORE the share division, so shares are integer ratios. One
    stratum-keyed agg; everything after is metadata with a 1-row
    broadcast total."""
    from denormalized_spark.operators.curation import temperature_mixture

    d = t(spark, sf, "documents")
    return temperature_mixture(d, "source", size_col="n_chars").orderBy("stratum")


_MIX_TARGETS = {
    "src0": 0.2, "src1": 0.1,
    **{f"src{i}": 0.05 for i in range(2, 10)},
    **{f"src{i}": 0.03 for i in range(10, 20)},
}


def _mix_div_oracle() -> str:
    rows = ", ".join(
        f"('{k}', {int(v * 1_000_000 + 0.5)})" for k, v in sorted(_MIX_TARGETS.items())
    )
    return f"""
    WITH obs AS (SELECT source AS stratum, count(*)::BIGINT AS n
                 FROM documents GROUP BY 1),
    tgt(stratum, target_share_micro) AS (VALUES {rows}),
    tot AS (SELECT sum(n)::BIGINT AS tn FROM obs),
    fo AS (
      SELECT coalesce(obs.stratum, tgt.stratum) AS stratum,
             coalesce(n, 0)::BIGINT AS n,
             CAST(floor((coalesce(n, 0) * 1000000)::DOUBLE / tot.tn::DOUBLE
                  + 0.5) AS BIGINT) AS obs_share_micro,
             coalesce(target_share_micro, 0)::BIGINT AS target_share_micro
      FROM obs FULL OUTER JOIN tgt USING (stratum) CROSS JOIN tot
    )
    SELECT stratum, n, obs_share_micro, target_share_micro,
           (abs(obs_share_micro - target_share_micro) // 2)::BIGINT
             AS tv_contrib_micro,
           CASE WHEN target_share_micro > 0
                THEN CAST(floor((abs(obs_share_micro - target_share_micro)
                          * abs(obs_share_micro - target_share_micro))::DOUBLE
                         / target_share_micro::DOUBLE + 0.5) AS BIGINT)
                ELSE 0 END AS chi2_contrib_micro
    FROM fo ORDER BY stratum
    """


@q("curation_mixture_divergence", _mix_div_oracle())
def curation_mixture_divergence(spark: SparkSession, sf: str) -> DataFrame:
    """Observed-vs-target mixture divergence per source
    (operators/curation.mixture_divergence): the total-variation and
    chi-square contributions against a skewed target mixture — the
    acceptance gate after mixture_sample and the drift alarm before a
    bad rebalance ships. Shares are micro-floored integer ratios,
    targets are micro literals, TV contributions are integer
    |differences| — no float summation. One stratum agg + broadcast
    target table."""
    from denormalized_spark.operators.curation import mixture_divergence

    d = t(spark, sf, "documents")
    return mixture_divergence(d, _MIX_TARGETS, "source").orderBy("stratum")


@q(
    "curation_span_corruption",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    st AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
           len([j for j in range(1, len(toks) + 1)
                if {md5_unit_sql("'scs:' || CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)", 8)}
                   < 0.05])::BIGINT AS n_starts,
           len([p for p in range(1, len(toks) + 1)
                if len([j for j in range(greatest(1, p - 4), p + 1)
                        if {md5_unit_sql("'scs:' || CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)", 8)}
                              < 0.05
                       AND {md5_int_sql("'scl:' || CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)", 8)} % 5
                              + 1 >= p - j + 1]) > 0])::BIGINT AS n_masked
           FROM d)
    SELECT doc_id, n_tokens, n_starts, n_masked,
           CASE WHEN n_tokens > 0
                THEN CAST(floor((n_masked * 1000)::DOUBLE / n_tokens::DOUBLE
                          + 0.5) AS BIGINT)
                ELSE 0 END AS mask_rate_milli
    FROM st
    """,
)
def curation_span_corruption(spark: SparkSession, sf: str) -> DataFrame:
    """T5/UL2 span-corruption mask planning
    (operators/curation.span_corruption_plan; Raffel et al. 2020):
    deterministic md5-keyed span starts at 5%/token with lengths in
    [1,5] (expected mask rate ≈ 15%, the T5 objective), union
    coverage counted per document — the token-budget readout before
    materializing corrupted examples, reproducible across reruns,
    partitionings and engines because the only randomness is the
    md5 draw both engines replay. One per-row projection over the
    token array — scan speed, no shuffle."""
    from denormalized_spark.operators.curation import span_corruption_plan

    d = t(spark, sf, "documents")
    return span_corruption_plan(d)


def _contamination_n_oracle(n: int) -> str:
    return f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
    hh AS (SELECT doc_id,
                  {_TOKEN_HASHES} AS th
           FROM d),
    g AS (SELECT doc_id, {_gram_sql(n)} AS grams FROM hh),
    bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 20 = 7),
    cont AS (SELECT DISTINCT x.doc_id
             FROM (SELECT doc_id, unnest(grams) AS gram FROM g
                   WHERE doc_id % 20 != 7) x
             JOIN bench USING (gram)),
    tot AS (SELECT count(*)::BIGINT AS n_corpus FROM documents
            WHERE doc_id % 20 != 7)
    SELECT CAST({n} AS BIGINT) AS n, tot.n_corpus,
           (SELECT count(*) FROM cont)::BIGINT AS n_contaminated,
           CAST(floor(((SELECT count(*) FROM cont) * 1000)::DOUBLE
                / tot.n_corpus::DOUBLE + 0.5) AS BIGINT) AS rate_milli
    FROM tot
    """


@q(
    "curation_contamination_sensitivity",
    " SELECT * FROM ("
    + " UNION ALL ".join(f"({_contamination_n_oracle(n)})" for n in (3, 5, 8))
    + ") ORDER BY n",
)
def curation_contamination_sensitivity(spark: SparkSession, sf: str) -> DataFrame:
    """Contamination-rate sensitivity to the n-gram size — the tuning
    curve behind the "13-gram rule": at n=3 the overlap test is so
    loose it flags boilerplate as contamination, at large n only
    verbatim passages fire; the curve (n ∈ {3, 5, 8}) shows where the
    corpus's knee is, which is how the production n is actually
    chosen. Each point is one broadcast-gated decontaminate pass
    (operators/curation.decontaminate flags form — the corpus never
    shuffles); the rollup is 3 metadata rows."""
    corpus, bench = _split(spark, sf)
    frames = []
    for n in (3, 5, 8):
        flagged = curation.decontaminate(corpus, bench, n=n, return_flags=True)
        frames.append(
            flagged.agg(
                F.count("*").cast("long").alias("n_corpus"),
                F.sum(F.col("contaminated").cast("long")).cast("long")
                .alias("n_contaminated"),
            ).select(
                F.lit(n).cast("long").alias("n"),
                "n_corpus",
                "n_contaminated",
                F.floor(
                    (F.col("n_contaminated") * 1000).cast("double")
                    / F.col("n_corpus").cast("double")
                    + F.lit(0.5)
                ).cast("long").alias("rate_milli"),
            )
        )
    out = frames[0]
    for f_ in frames[1:]:
        out = out.unionAll(f_)
    return out.orderBy("n")


@q(
    "curation_contamination_ngram13",
    f"""
    WITH d AS (SELECT doc_id, source, {_TOKS} AS ws FROM documents),
    hh AS (SELECT doc_id, source,
                  {_TOKEN_HASHES} AS th
           FROM d),
    g AS (SELECT doc_id, source, {_gram_sql(13)} AS grams FROM hh),
    bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 20 = 7),
    cont AS (SELECT DISTINCT x.doc_id
             FROM (SELECT doc_id, unnest(grams) AS gram FROM g
                   WHERE doc_id % 20 != 7) x
             JOIN bench USING (gram))
    SELECT source,
           count(*)::BIGINT AS n_corpus,
           sum(CASE WHEN doc_id IN (SELECT doc_id FROM cont)
                    THEN 1 ELSE 0 END)::BIGINT AS n_contaminated,
           CAST(floor((sum(CASE WHEN doc_id IN (SELECT doc_id FROM cont)
                               THEN 1 ELSE 0 END) * 1000)::DOUBLE
                / count(*)::DOUBLE + 0.5) AS BIGINT) AS rate_milli
    FROM documents WHERE doc_id % 20 != 7
    GROUP BY source ORDER BY source
    """,
)
def curation_contamination_ngram13(spark: SparkSession, sf: str) -> DataFrame:
    """The canonical 13-gram contamination point (the GPT-3 appendix-C
    / PaLM decontamination rule, run at its PRODUCTION n rather than
    the small-vocabulary n of curation_decontaminate), broken down by
    source — the audit that tells a corpus owner WHICH feed is leaking
    eval data, not just how much. One broadcast-gated decontaminate
    pass (operators/curation.decontaminate, flags form: the corpus
    never shuffles; benchmark 13-gram hash set in, contaminated-id
    set out — both tiny broadcasts), then a per-source rollup.
    Docs shorter than 13 tokens take shingle_hashes' whole-doc
    rolling-hash fallback in BOTH engines, so the gram universe is
    identical. Completes the r12 sensitivity curve (n ∈ {3, 5, 8})
    with the production operating point, per the r12 advisor's
    new-wave list."""
    corpus, bench = _split(spark, sf)
    flagged = curation.decontaminate(corpus, bench, n=13, return_flags=True)
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_corpus"),
            F.sum(F.col("contaminated").cast("long")).cast("long")
            .alias("n_contaminated"),
        )
        .select(
            "source",
            "n_corpus",
            "n_contaminated",
            F.floor(
                (F.col("n_contaminated") * 1000).cast("double")
                / F.col("n_corpus").cast("double")
                + F.lit(0.5)
            ).cast("long").alias("rate_milli"),
        )
        .orderBy("source")
    )


_NEYMAN_BUDGET = 200


@q(
    "curation_neyman_alloc",
    f"""
    WITH per AS (
      SELECT source AS stratum,
             count(*)::BIGINT AS n_rows,
             sum(n_chars)::BIGINT AS sy,
             sum(n_chars * n_chars)::BIGINT AS sy2
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT stratum, n_rows,
             CAST(floor(
               CASE WHEN n_rows > 1 THEN
                 sqrt(greatest(n_rows::DOUBLE * sy2::DOUBLE
                               - sy::DOUBLE * sy::DOUBLE, 0.0)
                      / (n_rows::DOUBLE * (n_rows - 1)::DOUBLE))
               ELSE 0.0 END * 1000000.0 + 0.5) AS BIGINT) AS sigma_micro,
             CAST(floor(
               n_rows::DOUBLE *
               CASE WHEN n_rows > 1 THEN
                 sqrt(greatest(n_rows::DOUBLE * sy2::DOUBLE
                               - sy::DOUBLE * sy::DOUBLE, 0.0)
                      / (n_rows::DOUBLE * (n_rows - 1)::DOUBLE))
               ELSE 0.0 END * 1000000.0 + 0.5) AS BIGINT) AS w_micro
      FROM per
    ),
    tot AS (SELECT sum(w_micro)::BIGINT AS tw,
                   sum(n_rows)::BIGINT AS tn FROM w),
    seats AS (
      SELECT stratum, n_rows, sigma_micro, w_micro,
             ({_NEYMAN_BUDGET}::BIGINT *
              CASE WHEN tw = 0 THEN n_rows ELSE w_micro END)
               // CASE WHEN tw = 0 THEN tn ELSE tw END AS base,
             ({_NEYMAN_BUDGET}::BIGINT *
              CASE WHEN tw = 0 THEN n_rows ELSE w_micro END)
               % CASE WHEN tw = 0 THEN tn ELSE tw END AS rem
      FROM w CROSS JOIN tot
    ),
    ex AS (SELECT ({_NEYMAN_BUDGET} - sum(base))::BIGINT AS extra FROM seats)
    SELECT stratum, n_rows, sigma_micro, w_micro,
           (base + CASE WHEN row_number() OVER (ORDER BY rem DESC, stratum ASC)
                             <= extra THEN 1 ELSE 0 END)::BIGINT AS alloc
    FROM seats CROSS JOIN ex
    ORDER BY stratum
    """,
)
def curation_neyman_alloc(spark: SparkSession, sf: str) -> DataFrame:
    """Neyman-optimal stratified sampling allocation (operators/
    curation.neyman_allocation; Neyman 1934 + Hamilton largest-
    remainder seats): how a 200-doc eval panel should split across
    sources when within-source length variance differs — the
    variance-minimizing n_h ∝ N_h·S_h rule. One source-keyed agg;
    seats decided ENTIRELY in integer arithmetic (micro-floored
    weights, integer DIV/MOD, remainder ranking over the k-row
    metadata table), so Σ alloc = 200 exactly in both engines."""
    from denormalized_spark.operators.curation import neyman_allocation

    d = t(spark, sf, "documents")
    return neyman_allocation(d, "source", "n_chars", _NEYMAN_BUDGET)
