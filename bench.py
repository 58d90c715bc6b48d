"""Benchmark harness — times the headline queries and prints ONE JSON line.

Usage: python bench.py
    $SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
    $SPARK_GRAFT_CPUS    local[N] parallelism (default 32)

Each query is forced with a noop sink (full execution, no driver
collect) and timed wall-clock, n=3 runs: ``queries`` is the min (peak
steady-state), ``queries_median`` the median (noise indicator — a big
min/median gap means the box was loaded, not the engine slow).

Anchor: every headline query's DuckDB oracle (the same SQL the
correctness driver validates against) is timed on the same parquet in
the same process — ``oracle_sec`` per query and ``spark_vs_oracle``
ratios make "within 2x of a native single-node engine" computable
instead of guessed, and round-over-round comparisons noise-proof
(DuckDB's time moves with machine load exactly like Spark's does).
Anchor methodology: BOTH engines are measured n=3/min on a warmed OS
page cache — every parquet file is read through once before any
timing, because the r7->r8 oracle-total swing (13.5 -> 9.9 s on
identical SQL) was page-cache state, not engine speed. Ratios quoted
anywhere (README) must come from this harness's detail file,
``.bench-out/BENCH_DETAIL.json`` (git-ignored; the tracked
BENCH_DETAIL.json is the last recorded run).

Eager lanes (registry ``eager=True``: the build runs a Spark job) are
rebuilt inside every timed run, so a repeat never times a relation
the build already computed.

Output (one JSON line):
    {"metric": "headline_total", "value": <sum min sec>, "unit": "sec",
     "queries": {...}, "queries_median": {...}, "oracle_sec": {...},
     "spark_vs_oracle": {...}, "sf": <float>, ...stream throughputs}
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Headline set: one per major operator family, weighted toward the
# scale-critical plans (shuffle joins, windowed aggs, LSH dedup, ANN).
HEADLINE = [
    "agg_pricing_summary",      # TPC-H Q1 shape: scan + partial/final agg
    "filter_revenue",           # pushdown filter + agg
    "join_top_orders",          # lineitem⋈orders shuffle join + topk
    "join_region_volume",       # 6-table join, 5 broadcast dims
    "over_rank_per_customer",   # partitioned OVER window
    "window_tumbling_1h",       # event-time tumbling window agg
    "window_sliding_1h_30m",    # sliding window agg
    "window_session_30m",       # session window agg
    "dedup_exact",              # hash-groupBy dedup
    "dedup_lsh_candidates",     # MinHash-LSH banded self-join
    "dedup_simhash",            # per-row simhash signatures
    "text_stats",               # scan-speed text projections
    "sim_topk_query0",          # brute-force cosine top-k (broadcast)
    "sim_lsh_buckets",          # hyperplane-LSH ANN buckets
    "join_asof_purchase_click", # joinless union+window as-of join
    "join_range_order_bursts",  # bin-bucketed interval join
    "sessionize_users",         # stateful gap sessionization (batch twin)
    "dedup_embedding_neardup",  # LSH-gated semantic dedup
    "agg_rollup_pricing",       # multi-dim rollup aggregation
    "curation_pipeline",        # decontaminate → mixture-sample funnel
    "text_unigram_quality",     # unigram-LM scoring: token shuffle + broadcast LM
    "curation_full_funnel",     # classifier→dedup→decontaminate→split, one plan
]


def _warm_page_cache() -> None:
    """Read every table's parquet bytes once so BOTH engines measure
    warm-cache IO. Without this, whichever engine runs first on a
    cold cache pays the disk reads and the spark_vs_oracle ratio
    moves round-over-round with machine state instead of code."""
    for p in Path(SF_DIR).glob("*.parquet"):
        with open(p, "rb") as f:
            while f.read(1 << 22):
                pass


def main() -> None:
    t_start = time.time()
    _warm_page_cache()
    from denormalized_spark.session import get_spark

    spark = get_spark(app_name="bench", master=f"local[{CPUS}]")

    import __spark_entry__ as entry_mod
    from denormalized_spark.queries import EAGER

    queries = entry_mod.queries()

    # JVM/codegen/parquet-reader warmup so q1 isn't charged for
    # session startup (measured: first parquet query pays ~2.5s of
    # one-time vectorized-reader + codegen init at any SF)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from denormalized_spark.sources.files import load_table

    warm = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    warm.groupBy("l_returnflag").count().write.format("noop").mode("overwrite").save()

    # n=3 runs per query. Run 1 builds the DataFrame AND executes —
    # it pays driver-side analysis/optimization/codegen of the plan
    # (1-2 s for the big LSH expression trees) and is reported as
    # `queries_cold`. Runs 2-3 re-execute the SAME DataFrame: plan
    # and generated code are cached, so they measure execution — the
    # part that scales with data; planning is a fixed per-query cost
    # that amortizes to nothing over a 100 TB scan. min = steady
    # state, median = noise probe.
    # For EVERY headline lane (r14: the three r13 weak-by-record lanes;
    # the r14 verdict asked for all 22 so the low-core/high-core scaling
    # comparison can run on a data-dominated number), also time a TRULY
    # warm re-execution: repeated .collect() on the same DataFrame
    # reuses its QueryExecution (no re-analysis, cached codegen),
    # whereas each noop write above builds a fresh one and re-pays
    # Catalyst analysis+optimization — r14 runs of the since-deleted
    # tools/profile_stages.py measured that fixed cost at 89-95% of
    # these lanes' walls at sf0.1.
    # `queries_warm_exec` is the part that scales with data. Caveat
    # (documented since r14): a warm re-collect reuses AQE's already-
    # materialized shuffle stages, so it UNDERSTATES multi-stage
    # execution — it is a scaling signal, not a replacement for
    # `queries` (whose noop-write methodology is unchanged). Every
    # headline result is small (<=100k rows of scalars at sf0.1), so
    # the collect itself is driver-bounded.
    WARM_EXEC_LANES = tuple(HEADLINE)
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    cold: dict[str, float] = {}
    warm_exec: dict[str, float] = {}
    for name in HEADLINE:
        fn = queries.get(name)
        if fn is None:
            continue
        t0 = time.time()
        df = fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        runs = [time.time() - t0]
        for _ in range(2):
            t0 = time.time()
            if name in EAGER:
                df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
        timings[name] = round(min(runs), 3)
        medians[name] = round(sorted(runs)[len(runs) // 2], 3)
        cold[name] = round(runs[0], 3)
        if name in WARM_EXEC_LANES:
            # toPandas, not collect: both reuse the same QueryExecution,
            # but collect pickles rows through the driver (0.5-0.9 s of
            # SERIAL cost on the two ~95k-row lanes, which would read
            # as "doesn't scale" in the core-scaling comparison this
            # number exists to feed); the Arrow path ships columnar
            # batches and keeps the measurement execution-dominated.
            df.toPandas()  # prime the QueryExecution
            ws = []
            for _ in range(2):
                t0 = time.time()
                if name in EAGER:
                    df = fn(spark, SF_DIR)
                df.toPandas()
                ws.append(time.time() - t0)
            warm_exec[name] = round(min(ws), 3)

    oracle_sec = _oracle_timings(entry_mod)

    wav_docs, wav_walls = _wav_decode_throughput(spark)
    bpe_docs, bpe_walls, bpe_tok_walls = _bpe_encode_throughput(spark)

    ann_recall = _ann_recall_at_10(spark)
    pq_recall = _ivf_pq_rerank_recall_at_10(spark)
    img_docs, img_walls = _image_phash_throughput(spark)

    stream_rows, stream_walls = _stream_throughput(spark)
    state_rows, state_walls = _stateful_stream_throughput(spark)
    sketch_rows, sketch_walls = _sketch_stream_throughput(spark)

    # Throughput lanes get the SAME n=3 discipline as the headline
    # queries (run 1 pays plan build / worker spin-up): the headline
    # `*_per_sec` keys stay min-wall-based (steady state, comparable
    # across rounds), and `throughput_median_per_sec` publishes the
    # median-wall rate — the [median, min] band is the noise band, so
    # a real regression (both ends move) is distinguishable from JIT/
    # machine state (the ends spread). Raw walls go to BENCH_DETAIL.
    lanes = {
        "wav_decode_docs_per_sec": (wav_docs, wav_walls),
        "bpe_encode_docs_per_sec": (bpe_docs, bpe_walls),
        "bpe_tokenize_docs_per_sec": (bpe_docs, bpe_tok_walls),
        "image_phash_docs_per_sec": (img_docs, img_walls),
        "stream_rows_per_sec": (stream_rows, stream_walls),
        "stateful_stream_rows_per_sec": (state_rows, state_walls),
        "sketch_stream_rows_per_sec": (sketch_rows, sketch_walls),
    }
    lane_rate = {
        k: (round(n / min(ws)) if ws else None) for k, (n, ws) in lanes.items()
    }
    lane_median = {
        k: (round(n / sorted(ws)[len(ws) // 2]) if ws else None)
        for k, (n, ws) in lanes.items()
    }
    lane_walls = {k: [round(w, 3) for w in ws] for k, (n, ws) in lanes.items()}

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else 0.0
    ratios = {
        q: round(timings[q] / oracle_sec[q], 2)
        for q in timings
        if oracle_sec.get(q)
    }
    out = {
        "metric": "headline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "queries_cold": cold,
        # truly-warm re-execution (same QueryExecution, no re-analysis)
        # for the r13 weak-by-record lanes — the data-scaling share of
        # their walls; r14 runs of the since-deleted tools/profile_stages.py
        # gave the full split
        "queries_warm_exec": warm_exec,
        "oracle_sec": oracle_sec,
        "oracle_total": round(sum(v for v in oracle_sec.values() if v), 3),
        "spark_vs_oracle": ratios,
        # NOTE for interpretation: per-query ratios at sf0.1 are upper
        # bounds — Spark pays a ~0.3-0.5 s fixed scheduling/shuffle
        # setup cost per query that DuckDB doesn't, which dominates the
        # sub-second queries and amortizes away at real scale. The
        # heavy queries (the ones that matter at 100 TB) sit at 0.7-2x.
        "spark_vs_oracle_total": (
            round(sum(timings.values()) / sum(v for v in oracle_sec.values() if v), 2)
            if any(oracle_sec.values())
            else None
        ),
        "sf": sf,
        **lane_rate,
        "throughput_median_per_sec": lane_median,
        "throughput_walls": lane_walls,
        "ann_recall_at_10": ann_recall,
        "ann_pq_rerank_recall_at_10": pq_recall,
        "stream_rows": stream_rows,
        "wall_total": round(time.time() - t_start, 3),
    }
    # The external driver keeps only the tail of stdout, so the final
    # line must stay compact (r4's full dict outgrew the capture
    # window and parsed as null). Full detail — medians, cold runs,
    # per-query oracle times and ratios — goes to the git-ignored
    # .bench-out/BENCH_DETAIL.json; the printed line carries the
    # headline numbers.
    detail = Path(__file__).resolve().parent / ".bench-out" / "BENCH_DETAIL.json"
    detail.parent.mkdir(exist_ok=True)
    with open(detail, "w") as f:
        json.dump(out, f, indent=1)
    compact = {
        k: out[k]
        for k in (
            "metric", "value", "unit", "queries", "queries_warm_exec",
            "sf", "oracle_total",
            "spark_vs_oracle_total", "wav_decode_docs_per_sec",
            "bpe_encode_docs_per_sec", "bpe_tokenize_docs_per_sec",
            "ann_recall_at_10", "ann_pq_rerank_recall_at_10",
            "image_phash_docs_per_sec",
            "stream_rows_per_sec", "stateful_stream_rows_per_sec",
            "sketch_stream_rows_per_sec",
            "throughput_median_per_sec",
            "wall_total",
        )
    }
    print(json.dumps(compact))


def _oracle_timings(entry_mod) -> dict[str, float]:
    """Time each headline query's DuckDB oracle on the same parquet —
    the native single-node denominator for the 2x perf gate. n=3, min
    (DuckDB gets the same steady-state treatment as Spark); full
    materialization via fetchall so lazy execution can't undercount."""
    import duckdb

    oracles = entry_mod.oracle_sql()
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    out: dict[str, float] = {}
    for name in HEADLINE:
        sql = oracles.get(name)
        if not sql:
            out[name] = None
            continue
        runs = []
        for _ in range(3):
            t0 = time.time()
            con.execute(sql).fetchall()
            runs.append(time.time() - t0)
        out[name] = round(min(runs), 3)
    con.close()
    return out


def _wav_decode_throughput(spark) -> tuple[int, list[float]]:
    """REAL-codec multimodal path at full SF: synthesize a WAV per
    document row and decode it back with the stdlib-wave
    audio_features kernel (mapInPandas, Arrow-batched) — measures the
    Python-kernel lane the way the headline set measures the JVM lane.
    Work scales with the documents table, unlike the oracled
    multimodal queries (which cap at 200 rows for the driver compare).
    n=3 (run 1 pays plan build + worker spin-up); all walls returned."""
    from denormalized_spark.operators.multimodal import (
        audio_features,
        synthesize_wav_payloads,
    )
    from denormalized_spark.sources.files import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    n = docs.count()
    pipe = audio_features(
        synthesize_wav_payloads(docs, "doc_id"), "payload"
    ).drop("payload")
    return n, _noop_runs(pipe)


def _noop_runs(pipe, n: int = 3) -> list[float]:
    """Execute ``pipe`` through the noop sink n times, returning every
    wall — the throughput-lane twin of the headline queries' n=3 loop
    (run 1 is the cold/plan-build run; min = steady state, median =
    noise probe)."""
    walls = []
    for _ in range(n):
        t0 = time.time()
        pipe.write.format("noop").mode("overwrite").save()
        walls.append(time.time() - t0)
    return walls


def _bench_merge_table(spark, docs) -> tuple[list, list]:
    """PRODUCTION-SIZED merge table (1,024 rows) for the BPE lanes:
    corpus-exhaustive merges trained driver-side on the word-count
    table (the synthetic corpus has 31 distinct words, so real merges
    cap out quickly), padded with never-firing rows to 1,024 — the
    honest model of a 32k-vocab table, where any given word fires
    only ~len(word) merges and the substring prefilter skips the
    rest. Also returns the corpus alphabet (for the tokenize lane)."""
    from pyspark.sql import functions as F

    from denormalized_spark.operators.text import tokens

    wc = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .count()
        .collect()
    )  # vocabulary-sized: 31 rows at these SFs
    alphabet = sorted({ch for r in wc for ch in r["w"]})
    vocab = {r["w"]: (list(r["w"]), int(r["count"])) for r in wc}
    merges: list[tuple[str, str]] = []
    while len(merges) < 1024:
        pc: dict[tuple[str, str], int] = {}
        for syms, c in vocab.values():
            for x, y in zip(syms, syms[1:]):
                pc[(x, y)] = pc.get((x, y), 0) + c
        if not pc:
            break
        (a, b) = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((a, b))
        for w, (syms, c) in vocab.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            vocab[w] = (out, c)
    n_real = len(merges)
    merges += [(f"X{i}", "Y") for i in range(1024 - n_real)]
    return merges, alphabet


def _bpe_encode_throughput(spark) -> tuple[int, list[float], list[float]]:
    """Arrow-batched BPE lanes at the 1,024-merge table: the count
    encoder (operators/text.bpe_encode_table) and the token-ID
    emitter (operators/text.bpe_tokenize — the shard write-out path,
    whose output carries the full id arrays). n=3 through the noop
    sink each, same policy as the WAV lane. Returns
    (n_docs, encode_walls, tokenize_walls)."""
    from denormalized_spark.operators.text import bpe_encode_table, bpe_tokenize
    from denormalized_spark.sources.files import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    n = docs.count()
    merges, alphabet = _bench_merge_table(spark, docs)

    enc_walls = _noop_runs(bpe_encode_table(docs, merges))
    tok_walls = _noop_runs(bpe_tokenize(docs, merges, alphabet))
    return n, enc_walls, tok_walls


def _ann_recall_at_10(spark) -> float:
    """Retrieval QUALITY lane: recall@10 of the batched IVF path
    (operators/similarity.ivf_batch_topk, the production serving
    shape) against exact brute force, PRODUCTION quantizer knobs:
    k-means-refit coarse centroids (3 Lloyd's iterations over the
    label seeds — the kmeans_fit the oracles check) and nprobe=4 of
    10 clusters, 32-query block. Round-9 sweep (sf0.1; cost linear in
    nprobe per the operator docs): label-centroid quantizer recall =
    0.49/0.70/0.88/1.00 at nprobe 3/5/7/10; the k-means refit lifts
    the SAME probe budget to 0.59 (nprobe=3) / 0.72 (nprobe=4) /
    0.80 (nprobe=5) — quantizer fit, not probe width, was the gap.
    The remaining ceiling is corpus geometry: 10 coarse cells over
    weakly-clustered synthetic embeddings means each probe adds ~10%
    of the corpus; production corpora get sqrt(N) cells, probing a
    far smaller fraction for the same recall. Arithmetic is exact
    (deterministic data + fixed tie-breaks), so the number only moves
    when the index or the knobs do; the per-round floor (>= 0.60)
    lives in tests/test_similarity.py."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from denormalized_spark.operators import similarity
    from denormalized_spark.sources.files import load_table

    k = 10
    e = load_table(spark, SF_DIR, "embeddings")
    seed = similarity.label_centroids(e, "label", "embedding", dim=64)
    cent = similarity.centroids_of(
        similarity.kmeans_fit(e, seed, iterations=3), dim=64
    )
    assigned = similarity.assign_clusters(e, cent, "vec_id", "embedding")
    queries = e.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    ivf = similarity.ivf_batch_topk(queries, assigned, cent, k=k, nprobe=4)
    w = Window.partitionBy("qid").orderBy(F.desc("s"), F.asc("vec_id"))
    brute = (
        e.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            similarity.cosine(F.col("embedding"), F.col("qvec")).alias("s"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )
    n_overlap = (
        ivf.select("qid", "vec_id")
        .join(brute.select("qid", "vec_id"), ["qid", "vec_id"], "left_semi")
        .count()
    )
    n_q = queries.count()
    return round(n_overlap / (n_q * k), 4) if n_q else 0.0


def _ivf_pq_rerank_recall_at_10(spark) -> float:
    """Quality lane for the IVF×PQ serving path in its PRODUCTION
    form: k-means codebooks (pq_codebooks_kmeans, m=16, k=32, 3
    Lloyd's iterations — 3.6× lower quantization error than the
    label-derived books, whose 10 codewords/subspace swamped
    neighborhoods in noise: raw-ADC recall 0.11, rerank-50 only
    0.225), ADC as candidate generator (short-list 200) + exact-
    cosine re-rank, vs brute force, 4-query probe. With the fitted
    books the rerank-50 form already reaches ~0.43 — the short list
    can shrink 4× — and rerank-200 sits at the IVF probe ceiling
    (the ann_recall_at_10 lane's probe budget). Round 9 moved the
    COARSE quantizer to the same k-means refit + nprobe=4 as the IVF
    lane (it was label centroids + nprobe=3): rerank-200 recall rose
    0.475 -> 0.70 at sf0.1 — the shortlist was probe-limited, not
    ADC-limited. Tracked per round so quantizer/probe changes show up
    as recall moves."""
    from pyspark.sql import functions as F

    from denormalized_spark.operators import similarity
    from denormalized_spark.sources.files import load_table

    k, cand_k = 10, 200
    e = load_table(spark, SF_DIR, "embeddings")
    seed = similarity.label_centroids(e, "label", "embedding", dim=64)
    cent = similarity.centroids_of(
        similarity.kmeans_fit(e, seed, iterations=3), dim=64
    )
    assigned = similarity.assign_clusters(e, cent, "vec_id", "embedding")
    books = similarity.pq_codebooks_kmeans(
        e, m=16, k=32, iterations=3, dim=64
    )
    enc = similarity.pq_encode(assigned, books).cache()
    enc.count()
    hit = tot = 0
    for qid in range(4):
        qvec = [
            float(x)
            for x in e.filter(F.col("vec_id") == qid).collect()[0]["embedding"]
        ]
        qarr = F.array(*[F.lit(x) for x in qvec])
        shortlist = similarity.ivf_pq_topk(
            enc.filter(F.col("vec_id") != qid), cent, books, qvec,
            k=cand_k, nprobe=4,
        ).select("vec_id")
        rer = {
            r["vec_id"]
            for r in (
                e.join(shortlist, "vec_id", "left_semi")
                .select(
                    "vec_id",
                    similarity.cosine(F.col("embedding"), qarr).alias("s"),
                )
                .orderBy(F.desc("s"), F.asc("vec_id"))
                .limit(k)
                .collect()
            )
        }
        brute = {
            r["vec_id"]
            for r in (
                e.filter(F.col("vec_id") != qid)
                .select(
                    "vec_id",
                    similarity.cosine(F.col("embedding"), qarr).alias("s"),
                )
                .orderBy(F.desc("s"), F.asc("vec_id"))
                .limit(k)
                .collect()
            )
        }
        hit += len(rer & brute)
        tot += k
    enc.unpersist()
    return round(hit / tot, 4) if tot else 0.0


def _image_phash_throughput(spark) -> tuple[int, list[float]]:
    """Media lane for the image dedup stack: md5-noise PNGs (real
    zlib-compressed containers) decoded + dHashed through
    operators/multimodal.image_phash — the per-image cost of the
    perceptual-hash gate. The timed pipeline INCLUDES the synthetic
    PNG encode (on real data that's a parquet scan instead), so the
    number is a lower bound on hash throughput. n=3 through the noop
    sink."""
    from pyspark.sql import functions as F

    from denormalized_spark.operators import multimodal
    from denormalized_spark.sources.files import load_table

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", (F.col("doc_id") % 997).alias("seed")
    )
    n = docs.count()
    imgs = multimodal.synthesize_noise_png_payloads(docs, "seed")
    return n, _noop_runs(multimodal.image_phash(imgs, "payload"))


def _drain(build, spark, prefix: str, sink_fn=None) -> list[float]:
    """Start the stream from ``build()`` on a FRESH checkpoint, drain
    it (availableNow), n=3 times: the first drain pays plan codegen +
    Python worker spin-up, the rest measure the engine (same policy
    as the batch queries' n=3 loop). Returns every wall.
    ``sink_fn`` overrides the default count-only foreachBatch body
    (each drain gets a fresh one via the zero-arg factory)."""
    import tempfile

    walls = []
    for _ in range(3):
        sink_counts = []
        fn = sink_fn() if sink_fn else (
            lambda df: sink_counts.append(df.count())
        )
        t0 = time.time()
        q = build().sink(fn, checkpoint=tempfile.mkdtemp(prefix=prefix))
        q.awaitTermination(600)
        walls.append(time.time() - t0)
    return walls


def _stream_throughput(spark) -> tuple[int, list[float]]:
    """End-to-end Structured Streaming throughput: events table →
    event-time tumbling window aggregation → foreachBatch sink,
    availableNow trigger (the whole file drains through the streaming
    engine with real state-store updates). The reference's only
    published workload figure is its Kafka generator's ~58k msgs per
    60 s run (docs/kafka_rideshare_example.md); this measures the
    analogous pipeline at the bench scale factor."""
    from pyspark.sql import functions as F

    from denormalized_spark.context import Context

    ctx = Context(spark)
    n_in = ctx.from_parquet(f"{SF_DIR}/events.parquet").df.count()

    def build():
        return ctx.from_stream_parquet(SF_DIR, "events", event_time="ts").window(
            ["event_type"],
            [F.count("*").alias("n"), F.sum("value").alias("total")],
            window_length_ms=3600_000,
        )

    return n_in, _drain(build, spark, "bench_stream_")


def _sketch_stream_throughput(spark) -> tuple[int, list[float]]:
    """LIVE-SKETCH streaming throughput: events drained through a
    foreachBatch-maintained Count-Min (user_id frequencies) + HLL
    (user_id distincts) + decayed-counter (per event_type trend)
    state — the production deployment shape of the mergeable sketch
    family (streaming/sketches.SketchMaintainer; merge laws proven
    stream==batch in tests/test_streaming.py). Per batch: three
    distributed partial-agg jobs reduce the batch to metadata-sized
    cells/registers, folded into driver state."""
    from denormalized_spark.context import Context
    from denormalized_spark.streaming.sketches import SketchMaintainer

    ctx = Context(spark)
    n_in = ctx.from_parquet(f"{SF_DIR}/events.parquet").df.count()

    def build():
        return ctx.from_stream_parquet(SF_DIR, "events", event_time="ts")

    def sink_fn():
        m = SketchMaintainer(
            "user_id",
            depth=4,
            width=512,
            p=6,
            half_life_ms=3600_000,
            ts_col="ts",
            decay_key_col="event_type",
        )
        return lambda df: m.update(df)

    return n_in, _drain(build, spark, "bench_sketch_", sink_fn=sink_fn)


def _stateful_stream_throughput(spark) -> tuple[int, list[float]]:
    """CUSTOM-STATE streaming throughput: the same events drained
    through applyInPandasWithState gap sessionization (GroupState +
    event-time timeout) — the reference's custom stateful-operator
    path, where state crosses the Python boundary per group."""
    from denormalized_spark.context import Context

    ctx = Context(spark)
    n_in = ctx.from_parquet(f"{SF_DIR}/events.parquet").df.count()

    def build():
        return ctx.from_stream_parquet(SF_DIR, "events", event_time="ts").sessionize(
            ["user_id"], gap_ms=1800_000
        )

    return n_in, _drain(build, spark, "bench_state_")


if __name__ == "__main__":
    main()
