"""Streaming MinHash-LSH near-dup gate (operators/dedup.py
near_dedup_stream / near_dedup_batch): first claimant of every LSH
band survives; any band collision with an earlier doc drops the doc.

Append-mode emission: survivors emit when their event-time window
closes under the watermark, so the trailing window may stay open at
availableNow end (same N-1 contract as windowed aggs) — tests flush
with a far-future sentinel and assert on the flushed set.
"""

from __future__ import annotations

import datetime
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from denormalized_spark.datastream import DataStream
from denormalized_spark.operators.dedup import near_dedup_batch

T0 = datetime.datetime(2024, 1, 1, 10, 0, 0)

DOCS = [
    # (doc_id, minute, text)
    (1, 0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, 0, "completely different text about spark streaming state stores"),
    (3, 5, "the quick brown fox jumps over the lazy dog near the river bank"),  # copy of 1
    (4, 5, "yet another unrelated document mentioning parquet column pruning"),
    (99, 120, "far future sentinel flushing every earlier emit window"),
]


def _rows():
    return [
        (i, T0 + datetime.timedelta(minutes=m), t) for i, m, t in DOCS
    ]


@pytest.fixture(scope="module")
def doc_df(spark):
    return spark.createDataFrame(_rows(), "doc_id long, ts timestamp, text string")


def test_batch_twin_drops_exact_near_dup(doc_df):
    out = near_dedup_batch(doc_df, "doc_id", "text", "ts")
    got = {r.doc_id for r in out.collect()}
    # doc 3 collides with earlier doc 1 on every band -> dropped
    assert got == {1, 2, 4, 99}


def test_batch_twin_is_deterministic_earliest_wins(spark):
    # same text at different times: earliest (ts, id) survives
    rows = [
        (7, T0 + datetime.timedelta(minutes=1), "alpha beta gamma delta epsilon zeta"),
        (5, T0, "alpha beta gamma delta epsilon zeta"),
        (6, T0, "alpha beta gamma delta epsilon zeta"),  # same ts as 5 -> id tiebreak
    ]
    df = spark.createDataFrame(rows, "doc_id long, ts timestamp, text string")
    got = {r.doc_id for r in near_dedup_batch(df, "doc_id", "text", "ts").collect()}
    assert got == {5}


def test_batch_twin_keeps_payload_columns(spark):
    rows = [(1, T0, "some unique text body here", "web")]
    df = spark.createDataFrame(rows, "doc_id long, ts timestamp, text string, source string")
    out = near_dedup_batch(
        df, "doc_id", "text", "ts", payload_cols=("source",)
    ).collect()
    assert out[0].source == "web" and out[0].ts == T0


def test_stream_matches_batch_twin(spark):
    """Drain the docs through the two-stateful-operator streaming
    plan, one file per micro-batch in event-time order; the emitted
    set must equal the batch twin minus unflushed trailing windows."""
    stage = tempfile.mkdtemp(prefix="nd_stage_")
    schema = "doc_id long, ts timestamp, text string"
    by_minute: dict[int, list] = {}
    for i, m, t in DOCS:
        by_minute.setdefault(m, []).append((i, T0 + datetime.timedelta(minutes=m), t))
    for k, (m, chunk) in enumerate(sorted(by_minute.items())):
        path = os.path.join(stage, f"part{k}")
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        for f in os.listdir(path):
            os.utime(os.path.join(path, f), (1_000_000 + k, 1_000_000 + k))

    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage, "part*"))
    )
    ds = DataStream(sdf, event_time="ts").near_dedup("doc_id", "text")
    emitted = []
    q = ds.sink(
        lambda df: emitted.extend(df.collect()),
        checkpoint=tempfile.mkdtemp(prefix="nd_ck_"),
    )
    q.awaitTermination(240)
    got = {r.doc_id for r in emitted}
    assert len(got) == len(emitted), "duplicate emission"
    # every survivor except (possibly) the sentinel's unclosed window
    assert got == {1, 2, 4}
    # stream event times survive the windowed re-aggregation exactly
    by_id = {r.doc_id: r.ts for r in emitted}
    assert by_id[4] == T0 + datetime.timedelta(minutes=5)


def test_stream_matches_batch_twin_two_bands_with_payload(spark):
    """The band count reaches the stream core: at num_hashes=8,
    bands=2 a survivor owns exactly two buckets, so a core that
    counted a fixed four would emit nothing. The emitted set (minus
    the sentinel's unclosed window) equals the batch twin at the same
    settings, and a payload column round-trips."""
    stage = tempfile.mkdtemp(prefix="nd_b2_stage_")
    schema = "doc_id long, ts timestamp, text string, src string"
    by_minute: dict[int, list] = {}
    for i, m, t in DOCS:
        by_minute.setdefault(m, []).append(
            (i, T0 + datetime.timedelta(minutes=m), t, f"src{i}")
        )
    for k, (m, chunk) in enumerate(sorted(by_minute.items())):
        path = os.path.join(stage, f"part{k}")
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        for f in os.listdir(path):
            os.utime(os.path.join(path, f), (1_000_000 + k, 1_000_000 + k))

    settings = dict(num_hashes=8, bands=2, payload_cols=("src",))
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage, "part*"))
    )
    ds = DataStream(sdf, event_time="ts").near_dedup("doc_id", "text", **settings)
    emitted = []
    q = ds.sink(
        lambda df: emitted.extend(df.collect()),
        checkpoint=tempfile.mkdtemp(prefix="nd_b2_ck_"),
    )
    q.awaitTermination(240)
    got = {r.doc_id for r in emitted}
    assert len(got) == len(emitted), "duplicate emission"

    batch_df = spark.createDataFrame(
        [(i, ts, t, f"src{i}") for i, ts, t in _rows()], schema
    )
    want = {
        r.doc_id
        for r in near_dedup_batch(batch_df, "doc_id", "text", "ts", **settings)
        .collect()
    }
    assert got == want - {99}
    assert got == {1, 2, 4}
    assert all(r.src == f"src{r.doc_id}" for r in emitted)


def test_stream_batch_polymorphism(doc_df):
    out = DataStream(doc_df, event_time="ts").near_dedup("doc_id", "text")
    assert {r.doc_id for r in out.df.collect()} == {1, 2, 4, 99}


def test_subsecond_emit_window_builds(spark):
    """Regression: emit_window_ms < 1000 used to render as the invalid
    duration '0 seconds' (AnalysisException at plan time); non-multiples
    of 1000 were silently truncated. Millisecond intervals must resolve."""
    from denormalized_spark.operators.dedup import near_dedup_stream

    sdf = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            F.col("value").alias("doc_id"),
            F.col("timestamp").alias("ts"),
            F.lit("text body").alias("text"),
        )
    )
    out = near_dedup_stream(sdf, "doc_id", "text", "ts", emit_window_ms=500)
    assert [f.name for f in out.schema] == ["doc_id", "ts"]


def test_stream_restart_preserves_bucket_state(spark, tmp_path):
    """Kill/restart recovery for the near-dup gate: the
    dropDuplicatesWithinWatermark bucket-owner state must survive a
    checkpoint restart — a post-restart copy of a pre-restart doc is
    still dropped, and the survivor set equals the uninterrupted run."""
    stage = tmp_path / "nd_restart"
    stage.mkdir()
    ckpt = str(tmp_path / "nd_restart_ck")
    schema = "doc_id long, ts timestamp, text string"

    def write_batch(k, rows, age_s):
        import time as _time

        path = os.path.join(str(stage), f"part{k}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        t = _time.time() - age_s
        for f in os.listdir(path):
            os.utime(os.path.join(path, f), (t, t))

    def run():
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(str(stage), "part*"))
        )
        ds = (
            DataStream(sdf, event_time="ts")
            .with_watermark("30 minutes")
            .near_dedup("doc_id", "text")
        )
        rows = []
        q = ds.sink(lambda df: rows.extend(df.collect()), checkpoint=ckpt)
        q.awaitTermination(240)
        return rows

    at = lambda m: T0 + datetime.timedelta(minutes=m)
    # run 1: docs 1 and 2 claim their buckets
    write_batch(0, [(1, at(0), DOCS[0][2]), (2, at(0), DOCS[1][2])], age_s=100)
    run()

    # "crash"; then doc 3 (copy of doc 1) + unique doc 4 + flush sentinel
    write_batch(1, [(3, at(10), DOCS[0][2]), (4, at(10), DOCS[3][2])], age_s=50)
    write_batch(2, [(99, at(300), DOCS[4][2])], age_s=0)

    # run 1 closed no window (watermark still behind), so run 2 emits
    # the full survivor set — which must exclude the post-restart dup.
    emitted2 = run()
    ids2 = {r.doc_id for r in emitted2}
    assert 3 not in ids2, "restored bucket state failed to drop the dup"
    assert ids2 == {1, 2, 4}, ids2


class TestIncrementalGate:
    def test_incremental_equals_full_batch_on_union(self, spark):
        """Processing (history, then increment) through the index must
        keep exactly the docs the one-shot batch gate keeps on the
        union — the incremental path is a re-partitioning of the same
        decision, given history ids precede increment ids."""
        from denormalized_spark.operators.dedup import (
            band_index,
            near_dedup_batch,
            near_dedup_incremental,
        )
        from pyspark.sql import functions as F

        texts = [
            "the quick brown fox jumps over the lazy dog today again",
            "the quick brown fox jumps over the lazy cat today again",
            "completely different content about distributed query engines",
            "yet another unique document concerning stream processing",
        ]
        rows = [(i, texts[i % 4] + f" tail{i % 2}") for i in range(12)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        hist = df.filter(F.col("doc_id") < 6)
        inc = df.filter(F.col("doc_id") >= 6)

        idx = band_index(hist)
        flags, updated = near_dedup_incremental(inc, idx)

        # full-batch survivors over the union, ordered by doc_id —
        # SAME LSH config (num_hashes=8, bands=4) as the incremental path
        full = near_dedup_batch(
            df.withColumn("ts", F.lit(0).cast("timestamp")),
            event_time="ts", num_hashes=8, bands=4,
        )
        full_kept = {r["doc_id"] for r in full.collect()}
        hist_kept = {
            r["doc_id"] for r in near_dedup_batch(
                hist.withColumn("ts", F.lit(0).cast("timestamp")),
                event_time="ts", num_hashes=8, bands=4,
            ).collect()
        }
        inc_kept = {r["doc_id"] for r in flags.filter("kept").collect()}
        assert hist_kept | inc_kept == full_kept
        # updated index owners are the earliest claimant across both loads
        owners = {r["owner_id"] for r in updated.collect()}
        assert owners <= set(range(12))

    def test_multi_increment_equals_full_batch(self, spark):
        """THREE loads (history, inc1, inc2) must keep exactly what the
        one-shot batch over the union keeps. Requires the index to
        remember buckets claimed only by DROPPED dups: inc1 contains a
        history-dup A; inc2 contains a near-dup of A that must still be
        dropped even though A never entered the kept set."""
        from pyspark.sql import functions as F

        from denormalized_spark.operators.dedup import (
            band_index,
            near_dedup_batch,
            near_dedup_incremental,
        )

        h_text = "the quick brown fox jumps over the lazy dog again today"
        a_text = "the quick brown fox jumps over the lazy cat again today"
        b_text = "the quick brown fox jumps over a lazy cat again today"
        fresh = "entirely fresh material about streaming query engines"
        hist = spark.createDataFrame([(0, h_text)], ["doc_id", "text"])
        inc1 = spark.createDataFrame(
            [(10, a_text), (11, fresh)], ["doc_id", "text"]
        )
        inc2 = spark.createDataFrame([(20, b_text)], ["doc_id", "text"])

        idx = band_index(hist)
        flags1, idx = near_dedup_incremental(inc1, idx)
        flags2, idx = near_dedup_incremental(inc2, idx)

        union = spark.createDataFrame(
            [(0, h_text), (10, a_text), (11, fresh), (20, b_text)],
            ["doc_id", "text"],
        ).withColumn("ts", F.lit(0).cast("timestamp"))
        union_kept = {
            r["doc_id"]
            for r in near_dedup_batch(
                union, event_time="ts", num_hashes=8, bands=4
            ).collect()
        }
        inc_kept = {r["doc_id"] for r in flags1.filter("kept").collect()} | {
            r["doc_id"] for r in flags2.filter("kept").collect()
        }
        assert inc_kept == union_kept - {0}, (inc_kept, union_kept)
        # the precondition that makes this test meaningful: A (10) was
        # dropped as a history-dup, yet its near-dup in inc2 (20) still
        # had to lose A's buckets
        f1 = {r["doc_id"]: r for r in flags1.collect()}
        if f1[10]["dup_of_history"]:
            assert 20 not in inc_kept or 20 in union_kept

    def test_history_dup_flagged_not_surviving(self, spark):
        from denormalized_spark.operators.dedup import band_index, near_dedup_incremental

        base = "a very specific sentence that appears in history and again later"
        hist = spark.createDataFrame([(0, base)], ["doc_id", "text"])
        inc = spark.createDataFrame(
            [(10, base), (11, "entirely fresh material never seen before at all")],
            ["doc_id", "text"],
        )
        flags = {
            r["doc_id"]: r
            for r in near_dedup_incremental(inc, band_index(hist))[0].collect()
        }
        assert flags[10]["dup_of_history"] and not flags[10]["kept"]
        assert not flags[11]["dup_of_history"] and flags[11]["kept"]


def test_incremental_first_load_with_empty_index(spark):
    """Bootstrap: an empty historical index degrades to the plain
    within-batch gate, and the updated index seeds all of the kept
    docs' buckets."""
    from denormalized_spark.operators.dedup import band_index, near_dedup_incremental

    empty = spark.createDataFrame([], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "hello world this is the very first corpus load today")],
        ["doc_id", "text"],
    )
    flags, updated = near_dedup_incremental(docs, band_index(empty))
    row = flags.collect()[0]
    assert not row["dup_of_history"] and row["kept"]
    assert updated.count() == 4  # one bucket per band


def test_incremental_history_dup_still_claims_buckets(spark):
    """The transitive-chain case: A is a history near-dup AND shares a
    bucket with fresh doc B. A must still claim that bucket, so B is
    dropped — matching the one-shot batch gate over history ∪ batch
    (the old clean-subset window kept B)."""
    from denormalized_spark.operators.dedup import (
        band_index,
        near_dedup_batch,
        near_dedup_incremental,
    )
    from pyspark.sql import functions as F

    h_text = "the quick brown fox jumps over the lazy dog again today"
    # A ~ history (one word changed), B ~ A (another word changed)
    a_text = "the quick brown fox jumps over the lazy cat again today"
    b_text = "the quick brown fox jumps over a lazy cat again today"
    hist = spark.createDataFrame([(0, h_text)], ["doc_id", "text"])
    inc = spark.createDataFrame([(10, a_text), (11, b_text)], ["doc_id", "text"])

    flags = {
        r["doc_id"]: r
        for r in near_dedup_incremental(inc, band_index(hist))[0].collect()
    }
    union = spark.createDataFrame(
        [(0, h_text), (10, a_text), (11, b_text)], ["doc_id", "text"]
    ).withColumn("ts", F.lit(0).cast("timestamp"))
    union_kept = {
        r["doc_id"]
        for r in near_dedup_batch(union, event_time="ts", num_hashes=8, bands=4).collect()
    }
    inc_kept = {d for d, r in flags.items() if r["kept"]}
    # incremental keeps exactly what the union batch keeps, among new docs
    assert inc_kept == union_kept - {0}
    # and if A shares any bucket with B, B must not have survived via
    # A's removal (the regression this test pins)
    if flags[10]["dup_of_history"] and not flags[11]["dup_of_history"]:
        assert (11 in inc_kept) == (11 in union_kept)


class TestBucketSizeCap:
    TEXTS = [
        "the quick brown fox jumps over the lazy dog today again",
        "the quick brown fox jumps over the lazy cat today again",
        "completely different content about distributed query engines",
        "yet another unique document concerning stream processing",
    ]

    def _df(self, spark, n=16):
        from pyspark.sql import functions as F

        rows = [(i, self.TEXTS[i % 4] + f" tail{i % 3}") for i in range(n)]
        return spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
            "ts", F.lit(0).cast("timestamp")
        )

    def test_batch_cap_parity_when_no_bucket_exceeds(self, spark):
        """A cap larger than any bucket must reproduce the uncapped
        gate exactly — the partial-agg plan is a re-expression of the
        same ownership decision."""
        from denormalized_spark.operators.dedup import near_dedup_batch

        df = self._df(spark)
        base = {r["doc_id"] for r in near_dedup_batch(df, event_time="ts").collect()}
        capped = {
            r["doc_id"]
            for r in near_dedup_batch(
                df, event_time="ts", max_bucket_size=10_000
            ).collect()
        }
        assert base == capped

    def test_batch_oversized_bucket_exempt(self, spark):
        """Identical docs all share every bucket; with a cap below the
        corpus size those buckets are exempt, so ALL docs survive
        (recall-loss direction: an over-cap bucket stops
        discriminating, mirroring lsh_candidate_pairs)."""
        from pyspark.sql import functions as F

        from denormalized_spark.operators.dedup import near_dedup_batch

        same = "one single repeated document body shared by every row here"
        df = spark.createDataFrame(
            [(i, same) for i in range(12)], ["doc_id", "text"]
        ).withColumn("ts", F.lit(0).cast("timestamp"))
        uncapped = {r["doc_id"] for r in near_dedup_batch(df, event_time="ts").collect()}
        assert uncapped == {0}  # earliest claimant wins every bucket
        capped = {
            r["doc_id"]
            for r in near_dedup_batch(df, event_time="ts", max_bucket_size=5).collect()
        }
        assert capped == set(range(12))

    def test_incremental_cap_parity(self, spark):
        from pyspark.sql import functions as F

        from denormalized_spark.operators.dedup import (
            band_index,
            near_dedup_incremental,
        )

        df = self._df(spark)
        hist = df.filter(F.col("doc_id") < 6).drop("ts")
        inc = df.filter(F.col("doc_id") >= 6).drop("ts")
        idx = band_index(hist)
        base = {
            tuple(r)
            for r in near_dedup_incremental(inc, idx)[0].collect()
        }
        capped = {
            tuple(r)
            for r in near_dedup_incremental(inc, idx, max_bucket_size=10_000)[0].collect()
        }
        assert base == capped


@pytest.mark.parametrize(
    "row_op",
    [
        pytest.param(lambda ds: ds, id="no_row_op"),
        pytest.param(lambda ds: ds.filter(F.col("doc_id") > 0), id="filter"),
    ],
)
def test_window_time_mode_stream_equals_batch(spark, row_op):
    """ts_mode='window_time' parity: the streaming gate's emitted
    (doc_id, ts) must equal the batch twin's derived window_time —
    and the column must chain into a downstream windowed aggregation
    in the same query (the gate → monitor graph), also through a row
    op between the gate and the window: the column's watermark
    metadata, not the query's shape, says it is already watermarked."""
    stage = tempfile.mkdtemp(prefix="nd_wt_stage_")
    schema = "doc_id long, ts timestamp, text string"
    by_minute: dict[int, list] = {}
    for i, m, t in DOCS:
        by_minute.setdefault(m, []).append(
            (i, T0 + datetime.timedelta(minutes=m), t)
        )
    for k, (m, chunk) in enumerate(sorted(by_minute.items())):
        path = os.path.join(stage, f"part{k}")
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        for f in os.listdir(path):
            os.utime(os.path.join(path, f), (1_000_000 + k, 1_000_000 + k))

    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage, "part*"))
    )
    gated = DataStream(sdf, event_time="ts").near_dedup(
        "doc_id", "text", ts_mode="window_time"
    )
    assert gated.event_time == "ts"
    assert "spark.watermarkDelayMs" in gated.df.schema["ts"].metadata
    # chain a 10-minute windowed count downstream IN THE SAME QUERY
    mon = row_op(gated).window(["doc_id"], [F.count("*").alias("n")], 600_000)
    emitted = []
    q = mon.sink(
        lambda df: emitted.extend(df.collect()),
        checkpoint=tempfile.mkdtemp(prefix="nd_wt_ck_"),
    )
    q.awaitTermination(240)
    got = {(r["doc_id"], r["n"]) for r in emitted}
    assert got == {(1, 1), (2, 1), (4, 1)}, got

    # batch twin emits the identical window_time values
    batch_df = spark.createDataFrame(_rows(), schema)
    bat = DataStream(batch_df, event_time="ts").near_dedup(
        "doc_id", "text", ts_mode="window_time"
    )
    by_id = {r["doc_id"]: r["ts"] for r in bat.df.collect()}
    # doc 4 arrived at minute 5 -> emit window [5:00,6:00) -> end-1µs
    assert by_id[4] == T0 + datetime.timedelta(minutes=6) - datetime.timedelta(
        microseconds=1
    )


def test_weighted_minhash_estimates_weighted_jaccard(spark):
    """Slot-match fraction ~ weighted Jaccard sum(min tf)/sum(max tf).
    Docs share the same vocabulary but very different tf bags, so the
    SET Jaccard is 1.0 while the weighted one is not — the case the
    expansion exists for."""
    from denormalized_spark.operators.dedup import weighted_minhash_signatures

    a = "w " * 12 + "x y z"
    b = "w x y z"            # J_w = (1+1+1+1)/(12+1+1+1) = 4/15 ~ 0.267
    c = "p q r s"            # disjoint
    df = spark.createDataFrame(
        [(1, a.strip()), (2, b), (3, c)], "doc_id long, text string"
    )
    sig = {
        r["doc_id"]: r["wmh"]
        for r in weighted_minhash_signatures(df, num_hashes=64).collect()
    }
    match_ab = sum(x == y for x, y in zip(sig[1], sig[2])) / 64
    match_ac = sum(x == y for x, y in zip(sig[1], sig[3])) / 64
    # sigma ~ sqrt(J(1-J)/64) ~ 0.055 at J=0.267: allow 3 sigma
    assert abs(match_ab - 4 / 15) < 0.17, match_ab
    assert match_ac == 0.0
    # weight cap truncates both sides identically: tf 12 capped to 4
    # makes the bags EQUAL -> signatures identical
    capped = {
        r["doc_id"]: r["wmh"]
        for r in weighted_minhash_signatures(
            df, num_hashes=16, weight_cap=1
        ).collect()
    }
    assert capped[1] == capped[2]
