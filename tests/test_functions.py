"""Unit tests for the expression surface — including the round-1
defect cases (VERDICT "What's wrong" #1-4 + count()-Column guard).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from denormalized_spark import functions as dnf


def one(spark, col):
    return spark.range(1).select(col.alias("x")).collect()[0]["x"]


# ---- round-1 defects -------------------------------------------------------

def test_to_timestamp_nanos_exact_above_double_range(spark):
    """Epoch-nanos ~1.7e18 exceed double's 2^53 integer range; float
    division was off by up to ~128 µs. Must be exact."""
    ns = 1_700_000_000_123_456_789
    df = spark.createDataFrame([(ns,)], ["ns"])
    got = df.select(
        F.unix_micros(dnf.to_timestamp_nanos("ns")).alias("us")
    ).collect()[0]["us"]
    assert got == ns // 1000  # 1_700_000_000_123_456 exactly


def test_log_column_base(spark):
    df = spark.createDataFrame([(2.0, 8.0)], ["b", "x"])
    got = df.select(dnf.log(F.col("b"), "x").alias("v")).collect()[0]["v"]
    assert got == pytest.approx(3.0)
    got = df.select(dnf.log("b", "x").alias("v")).collect()[0]["v"]
    assert got == pytest.approx(3.0)


def test_log_literal_base_and_log10(spark):
    assert one(spark, dnf.log(2, F.lit(32.0))) == pytest.approx(5.0)
    assert one(spark, dnf.log(F.lit(1000.0))) == pytest.approx(3.0)  # 1-arg = log10


def test_trunc_no_overflow_and_negative_places(spark):
    big = 9.3e18  # > long range; old long-cast silently wrapped
    assert one(spark, dnf.trunc(F.lit(big))) == pytest.approx(big)
    assert one(spark, dnf.trunc(F.lit(1234.567), 2)) == pytest.approx(1234.56)
    assert one(spark, dnf.trunc(F.lit(-1234.567), 2)) == pytest.approx(-1234.56)
    assert one(spark, dnf.trunc(F.lit(1234.567), -2)) == pytest.approx(1200.0)
    assert one(spark, dnf.trunc(F.lit(-0.5))) == pytest.approx(0.0)


def test_range_int_args(spark):
    assert one(spark, dnf.range(5)) == [0, 1, 2, 3, 4]
    assert one(spark, dnf.range(2, 5)) == [2, 3, 4]
    assert one(spark, dnf.range(1, 10, 3)) == [1, 4, 7]
    assert one(spark, dnf.range(5, 2, -1)) == [5, 4, 3]


def test_count_accepts_column(spark):
    df = spark.createDataFrame([(1,), (2,), (None,)], ["x"])
    got = df.agg(
        dnf.count(F.col("x")).alias("c"),
        dnf.count("*").alias("star"),
        dnf.count("x", distinct=True).alias("d"),
    ).collect()[0]
    assert (got["c"], got["star"], got["d"]) == (2, 3, 2)


# ---- agg builder options ---------------------------------------------------

def test_agg_filter_rewrite(spark):
    df = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], ["k", "v"])
    got = df.agg(
        dnf.sum("v", filter=F.col("k") > 1).alias("s"),
        dnf.count("v", filter=F.col("k") > 1).alias("c"),
        dnf.avg("v", filter=F.col("k") == 1).alias("a"),
    ).collect()[0]
    assert (got["s"], got["c"], got["a"]) == (50, 2, 10.0)


def _median_groups(seed=5, groups=300):
    """Random groups of 1-12 values: odd and even sizes, NULL, NaN,
    ±1e308, ±inf, ±0.0, ties; group 0 is all-NULL, groups -1 and -2
    have middle pairs whose sum overflows a double."""
    import random

    rng = random.Random(seed)
    special = [None, float("nan"), 1e308, -1e308, 1.7e308, -1.7e308,
               float("inf"), float("-inf"), 0.0, -0.0]
    rows = [(0, None, None, True), (0, None, None, False)]
    rows += [(-1, 1e308, 1, True), (-1, 1.7e308, 2, True),
             (-2, -1e308, 3, True), (-2, -1.7e308, 4, True)]
    for g in range(1, groups):
        for _ in range(rng.randint(1, 12)):
            r = rng.random()
            v = (rng.choice(special) if r < 0.15
                 else float(rng.randint(-5, 5)) if r < 0.5
                 else rng.uniform(-1e6, 1e6))
            rows.append((g, v, rng.randint(-50, 50), rng.random() < 0.7))
    return rows


def test_median_bit_identical_to_spark_percentile(spark):
    """f.median (a sorted value list) returns exactly what F.median
    (Spark's Percentile) returns — no tolerance — over double, int and
    decimal inputs, with and without filter=; its plan aggregates with
    collect_list, not percentile."""
    df = spark.createDataFrame(
        _median_groups(), "g int, v double, i int, keep boolean"
    ).withColumn("d", (F.col("i") * F.lit(1.234567)).cast("decimal(38,6)"))
    aggs = []
    for c in ("v", "i", "d"):
        aggs += [dnf.median(c).alias(f"{c}_a"), F.median(c).alias(f"{c}_b"),
                 dnf.median(c, filter=F.col("keep")).alias(f"{c}_fa"),
                 F.median(F.when(F.col("keep"), F.col(c))).alias(f"{c}_fb")]
    out = df.groupBy("g").agg(*aggs).cache()
    for c in ("v", "i", "d"):
        for a, b in ((f"{c}_a", f"{c}_b"), (f"{c}_fa", f"{c}_fb")):
            assert out.schema[a].dataType == out.schema[b].dataType
            bad = out.filter(~F.col(a).eqNullSafe(F.col(b))).select("g", a, b).collect()
            assert not bad, bad
    got = out.filter("g = 0").first()
    assert got["v_a"] is None and got["d_a"] is None
    assert math.isfinite(out.filter("g = -1").first()["v_a"])
    assert out.filter(F.isnan("v_a")).count() > 0
    out.unpersist()

    plan = (df.groupBy("g").agg(dnf.median("v"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "collect_list" in plan and "percentile(" not in plan


def _result_projection_code(df) -> str:
    """The Java source Spark generates for the result projection of
    ``df``'s final aggregate (an ObjectHashAggregate for collect_list,
    outside whole-stage codegen, so ``debugCodegen`` does not show it),
    with subexpression elimination on, as the aggregate builds it."""
    jvm = df.sparkSession._jvm
    ex = jvm.org.apache.spark.sql.catalyst.expressions
    agg = df._jdf.queryExecution().sparkPlan()
    grouping, buffers = agg.groupingExpressions(), agg.aggregateAttributes()
    inputs = [grouping.apply(i).toAttribute() for i in range(grouping.size())]
    inputs += [buffers.apply(i) for i in range(buffers.size())]
    inputs = getattr(ex, "package$AttributeSeq")(jvm.PythonUtils.toSeq(inputs))
    out = agg.resultExpressions()
    bound = [ex.BindReferences.bindReference(out.apply(i), inputs, False)
             for i in range(out.size())]
    ctx = ex.codegen.CodegenContext()
    ev = ex.codegen.GenerateUnsafeProjection.createCode(
        ctx, jvm.PythonUtils.toSeq(bound), True
    )
    return ctx.declareAddedFunctions() + ev.code().toString()


def test_median_sorts_each_group_once(spark):
    """The median's plan sorts each group's value list once: the sort is
    a common subexpression of the result projection, which therefore
    holds exactly the sort code of one bare ``sort_array`` (a
    ``when(n > 0, ...)`` guard around the middle values made codegen
    skip it, and the sort ran 11 times per group)."""
    import re

    df = spark.range(10).selectExpr("id % 3 AS g", "CAST(id AS double) AS v")
    one_sort = _result_projection_code(
        df.groupBy("g").agg(F.sort_array(F.collect_list("v")))
    )
    for distinct in (False, True):
        code = _result_projection_code(
            df.groupBy("g").agg(dnf.median("v", distinct=distinct))
        )
        assert set(re.findall(r"SortArray_\d+", code)) == {"SortArray_0"}
        assert code.count("parallelSort") == one_sort.count("parallelSort") > 0


def test_median_distinct_matches_pandas(spark):
    """median(DISTINCT x): the median of the unique non-NULL values."""
    rows = [(g, None if v is None else i % 7, k) for g, v, i, k in _median_groups(seed=9)]
    df = spark.createDataFrame(rows, "g int, i int, keep boolean")
    got = dict(df.groupBy("g").agg(dnf.median("i", distinct=True)).collect())
    pdf = df.toPandas()
    want = pdf.groupby("g")["i"].agg(lambda s: s.dropna().drop_duplicates().median())
    assert len(got) == len(want)
    for g, m in want.items():
        assert (got[g] is None) if math.isnan(m) else got[g] == m, (g, got[g], m)
    filtered = df.agg(dnf.median("i", distinct=True, filter=F.col("keep"))).first()[0]
    kept = pdf.loc[pdf["keep"], "i"].dropna().drop_duplicates().median()
    assert filtered == kept


def test_first_last_value_ordered(spark):
    df = spark.createDataFrame([(3, "c"), (1, "a"), (2, "b")], ["o", "v"])
    got = df.agg(
        dnf.first_value("v", order_by=[F.col("o")]).alias("f"),
        dnf.last_value("v", order_by=[F.col("o")]).alias("l"),
    ).collect()[0]
    assert (got["f"], got["l"]) == ("a", "c")


def test_string_agg(spark):
    df = spark.createDataFrame([("b",), ("a",)], ["v"])
    got = df.agg(dnf.string_agg("v", "|").alias("s")).collect()[0]["s"]
    assert sorted(got.split("|")) == ["a", "b"]


def test_approx_distinct_error_bound(spark, events):
    """HLL estimate within 15% (3σ at default rsd 0.05) of exact —
    the oracle-checkable contract for agg_approx_distinct."""
    got = events.agg(
        dnf.approx_distinct("user_id").alias("a"),
        F.count_distinct("user_id").alias("e"),
    ).collect()[0]
    assert abs(got["a"] - got["e"]) <= 0.15 * got["e"]


# ---- scalar/array semantics ------------------------------------------------

def test_array_remove_first_occurrence_only(spark):
    df = spark.createDataFrame([([1, 2, 1, 3],)], ["xs"])
    got = df.select(dnf.array_remove("xs", 1).alias("x")).collect()[0]["x"]
    assert got == [2, 1, 3]  # DataFusion semantics: FIRST occurrence
    got = df.select(dnf.array_remove_all("xs", 1).alias("x")).collect()[0]["x"]
    assert got == [2, 3]


def test_array_replace_first_vs_all(spark):
    df = spark.createDataFrame([([1, 2, 1],)], ["xs"])
    got = df.select(dnf.array_replace("xs", 1, 9).alias("x")).collect()[0]["x"]
    assert got == [9, 2, 1]
    got = df.select(dnf.array_replace_all("xs", 1, 9).alias("x")).collect()[0]["x"]
    assert got == [9, 2, 9]


def test_array_remove_n_and_replace_n(spark):
    """First-N positional variants (reference functions.py
    array_remove_n/array_replace_n): only the first ``max`` match
    positions are cut/replaced; nulls, later occurrences, and order
    survive; max <= 0 is a no-op; max > matches degrades to _all;
    list_* aliases exist."""
    df = spark.createDataFrame(
        [(["a", "b", "a", "c", "a", None, "b"],)], "xs array<string>"
    )

    def one(col):
        return df.select(col.alias("x")).collect()[0]["x"]

    assert one(dnf.array_remove_n("xs", F.lit("a"), 2)) == ["b", "c", "a", None, "b"]
    assert one(dnf.array_remove_n("xs", F.lit("a"), 0)) == ["a", "b", "a", "c", "a", None, "b"]
    assert one(dnf.array_remove_n("xs", F.lit("a"), 99)) == ["b", "c", None, "b"]
    assert one(dnf.array_remove_n("xs", F.lit("zz"), 3)) == ["a", "b", "a", "c", "a", None, "b"]
    assert one(dnf.array_replace_n("xs", F.lit("a"), "X", 2)) == ["X", "b", "X", "c", "a", None, "b"]
    assert one(dnf.array_replace_n("xs", F.lit("b"), "Y", 1)) == ["a", "Y", "a", "c", "a", None, "b"]
    assert one(dnf.list_remove_n("xs", F.lit("a"), 1)) == ["b", "a", "c", "a", None, "b"]
    assert one(dnf.list_replace_n("xs", F.lit("a"), "Z", 0)) == ["a", "b", "a", "c", "a", None, "b"]


def test_array_resize_and_slice(spark):
    df = spark.createDataFrame([([1, 2, 3],)], ["xs"])
    assert df.select(dnf.array_resize("xs", 5, 0).alias("x")).collect()[0]["x"] == [1, 2, 3, 0, 0]
    assert df.select(dnf.array_resize("xs", 2).alias("x")).collect()[0]["x"] == [1, 2]
    # DataFusion array_slice: 1-based inclusive [begin, end]
    assert df.select(dnf.array_slice("xs", 2, 3).alias("x")).collect()[0]["x"] == [2, 3]


def test_named_struct_and_in_list(spark):
    row = spark.range(1).select(
        dnf.named_struct("a", F.lit(1), "b", F.lit("x")).alias("s"),
        dnf.in_list(F.lit(3), [1, 2, 3]).alias("yes"),
        dnf.in_list(F.lit(3), [1, 2], negated=True).alias("not_in"),
    ).collect()[0]
    assert row["s"].asDict() == {"a": 1, "b": "x"}
    assert row["yes"] is True and row["not_in"] is True


def test_regexp_match(spark):
    got = one(spark, dnf.regexp_match(F.lit("a1b22c"), r"\d+"))
    assert got == ["1", "22"]


def test_digest_and_encode(spark):
    row = spark.range(1).select(
        dnf.digest(F.lit("abc"), "sha256").alias("d"),
        dnf.encode(F.lit("abc").cast("binary"), "hex").alias("h"),
        dnf.decode(dnf.encode(F.lit("abc").cast("binary"), "base64"), "base64")
        .cast("string")
        .alias("rt"),
    ).collect()[0]
    assert row["d"].startswith("ba7816bf")
    assert row["h"] == "616263"
    assert row["rt"] == "abc"


def test_date_part_and_trunc(spark):
    df = spark.createDataFrame([("2024-03-15 13:45:30",)], ["s"])
    got = df.select(
        dnf.date_part("hour", dnf.to_timestamp("s")).alias("h"),
        dnf.date_trunc("day", dnf.to_timestamp("s")).cast("string").alias("d"),
    ).collect()[0]
    assert got["h"] == 13 and got["d"].startswith("2024-03-15 00:00")


def test_case_builder_simple_and_end(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], ["x"])
    c = (
        dnf.case(F.col("x"))
        .when(F.lit(1), F.lit("one"))
        .when(F.lit(2), F.lit("two"))
        .otherwise(F.lit("many"))
    )
    got = [r[0] for r in df.select(c).collect()]
    assert got == ["one", "two", "many"]
    # end(): non-matches are NULL
    c2 = dnf.case(F.col("x")).when(F.lit(1), F.lit("one")).end()
    got2 = [r[0] for r in df.select(c2).collect()]
    assert got2 == ["one", None, None]


def test_date_bin_with_origin(spark):
    df = spark.createDataFrame([("2024-01-01 00:37:00",), ("2023-12-31 23:50:00",)], ["s"])
    ts = dnf.to_timestamp("s")
    # 15-minute bins anchored at 00:05
    binned = df.select(
        dnf.date_bin(900_000, ts, "2024-01-01 00:05:00").cast("string").alias("b")
    ).collect()
    assert binned[0]["b"].startswith("2024-01-01 00:35:00")
    # before the origin: floor-mod must still bin downward
    assert binned[1]["b"].startswith("2023-12-31 23:50:00")


def test_weighted_percentile_matches_manual(spark):
    df = spark.createDataFrame(
        [("a", 1.0, 1), ("a", 2.0, 1), ("a", 3.0, 8), ("b", 5.0, 1), ("b", 6.0, 0)],
        ["g", "v", "w"],
    )
    got = {
        r["g"]: r["weighted_percentile"]
        for r in dnf.weighted_percentile(df, ["g"], "v", "w", 0.5).collect()
    }
    # a: total w=10, target 5 -> crossing inside v=3 -> 3.0
    # b: zero-weight row excluded -> only v=5 carries mass
    assert got == {"a": 3.0, "b": 5.0}


def test_approx_percentile_with_weight_column_form(spark):
    """The aggregate-Column form agrees with the windowed DataFrame
    form and handles the same edges (zero weights carry no mass)."""
    df = spark.createDataFrame(
        [("a", 1.0, 1), ("a", 2.0, 1), ("a", 3.0, 8), ("b", 5.0, 1), ("b", 6.0, 0)],
        ["g", "v", "w"],
    )
    got = {
        r["g"]: r["wp"]
        for r in df.groupBy("g")
        .agg(dnf.approx_percentile_cont_with_weight("v", "w", 0.5).alias("wp"))
        .collect()
    }
    assert got == {"a": 3.0, "b": 5.0}
    # percentile edges: 0 -> min massed value, 1 -> max massed value
    edges = (
        df.groupBy("g")
        .agg(
            dnf.approx_percentile_cont_with_weight("v", "w", 0.0).alias("lo"),
            dnf.approx_percentile_cont_with_weight("v", "w", 1.0).alias("hi"),
        )
        .collect()
    )
    by_g = {r["g"]: (r["lo"], r["hi"]) for r in edges}
    assert by_g == {"a": (1.0, 3.0), "b": (5.0, 5.0)}


def test_column_and_dataframe_weighted_percentile_agree(spark, sf_dir):
    from denormalized_spark.sources.files import load_table

    li = load_table(spark, sf_dir, "lineitem")
    col = {
        r["l_returnflag"]: round(r["wp"], 2)
        for r in li.groupBy("l_returnflag")
        .agg(
            dnf.approx_percentile_cont_with_weight(
                "l_extendedprice", "l_quantity", 0.5
            ).alias("wp")
        )
        .collect()
    }
    dfm = {
        r["l_returnflag"]: round(r["wp"], 2)
        for r in dnf.weighted_percentile(
            li, ["l_returnflag"], "l_extendedprice", "l_quantity", 0.5, out_col="wp"
        ).collect()
    }
    assert col == dfm


class TestSketches:
    def test_hll_union_consistent_with_direct(self, spark):
        import denormalized_spark.functions as dnf
        from pyspark.sql import functions as F

        df = spark.range(0, 5000).select(
            (F.col("id") % 700).alias("v"), (F.col("id") % 4).alias("seg")
        )
        direct = df.select(
            dnf.hll_sketch_estimate(dnf.hll_sketch_agg("v")).alias("nd")
        ).collect()[0].nd
        merged = (
            df.groupBy("seg")
            .agg(dnf.hll_sketch_agg("v").alias("sk"))
            .select(dnf.hll_sketch_estimate(dnf.hll_union_agg("sk")).alias("nd"))
            .collect()[0]
            .nd
        )
        # mergeability contract: union of per-segment sketches stays
        # within the sketch's error bound of both truth and the direct
        # whole-data sketch
        assert abs(direct - 700) <= 0.1 * 700
        assert abs(merged - 700) <= 0.1 * 700

    def test_count_min_sketch_binary(self, spark):
        import denormalized_spark.functions as dnf
        from pyspark.sql import functions as F

        df = spark.createDataFrame([("a",), ("a",), ("b",)], ["t"])
        blob = df.select(
            dnf.count_min_sketch("t", F.lit(0.01), F.lit(0.95), F.lit(1)).alias("s")
        ).collect()[0].s
        assert isinstance(blob, (bytes, bytearray)) and len(blob) > 0


class TestLinearTrainer:
    def test_learns_separating_weights(self, spark):
        """Synthetic two-vocabulary corpus: the trained gate must
        score positive-class docs above negative-class docs."""
        from denormalized_spark.operators.text import (
            linear_classifier_score,
            train_linear_classifier,
        )

        rows = [(i, 1, "aaa bbb ccc aaa bbb") for i in range(30)] + [
            (100 + i, 0, "xxx yyy zzz xxx yyy") for i in range(30)
        ]
        df = spark.createDataFrame(rows, "doc_id long, y long, text string")
        w = train_linear_classifier(df, "y", "text", dim=8, iters=3, lr_bits=20)
        assert len(w) == 8
        scored = df.select(
            "y", linear_classifier_score(w, "text").alias("s")
        ).collect()
        pos = [r.s for r in scored if r.y == 1]
        neg = [r.s for r in scored if r.y == 0]
        assert min(pos) > max(neg)

    def test_weights_stay_on_dyadic_grid(self, spark):
        """The portability contract: every weight is an exact multiple
        of 2^-lr_bits (floor-snap each iteration), so the whole
        trajectory is engine-reproducible."""
        from denormalized_spark.operators.text import train_linear_classifier

        df = spark.createDataFrame(
            [(1, 1, "p q r"), (2, 0, "s t u")], "doc_id long, y long, text string"
        )
        w = train_linear_classifier(df, "y", "text", dim=4, iters=2, lr_bits=10)
        for wj in w:
            assert wj == round(wj * 1024) / 1024  # exactly on the 2^-10 grid

    def test_empty_corpus_returns_zero_weights(self, spark):
        """Regression: F.sum over zero rows is NULL; the weight update
        used to TypeError on an empty (or fully filtered) DataFrame."""
        from denormalized_spark.operators.text import train_linear_classifier

        df = spark.createDataFrame([], "doc_id long, y long, text string")
        w = train_linear_classifier(df, "y", "text", dim=4, iters=2)
        assert w == [0.0] * 4

    def test_dim_bound_guard(self, spark):
        from denormalized_spark.operators.text import train_linear_classifier

        df = spark.createDataFrame(
            [(1, 1, "a")], "doc_id long, y long, text string"
        )
        with pytest.raises(ValueError, match="dim"):
            train_linear_classifier(df, "y", "text", dim=2048, iters=1)


class TestGopherRules:
    def test_rule_flags(self, spark):
        from denormalized_spark.operators.text import gopher_rules

        long_good = " ".join(["the", "cat", "sat", "with", "joy"] * 12)  # 60 words
        short = "too short to pass"
        symbols = " ".join(["the", "of", "with"] + ["###"] * 60)
        no_stop = " ".join(["alpha", "beta", "gamma", "delta"] * 15)
        rows = [(1, long_good), (2, short), (3, symbols), (4, no_stop)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in gopher_rules(df).collect()}
        assert got[1].gopher_pass
        assert not got[2].gr_word_count and not got[2].gopher_pass
        assert not got[3].gr_symbol_ratio and not got[3].gopher_pass
        assert not got[4].gr_stopwords and not got[4].gopher_pass

    def test_mean_word_len_bounds(self, spark):
        from denormalized_spark.operators.text import gopher_rules

        longwords = " ".join(["the", "of", "with"] + ["pneumonoultramicroscopic"] * 57)
        df = spark.createDataFrame([(1, longwords)], "doc_id long, text string")
        r = gopher_rules(df).collect()[0]
        assert not r.gr_mean_word_len and not r.gopher_pass


# ---------------------------------------------------------------------------
# round 5: token entropy, frequency spectrum
# ---------------------------------------------------------------------------


def test_token_entropy_degenerate_vs_diverse(spark):
    """All-same-token doc → entropy 0; all-distinct doc → ln(n);
    TTR separates them the same way."""
    import math

    from denormalized_spark.operators.text import token_entropy_stats

    df = spark.createDataFrame(
        [(1, "spam spam spam spam"), (2, "alpha beta gamma delta")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in token_entropy_stats(df).collect()}
    assert abs(rows[1]["entropy"]) < 1e-12
    assert abs(rows[2]["entropy"] - math.log(4)) < 1e-12
    assert rows[1]["type_token_ratio"] == 0.25
    assert rows[2]["type_token_ratio"] == 1.0
    assert rows[1]["n_tokens"] == 4 and rows[1]["n_types"] == 1


def test_token_entropy_empty_doc_emits_no_row(spark):
    from denormalized_spark.operators.text import token_entropy_stats

    df = spark.createDataFrame([(1, "   "), (2, "a b")], ["doc_id", "text"])
    assert [r["doc_id"] for r in token_entropy_stats(df).collect()] == [2]


def test_frequency_spectrum_counts_types_per_freq(spark):
    from denormalized_spark.operators.text import frequency_spectrum

    # 'a' x3, 'b' x2, 'c' x2, 'd' x1, 'e' x1, 'f' x1
    df = spark.createDataFrame(
        [(1, "a a b c d"), (2, "a b c e f")], ["doc_id", "text"]
    )
    spec = {r["freq"]: r["n_types"] for r in frequency_spectrum(df).collect()}
    assert spec == {3: 1, 2: 2, 1: 3}


def test_bpe_train_learns_expected_merges(spark):
    """Hand-checkable corpus: 'aaab' dominates, so round 1 merges
    (a,a) — counted at both overlapping positions — and later rounds
    operate on the re-segmented symbols."""
    from denormalized_spark.operators.text import bpe_train

    df = spark.createDataFrame(
        [(1, "aaab aaab aaab ab"), (2, "aaab cd cd")], ["doc_id", "text"]
    )
    got = {r["rank"]: r for r in bpe_train(df, num_merges=3).collect()}
    # (a,a): 2 per 'aaab' x4 = 8; (a,b): 4+1=5; (c,d): 2
    assert (got[1]["sym_a"], got[1]["sym_b"], got[1]["pair_count"]) == ("a", "a", 8)
    # after merge 1, 'aaab' = [aa, a, b]: pairs (aa,a) x4, (a,b) x5, (c,d) x2
    assert (got[2]["sym_a"], got[2]["sym_b"], got[2]["pair_count"]) == ("a", "b", 5)
    assert got[2]["merged"] == "ab"
    # after merge 2, 'aaab' = [aa, ab]: (aa,ab) x4 beats (c,d) x2
    assert (got[3]["sym_a"], got[3]["sym_b"]) == ("aa", "ab")


def test_bpe_train_stops_when_no_pairs_left(spark):
    from denormalized_spark.operators.text import bpe_train

    df = spark.createDataFrame([(1, "ab ab")], ["doc_id", "text"])
    got = bpe_train(df, num_merges=10).collect()
    # 'ab' -> one merge (a,b); the merged word is a single symbol, done
    assert len(got) == 1
    assert got[0]["merged"] == "ab"


def test_merge_adjacent_greedy_overlap(spark):
    from denormalized_spark.operators.text import _merge_adjacent

    df = spark.createDataFrame([(["a", "a", "a"],), (["a", "a", "a", "a"],)], ["syms"])
    out = [r["m"] for r in df.select(_merge_adjacent(F.col("syms"), "a", "a").alias("m")).collect()]
    assert out == [["aa", "a"], ["aa", "aa"]]


def test_bigram_logprob_interpolation(spark):
    """Hand-checked 2-doc corpus: interpolated bigram/unigram
    probabilities; docs with <2 tokens emit no row."""
    import math

    from denormalized_spark.operators.text import bigram_logprob_scores

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in bigram_logprob_scores(df).collect()}
    assert set(rows) == {1, 2}
    # corpus: tokens a x3, b x3, x x1 -> T=7; bigrams: (a,b) x3, (b,a) x1
    # P(b|a)=3/3=1, P(a|b)=1/1=1 (ctx = bigram-left totals)
    # doc1 positions: (a,b),(b,a),(a,b); doc2: (a,b)
    p_ab = math.log(0.7 * 1.0 + 0.3 * (3 / 7))
    p_ba = math.log(0.7 * 1.0 + 0.3 * (3 / 7))
    assert rows[1]["n_bigrams"] == 3
    assert abs(rows[1]["avg_logp2"] - (2 * p_ab + p_ba) / 3) < 1e-12
    assert rows[2]["n_bigrams"] == 1
    assert abs(rows[2]["avg_logp2"] - p_ab) < 1e-12


def test_bigram_logprob_ranks_word_salad_below_natural(spark):
    """Same unigram bag, scrambled order -> lower bigram score."""
    from denormalized_spark.operators.text import bigram_logprob_scores

    natural = "the cat sat on the mat " * 5
    salad = "cat the on sat mat the " + "the cat sat on the mat " * 4
    df = spark.createDataFrame([(1, natural), (2, salad)], ["doc_id", "text"])
    rows = {r["doc_id"]: r["avg_logp2"] for r in bigram_logprob_scores(df).collect()}
    assert rows[1] > rows[2]


def test_bpe_encode_counts_compression(spark):
    """Encoding with the learned merges shrinks token counts on the
    corpus the merges were trained on; a no-merge encode equals the
    char count."""
    from denormalized_spark.operators.text import bpe_encode_counts, bpe_train

    df = spark.createDataFrame(
        [(1, "aaab aaab aaab ab"), (2, "aaab cd cd")], ["doc_id", "text"]
    )
    merges = [
        (r["sym_a"], r["sym_b"])
        for r in sorted(bpe_train(df, num_merges=3).collect(), key=lambda r: r["rank"])
    ]
    got = {r["doc_id"]: r for r in bpe_encode_counts(df, merges).collect()}
    # doc1: merges (a,a),(a,b),(aa,ab): 'aaab' -> [aaab] 1 sym, 'ab' -> [ab] 1
    assert got[1]["n_words"] == 4 and got[1]["n_chars"] == 14
    assert got[1]["n_bpe_tokens"] == 4  # 3x'aaab' + 'ab', each 1 symbol
    # doc2: 'aaab' -> 1 sym; 'cd' stays 2 chars ((c,d) never merged in top-3)
    assert got[2]["n_bpe_tokens"] == 1 + 2 + 2
    # no merges -> symbols == chars
    raw = {r["doc_id"]: r for r in bpe_encode_counts(df, []).collect()}
    assert all(raw[k]["n_bpe_tokens"] == raw[k]["n_chars"] for k in raw)


def test_bpe_and_bigram_empty_corpus(spark):
    """Empty input: the trainer returns an empty merge table with the
    right schema (no crash on the empty-argmax probe); the bigram
    scorer returns no rows."""
    from denormalized_spark.operators.text import bigram_logprob_scores, bpe_train

    empty = spark.createDataFrame([], "doc_id long, text string")
    merges = bpe_train(empty, num_merges=3)
    assert merges.collect() == []
    assert set(merges.columns) == {"rank", "sym_a", "sym_b", "merged", "pair_count"}
    assert bigram_logprob_scores(empty).collect() == []


class TestBpeEncodeTable:
    def test_matches_literal_chain_on_trained_merges(self, spark):
        """The Arrow kernel must be bit-identical to the fold chain on
        the chain's own config (trained merges incl. multi-char
        symbol merges)."""
        from denormalized_spark.operators.text import (
            bpe_encode_counts,
            bpe_encode_table,
            bpe_train,
        )

        df = spark.createDataFrame(
            [(1, "aaab aaab aaab ab"), (2, "aaab cd cd"), (3, ""), (4, "  x  ")],
            ["doc_id", "text"],
        )
        merges = [
            (r["sym_a"], r["sym_b"])
            for r in sorted(
                bpe_train(df, num_merges=3).collect(), key=lambda r: r["rank"]
            )
        ]
        chain = {tuple(r) for r in bpe_encode_counts(df, merges).collect()}
        arrow = {tuple(r) for r in bpe_encode_table(df, merges).collect()}
        assert chain == arrow

    def test_rank_order_and_overlap_semantics(self, spark):
        """Adversarial table: a later merge whose operand is produced
        by an earlier merge, plus the overlapping-pair greedy rule
        ('aaa' + (a,a) -> [aa, a])."""
        from denormalized_spark.operators.text import (
            bpe_encode_counts,
            bpe_encode_table,
        )

        df = spark.createDataFrame(
            [(1, "aaa abab ababab"), (2, "ab aab aaab")], ["doc_id", "text"]
        )
        merges = [("a", "b"), ("ab", "ab"), ("a", "a"), ("aa", "ab")]
        chain = {tuple(r) for r in bpe_encode_counts(df, merges).collect()}
        arrow = {tuple(r) for r in bpe_encode_table(df, merges).collect()}
        assert chain == arrow

    def test_large_merge_table_prefilter_correct(self, spark):
        """A 1k-row merge table where ~all rows never match: the
        substring prefilter must skip them WITHOUT changing results
        (padding merges use an alphabet disjoint from the corpus)."""
        from denormalized_spark.operators.text import (
            bpe_encode_counts,
            bpe_encode_table,
        )

        df = spark.createDataFrame(
            [(1, "mississippi missive misfit"), (2, "ppi ssi ss ii")],
            ["doc_id", "text"],
        )
        real = [("s", "s"), ("i", "ss"), ("p", "p"), ("i", "pp")]
        pad = [(f"Q{i}", f"Z{i}") for i in range(1000)]
        # interleave padding before/after so rank order crosses it
        merges = pad[:500] + real[:2] + pad[500:] + real[2:]
        chain = {tuple(r) for r in bpe_encode_counts(df, real).collect()}
        # the chain with the full 1004-row table would take minutes to
        # plan; padding merges are no-ops, so chain(real) is the truth
        arrow = {tuple(r) for r in bpe_encode_table(df, merges).collect()}
        assert chain == arrow

    def test_sentinel_words_excluded(self, spark):
        from denormalized_spark.operators.text import (
            bpe_encode_counts,
            bpe_encode_table,
        )

        df = spark.createDataFrame(
            [(1, "ok \x01bad ok\x02 fine")], ["doc_id", "text"]
        )
        chain = {tuple(r) for r in bpe_encode_counts(df, [("o", "k")]).collect()}
        arrow = {tuple(r) for r in bpe_encode_table(df, [("o", "k")]).collect()}
        assert chain == arrow
        row = next(iter(arrow))
        assert row[1] == 2  # only the two sentinel-free words count


class TestBpeTokenize:
    def _trained(self, spark):
        from denormalized_spark.operators.text import bpe_train, corpus_alphabet

        df = spark.createDataFrame(
            [(1, "aaab aaab aaab ab"), (2, "aaab cd cd"), (3, ""), (4, "  x  ")],
            ["doc_id", "text"],
        )
        merges = [
            (r["sym_a"], r["sym_b"])
            for r in sorted(
                bpe_train(df, num_merges=3).collect(), key=lambda r: r["rank"]
            )
        ]
        return df, merges, corpus_alphabet(df)

    def test_id_contract_and_lengths(self, spark):
        """ids follow bpe_vocab (sorted alphabet 0..n-1, merge rank r
        at n+r-1) and len(token_ids) == n_tokens == the encode
        kernel's n_bpe_tokens for every doc."""
        from denormalized_spark.operators.text import (
            bpe_encode_table,
            bpe_tokenize,
            bpe_vocab,
        )

        df, merges, alphabet = self._trained(spark)
        assert alphabet == sorted(alphabet)
        vocab = bpe_vocab(merges, alphabet)
        assert [vocab[c] for c in alphabet] == list(range(len(alphabet)))
        for r, (a, b) in enumerate(merges, start=1):
            assert vocab[a + b] == len(alphabet) + r - 1

        got = {
            r["doc_id"]: r for r in bpe_tokenize(df, merges, alphabet).collect()
        }
        counts = {
            r["doc_id"]: r["n_bpe_tokens"]
            for r in bpe_encode_table(df, merges).collect()
        }
        for did, row in got.items():
            assert row["n_tokens"] == len(row["token_ids"]) == counts[did]
        assert got[3]["token_ids"] == []

    def test_decode_round_trip(self, spark):
        """Mapping ids back through the vocab pieces reconstructs each
        document's concatenated words — the ids are lossless."""
        from denormalized_spark.operators.text import bpe_tokenize, bpe_vocab

        df, merges, alphabet = self._trained(spark)
        rev = {i: p for p, i in bpe_vocab(merges, alphabet).items()}
        for r in bpe_tokenize(df, merges, alphabet).collect():
            decoded = "".join(rev[i] for i in r["token_ids"])
            orig = "".join((dict(
                (x["doc_id"], x["text"]) for x in df.collect()
            )[r["doc_id"]] or "").split())
            assert decoded == orig

    def test_unknown_char_maps_to_unk(self, spark):
        from denormalized_spark.operators.text import bpe_tokenize

        df = spark.createDataFrame([(1, "ab z")], ["doc_id", "text"])
        row = bpe_tokenize(df, [], ["a", "b"], unk_id=-1).collect()[0]
        assert row["token_ids"] == [0, 1, -1]

    def test_vocab_table_shape(self, spark):
        from denormalized_spark.operators.text import bpe_vocab_table

        vt = bpe_vocab_table(spark, [("a", "b"), ("ab", "c")], ["c", "a", "b"])
        rows = {r["token_id"]: r for r in vt.collect()}
        assert [rows[i]["piece"] for i in range(5)] == ["a", "b", "c", "ab", "abc"]
        assert rows[0]["kind"] == "char" and rows[0]["rank"] is None
        assert rows[3]["kind"] == "merge" and rows[3]["rank"] == 1
        assert rows[4]["rank"] == 2

    def test_merge_table_parquet_round_trip(self, spark, tmp_path):
        from denormalized_spark.operators.text import (
            bpe_load,
            bpe_save,
            bpe_train,
        )

        df, merges, _ = self._trained(spark)
        bpe_save(bpe_train(df, num_merges=3), str(tmp_path / "m"))
        assert bpe_load(spark, str(tmp_path / "m")) == merges


class TestPackTokenSequences:
    def test_concat_and_chop(self, spark):
        """Docs laid end-to-end in id order, chopped every L; a doc
        straddling a boundary spans two sequences; final partial
        sequence keeps n_real < L."""
        from denormalized_spark.operators.text import pack_token_sequences

        df = spark.createDataFrame(
            [(1, [1, 2, 3]), (2, [4, 5, 6, 7, 8]), (3, [9])],
            "doc_id long, token_ids array<int>",
        )
        rows = {
            r["seq_id"]: r
            for r in pack_token_sequences(df, 4).collect()
        }
        assert rows[0]["input_ids"] == [1, 2, 3, 4]
        assert rows[1]["input_ids"] == [5, 6, 7, 8]
        assert rows[2]["input_ids"] == [9] and rows[2]["n_real"] == 1
        assert rows[0]["n_real"] == rows[1]["n_real"] == 4

    def test_sep_and_pad(self, spark):
        from denormalized_spark.operators.text import pack_token_sequences

        df = spark.createDataFrame(
            [(1, [1, 2]), (2, [3]), (3, [])],
            "doc_id long, token_ids array<int>",
        )
        rows = {
            r["seq_id"]: r
            for r in pack_token_sequences(
                df, 4, sep_id=99, pad_id=0
            ).collect()
        }
        # stream: 1 2 99 | 3 99 ... (empty doc 3 still contributes a sep)
        assert rows[0]["input_ids"] == [1, 2, 99, 3]
        assert rows[1]["input_ids"] == [99, 99, 0, 0] and rows[1]["n_real"] == 2
        assert all(len(r["input_ids"]) == 4 for r in rows.values())

    def test_token_conservation_on_corpus(self, spark, documents):
        """Round-trip invariant on real data: Σ n_real over sequences
        == Σ len(token_ids) over docs."""
        from denormalized_spark.operators.text import (
            bpe_tokenize,
            corpus_alphabet,
            pack_token_sequences,
        )
        from pyspark.sql import functions as F

        d = documents.limit(100)
        toks = bpe_tokenize(d, [("e", "r")], corpus_alphabet(d))
        total = toks.agg(F.sum("n_tokens")).collect()[0][0]
        packed = pack_token_sequences(toks, 128)
        got = packed.agg(F.sum("n_real")).collect()[0][0]
        assert got == total
        # every non-final sequence is exactly full
        seqs = packed.orderBy("seq_id").collect()
        assert all(r["n_real"] == 128 for r in seqs[:-1])

    def test_seq_id_arithmetic_integer_exact_past_2_53(self, spark):
        """Regression (round 8): seq ids come from integer `div`, never
        F.floor(a/b) — past 2^53 cumulative tokens the double quotient
        rounds and mis-assigns fragments. Pin (a) the exact arithmetic
        pattern at synthetic offsets >2^53 where floor() demonstrably
        diverges, and (b) that the operator's plan actually uses `div`."""
        from pyspark.sql import functions as F

        from denormalized_spark.operators.text import pack_token_sequences

        L = 13
        offs = [(1 << 53) + 1, (1 << 53) + 7, (1 << 62) + 12345, (1 << 31) + 3]
        df = spark.createDataFrame([(o,) for o in offs], "_off long")
        got = df.select(
            "_off",
            F.expr(f"_off div {L}").cast("long").alias("d"),
            F.floor(F.col("_off") / L).alias("f"),
        ).collect()
        for r in got:
            assert r["d"] == r["_off"] // L
        # the float path really does diverge up there (bug class is live)
        assert any(r["f"] != r["_off"] // L for r in got)

        packed = pack_token_sequences(
            spark.createDataFrame(
                [(1, [1, 2, 3])], "doc_id long, token_ids array<int>"
            ),
            4,
        )
        plan = packed._jdf.queryExecution().analyzed().toString()
        assert " div " in plan, "pack must keep integer div seq-id arithmetic"


# ---- reference-compat wrappers vs DuckDB -----------------------------------
#
# One row table, the same values in both engines. Each case is a Spark
# column built through ``dnf`` and its oracle: DuckDB SQL over the same
# table, or a Python function of the row where DuckDB lacks the
# function.

_COMPAT_ROWS = [
    (1, "hello,world", 12, 18, 1.0, 2.0, True, [1, 2, 3], [3, 4], 1000),
    (2, "abc", 4, 6, 2.0, 3.5, True, [2, 2, 5], [7], 1_700_000_000_123),
    (3, "a,b,c", 0, 5, 3.0, 3.9, False, [4], [4], 0),
    (4, "lol", 7, 3, 4.0, 6.1, True, [1, 2], [2, 1], 86_400_000),
    (5, "xyz", 9, 27, 5.0, 5.5, True, [5, 6, 7], [8, 6], 59_999),
]
_COMPAT_COLS = "id s i j x y b arr needles ms".split()
_COMPAT_SCHEMA = (
    "id int, s string, i int, j int, x double, y double, b boolean, "
    "arr array<int>, needles array<int>, ms long"
)


def _sha(bits):
    import hashlib

    return lambda r: hashlib.new(f"sha{bits}", r["s"].encode()).hexdigest()


_SCALAR_CASES = {
    "iszero": (lambda: dnf.iszero("i"), "i = 0"),
    "char_length": (lambda: dnf.char_length("s"), "length(s)"),
    "ends_with": (lambda: dnf.ends_with("s", "c"), "ends_with(s, 'c')"),
    "starts_with": (lambda: dnf.starts_with("s", "a"), "starts_with(s, 'a')"),
    "find_in_set": (
        lambda: dnf.find_in_set("s", "abc,lol,xyz"),
        lambda r: (["abc", "lol", "xyz"].index(r["s"]) + 1) if r["s"] in ("abc", "lol", "xyz") else 0,
    ),
    "instr": (lambda: dnf.instr("s", "l"), "instr(s, 'l')"),
    "strpos": (lambda: dnf.strpos("s", "l"), "strpos(s, 'l')"),
    "replace": (lambda: dnf.replace("s", "l", "L"), "replace(s, 'l', 'L')"),
    "split_part": (lambda: dnf.split_part("s", ",", 2), "split_part(s, ',', 2)"),
    "substr_index": (
        lambda: dnf.substr_index("s", ",", 2),
        lambda r: ",".join(r["s"].split(",")[:2]),
    ),
    "to_hex": (lambda: dnf.to_hex("j"), "lower(to_hex(j))"),
    "regexp_like": (lambda: dnf.regexp_like("s", "l+o"), "regexp_matches(s, 'l+o')"),
    # every match, as DataFusion's regexp_replace with the 'g' flag
    "regexp_replace": (
        lambda: dnf.regexp_replace("s", "l+", "L"),
        "regexp_replace(s, 'l+', 'L', 'g')",
    ),
    "sha224": (lambda: dnf.sha224("s"), _sha(224)),
    "sha384": (lambda: dnf.sha384("s"), _sha(384)),
    "sha512": (lambda: dnf.sha512("s"), _sha(512)),
    # timestamps compared as epoch micros: no local-timezone conversion
    "to_timestamp_millis": (
        lambda: F.unix_micros(dnf.to_timestamp_millis("ms")),
        "epoch_us(epoch_ms(ms))",
    ),
    "to_timestamp_micros": (
        lambda: F.unix_micros(dnf.to_timestamp_micros("ms")),
        "epoch_us(make_timestamp(ms))",
    ),
    "to_timestamp_seconds": (
        lambda: F.unix_micros(dnf.to_timestamp_seconds("j")),
        "epoch_us(make_timestamp(j * 1000000))",
    ),
    "to_unixtime": (
        lambda: dnf.to_unixtime(dnf.to_timestamp_millis("ms")),
        "CAST(floor(ms / 1000) AS BIGINT)",
    ),
    "make_array": (lambda: dnf.make_array("i", "j"), "[i, j]"),
    "array_append": (lambda: dnf.array_append("arr", 9), "list_append(arr, 9)"),
    "array_concat": (lambda: dnf.array_concat("arr", "needles"), "list_concat(arr, needles)"),
    "array_dims": (lambda: dnf.array_dims("arr"), lambda r: [len(r["arr"])]),
    "array_element": (lambda: dnf.array_element("arr", 2), "arr[2]"),
    "array_has": (lambda: dnf.array_has("arr", 2), "list_contains(arr, 2)"),
    "array_has_all": (lambda: dnf.array_has_all("arr", "needles"), "list_has_all(arr, needles)"),
    "array_has_any": (lambda: dnf.array_has_any("arr", "needles"), "list_has_any(arr, needles)"),
    "array_join": (lambda: dnf.array_join("arr", "-"), "array_to_string(arr, '-')"),
    "array_length": (lambda: dnf.array_length("arr"), "len(arr)"),
    "array_ndims": (lambda: dnf.array_ndims("arr"), lambda r: 1),
    "array_pop_back": (lambda: dnf.array_pop_back("arr"), lambda r: r["arr"][:-1]),
    "array_pop_front": (lambda: dnf.array_pop_front("arr"), lambda r: r["arr"][1:]),
    "array_position": (lambda: dnf.array_position("arr", 2), "list_position(arr, 2)"),
    "array_positions": (
        lambda: dnf.array_positions("arr", 2),
        lambda r: [k + 1 for k, v in enumerate(r["arr"]) if v == 2],
    ),
    "array_prepend": (lambda: dnf.array_prepend(0, "arr"), "list_prepend(0, arr)"),
    "array_repeat": (lambda: dnf.array_repeat(F.col("i"), 3), lambda r: [r["i"]] * 3),
}

_AGG_CASES = {
    "count_star": (lambda: dnf.count_star(), "count(*)"),
    "approx_median": (lambda: dnf.approx_median("x"), "quantile_disc(x, 0.5)"),
    "approx_percentile_cont": (
        lambda: dnf.approx_percentile_cont("x", 0.25),
        "quantile_disc(x, 0.25)",
    ),
    "array_agg": (lambda: F.array_sort(dnf.array_agg("i")), "list_sort(list(i))"),
    "covar_pop": (lambda: dnf.covar_pop("y", "x"), "covar_pop(y, x)"),
    "covar_samp": (lambda: dnf.covar_samp("y", "x"), "covar_samp(y, x)"),
    "stddev_pop": (lambda: dnf.stddev_pop("y"), "stddev_pop(y)"),
    "var_pop": (lambda: dnf.var_pop("y"), "var_pop(y)"),
    "bit_and": (lambda: dnf.bit_and("j"), "bit_and(j)"),
    "bit_or": (lambda: dnf.bit_or("j"), "bit_or(j)"),
    "bit_xor": (lambda: dnf.bit_xor("j"), "bit_xor(j)"),
    "bool_and": (lambda: dnf.bool_and("b"), "bool_and(b)"),
    "bool_or": (lambda: dnf.bool_or("b"), "bool_or(b)"),
    **{
        f"regr_{k}": (lambda k=k: getattr(dnf, f"regr_{k}")("y", "x"), f"regr_{k}(y, x)")
        for k in ("avgx", "avgy", "count", "intercept", "r2", "slope", "sxx", "sxy", "syy")
    },
}


def _same(got, want) -> bool:
    if isinstance(want, float) or isinstance(got, float):
        return got is not None and want is not None and math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-12)
    return (list(got) if isinstance(got, (list, tuple)) else got) == want


@pytest.fixture(scope="module")
def compat_results(spark):
    """(Spark row, DuckDB row, source row) per case, from one Spark job
    and one DuckDB query for the scalar cases and likewise for the
    aggregate cases."""
    import duckdb
    import pandas as pd

    df = spark.createDataFrame(_COMPAT_ROWS, _COMPAT_SCHEMA)
    con = duckdb.connect()
    con.register("src", pd.DataFrame(_COMPAT_ROWS, columns=_COMPAT_COLS))
    con.execute("CREATE TABLE t AS SELECT id::INT AS id, s, i::INT AS i, j::INT AS j, x, y, b, "
                "arr::INT[] AS arr, needles::INT[] AS needles, ms::BIGINT AS ms FROM src")
    duck_sql = {k: o for k, (_, o) in _SCALAR_CASES.items() if isinstance(o, str)}
    got = df.select("id", *[b().alias(k) for k, (b, _) in _SCALAR_CASES.items()]).orderBy("id").collect()
    want = con.execute(
        "SELECT " + ", ".join(f"{o} AS {k}" for k, o in duck_sql.items()) + " FROM t ORDER BY id"
    ).fetchall()
    src = [dict(zip(_COMPAT_COLS, r)) for r in _COMPAT_ROWS]
    out = {}
    for k, (_, o) in _SCALAR_CASES.items():
        exp = [w[list(duck_sql).index(k)] for w in want] if k in duck_sql else [o(r) for r in src]
        out[k] = ([r[k] for r in got], exp)
    agg = df.agg(*[b().alias(k) for k, (b, _) in _AGG_CASES.items()]).collect()[0]
    agg_want = con.execute(
        "SELECT " + ", ".join(f"{o} AS {k}" for k, (_, o) in _AGG_CASES.items()) + " FROM t"
    ).fetchall()[0]
    for n, k in enumerate(_AGG_CASES):
        out[k] = ([agg[k]], [agg_want[n]])
    con.close()
    return out


@pytest.mark.parametrize("name", sorted(_SCALAR_CASES) + sorted(_AGG_CASES))
def test_reference_wrapper_matches_oracle(compat_results, name):
    got, want = compat_results[name]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert _same(g, w), (name, got, want)


def test_nth_value_matches_duckdb(spark):
    import duckdb
    from pyspark.sql import Window

    df = spark.createDataFrame(_COMPAT_ROWS, _COMPAT_SCHEMA)
    got = [r["v"] for r in df.select(
        "id", dnf.nth_value("x", 2).over(Window.orderBy("id")).alias("v")
    ).orderBy("id").collect()]
    xs = ", ".join(f"({r[0]}, {r[4]})" for r in _COMPAT_ROWS)
    want = [r[0] for r in duckdb.sql(
        f"SELECT nth_value(x, 2) OVER (ORDER BY id) FROM (VALUES {xs}) t(id, x) ORDER BY id"
    ).fetchall()]
    assert got == want


def test_current_time_is_wall_clock_hms(spark):
    import datetime

    got = one(spark, dnf.current_time())
    now = datetime.datetime.now(datetime.timezone.utc)
    parsed = datetime.datetime.strptime(got, "%H:%M:%S").replace(
        year=now.year, month=now.month, day=now.day, tzinfo=datetime.timezone.utc
    )
    assert abs((now - parsed).total_seconds()) < 120 or abs((now - parsed).total_seconds()) > 86_280
