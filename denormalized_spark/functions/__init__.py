"""The reference's expression surface, re-expressed on PySpark.

The reference exposes 232 public functions (all DataFusion built-ins)
through its vendored ``datafusion/functions.py``; SURVEY §2.5-2.7
inventories them. This module provides the same names with the same
semantics on top of ``pyspark.sql.functions`` — same-named where
Spark has them, thin compositions where names differ, and documented
recipes for the handful with no 1:1 equivalent.

Everything returns a pyspark Column and stays JVM-side — no Python
UDFs in this module. Scalar expressions compile with whole-stage
codegen; aggregates with an object buffer (the ``collect_list``-based
ones such as ``median``) run in ObjectHashAggregate, which is not
whole-stage codegen'd.

Usage::

    from denormalized_spark import functions as f
    df.select(f.col("x"), f.character_length("name"), f.array_element("xs", 2))
    df.agg(f.count("x", filter=F.col("x") > 0), f.median("x"))
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__: list[str] = []  # populated at the bottom


def _c(x: Column | str) -> Column:
    return F.col(x) if isinstance(x, str) else x


def _filtered(agg_input: Column, filter: Column | None) -> Column:  # noqa: A002
    """Rewrite the reference's agg ``filter=`` option (expr.py:489-544)
    as the SQL-standard FILTER pattern: aggregate over
    ``CASE WHEN cond THEN x END`` (nulls are ignored by aggregates)."""
    if filter is None:
        return agg_input
    return F.when(filter, agg_input)


# --------------------------------------------------------------------------
# §2.5 aggregate functions
# --------------------------------------------------------------------------

def count(expr: Column | str = "*", distinct: bool = False, filter: Column | None = None) -> Column:  # noqa: A002
    # isinstance guard first: Column.__eq__ returns a Column, which
    # cannot be used in a boolean context.
    c = F.lit(1) if (isinstance(expr, str) and expr == "*") else _c(expr)
    if filter is not None:
        c = F.when(filter, c)
    return F.count_distinct(c) if distinct else F.count(c)


def count_star(filter: Column | None = None) -> Column:  # noqa: A002
    return count("*", filter=filter)


def sum(expr, distinct=False, filter=None):  # noqa: A001,A002
    c = _filtered(_c(expr), filter)
    return F.sum_distinct(c) if distinct else F.sum(c)


def min(expr, filter=None):  # noqa: A001,A002
    return F.min(_filtered(_c(expr), filter))


def max(expr, filter=None):  # noqa: A001,A002
    return F.max(_filtered(_c(expr), filter))


def avg(expr, filter=None):  # noqa: A002
    return F.avg(_filtered(_c(expr), filter))


mean = avg


def median(expr, distinct=False, filter=None):  # noqa: A002
    """Exact median as one expression over the group's sorted values
    (the reference's DataFusion median keeps the same value list).

    Bit-identical to ``F.median`` (Spark's ``Percentile`` at 0.5),
    result type double: the middle value, or ``0.5·lo + 0.5·hi`` for
    an even count — Percentile's own interpolation form, so ±1.7e308
    do not overflow; NULL for a group with no non-NULL value.
    ``distinct=True`` takes the median of the distinct values.

    The buffer holds every non-NULL value, O(values) per group, as in
    the reference and DuckDB; a streaming window's state stores it as
    a plain array (8 bytes a value). Spark's percentile map is
    O(distinct values) instead, so for a huge group with few distinct
    values call pyspark's ``F.median`` (as ``agg_stats`` does)."""
    x = _filtered(_c(expr), filter)
    # distinct dedups the raw values, before the cast can merge them
    a = F.sort_array(
        F.collect_set(x).cast("array<double>") if distinct
        else F.collect_list(x.cast("double"))
    )
    # No guard on the group size: ``get`` is NULL past either end of
    # the array, so an empty group gives NULL, and both middle values
    # sit in the (always evaluated) condition, which makes the sort a
    # common subexpression that codegen evaluates once per group.
    n = F.size(a)
    lo = F.get(a, F.floor((n - 1) / 2).cast("int"))
    hi = F.get(a, F.floor(n / 2).cast("int"))
    return F.when(lo == hi, lo).otherwise(lo * 0.5 + hi * 0.5)


def approx_distinct(expr, filter=None):  # noqa: A002
    return F.approx_count_distinct(_filtered(_c(expr), filter))


def approx_median(expr, filter=None):  # noqa: A002
    return F.percentile_approx(_filtered(_c(expr), filter), 0.5)


def approx_percentile_cont(expr, percentile: float, filter=None):  # noqa: A002
    return F.percentile_approx(_filtered(_c(expr), filter), percentile)


# -- mergeable sketches (beyond the reference's approx_distinct) -------------
# DataSketches HLL + Count-Min: the 100 TB pre-aggregation pattern — build
# per-segment (day/partition/file) sketches ONCE, answer distinct-count /
# frequency queries over arbitrary segment unions without rescanning raw
# data. All JVM aggregates; sketch blobs are small binary columns.
hll_sketch_agg = F.hll_sketch_agg          # values -> HLL sketch (binary)
hll_sketch_estimate = F.hll_sketch_estimate  # sketch -> distinct estimate
hll_union_agg = F.hll_union_agg            # sketches -> merged sketch
hll_union = F.hll_union                    # two sketch columns -> merged
count_min_sketch = F.count_min_sketch      # values -> CMS blob (eps, conf, seed)


def approx_percentile_cont_with_weight(expr, weight, percentile: float):
    """Weighted percentile as a real aggregate **Column** (reference
    approx_percentile_cont_with_weight, functions.py:1582): the
    smallest value whose cumulative weight reaches ``percentile`` ×
    total weight. Drop-in for ``.agg(...)`` / ``group_by`` like any
    other aggregate; exact (the reference's t-digest is approximate).

    Plan shape: sort_array(collect_list(struct(v, w))) + two
    higher-order scans — all JVM expressions, one aggregation buffer
    (Catalyst dedups the repeated collect_list semantically). Memory
    is O(group size) on the agg buffer, so this Column form is for
    moderate group sizes; for huge groups use the windowed
    DataFrame form :func:`weighted_percentile` below, which streams
    one row at a time per group."""
    v, w = _c(expr).cast("double"), _c(weight).cast("double")
    # zero/negative weights carry no mass; collect_list drops nulls
    pairs = F.sort_array(
        F.collect_list(
            F.when(w > 0, F.struct(v.alias("v"), w.alias("w")))
        )
    )
    total = F.aggregate(pairs, F.lit(0.0), lambda acc, x: acc + x["w"])
    # the threshold must live in the ACCUMULATOR, evaluated once in
    # init: a subtree captured inside a higher-order lambda body is
    # re-evaluated per element (no CSE across HOFs — see the
    # element_at pitfall note in operators/dedup.py), which would turn
    # the scan into O(n^2) per group
    init = F.struct(
        F.lit(0.0).alias("cum"),
        F.lit(None).cast("double").alias("ans"),
        (F.lit(float(percentile)) * total).alias("thr"),
    )

    def step(acc, x):
        cum = acc["cum"] + x["w"]
        ans = F.coalesce(acc["ans"], F.when(cum >= acc["thr"], x["v"]))
        return F.struct(cum.alias("cum"), ans.alias("ans"), acc["thr"].alias("thr"))

    return F.aggregate(pairs, init, step)["ans"]


def weighted_percentile(
    df,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    percentile: float,
    out_col: str = "weighted_percentile",
):
    """Exact weighted percentile per group (the reference's
    approx_percentile_cont_with_weight, functions.py:1582, made
    exact): the smallest value whose running cumulative weight reaches
    ``percentile`` × total weight.

    Plan: one window over (group ORDER BY value) — partitioned by the
    group key, so state is bounded per group; then a min-aggregate.
    Zero-weight rows are excluded (they cannot carry mass)."""
    from pyspark.sql import Window as _W

    v, w = F.col(value_col), F.col(weight_col)
    win = _W.partitionBy(*group_cols).orderBy(value_col).rowsBetween(
        _W.unboundedPreceding, _W.currentRow
    )
    tot = _W.partitionBy(*group_cols)
    cum = df.filter(w > 0).withColumn("_cw", F.sum(w).over(win)).withColumn(
        "_tw", F.sum(w).over(tot)
    )
    hit = cum.filter(F.col("_cw") >= F.lit(percentile) * F.col("_tw"))
    return hit.groupBy(*group_cols).agg(F.min(v).alias(out_col))


def array_agg(expr, distinct=False, filter=None):  # noqa: A002
    c = _filtered(_c(expr), filter)
    return F.collect_set(c) if distinct else F.collect_list(c)


def string_agg(expr, delimiter: str = ",", filter=None):  # noqa: A002
    return F.array_join(F.collect_list(_filtered(_c(expr), filter)), delimiter)


def corr(y, x, filter=None):  # noqa: A002
    # DataFusion corr(y, x); guard both args through the filter
    return F.corr(_filtered(_c(y), filter), _filtered(_c(x), filter))


def covar_pop(y, x, filter=None):  # noqa: A002
    return F.covar_pop(_filtered(_c(y), filter), _filtered(_c(x), filter))


def covar_samp(y, x, filter=None):  # noqa: A002
    return F.covar_samp(_filtered(_c(y), filter), _filtered(_c(x), filter))


covar = covar_samp


def stddev(expr, filter=None):  # noqa: A002
    return F.stddev_samp(_filtered(_c(expr), filter))


stddev_samp = stddev


def stddev_pop(expr, filter=None):  # noqa: A002
    return F.stddev_pop(_filtered(_c(expr), filter))


def var(expr, filter=None):  # noqa: A002
    return F.var_samp(_filtered(_c(expr), filter))


var_samp = var
var_sample = var


def var_pop(expr, filter=None):  # noqa: A002
    return F.var_pop(_filtered(_c(expr), filter))


def regr_avgx(y, x):
    return F.regr_avgx(_c(y), _c(x))


def regr_avgy(y, x):
    return F.regr_avgy(_c(y), _c(x))


def regr_count(y, x):
    return F.regr_count(_c(y), _c(x))


def regr_intercept(y, x):
    return F.regr_intercept(_c(y), _c(x))


def regr_r2(y, x):
    return F.regr_r2(_c(y), _c(x))


def regr_slope(y, x):
    return F.regr_slope(_c(y), _c(x))


def regr_sxx(y, x):
    return F.regr_sxx(_c(y), _c(x))


def regr_sxy(y, x):
    return F.regr_sxy(_c(y), _c(x))


def regr_syy(y, x):
    return F.regr_syy(_c(y), _c(x))


def first_value(expr, order_by: list[Column] | None = None, ignore_nulls: bool = False):
    if order_by:
        # min_by over a struct gives a deterministic ordered first
        return F.min_by(_c(expr), F.struct(*order_by))
    return F.first(_c(expr), ignorenulls=ignore_nulls)


def last_value(expr, order_by: list[Column] | None = None, ignore_nulls: bool = False):
    if order_by:
        return F.max_by(_c(expr), F.struct(*order_by))
    return F.last(_c(expr), ignorenulls=ignore_nulls)


def nth_value(expr, n: int):
    return F.nth_value(_c(expr), n)


def bit_and(expr, filter=None):  # noqa: A002
    return F.bit_and(_filtered(_c(expr), filter))


def bit_or(expr, filter=None):  # noqa: A002
    return F.bit_or(_filtered(_c(expr), filter))


def bit_xor(expr, distinct=False, filter=None):  # noqa: A002
    if distinct:
        if not isinstance(expr, str) or filter is not None:
            raise NotImplementedError("bit_xor(distinct=True) takes a plain column name")
        return F.expr(f"bit_xor(DISTINCT {expr})")
    return F.bit_xor(_filtered(_c(expr), filter))


def bool_and(expr, filter=None):  # noqa: A002
    return F.bool_and(_filtered(_c(expr), filter))


def bool_or(expr, filter=None):  # noqa: A002
    return F.bool_or(_filtered(_c(expr), filter))


# --------------------------------------------------------------------------
# §2.6 window (OVER) functions — same names, used with pyspark Window specs
# --------------------------------------------------------------------------

lead = F.lead
lag = F.lag
row_number = F.row_number
rank = F.rank
dense_rank = F.dense_rank
percent_rank = F.percent_rank
cume_dist = F.cume_dist
ntile = F.ntile

# --------------------------------------------------------------------------
# §2.7 scalar functions
# --------------------------------------------------------------------------

# ---- math: same-named passthroughs
abs = F.abs  # noqa: A001
acos = F.acos
acosh = F.acosh
asin = F.asin
asinh = F.asinh
atan = F.atan
atanh = F.atanh
atan2 = F.atan2
cbrt = F.cbrt
ceil = F.ceil
cos = F.cos
cosh = F.cosh
cot = F.cot
degrees = F.degrees
exp = F.exp
factorial = F.factorial
floor = F.floor
ln = F.log  # one-arg F.log is natural log


def log(base, expr=None):
    """DataFusion log(base, x) or log(x) (=log10). Column-typed bases
    use the change-of-base identity ln(x)/ln(b), which Spark's two-arg
    F.log (literal base only) cannot express."""
    if expr is None:
        return F.log10(_c(base))
    if isinstance(base, (int, float)):
        return F.log(float(base), _c(expr))  # F.log requires a float base
    return F.log(_c(expr)) / F.log(_c(base))


log2 = F.log2
log10 = F.log10
nanvl = F.nanvl
pi = F.pi
power = F.pow
pow = F.pow  # noqa: A001
radians = F.radians
random = F.rand
round = F.round  # noqa: A001
signum = F.signum
sin = F.sin
sinh = F.sinh
sqrt = F.sqrt
tan = F.tan
tanh = F.tanh


def trunc(expr, places: int = 0):
    """Numeric truncation toward zero (DataFusion trunc). Floors the
    absolute value (round() would round-half-up); negative ``places``
    truncates to tens/hundreds/…. F.floor(double) returns long, which
    overflows above 2^63 — but any double that large has no
    fractional digits at the requested scale, so it passes through
    unchanged instead."""
    c = _c(expr)
    factor = F.lit(10.0 ** places)
    absx = F.abs(c)
    shifted = F.when(
        absx * factor >= F.lit(9.0e18), absx  # beyond long: already integral at this scale
    ).otherwise(F.floor(absx * factor) / factor)
    return (F.when(c < 0, -shifted).otherwise(shifted)).cast("double")


def iszero(expr):
    return _c(expr) == 0


isnan = F.isnan


# ---- string
ascii = F.ascii  # noqa: A001
bit_length = F.bit_length
btrim = F.btrim


def char_length(e):
    return F.char_length(_c(e))


character_length = char_length
chr = F.chr  # noqa: A001
concat = F.concat
concat_ws = F.concat_ws


def ends_with(e, suffix):
    return F.endswith(_c(e), F.lit(suffix) if isinstance(suffix, str) else suffix)


def find_in_set(e, str_list):
    return F.find_in_set(_c(e), F.lit(str_list) if isinstance(str_list, str) else str_list)


initcap = F.initcap


def instr(e, substr: str):
    return F.instr(_c(e), substr)


def left(e, n):
    return F.left(_c(e), F.lit(n) if isinstance(n, int) else n)


length = F.length
levenshtein = F.levenshtein
lower = F.lower
lpad = F.lpad
ltrim = F.ltrim
octet_length = F.octet_length
overlay = F.overlay


def position(substr, e):
    return F.position(F.lit(substr) if isinstance(substr, str) else substr, _c(e))


repeat = F.repeat


def replace(e, search, repl):
    return F.replace(
        _c(e),
        F.lit(search) if isinstance(search, str) else search,
        F.lit(repl) if isinstance(repl, str) else repl,
    )


reverse = F.reverse


def right(e, n):
    return F.right(_c(e), F.lit(n) if isinstance(n, int) else n)


rpad = F.rpad
rtrim = F.rtrim


def split_part(e, delim: str, n: int):
    return F.split_part(_c(e), F.lit(delim), F.lit(n))


def starts_with(e, prefix):
    return F.startswith(_c(e), F.lit(prefix) if isinstance(prefix, str) else prefix)


def strpos(e, substr: str):
    return F.instr(_c(e), substr)


substr = F.substring
substring = F.substring


def substr_index(e, delim: str, count: int):
    return F.substring_index(_c(e), delim, count)


substring_index = F.substring_index


def to_hex(e):
    return F.lower(F.hex(_c(e)))


translate = F.translate
trim = F.trim
upper = F.upper


def uuid():
    return F.expr("uuid()")


# ---- regex
def regexp_like(e, pattern: str):
    return F.regexp_like(_c(e), F.lit(pattern))


def regexp_match(e, pattern: str):
    """DataFusion returns the array of matches; Spark equivalent."""
    return F.regexp_extract_all(_c(e), F.lit(pattern), 0)


def regexp_replace(e, pattern: str, replacement: str):
    """Replaces every match, as DataFusion's ``regexp_replace`` with
    the ``'g'`` flag."""
    return F.regexp_replace(_c(e), pattern, replacement)


# ---- hash / encode
def encode(e, encoding: str = "base64"):
    if encoding == "base64":
        return F.base64(_c(e))
    if encoding == "hex":
        return F.lower(F.hex(_c(e)))
    raise ValueError(f"unsupported encoding {encoding!r}")


def decode(e, encoding: str = "base64"):
    if encoding == "base64":
        return F.unbase64(_c(e))
    if encoding == "hex":
        return F.unhex(_c(e))
    raise ValueError(f"unsupported encoding {encoding!r}")


def digest(e, algorithm: str):
    alg = algorithm.lower()
    if alg == "md5":
        return F.md5(_c(e))
    if alg == "sha256":
        return F.sha2(_c(e), 256)
    if alg == "sha384":
        return F.sha2(_c(e), 384)
    if alg == "sha512":
        return F.sha2(_c(e), 512)
    if alg == "sha224":
        return F.sha2(_c(e), 224)
    raise ValueError(f"unsupported digest {algorithm!r}")


md5 = F.md5


def sha224(e):
    return F.sha2(_c(e), 224)


def sha256(e):
    return F.sha2(_c(e), 256)


def sha384(e):
    return F.sha2(_c(e), 384)


def sha512(e):
    return F.sha2(_c(e), 512)


# ---- date/time
now = F.current_timestamp
current_date = F.current_date


def current_time():
    return F.date_format(F.current_timestamp(), "HH:mm:ss")


def to_timestamp(e, *formats):
    return F.to_timestamp(_c(e), formats[0]) if formats else F.to_timestamp(_c(e))


def to_timestamp_millis(e):
    return F.timestamp_millis(_c(e).cast("long"))


def to_timestamp_micros(e):
    return F.timestamp_micros(_c(e).cast("long"))


def to_timestamp_nanos(e):
    # ns → µs via decimal integer division: double division loses
    # precision above 2^53 (epoch nanos ~1.7e18). decimal(38,0)/1000
    # is exact; the long cast truncates the fraction (toward zero),
    # matching `x div 1000` (cf. sources/files.py:58).
    micros = (_c(e).cast("long").cast("decimal(38,0)") / 1000).cast("long")
    return F.timestamp_micros(micros)


def to_timestamp_seconds(e):
    return F.timestamp_seconds(_c(e).cast("long"))


def to_unixtime(e):
    return F.unix_timestamp(_c(e))


from_unixtime = F.from_unixtime


def date_part(part: str, e):
    return F.date_part(F.lit(part), _c(e))


datepart = date_part


def date_trunc(precision: str, e):
    return F.date_trunc(precision, _c(e))


datetrunc = date_trunc


def date_bin(interval_ms: int, e, origin=None):
    """Bin timestamps to ``interval_ms`` strides (DataFusion date_bin).
    Epoch-aligned without ``origin``; with one, bins are aligned to it
    (bin start = largest origin + k·stride ≤ ts, correct for ts before
    the origin too — floor-mod arithmetic in integer micros)."""
    c = _c(e)
    if origin is None:
        return F.window(c, f"{interval_ms // 1000} seconds").start
    o = F.lit(origin).cast("timestamp") if isinstance(origin, str) else _c(origin)
    stride = F.lit(interval_ms * 1000).cast("long")  # micros
    delta = F.unix_micros(c) - F.unix_micros(o)
    offset = ((delta % stride) + stride) % stride  # true floor-mod
    return F.timestamp_micros(F.unix_micros(c) - offset)


make_date = F.make_date

# ---- conditional / misc
nullif = F.nullif
coalesce = F.coalesce


def in_list(e, values, negated: bool = False):
    c = _c(e).isin(values)
    return ~c if negated else c


class CaseBuilder:
    """CASE builder (reference CaseBuilder, expr.py:658-694):
    ``case(col).when(v, then)`` (simple CASE, compares col == v) or
    ``when(cond, then)`` (searched CASE); finish with ``otherwise(x)``
    or ``end()`` (non-matches → NULL). Compiles to one F.when chain —
    pure Catalyst expression, codegen'd."""

    def __init__(self, base: Column | None = None, branches=None):
        self._base = base
        self._branches = list(branches or [])

    def when(self, when_expr, then_expr) -> "CaseBuilder":
        return CaseBuilder(self._base, [*self._branches, (when_expr, then_expr)])

    def _build(self) -> Column:
        if not self._branches:
            raise ValueError("case requires at least one when()")
        out = None
        for w, t in self._branches:
            cond = (self._base == w) if self._base is not None else w
            out = F.when(cond, t) if out is None else out.when(cond, t)
        return out

    def otherwise(self, else_expr) -> Column:
        return self._build().otherwise(else_expr)

    def end(self) -> Column:
        return self._build()


def case(e) -> CaseBuilder:
    """Start a simple CASE on an expression (reference
    functions.py:385-393)."""
    return CaseBuilder(base=_c(e))


when = F.when  # searched CASE: F.when already chains .when().otherwise()


def between(e, low, high):
    return _c(e).between(low, high)


def alias(e, name: str):
    return _c(e).alias(name)


def cast(e, dtype):
    return _c(e).cast(dtype)


# ---- arrays (DataFusion list_* aliases included programmatically below)
def make_array(*exprs):
    return F.array(*[_c(e) for e in exprs])


array = make_array


def range(start, stop=None, step=1):  # noqa: A001
    """DataFusion range(stop) / range(start, stop[, step]) — half-open
    [start, stop), unlike F.sequence's inclusive bounds. Int args are
    wrapped in F.lit (F.sequence rejects bare Python ints)."""

    def _n(x):
        return F.lit(x) if isinstance(x, int) else _c(x)

    if stop is None:
        return F.sequence(F.lit(0), _n(start) - 1, _n(step))
    # half-open end: one step-direction unit short of stop
    off = 1 if not (isinstance(step, int) and step < 0) else -1
    return F.sequence(_n(start), _n(stop) - off, _n(step))


def array_append(arr, e):
    return F.array_append(_c(arr), _c(e) if isinstance(e, Column) else F.lit(e))


def array_concat(*arrs):
    return F.concat(*[_c(a) for a in arrs])


def array_dims(arr):
    """DataFusion array_dims → [len] for 1-D arrays (recipe; nested
    dims need recursion over known depth)."""
    return F.array(F.size(_c(arr)))


array_distinct = F.array_distinct


def array_element(arr, n):
    return F.element_at(_c(arr), n)


array_except = F.array_except


def array_has(arr, e):
    return F.array_contains(_c(arr), e)


def array_has_all(arr, needles):
    return F.size(F.array_except(_c(needles), _c(arr))) == 0


def array_has_any(arr, needles):
    return F.arrays_overlap(_c(arr), _c(needles))


array_intersect = F.array_intersect


def array_join(arr, sep: str, null_replacement: str | None = None):
    if null_replacement is not None:
        return F.array_join(_c(arr), sep, null_replacement)
    return F.array_join(_c(arr), sep)


array_to_string = array_join


def array_length(arr):
    return F.size(_c(arr))


def array_ndims(arr):
    """1 for flat arrays (recipe: +1 per known nesting level)."""
    return F.lit(1)


def array_pop_back(arr):
    return F.slice(_c(arr), 1, F.greatest(F.size(_c(arr)) - 1, F.lit(0)))


def array_pop_front(arr):
    a = _c(arr)
    return F.slice(a, 2, F.greatest(F.size(a) - 1, F.lit(0)))


def array_position(arr, e):
    return F.array_position(_c(arr), e)


def array_positions(arr, e):
    a = _c(arr)
    idx = F.sequence(F.lit(1), F.size(a))
    return F.filter(idx, lambda i: F.element_at(a, i) == e)


def array_prepend(e, arr):
    return F.array_prepend(_c(arr), _c(e) if isinstance(e, Column) else F.lit(e))


def array_remove(arr, e):
    """Remove FIRST occurrence (DataFusion semantics)."""
    a = _c(arr)
    pos = F.array_position(a, e)
    return F.when(pos == 0, a).otherwise(
        F.concat(F.slice(a, 1, pos - 1), F.slice(a, pos + 1, F.size(a) - pos))
    )


def array_remove_all(arr, e):
    return F.array_remove(_c(arr), e)


def array_remove_n(arr, e, max):
    """Remove the FIRST ``max`` occurrences (DataFusion semantics,
    reference functions.py array_remove_n): the first ``max`` match
    POSITIONS are cut, every other element (including nulls and later
    occurrences) survives in order. ``max <= 0`` removes nothing."""
    a = _c(arr)
    n = max if isinstance(max, Column) else F.lit(max)
    cut = F.slice(array_positions(a, e), F.lit(1), F.greatest(n, F.lit(0)))
    idx = F.sequence(F.lit(1), F.size(a))
    return F.transform(
        F.filter(idx, lambda i: ~F.exists(cut, lambda p: p == i)),
        lambda i: F.element_at(a, i),
    )


def array_repeat(e, n):
    return F.array_repeat(_c(e) if isinstance(e, Column) else F.lit(e), n)


def array_resize(arr, new_size, fill=None):
    a = _c(arr)
    n = F.lit(new_size) if isinstance(new_size, int) else new_size
    pad = F.transform(
        F.sequence(F.lit(1), F.greatest(n - F.size(a), F.lit(0))),
        lambda _: F.lit(fill),
    )
    return F.slice(F.concat(a, pad), 1, n)


def array_replace(arr, from_val, to_val):
    """Replace FIRST occurrence."""
    a = _c(arr)
    pos = F.array_position(a, from_val)
    idx = F.sequence(F.lit(1), F.size(a))
    return F.transform(
        idx, lambda i: F.when(i == pos, F.lit(to_val)).otherwise(F.element_at(a, i))
    )


def array_replace_all(arr, from_val, to_val):
    return F.transform(
        _c(arr), lambda x: F.when(x == from_val, F.lit(to_val)).otherwise(x)
    )


def array_replace_n(arr, from_val, to_val, max):
    """Replace the FIRST ``max`` occurrences of ``from_val`` with
    ``to_val`` (DataFusion semantics, reference functions.py
    array_replace_n) — positional twin of :func:`array_remove_n`."""
    a = _c(arr)
    n = max if isinstance(max, Column) else F.lit(max)
    cut = F.slice(
        array_positions(a, from_val), F.lit(1), F.greatest(n, F.lit(0))
    )
    idx = F.sequence(F.lit(1), F.size(a))
    to = _c(to_val) if isinstance(to_val, Column) else F.lit(to_val)
    return F.transform(
        idx,
        lambda i: F.when(F.exists(cut, lambda p: p == i), to).otherwise(
            F.element_at(a, i)
        ),
    )


def array_slice(arr, begin, end):
    """DataFusion 1-based inclusive [begin, end]."""
    return F.slice(_c(arr), begin, end - begin + 1)


array_sort = F.array_sort
array_union = F.array_union
flatten = F.flatten

# DataFusion exposes every array fn twice (array_* and list_*)
_LIST_ALIASES = {}
for _name in list(globals()):
    if _name.startswith("array_"):
        _LIST_ALIASES["list_" + _name[len("array_"):]] = globals()[_name]
globals().update(_LIST_ALIASES)

# ---- struct
struct = F.struct


def named_struct(*name_value_pairs):
    cols = []
    for name, value in zip(name_value_pairs[::2], name_value_pairs[1::2]):
        cols.append((_c(value) if isinstance(value, (Column, str)) else F.lit(value)).alias(name))
    return F.struct(*cols)


# ---- passthrough re-exports for idiomatic use
col = F.col
lit = F.lit
expr = F.expr

__all__ = sorted(
    n for n, v in globals().items() if not n.startswith("_") and callable(v) or isinstance(v, Column)
)
