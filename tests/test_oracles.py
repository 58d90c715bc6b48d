"""Registry hygiene: every query has an oracle, and every oracle is
valid DuckDB SQL over the real table schemas (EXPLAIN only — the full
value comparison is tools/check_correctness.py / the driver run).
Catches oracle typos at unit-test speed."""

import duckdb
import pytest

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as e

    return e


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


def test_every_query_has_an_oracle(entry):
    qs, os_ = set(entry.queries()), set(entry.oracle_sql())
    assert qs == os_, (qs - os_, os_ - qs)


def test_every_oracle_plans_in_duckdb(entry, con):
    # Typos are caught by the BINDER, which runs before optimization —
    # and the optimizer is most of EXPLAIN cost on the unrolled-CTE
    # monsters (sim_mmr_rerank alone: 179 s optimized, 18 s
    # unoptimized; the whole sweep 225 s → 39 s on 4 cores).
    # text_wordpiece_train took 474 s optimized until its vocabulary
    # CTEs were marked MATERIALIZED (now under 1 s). Disabling every
    # optimizer keeps full 315-oracle validation at unit-test speed.
    opts = ",".join(
        r[0] for r in con.execute("SELECT name FROM duckdb_optimizers()").fetchall()
    )
    con.execute(f"SET disabled_optimizers='{opts}'")
    bad = {}
    try:
        for name, sql in entry.oracle_sql().items():
            try:
                con.execute(f"EXPLAIN {sql}")
            except Exception as exc:  # noqa: BLE001 - collect all failures
                bad[name] = str(exc)[:200]
    finally:
        con.execute("SET disabled_optimizers=''")
    assert not bad, bad


def test_oracle_child_retries_only_known_flakes():
    """The correctness sweep retries an oracle child only when it died
    of box pressure (signal, OOM, failed fork); a SQL error is
    deterministic and must fail on its first attempt."""
    from tools.check_correctness import flake_reason

    assert flake_reason(-9, "") == "killed by signal 9"
    assert flake_reason(1, "Traceback ...\nMemoryError\n") == "MemoryError"
    assert flake_reason(1, "duckdb.OutOfMemoryException: bad allocation") == "bad allocation"
    assert flake_reason(1, "BlockingIOError: fork failed: resource unavailable")
    assert flake_reason(1, "duckdb.BinderException: Binder Error: column x not found") is None
    assert flake_reason(1, "duckdb.ParserException: syntax error at or near") is None


# ---- the portable hash (operators/_hashing.py) ----------------------------

#: string, integer, empty, non-ASCII and NULL keys
_HASH_KEYS = [("doc-17", 17), ("", 0), ("naïve 日本語 ✓", -42), (None, None)]


@pytest.mark.parametrize("salt", ["", "cm3:"])
def test_portable_hash_forms_agree(spark, con, salt):
    """md5_int / md5_unit in Spark, md5_int_sql in DuckDB and md5_int_py
    on the driver give the same value for every width the package uses
    and every key kind; a NULL key hashes to NULL in both engines."""
    from pyspark.sql import functions as F

    from denormalized_spark.operators._hashing import (
        md5_int,
        md5_int_py,
        md5_int_sql,
        md5_unit,
    )

    widths = (1, 8, 15)
    df = spark.createDataFrame(_HASH_KEYS, "s string, i bigint")
    cols = []
    for n in widths:
        for c in ("s", "i"):
            cols += [md5_int(c, n, salt).alias(f"int_{c}{n}"),
                     md5_unit(F.col(c), n, salt).alias(f"unit_{c}{n}")]
    got = df.select("s", "i", *cols).collect()
    sel = ", ".join(
        md5_int_sql(f"'{salt}' || CAST({c} AS VARCHAR)" if salt else f"CAST({c} AS VARCHAR)", n)
        + f" AS int_{c}{n}"
        for n in widths for c in ("s", "i")
    )
    rows = ", ".join(
        "(NULL, NULL)" if s is None else f"('{s}', {i})" for s, i in _HASH_KEYS
    )
    cur = con.execute(f"SELECT {sel} FROM (VALUES {rows}) v(s, i) ORDER BY i NULLS LAST")
    duck = [dict(zip([d[0] for d in cur.description], r)) for r in cur.fetchall()]
    got = sorted(got, key=lambda r: (r["i"] is None, r["i"] or 0))
    assert len(got) == len(duck) == len(_HASH_KEYS)
    for row, drow in zip(got, duck):
        for n in widths:
            for c in ("s", "i"):
                key, name = row[c], f"{c}{n}"
                want = None if key is None else md5_int_py(salt + str(key), n)
                assert row[f"int_{name}"] == drow[f"int_{name}"] == want, (name, key)
                unit = None if want is None else want / float(1 << (4 * n))
                assert row[f"unit_{name}"] == unit, (name, key)


@pytest.mark.parametrize("n_hex", [0, 16])
def test_portable_hash_width_is_bounded(n_hex):
    """16 hex chars can exceed a signed long (an ANSI cast error in
    both engines), so the Spark and SQL forms refuse widths outside
    1..15 when the expression is built."""
    from denormalized_spark.operators._hashing import md5_int, md5_int_sql, md5_unit

    for build in (lambda: md5_int("s", n_hex), lambda: md5_unit("s", n_hex),
                  lambda: md5_int_sql("s", n_hex)):
        with pytest.raises(ValueError, match="n_hex"):
            build()


#: the md5-prefix sites allowed outside operators/_hashing.py, as
#: (package-relative path, enclosing def; an oracle belongs to the
#: query function whose decorator takes it): byte-slice oracles that
#: mirror multimodal's Python byte fakes, and the stream staging-dir tag
_HASH_EXEMPT = {
    ("queries/llm_pipeline.py", "multimodal_features"),  # 8-hex feature chunks
    ("queries/llm_pipeline.py", "multimodal_audio_neardup"),  # audio sample bytes
    ("sources/files.py", "stream_table"),  # staging-dir name tag
}


def _md5_prefix_sites(path):
    """(kind, line, enclosing def) of each md5-prefix hash in one file:
    ``substr(md5(`` in a string, ``conv(`` over ``md5(`` in Spark, or
    ``hexdigest()[`` in Python."""
    import ast
    import re

    sql = re.compile(r"substr\(\s*md5\(")

    def called(node, name):
        f = node.func if isinstance(node, ast.Call) else None
        return f is not None and getattr(f, "attr", getattr(f, "id", None)) == name

    out = []

    def visit(node, where):
        for ch in ast.iter_child_nodes(node):
            w = ch.name if isinstance(ch, (ast.FunctionDef, ast.ClassDef)) else where
            if isinstance(ch, ast.Constant) and isinstance(ch.value, str) and sql.search(ch.value):
                out.append(("sql", ch.lineno, w))
            elif called(ch, "conv") and any(called(x, "md5") for x in ast.walk(ch)):
                out.append(("spark", ch.lineno, w))
            elif isinstance(ch, ast.Subscript) and called(ch.value, "hexdigest"):
                out.append(("python", ch.lineno, w))
            visit(ch, w)

    visit(ast.parse(path.read_text()), None)
    return out


def test_md5_prefix_hash_defined_once():
    """Every md5-prefix hash in the package goes through
    operators/_hashing.py, so no operator can drift from its oracle by
    copying a slightly different fragment."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "denormalized_spark"
    stray, exempt_seen = [], set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "operators/_hashing.py":
            continue
        for kind, line, where in _md5_prefix_sites(path):
            if (rel, where) in _HASH_EXEMPT:
                exempt_seen.add((rel, where))
            else:
                stray.append(f"{rel}:{line} ({kind}, in {where})")
    assert not stray, stray
    assert exempt_seen == _HASH_EXEMPT, _HASH_EXEMPT - exempt_seen
