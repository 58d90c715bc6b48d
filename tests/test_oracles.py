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
    # and the optimizer is ~95 % of EXPLAIN cost on the unrolled-CTE
    # monsters (text_wordpiece_train alone: 474 s optimized, <10 s
    # unoptimized; the whole sweep 610 s → ~35 s). Disabling every
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
