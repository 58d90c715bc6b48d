"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark AND its
``oracle_sql()`` on DuckDB, then compares row count, column names,
and order-insensitive values. Usage:

    python tools/check_correctness.py [--sf-dir DIR] [query_name ...]

The scale factor comes from --sf-dir, else $SPARK_GRAFT_SF_DIR, else
sf0.01. (--sf-dir support added in r10: before that, passing the flag
silently put the tokens into the query-name filter and NOTHING ran —
a sweep claiming another SF actually re-ran sf0.01.)

Oracles run in a CHILD process by default (tools/_oracle_runner.py,
r12 verdict item): the r11/r12 transient "bad allocation" OOMs were
DuckDB and a 100+ GiB Spark JVM sharing one address space during long
mixed sweeps — isolating the oracle kills that class outright instead
of retrying around it. Pass --oracle-inprocess to get the old
same-process connection (slightly faster per query; fine for short
targeted runs).
"""

from __future__ import annotations

import os
import re
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def dtype_family(dt) -> str:
    """Coarse dtype family used by the strict pre-check. The driver's
    value-hash distinguishes int from float reprs (0 vs 0.0), so an
    oracle that comes back float64 where Spark returns long WILL
    hash-mismatch even when values agree — catch that here, before
    the lax normalized comparison (r4's ``curation_validate`` bug)."""
    s = str(dt)
    if s.startswith(("int", "uint", "Int", "UInt")):
        return "int"
    if s.startswith(("float", "Float")):
        return "float"
    if s.startswith("datetime"):
        return "datetime"
    if s in ("bool", "boolean"):
        return "bool"
    return "object"


def dtype_family_mismatches(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    out = []
    for c in sdf.columns:
        fs, fo = dtype_family(sdf[c].dtype), dtype_family(odf[c].dtype)
        if fs != fo and "object" not in (fs, fo):
            # NULL-induced float64 can't false-positive here: if one side is
            # int (NaN-free) and the other float-with-NaN, values differ too.
            out.append(f"{c}: spark={sdf[c].dtype} oracle={odf[c].dtype}")
    return out


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            # unify timestamps/None repr
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype in ("float32",):
            df[c] = df[c].astype("float64")
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == bool:
            df[c] = df[c].astype(bool)
    return df.sort_values(by=list(df.columns), ignore_index=True)


#: stderr signatures of a child that died of box pressure (allocator
#: OOM, the OOM killer, a failed fork) rather than of its SQL
_FLAKE = re.compile(
    r"MemoryError|bad allocation|\bKilled\b"
    r"|\bfork\b.*(?:fail|error|unavailable)|(?:can't|cannot|unable to) fork",
    re.IGNORECASE,
)


def flake_reason(returncode: int, stderr: str) -> str | None:
    """Why a failed oracle child is worth one retry, or None when its
    failure is deterministic (a SQL error fails the same way twice)."""
    if returncode < 0:
        return f"killed by signal {-returncode}"
    m = _FLAKE.search(stderr)
    return m.group(0) if m else None


def run_oracle_subprocess(name: str, sql: str, sf_dir: str) -> pd.DataFrame:
    """Execute one oracle statement in a fresh child process (own
    address space, 24 GB DuckDB memory cap) and return its DataFrame.
    A child that died of a known flake (see :func:`flake_reason`) is
    retried once on a fresh child, with a ``RETRY <name>: <reason>``
    line; any other failure raises RuntimeError at once with the
    child's stderr tail."""
    import subprocess
    import tempfile

    runner = str(Path(__file__).resolve().parent / "_oracle_runner.py")
    last_err = "oracle child died silently"
    for attempt in range(2):
        with tempfile.NamedTemporaryFile(suffix=".pkl") as tmp:
            proc = subprocess.run(
                [sys.executable, runner, sf_dir, tmp.name],
                input=sql.encode(),
                capture_output=True,
                # headroom above the heaviest oracle under co-running load
                timeout=3000,
            )
            if proc.returncode == 0:
                return pd.read_pickle(tmp.name)
            stderr = proc.stderr.decode(errors="replace")
            lines = stderr.strip().splitlines()
            # prefer the last line that looks like an actual error over
            # trailing interpreter/env boilerplate (an r15 child death
            # surfaced as '...your python interpreter from there.')
            errlines = [
                ln for ln in lines
                if any(t in ln for t in ("Error", "error", "Exception",
                                         "Killed", "MemoryError"))
            ]
            last_err = (errlines or lines or [last_err])[-1]
            reason = flake_reason(proc.returncode, stderr)
            if reason is None or attempt:
                break
            print(f"RETRY {name}: {reason}", flush=True)
    raise RuntimeError(last_err)


def main() -> int:
    global SF_DIR
    args = sys.argv[1:]
    if "--sf-dir" in args:
        i = args.index("--sf-dir")
        SF_DIR = args[i + 1]
        del args[i : i + 2]
    in_process = "--oracle-inprocess" in args
    if in_process:
        args.remove("--oracle-inprocess")
    sys.argv = [sys.argv[0]] + args

    import __spark_entry__ as entrymod
    from denormalized_spark.session import get_spark

    spark = get_spark("check_correctness")
    con = None
    if in_process:
        con = duckdb.connect()
        for t in TABLES:
            p = f"{SF_DIR}/{t}.parquet"
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(sys.argv[1:])
    n_pass = n_fail = n_weak = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            _df = fn(spark, SF_DIR)
            from pyspark.sql.types import ArrayType, MapType

            nested = [
                f"{f.name}:{f.dataType.simpleString()}"
                for f in _df.schema.fields
                if isinstance(f.dataType, (ArrayType, MapType))
            ]
            if nested:
                # The driver canonicalizer (pandas sort_values over all
                # columns) dies on ndarray/dict cells — r10 driver-red.
                print(f"FAIL {name}: array/map output column(s) would crash "
                      f"the driver canonicalizer: {nested} — posexplode to rows")
                n_fail += 1
                continue
            sdf = _df.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e).splitlines()[0][:150]}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"weak {name}: rows={len(sdf)} ({dt:.1f}s) [no oracle]")
            n_weak += 1
            continue
        try:
            if con is None:
                odf = run_oracle_subprocess(name, oracles[name], SF_DIR)
            else:
                odf = con.execute(oracles[name]).df()
        except Exception as e:
            msg = str(e)
            if con is not None and (
                "bad allocation" in msg or "Out of Memory" in msg
            ):
                # In-process-only path: transient DuckDB allocator
                # pressure under the Spark JVM during long mixed
                # sweeps (r11/r12 finding: zero value mismatches,
                # always reproducible-green serially). The default
                # subprocess oracle doesn't hit this class at all.
                # Retry ONCE on a fresh connection before failing.
                try:
                    con.close()
                except Exception:  # noqa: BLE001
                    pass
                con = duckdb.connect()
                for t_ in TABLES:
                    p_ = f"{SF_DIR}/{t_}.parquet"
                    if os.path.exists(p_):
                        con.execute(
                            f"CREATE VIEW {t_} AS SELECT * FROM '{p_}'"
                        )
                try:
                    odf = con.execute(oracles[name]).df()
                except Exception as e2:  # noqa: BLE001
                    print(
                        f"FAIL {name}: oracle error (after OOM retry): "
                        f"{str(e2).splitlines()[0][:150]}"
                    )
                    n_fail += 1
                    continue
            else:
                print(f"FAIL {name}: oracle error: {msg.splitlines()[0][:150]}")
                n_fail += 1
                continue
        if len(sdf) != len(odf):
            print(f"FAIL {name}: rowcount spark={len(sdf)} oracle={len(odf)}")
            n_fail += 1
            continue
        s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
        if s_cols != o_cols:
            print(f"FAIL {name}: columns spark={s_cols} oracle={o_cols}")
            n_fail += 1
            continue
        mism = dtype_family_mismatches(
            sdf.reindex(sorted(sdf.columns), axis=1),
            odf.reindex(sorted(odf.columns), axis=1),
        )
        if mism:
            print(f"FAIL {name}: dtype family mismatch (driver hash would differ): "
                  + "; ".join(mism))
            n_fail += 1
            continue
        s, o = normalize(sdf), normalize(odf)
        try:
            pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)
            print(f"ok   {name}: rows={len(sdf)} ({dt:.1f}s)")
            n_pass += 1
        except AssertionError as e:
            print(f"FAIL {name}: value mismatch ({dt:.1f}s)")
            diff = (s != o)
            bad_cols = [c for c in s.columns if diff[c].any()]
            for c in bad_cols[:3]:
                idx = diff[c].idxmax()
                print(f"   col={c} first_diff_row={idx} spark={s[c][idx]!r} oracle={o[c][idx]!r}")
            n_fail += 1
    print(f"\n{n_pass} ok, {n_fail} FAIL, {n_weak} weak (no oracle)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
