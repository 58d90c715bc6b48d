"""Reference checks behind ``ok_ratio``.

Drain windows are recomputed with pandas from the generated events;
batch lanes are compared with their DuckDB oracle
(``__spark_entry__.oracle_sql()``). Every check returns
``(attempted, failed, notes)``: an operation is a window row for the
``window_drain`` workload and a lane for ``batch_queries``.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

WINDOW_MS = 1000
THRESHOLD = 113.0
STATS = ("count", "min", "max", "average", "median", "stddev")


def window_stats(occurred, sensor, reading) -> pd.DataFrame:
    """Per (sensor, window start) aggregates of the given events."""
    df = pd.DataFrame({"s": sensor, "w": occurred // WINDOW_MS * WINDOW_MS, "r": reading})
    g = df.groupby(["s", "w"])["r"]
    return pd.DataFrame({
        "count": g.size(), "min": g.min(), "max": g.max(), "average": g.mean(),
        "median": g.median(), "stddev": g.std(ddof=1),
    })


def drain_reference(files: list[tuple]) -> tuple[pd.DataFrame, set, int]:
    """Exact reference for a drain of one file per micro-batch.

    Spark (3.5 and later) reads a batch's late rows against the
    watermark of the batch before it, so with a zero delay batch ``i``
    drops rows at or below the maximum event time of batches up to
    ``i - 2``. The trailing no-data batch advances the watermark to the
    maximum event time and closes every window ending at or before it.
    Returns the window aggregates, the windows that must be emitted and
    the number of rows the reference drops."""
    kept, dropped, seen_max = [], 0, []
    for i, (occurred, sensor, reading) in enumerate(files):
        keep = occurred > seen_max[i - 2] if i >= 2 else np.ones(len(occurred), bool)
        dropped += int((~keep).sum())
        kept.append((occurred[keep], sensor[keep], reading[keep]))
        seen_max.append(max(seen_max[-1] if seen_max else 0, int(occurred.max())))
    stats = window_stats(*(np.concatenate(cols) for cols in zip(*kept)))
    return stats, expected_windows(stats, seen_max[-1]), dropped


def _close(a, b) -> bool:
    a = math.nan if a is None else float(a)
    b = math.nan if b is None else float(b)
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def _matches(row: dict, ref) -> bool:
    return row["count"] == ref["count"] and all(_close(row[k], ref[k]) for k in STATS[1:])


def check_windows(emitted: list[dict], ref: pd.DataFrame, expected: set) -> tuple[int, int, list]:
    """Every emitted row equals its reference row and passes the
    filter; every expected window is emitted exactly once."""
    seen: set = set()
    notes = []
    failed = 0
    for row in emitted:
        key = (row["sensor"], row["start_ms"])
        if key in seen:
            failed += 1
            notes.append(f"duplicate window {key}")
        elif key not in ref.index or not row["max"] > THRESHOLD or not _matches(row, ref.loc[key]):
            failed += 1
            notes.append(f"wrong window {key}: {row}")
        seen.add(key)
    missing = expected - seen
    notes += [f"missing window {k}" for k in sorted(missing)[:5]]
    return len(emitted) + len(missing), failed + len(missing), notes[:10]


def expected_windows(stats: pd.DataFrame, watermark_ms: int) -> set:
    """Windows closed by ``watermark_ms`` that pass the pipeline filter."""
    closed = stats[(stats.index.get_level_values("w") + WINDOW_MS <= watermark_ms)
                   & (stats["max"] > THRESHOLD)]
    return set(closed.index)


# -- batch lanes ------------------------------------------------------------


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def lane_matches(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> str | None:
    """None when the lane's rows equal the oracle's (order-insensitive,
    floats to 1e-9 relative), else the first difference."""
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return f"columns {sorted(spark_df.columns)} vs {sorted(oracle_df.columns)}"
    if len(spark_df) != len(oracle_df):
        return f"rows {len(spark_df)} vs {len(oracle_df)}"
    a, b = _normalize(spark_df), _normalize(oracle_df)
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if a[c].dtype == np.float64 and b[c].dtype == np.float64:
            if not np.allclose(x, y, rtol=1e-9, atol=1e-9, equal_nan=True):
                return f"column {c} differs"
        elif not (a[c].astype(str) == b[c].astype(str)).all():
            return f"column {c} differs"
    return None
