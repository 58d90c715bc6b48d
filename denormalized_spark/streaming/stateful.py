"""Custom stateful operators: sessionization with arbitrary per-key
state, on both execution paths.

The reference's only stateful streaming operator is the windowed
aggregation (crates/core/src/physical_plan/continuous/
grouped_window_agg_stream.rs); its UDAF Accumulator protocol
(py-denormalized/python/denormalized/datafusion/udf.py:146-248) is
batch-only. This module supplies the missing piece — user-defined
per-key state that outlives a micro-batch — the Spark way:

- **batch**: exact sessionization with window functions (lag → gap
  flag → running sum = session id → groupBy). Pure JVM, two window
  passes over one shuffle on the key, then a partial+final aggregate.
  This is the 100 TB path for backfills.

- **streaming**: ``applyInPandasWithState`` (GroupState + event-time
  timeout). Arrow-batched per key-partition; state is (start, end,
  count) per key — O(1) per key, stored in the state store (RocksDB
  provider for large key spaces, streaming/checkpoint.py). Sessions
  close (a) on an in-batch gap > ``gap_ms``, (b) on event-time
  timeout once the watermark passes the session end + gap.

Both paths emit the same rows for ordered input: (keys…,
session_start, session_end, n_events) — asserted by
tests/test_stateful.py stream-vs-batch.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from denormalized_spark.eventtime import declare_watermark


def _keyed_state(
    df: DataFrame,
    keys: list[str],
    event_time: str,
    watermark: str,
    fn,
    out_fields: list[StructField],
    state_fields: list[StructField],
    timeout: str,
    read_cols: Sequence[str] = (),
) -> DataFrame:
    """The scaffold of the per-key stateful operators: project to the
    columns ``fn`` reads (applyInPandasWithState is opaque to Catalyst,
    so without it every input column is Arrow-shipped to the Python
    workers), declare the watermark, group by ``keys`` and run ``fn``
    in append mode. The output is the key columns, then ``out_fields``."""
    out_schema = StructType([df.schema[k] for k in keys] + out_fields)
    projected = df.select(*dict.fromkeys([*keys, event_time, *read_cols]))
    return (
        declare_watermark(projected, event_time, watermark)
        .groupBy(*keys)
        .applyInPandasWithState(
            fn, out_schema, StructType(state_fields), "append", timeout
        )
    )


def _key_frame(keys: list[str], key: tuple, cols: dict):
    """One emitted per-key frame: the key repeated over the rows, then
    ``cols`` (numpy arrays in output-schema order). Raw native-dtype
    arrays with copy=False cost ~100 µs per frame against ~300 µs with
    pd.Series wrappers and object-dtype key arrays."""
    import numpy as np
    import pandas as pd

    n = len(next(iter(cols.values())))
    data = {k: np.full(n, kv) for k, kv in zip(keys, key)}
    data.update(cols)
    return pd.DataFrame(data, copy=False)


def _us(values):
    """int64 epoch microseconds as a datetime64[us] view."""
    import numpy as np

    return np.asarray(values, dtype="int64").view("datetime64[us]")


def sessionize_batch(
    df: DataFrame,
    keys: Sequence[str],
    event_time: str,
    gap_ms: int,
) -> DataFrame:
    """Exact batch sessionization: a new session starts when the gap
    from the previous event (same keys) exceeds ``gap_ms``."""
    from pyspark.sql import Window

    keys = list(keys)
    w = Window.partitionBy(*keys).orderBy(event_time)
    ts_s = F.col(event_time).cast("timestamp_ltz").cast("double")
    prev = F.lag(event_time).over(w).cast("timestamp_ltz").cast("double")
    new_session = F.when(
        prev.isNull() | ((ts_s - prev) * 1000.0 > gap_ms), F.lit(1)
    ).otherwise(F.lit(0))
    run = Window.partitionBy(*keys).orderBy(event_time).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_sid = df.withColumn("_sid", F.sum(new_session).over(run))
    return (
        with_sid.groupBy(*keys, "_sid")
        .agg(
            F.min(event_time).alias("session_start"),
            F.max(event_time).alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .drop("_sid")
    )


def sessionize_stream(
    df: DataFrame,
    keys: Sequence[str],
    event_time: str,
    gap_ms: int,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming sessionization with user-defined state
    (applyInPandasWithState + GroupStateTimeout.EventTimeTimeout).

    Per key the state is one open session (start_us, end_us, n). Each
    batch: sort the key's rows, split on gaps, emit every session
    closed by a gap, keep the trailing open session in state with an
    event-time timeout at end + gap; the timeout fires once the
    watermark passes it and flushes the session. Rows older than the
    watermark are dropped before they reach the state function.
    """
    import numpy as np
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType

    keys = list(keys)
    ts_type = df.schema[event_time].dataType  # timestamp or timestamp_ntz
    gap_us = gap_ms * 1000

    # Per-group Python cost is the lane's wall (r15 floor probe: a
    # no-op state fn drains sf0.1 in ~1.9 s vs ~3.6 s for this fn):
    # the concat+notna+astype timestamp prep costs ~350 µs vs ~10 µs
    # for a view-and-filter on the int64 representation.
    INAT = np.iinfo("int64").min

    def _emit(key, starts, ends, counts):
        return _key_frame(keys, key, {
            "session_start": _us(starts),
            "session_end": _us(ends),
            "n_events": counts,
        })

    def _arr1(v):
        return np.array([v], dtype="int64")

    def fn(key, pdf_iter, state):
        if state.hasTimedOut:
            s, e, n = state.get
            state.remove()
            yield _emit(key, _arr1(s), _arr1(e), _arr1(n))
            return
        parts = [
            p[event_time].to_numpy(dtype="datetime64[us]").view("int64")
            for p in pdf_iter
        ]
        ts = parts[0] if len(parts) == 1 else np.concatenate(parts)
        # NULL event times convert to iNaT (int64 min) and would fake
        # an ancient session; drop them, matching the batch twin where
        # null timestamps fall out of the window ordering.
        ts = ts[ts != INAT]
        open_sess = tuple(state.get) if state.exists else None
        if not len(ts):
            if open_sess is not None:
                state.update(open_sess)
                state.setTimeoutTimestamp((open_sess[1] + gap_us) // 1000)
            return
        ts = np.sort(ts)
        # vectorized gap-split: a session starts at element i when the
        # gap from the running max end (which includes the restored
        # open session's end) exceeds gap_us — identical semantics to
        # the per-row merge loop, at numpy speed.
        merge_first = False
        if open_sess is not None:
            prev_end = np.maximum.accumulate(
                np.concatenate((np.array([open_sess[1]], dtype="int64"), ts))
            )[:-1]
            starts_new = (ts - prev_end) > gap_us
            # ts[0] continuing the restored session must still open the
            # FIRST in-batch segment (else flatnonzero skips index 0 and
            # pre-split events vanish / cross-gap merges happen); remember
            # to merge that segment with open_sess below instead.
            merge_first = not starts_new[0]
            starts_new[0] = True
        else:
            starts_new = np.empty(len(ts), dtype=bool)
            starts_new[0] = True
            starts_new[1:] = np.diff(ts) > gap_us
        bounds = np.append(np.flatnonzero(starts_new), len(ts))
        seg_start = ts[bounds[:-1]].copy()
        seg_end = ts[bounds[1:] - 1].copy()
        seg_n = np.diff(bounds)
        prepend = None
        if open_sess is not None:
            if merge_first:
                seg_start[0] = open_sess[0]
                seg_end[0] = max(open_sess[1], seg_end[0])
                seg_n[0] += open_sess[2]
            else:
                prepend = open_sess
        new_open = (int(seg_start[-1]), int(seg_end[-1]), int(seg_n[-1]))
        state.update(new_open)
        state.setTimeoutTimestamp((new_open[1] + gap_us) // 1000)
        nc = len(seg_start) - 1
        if nc or prepend is not None:
            cs, ce, cn = seg_start[:nc], seg_end[:nc], seg_n[:nc]
            if prepend is not None:
                cs = np.concatenate((_arr1(prepend[0]), cs))
                ce = np.concatenate((_arr1(prepend[1]), ce))
                cn = np.concatenate((_arr1(prepend[2]), cn))
            yield _emit(key, cs, ce, cn)

    return _keyed_state(
        df, keys, event_time, watermark, fn,
        [
            StructField("session_start", ts_type),
            StructField("session_end", ts_type),
            StructField("n_events", LongType()),
        ],
        [
            StructField("start_us", LongType()),
            StructField("end_us", LongType()),
            StructField("n", LongType()),
        ],
        GroupStateTimeout.EventTimeTimeout,
    )


def asof_join_stream(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    right_cols: Sequence[str],
    watermark: str = "0 seconds",
    matched_time_col: str | None = "matched_time",
    direction: str = "backward",
    tolerance_ms: int | None = None,
) -> DataFrame:
    """Stream-stream as-of join (Flink's event-time temporal join;
    Spark has no native equivalent): every left event is enriched with
    the latest right event at-or-before it on the same keys.

    Correctness under out-of-order arrival: a left event at time t can
    only be finalized once no right event with ``rt <= t`` can still
    arrive — i.e. once the watermark passes t. So per key the state
    holds (a) the right-side history, (b) pending left rows; each
    invocation emits every pending left with ``t <= watermark``,
    matching against the history, then prunes the history to the
    single latest right at-or-before the new watermark (earlier rights
    can never match a future emittable left). An event-time timeout at
    the oldest pending left flushes keys that receive no further
    traffic. State per key is O(pending lefts + unexpired rights) —
    bounded by the watermark delay, the same bound Spark's own
    stream-stream joins carry.

    Both inputs are unioned (tagged) so ONE stateful operator sees the
    key's full timeline — the union+window trick of the batch
    :func:`~denormalized_spark.operators.temporal.asof_join`, replayed
    incrementally.

    Directions: 'backward' (default; optional ``tolerance_ms`` nulls
    matches farther than the tolerance, like the batch operator).
    'forward' and 'nearest' REQUIRE ``tolerance_ms``: on a stream a
    left row can only finalize once no better future candidate can
    arrive, and the tolerance is that horizon — the left at time t
    emits when the watermark passes t + tolerance, and its match is
    the earliest right in [t, t+tol] (forward) or the smaller-|Δt|
    candidate within the tolerance, ties backward (nearest — pandas
    merge_asof parity, matching the batch operator exactly since
    pick-nearest-then-null-beyond-tol ≡ filter-to-tol-then-pick).
    Without a tolerance those directions have no finalization bound
    and state could never be pruned, so they raise. State/latency
    cost of the horizon: rights retained an extra tolerance window,
    left emission delayed by the tolerance — both O(watermark+tol)
    bounded, same class as Spark's own stream-stream join state.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    if direction != "backward" and tolerance_ms is None:
        raise ValueError(
            "streaming forward/nearest as-of requires tolerance_ms: the "
            "tolerance is the finalization horizon (a left row emits once "
            "the watermark passes left_time + tolerance_ms)"
        )
    if tolerance_ms is not None and tolerance_ms < 0:
        raise ValueError(f"tolerance_ms must be >= 0, got {tolerance_ms}")
    import numpy as np
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StringType

    keys = list(on)
    right_cols = list(right_cols)
    left_payload = [c for c in left.columns if c not in keys and c != left_time]
    ts_type = left.schema[left_time].dataType
    tol_us = int(tolerance_ms) * 1000 if tolerance_ms is not None else None

    lu = declare_watermark(left, left_time, watermark).select(
        *keys,
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in left_payload],
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in right_cols],
    )
    ru = declare_watermark(right, right_time, watermark).select(
        *keys,
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_payload],
        *[F.col(c) for c in right_cols],
    )
    u = lu.unionByName(ru)

    out_schema = StructType(
        [left.schema[k] for k in keys]
        + [StructField(left_time, ts_type)]
        + [left.schema[c] for c in left_payload]
        + [StructField(c, right.schema[c].dataType) for c in right_cols]
        + ([StructField(matched_time_col, ts_type)] if matched_time_col else [])
    )
    # state: JSON blobs (pandas-serializable regardless of payload
    # types); tiny per key, rewritten per batch. COLUMN-oriented —
    # {"t": [us...], "<col>": [values...]} — so batch ingest/emit is
    # array slicing, never per-row dict building.
    state_schema = StructType(
        [StructField("lefts", StringType()), StructField("rights", StringType()),
         StructField("oldest_left_us", LongType())]
    )

    def _enc(cols) -> str:
        import json

        return json.dumps(cols)

    def _dec(blob, payload_cols) -> dict:
        import json

        return json.loads(blob) if blob else {"t": [], **{c: [] for c in payload_cols}}

    def fn(key, pdf_iter, state):
        lefts, rights = None, None
        if state.exists:
            lb, rb, _ = state.get
            lefts, rights = _dec(lb, left_payload), _dec(rb, right_cols)
        else:
            lefts, rights = _dec(None, left_payload), _dec(None, right_cols)
        for pdf in pdf_iter:
            if pdf.empty:
                continue
            ts_us = pdf["_t"].to_numpy(dtype="datetime64[us]").astype("int64")
            lmask = pdf["_side"].to_numpy() == 1
            for mask, buf, cols in (
                (lmask, lefts, left_payload),
                (~lmask, rights, right_cols),
            ):
                if mask.any():
                    buf["t"].extend(ts_us[mask].tolist())
                    sub = pdf.loc[mask]
                    for c in cols:
                        buf[c].extend(_json_safe_list(sub[c]))
        wm_us = state.getCurrentWatermarkMs() * 1000

        def _obj1d(vals):
            # explicit 1-D object array: np.asarray(list-of-equal-length-lists,
            # dtype=object) would build a 2-D array and break the masked
            # assignment below for array-typed payload columns
            a = np.empty(len(vals), dtype=object)
            a[:] = vals
            return a

        def _sorted_arrays(buf, cols):
            t = np.asarray(buf["t"], dtype="int64")
            order = np.argsort(t, kind="stable")
            return t[order], {c: _obj1d(buf[c])[order] for c in cols}

        lt, lcols = _sorted_arrays(lefts, left_payload)
        rt, rcols = _sorted_arrays(rights, right_cols)

        # a left at t finalizes once no right that could still improve
        # its match can arrive: wm > t for backward, wm > t + tol for
        # forward/nearest (the tolerance IS the forward horizon)
        hold_us = tol_us if direction != "backward" else 0
        n_emit = int(np.searchsorted(lt, wm_us - hold_us, side="right"))
        # prune right history. Pending/future lefts all have
        # t > wm - hold. backward/nearest: rights before the LATEST
        # right at-or-before that bound are shadowed by it (keep that
        # one); forward: rights at-or-before the bound can never be
        # >= a future left's t at all (keep none of them).
        cut = int(np.searchsorted(rt, wm_us - hold_us, side="right"))
        keep_from = cut if direction == "forward" else max(cut - 1, 0)
        n_pending = len(lt) - n_emit
        if n_pending or len(rt) > keep_from:
            oldest = int(lt[n_emit]) if n_pending else None
            pending = {
                "t": lt[n_emit:].tolist(),
                **{c: lcols[c][n_emit:].tolist() for c in left_payload},
            }
            kept = {
                "t": rt[keep_from:].tolist(),
                **{c: rcols[c][keep_from:].tolist() for c in right_cols},
            }
            state.update((_enc(pending), _enc(kept), oldest))
            # flush keys that go quiet: wake when the watermark passes
            # the oldest pending left's finalization bound (+1ms so wm
            # strictly covers it)
            if oldest is not None:
                state.setTimeoutTimestamp((oldest + hold_us) // 1000 + 1)
        else:
            state.remove()
        if n_emit:
            le = lt[:n_emit]
            big = np.iinfo("int64").max
            bidx = np.searchsorted(rt, le, side="right") - 1  # latest <= t
            fidx = np.searchsorted(rt, le, side="left")  # earliest >= t
            fsafe = np.minimum(fidx, max(len(rt) - 1, 0))
            if len(rt):
                db = np.where(bidx >= 0, le - rt[np.maximum(bidx, 0)], big)
                df_ = np.where(fidx < len(rt), rt[fsafe] - le, big)
            else:
                db = np.full(n_emit, big)
                df_ = np.full(n_emit, big)
            if tol_us is not None:
                db = np.where(db <= tol_us, db, big)
                df_ = np.where(df_ <= tol_us, df_, big)
            if direction == "backward":
                matched = db != big
                midx = np.maximum(bidx, 0)
            elif direction == "forward":
                matched = df_ != big
                midx = fsafe
            else:  # nearest: smaller |Δt| within tolerance, ties backward
                use_b = (db <= df_) & (db != big)
                matched = use_b | (df_ != big)
                midx = np.where(use_b, np.maximum(bidx, 0), fsafe)
            data = {left_time: _us(lt[:n_emit])}
            for c in left_payload:
                data[c] = lcols[c][:n_emit]
            for c in right_cols:
                vals = np.full(n_emit, None, dtype=object)
                if matched.any():
                    vals[matched] = rcols[c][midx[matched]]
                data[c] = vals
            if matched_time_col:
                mt = np.full(n_emit, np.datetime64("NaT", "us"))
                if matched.any():
                    mt[matched] = rt[midx[matched]].astype("datetime64[us]")
                data[matched_time_col] = mt
            yield _key_frame(keys, key, data)

    return u.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def _json_safe_list(s) -> list:
    """pandas Series → JSON-serializable Python list. ``.tolist()``
    unboxes numpy scalars in C; only the NaN→None normalization (JSON
    null, matching Spark NULL on the way back) touches each value."""
    import numpy as np
    import pandas as pd

    vals = s.tolist()
    if s.dtype == object or s.dtype.kind == "f" or s.hasnans:
        return [
            None
            if (v is None or v is pd.NA or (isinstance(v, float) and v != v))
            # array-typed Spark columns arrive as numpy.ndarray cells;
            # .tolist() both nests them as lists and unboxes their numpy
            # scalars, keeping the state blob JSON-encodable
            else (v.tolist() if isinstance(v, np.ndarray) else v)
            for v in vals
        ]
    return vals


def anomaly_stream(
    df: DataFrame,
    keys: Sequence[str],
    event_time: str,
    window_ms: int = 3600_000,
    watermark: str = "0 seconds",
    z_threshold: float = 3.0,
    min_windows: int = 3,
) -> DataFrame:
    """ONLINE volume-anomaly detection with user-defined state
    (applyInPandasWithState + event-time timeout): per key, the state
    is the OPEN window's count plus exact running moments
    (n, Σcount, Σcount²) over the closed windows so far. A window
    closes when a later window's event arrives (or the watermark
    timeout fires); at close it is z-scored against the history
    BEFORE it — the causal semantics of
    operators/analytics.anomaly_online_batch, whose batch plan is the
    deterministic twin (parity pinned by tests; moments are exact
    integers, so only stddev float association can differ, below the
    rounding). Emission is once per closed window; state per key is
    five numbers regardless of stream length."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import BooleanType, DoubleType, LongType

    keys = list(keys)
    win_us = window_ms * 1000

    def _score(n, hist):
        hist_n, hist_sum, hist_sumsq = hist
        if hist_n < min_windows:
            return 0.0, False
        mean = round(hist_sum / hist_n, 6)
        var = hist_sumsq / hist_n - (hist_sum / hist_n) ** 2
        std = round(max(var, 0.0) ** 0.5, 6)
        if std <= 0:
            return 0.0, False
        z = round((n - mean) / std, 6)
        return z, abs(z) >= z_threshold

    def _emit(key, rows):
        start, n, prior, z, flag = zip(*rows)
        return _key_frame(keys, key, {
            "window_start_time": _us(start),
            "n": np.asarray(n, dtype="int64"),
            "n_prior_windows": np.asarray(prior, dtype="int64"),
            "zscore": np.asarray(z, dtype="float64"),
            "is_anomaly": np.asarray(flag, dtype=bool),
        })

    def fn(key, pdf_iter, state):
        if state.hasTimedOut:
            cur_start, cur_n, hn, hs, hss = state.get
            if cur_start < 0:  # no open window (already flushed)
                return
            z, flag = _score(cur_n, (hn, hs, hss))
            # fold the flushed window into history and KEEP the state:
            # a key that goes idle and later resumes must be scored
            # against its full past, not an empty one (state stays 5
            # longs; no timeout is armed until new data opens a
            # window) — the batch twin scores every window against
            # ALL its predecessors, and parity requires the same here
            state.update((-1, 0, hn + 1, hs + cur_n, hss + cur_n * cur_n))
            yield _emit(key, [(cur_start, cur_n, hn, z, flag)])
            return
        rows = pd.concat(list(pdf_iter))
        # NULL event times would convert to iNaT (int64 min) and open
        # a garbage window that permanently corrupts the key's running
        # moments; drop them, matching the batch twin where null
        # windows fall out of the groupBy.
        evs = rows[event_time]
        ts = np.sort(
            evs[evs.notna()].to_numpy(dtype="datetime64[us]").astype("int64")
        )
        if state.exists:
            cur_start, cur_n, hn, hs, hss = state.get
            if cur_start < 0:
                cur_start, cur_n = None, 0
        else:
            cur_start, cur_n, hn, hs, hss = None, 0, 0, 0, 0
        if not len(ts):
            if cur_start is not None:
                state.update((cur_start, cur_n, hn, hs, hss))
                state.setTimeoutTimestamp((cur_start + win_us) // 1000)
            return
        out = []
        starts = (ts // win_us) * win_us
        for s, cnt in zip(*np.unique(starts, return_counts=True)):
            s, cnt = int(s), int(cnt)
            if cur_start is None:
                cur_start, cur_n = s, cnt
            elif s == cur_start:
                cur_n += cnt
            elif s > cur_start:
                z, flag = _score(cur_n, (hn, hs, hss))
                out.append((cur_start, cur_n, hn, z, flag))
                hn += 1
                hs += cur_n
                hss += cur_n * cur_n
                cur_start, cur_n = s, cnt
            # s < cur_start: late beyond the open window — watermark
            # already bounds this; drop (ordered-arrival contract,
            # same as the near-dup gate)
        state.update((cur_start, cur_n, hn, hs, hss))
        state.setTimeoutTimestamp((cur_start + win_us) // 1000)
        if out:
            yield _emit(key, out)

    return _keyed_state(
        df, keys, event_time, watermark, fn,
        [
            StructField("window_start_time", df.schema[event_time].dataType),
            StructField("n", LongType()),
            StructField("n_prior_windows", LongType()),
            StructField("zscore", DoubleType()),
            StructField("is_anomaly", BooleanType()),
        ],
        [
            StructField("cur_start_us", LongType()),
            StructField("cur_n", LongType()),
            StructField("hist_n", LongType()),
            StructField("hist_sum", LongType()),
            StructField("hist_sumsq", LongType()),
        ],
        GroupStateTimeout.EventTimeTimeout,
    )


def scd2_batch(
    df: DataFrame,
    keys: Sequence[str],
    event_time: str,
    attr_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Batch twin of :func:`scd2_stream`: the CLOSED intervals of
    operators/temporal.scd2_intervals (the open is_current interval is
    what streaming holds back in state), with the same column set."""
    from denormalized_spark.operators.temporal import scd2_intervals

    iv = scd2_intervals(df, list(keys), event_time, [attr_col], tiebreak_col)
    return iv.filter(~F.col("is_current")).select(
        *keys, attr_col, "version", "valid_from", "valid_to"
    )


def scd2_stream(
    df: DataFrame,
    keys: Sequence[str],
    event_time: str,
    attr_col: str,
    tiebreak_col: str | None = None,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming SCD2 dimension maintenance (applyInPandasWithState):
    fold a change-log STREAM into type-2 validity intervals, emitting
    each interval the moment a change CLOSES it. Per key the state is
    the one open interval (valid_from, version, attr); a batch sorts
    its rows by (event_time, tiebreak), drops run-internal duplicates
    null-safely, closes an interval per change, and keeps the trailing
    open interval in state — NO timeout: dimension state is
    long-lived by design, exactly one open interval per key, O(1)
    bytes regardless of stream length. The current (never-closed)
    interval is therefore held back, the same append-mode holdback as
    the windowed aggregations; :func:`scd2_batch` is the exact twin of
    what IS emitted (parity-tested in tests/test_stateful.py).

    Single-attribute form (the state row holds one string) — callers
    tracking several columns pack them with ``F.to_json(struct(...))``
    or concat_ws, the standard SCD2-hash trick. Out-of-order rows
    OLDER than the watermark are dropped before they can corrupt
    history; within-watermark disorder is repaired by
    the per-batch sort only (cross-batch regressions land as new
    versions — document your watermark accordingly)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import BooleanType, LongType, StringType

    keys = list(keys)
    ts_type = df.schema[event_time].dataType

    def _emit(key, rows):
        valid_from, valid_to, attr, version = zip(*rows)
        return _key_frame(keys, key, {
            attr_col: np.array(attr, dtype=object),
            "version": np.asarray(version, dtype="int64"),
            "valid_from": _us(valid_from),
            "valid_to": _us(valid_to),
        })

    def fn(key, pdf_iter, state):
        rows = pd.concat(list(pdf_iter))
        rows = rows[rows[event_time].notna()]
        if not len(rows):
            return
        order = [event_time] + ([tiebreak_col] if tiebreak_col else [])
        rows = rows.sort_values(order, kind="mergesort")
        ts = rows[event_time].to_numpy(dtype="datetime64[us]").astype("int64")
        attrs = rows[attr_col].to_numpy(dtype=object)
        # NaN → None so the null-safe compare sees one null flavor
        attrs = np.array(
            [None if (a is None or (isinstance(a, float) and pd.isna(a))) else a
             for a in attrs],
            dtype=object,
        )
        if state.exists:
            from_us, version, cur_attr, attr_null = state.get
            cur = None if attr_null else cur_attr
        else:
            from_us = version = None
            cur = object()  # sentinel: never equal to any attr (incl. None)
        closed = []
        for t_us, a in zip(ts, attrs):
            if a is cur or a == cur or (a is None and cur is None):
                continue  # run continues — collapse
            if from_us is not None:
                closed.append((from_us, int(t_us), cur, version))
                version = version + 1
            else:
                version = 1
            from_us, cur = int(t_us), a
        state.update(
            (from_us, version, cur if cur is not None else None, cur is None)
        )
        if closed:
            yield _emit(key, closed)

    return _keyed_state(
        df, keys, event_time, watermark, fn,
        [
            StructField(attr_col, StringType()),
            StructField("version", LongType()),
            StructField("valid_from", ts_type),
            StructField("valid_to", ts_type),
        ],
        [
            StructField("from_us", LongType()),
            StructField("version", LongType()),
            StructField("attr", StringType()),
            StructField("attr_is_null", BooleanType()),
        ],
        GroupStateTimeout.NoTimeout,
        read_cols=[attr_col] + ([tiebreak_col] if tiebreak_col else []),
    )
