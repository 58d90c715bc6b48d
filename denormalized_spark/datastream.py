"""DataStream — the fluent stream/batch façade.

Mirrors the reference's ``DataStream`` API (reference:
crates/core/src/datastream.rs:35-395 and the Python wrapper
py-denormalized/python/denormalized/data_stream.py) as a thin layer
over a pyspark DataFrame. The wrapped DataFrame may be batch or
streaming — Spark's stream/batch unification replaces the reference's
``Joinable`` trait polymorphism (datastream.rs:379-395).

Every method declares logical plan only; Catalyst plans the physical
execution. The raw DataFrame is always reachable via ``.df`` so users
can drop to the full Spark surface (SQL included) at any point —
a strict superset of the reference, whose streaming path has no SQL
entry point (SURVEY §3.3).
"""

from __future__ import annotations

import inspect
from collections.abc import Callable, Sequence
from functools import partial
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from denormalized_spark.eventtime import declare_watermark, with_event_time
from denormalized_spark.operators import windows as _w

_JOIN_TYPES = {
    # reference JoinType mapping: py-denormalized/src/datastream.rs:117-130
    "inner": "inner",
    "left": "left",
    "right": "right",
    "full": "full",
    "semi": "left_semi",
    "left_semi": "left_semi",
    "anti": "left_anti",
    "left_anti": "left_anti",
}


#: the trigger of every sink but Kafka's: drain what is there, then stop
_AVAILABLE_NOW = {"availableNow": True}


def _as_col(e: Column | str) -> Column:
    return F.col(e) if isinstance(e, str) else e


def _as_df(x: "DataStream | DataFrame") -> DataFrame:
    return x.df if isinstance(x, DataStream) else x


class DataStream:
    """Fluent wrapper over a (batch or streaming) DataFrame.

    ``event_time`` names the designated TimestampType event-time
    column (the reference's canonical_timestamp contract, SURVEY §1.2
    — but visible, not hidden). ``watermark`` is the lateness
    allowance applied before stateful streaming ops: a column that
    already carries a watermark keeps it, and ``watermark`` sets the
    delay only for a column that has none
    (:func:`~denormalized_spark.eventtime.declare_watermark`).
    """

    def __init__(
        self,
        df: DataFrame,
        event_time: str | None = None,
        watermark: str = "0 seconds",
    ):
        self._df = df
        self.event_time = event_time
        self.watermark = watermark

    # -- plumbing ------------------------------------------------------

    @property
    def df(self) -> DataFrame:
        """The underlying DataFrame (escape hatch to full Spark)."""
        return self._df

    def _wrap(self, df: DataFrame) -> "DataStream":
        return DataStream(df, event_time=self.event_time, watermark=self.watermark)

    def _watermarked(self, caller: str) -> DataFrame:
        """The input of a built-in stateful op: a stream with its
        watermark declared, a batch as is."""
        if self.event_time is None:
            raise ValueError(f"{caller}() requires an event-time column; call with_timestamp()")
        if not self._df.isStreaming:
            return self._df
        return declare_watermark(self._df, self.event_time, self.watermark)

    def _event_op(
        self,
        caller: str,
        stream_op: Callable[..., DataFrame],
        batch_op: Callable[..., DataFrame],
        /,
        *args: Any,
        keep_event_time: bool = False,
        **kwargs: Any,
    ) -> "DataStream":
        """The stream-or-batch dispatch shared by the event-time
        operators: ``stream_op(df, *args, event_time, watermark=...,
        **kwargs)`` on a stream, its deterministic twin
        ``batch_op(df, *args, event_time, **kwargs)`` on a batch. The
        result designates no event-time column unless
        ``keep_event_time``."""
        if self.event_time is None:
            raise ValueError(f"{caller}() requires an event-time column; call with_timestamp()")
        if self._df.isStreaming:
            out = stream_op(
                self._df, *args, self.event_time, watermark=self.watermark,
                **kwargs,
            )
        else:
            out = batch_op(self._df, *args, self.event_time, **kwargs)
        return DataStream(
            out,
            event_time=self.event_time if keep_event_time else None,
            watermark=self.watermark,
        )

    def schema(self):
        """Visible schema (reference strips its metadata column,
        datastream.rs:198-210; we have no hidden columns)."""
        return self._df.schema

    # -- event time ----------------------------------------------------

    def with_timestamp(
        self, column: str, unit: str = "ms", target: str = "_event_time"
    ) -> "DataStream":
        """Designate + normalize the event-time column
        (reference kafka_config.rs:129-135)."""
        out = with_event_time(self._df, column, unit, target)
        return DataStream(out, event_time=target, watermark=self.watermark)

    def with_watermark(self, delay: str) -> "DataStream":
        """Set the lateness allowance. A column that already carries a
        watermark keeps it, and ``delay`` applies only to a column that
        has none. The reference's watermark has no configurable delay
        (max-of-batch-min, streaming_window.rs:732-744); Spark's
        watermark = max event time − delay. delay='0 seconds' gives the
        closest behavior on ordered data (SURVEY §7.4)."""
        return DataStream(self._df, event_time=self.event_time, watermark=delay)

    # -- row ops (reference datastream.rs:74-123) -----------------------

    def select(self, *exprs: Column | str) -> "DataStream":
        return self._wrap(self._df.select(*[_as_col(e) for e in exprs]))

    def filter(self, predicate: Column | str) -> "DataStream":
        p = F.expr(predicate) if isinstance(predicate, str) else predicate
        return self._wrap(self._df.filter(p))

    def with_column(self, name: str, expr: Column) -> "DataStream":
        return self._wrap(self._df.withColumn(name, expr))

    def with_column_renamed(self, old: str, new: str) -> "DataStream":
        return self._wrap(self._df.withColumnRenamed(old, new))

    def drop_columns(self, *cols: str) -> "DataStream":
        return self._wrap(self._df.drop(*cols))

    # -- batch-surface ops (vendored dataframe.py in the reference) -----

    def aggregate(
        self,
        group_by: Sequence[Column | str] | Column | str,
        aggs: Sequence[Column] | Column,
    ) -> "DataStream":
        """Non-windowed aggregation (reference DataFrame.aggregate,
        dataframe.py:183-200). Single-expression arguments are
        accepted like the reference; empty ``group_by`` is a global
        aggregate."""
        group_by = [group_by] if isinstance(group_by, (str, Column)) else list(group_by)
        aggs = [aggs] if isinstance(aggs, Column) else list(aggs)
        if group_by:
            return self._wrap(
                self._df.groupBy(*[_as_col(g) for g in group_by]).agg(*aggs)
            )
        return self._wrap(self._df.agg(*aggs))

    def sort(self, *cols: Column | str) -> "DataStream":
        return self._wrap(self._df.orderBy(*[_as_col(c) for c in cols]))

    def limit(self, count: int, offset: int = 0) -> "DataStream":
        if offset:
            return self._wrap(self._df.offset(offset).limit(count))
        return self._wrap(self._df.limit(count))

    def distinct(self) -> "DataStream":
        return self._wrap(self._df.distinct())

    def drop_duplicates(self, subset: Sequence[str] | None = None) -> "DataStream":
        return self._wrap(
            self._df.dropDuplicates(list(subset)) if subset else self._df.dropDuplicates()
        )

    def drop_duplicates_within_watermark(
        self, subset: Sequence[str] | None = None
    ) -> "DataStream":
        """Streaming exact dedup with BOUNDED state: duplicate keys
        arriving within the watermark delay are dropped, and key state
        is evicted once the watermark passes — the only way exact
        streaming dedup survives an unbounded stream. Requires a
        watermark (set via with_watermark on the event-time column)."""
        if not self._df.isStreaming:
            # batch degenerate path: plain dedup (same rows for bounded input)
            return self.drop_duplicates(subset)
        df = self._watermarked("drop_duplicates_within_watermark")
        return self._wrap(
            df.dropDuplicatesWithinWatermark(list(subset))
            if subset
            else df.dropDuplicatesWithinWatermark()
        )

    def union(self, other: "DataStream | DataFrame", distinct: bool = False) -> "DataStream":
        out = self._df.union(_as_df(other))
        return self._wrap(out.distinct() if distinct else out)

    def intersect(self, other: "DataStream | DataFrame") -> "DataStream":
        return self._wrap(self._df.intersect(_as_df(other)))

    def except_all(self, other: "DataStream | DataFrame") -> "DataStream":
        return self._wrap(self._df.exceptAll(_as_df(other)))

    def repartition(self, n: int, *cols: str) -> "DataStream":
        if cols:
            return self._wrap(self._df.repartition(n, *cols))
        return self._wrap(self._df.repartition(n))

    def repartition_by_hash(self, n: int, *cols: str) -> "DataStream":
        """Hash-partition on columns (reference vendored
        dataframe.py:518-533) — pre-shuffling for co-located joins."""
        return self._wrap(self._df.repartition(n, *[_as_col(c) for c in cols]))

    def cache(self) -> "DataStream":
        """Materialize + reuse (reference dataframe.py:241). At scale
        prefer writing a partitioned parquet checkpoint instead."""
        return self._wrap(self._df.cache())

    def count(self) -> int:
        return self._df.count()

    def describe(self, *cols: str) -> "DataStream":
        """Summary statistics (reference DataFrame.describe,
        vendored dataframe.py:79: count/null_count/mean/std/min/max).
        Spark's describe covers count/mean/stddev/min/max; null_count
        is appended as count(*) − count(col) per column."""
        target = list(cols) or [
            f.name
            for f in self._df.schema.fields
            if f.dataType.typeName() in ("long", "integer", "double", "float", "short", "decimal")
        ]
        desc = self._df.describe(*target)
        nulls = self._df.agg(
            *[
                (F.count(F.lit(1)) - F.count(c)).cast("string").alias(c)
                for c in target
            ]
        ).withColumn("summary", F.lit("null_count")).select("summary", *target)
        return self._wrap(desc.unionByName(nulls))

    def unnest_column(self, column: str, *, preserve_nulls: bool = True) -> "DataStream":
        """Explode an array column to one row per element (reference
        DataFrame.unnest_column, vendored dataframe.py:337-361)."""
        fn = F.explode_outer if preserve_nulls else F.explode
        others = [c for c in self._df.columns if c != column]
        return self._wrap(self._df.select(*others, fn(column).alias(column)))

    def unnest_columns(self, *columns: str, preserve_nulls: bool = True) -> "DataStream":
        out = self
        for c in columns:
            out = out.unnest_column(c, preserve_nulls=preserve_nulls)
        return out

    # -- joins (reference datastream.rs:126-175) ------------------------

    def join(
        self,
        right: "DataStream | DataFrame",
        join_type: str = "inner",
        left_cols: Sequence[str] | None = None,
        right_cols: Sequence[str] | None = None,
        filter: Column | None = None,  # noqa: A002 - reference arg name
        *,
        broadcast_right: bool = False,
    ) -> "DataStream":
        """Equi-join on named columns + optional residual filter.

        Matches ``DataStream::join(right, type, left_cols, right_cols,
        filter)`` (reference datastream.rs:149-175). When the right
        side is a small dimension table, pass ``broadcast_right=True``
        (or rely on AQE/autoBroadcast) to avoid shuffling the big side.
        """
        how = _JOIN_TYPES[join_type]
        r = _as_df(right)
        if broadcast_right:
            r = F.broadcast(r)
        if left_cols is None:
            raise ValueError("join requires left_cols/right_cols; use join_on for expressions")
        right_cols = right_cols or left_cols
        cond = None
        for lc, rc in zip(left_cols, right_cols):
            c = self._df[lc] == r[rc]
            cond = c if cond is None else (cond & c)
        if filter is not None:
            cond = cond & filter
        return self._wrap(self._df.join(r, cond, how))

    def join_on(
        self,
        right: "DataStream | DataFrame",
        join_type: str = "inner",
        on: Column | None = None,
        *,
        broadcast_right: bool = False,
    ) -> "DataStream":
        """Theta join on an arbitrary boolean expression (reference
        datastream.rs:126-145; the reference's Python binding is
        ``todo!()`` — py-denormalized/src/datastream.rs:97-104)."""
        how = _JOIN_TYPES[join_type]
        r = _as_df(right)
        if broadcast_right:
            r = F.broadcast(r)
        return self._wrap(self._df.join(r, on, how))

    # -- multi-dimensional aggregation (superset of the reference's
    #    GROUP BY; DataFusion exposes these only through SQL) ---------

    def rollup_agg(
        self, group_cols: Sequence[Column | str], aggr_exprs: Sequence[Column]
    ) -> "DataStream":
        """GROUP BY ROLLUP — hierarchical subtotals. One shuffle;
        Spark expands the grouping sets map-side."""
        return self._wrap(
            self._df.rollup(*[_as_col(c) for c in group_cols]).agg(*aggr_exprs)
        )

    def cube_agg(
        self, group_cols: Sequence[Column | str], aggr_exprs: Sequence[Column]
    ) -> "DataStream":
        """GROUP BY CUBE — all grouping-key combinations."""
        return self._wrap(
            self._df.cube(*[_as_col(c) for c in group_cols]).agg(*aggr_exprs)
        )

    def grouping_sets_agg(
        self,
        sets: Sequence[Sequence[str]],
        group_cols: Sequence[Column | str],
        aggr_exprs: Sequence[Column],
    ) -> "DataStream":
        """Explicit GROUP BY GROUPING SETS (Spark 4 DataFrame API)."""
        return self._wrap(
            self._df.groupingSets(
                [list(s) for s in sets], *[_as_col(c) for c in group_cols]
            ).agg(*aggr_exprs)
        )

    def unpivot(
        self,
        ids: Sequence[str],
        values: Sequence[str],
        var_name: str = "metric",
        value_name: str = "value",
    ) -> "DataStream":
        """Wide→long melt. Pure projection (constant fan-out per row),
        no shuffle."""
        return self._wrap(self._df.unpivot(list(ids), list(values), var_name, value_name))

    def pivot_agg(
        self,
        group_cols: Sequence[Column | str],
        pivot_col: str,
        pivot_values: Sequence[str],
        aggr_exprs: Sequence[Column],
    ) -> "DataStream":
        """Long→wide pivot: one output column per (pivot value, agg).
        ``pivot_values`` is REQUIRED (not inferred): an explicit value
        list keeps the schema static and skips the extra distinct-scan
        job Spark otherwise runs to discover values — the only form
        that's sane at 100 TB, and the only one whose schema a
        downstream contract can depend on. One shuffle (same keyed agg
        as group_by; the pivot is column fan-out, not row fan-out)."""
        return self._wrap(
            self._df.groupBy(*[_as_col(c) for c in group_cols])
            .pivot(pivot_col, list(pivot_values))
            .agg(*aggr_exprs)
        )

    def join_asof(
        self,
        right: "DataStream | DataFrame",
        on: Sequence[str],
        left_time: str,
        right_time: str,
        right_cols: Sequence[str],
        *,
        direction: str = "backward",
        tolerance_ms: int | None = None,
        matched_time_col: str | None = "matched_time",
    ) -> "DataStream":
        """As-of join (nearest past/future right row per key) — see
        operators/temporal.asof_join for the union+window batch plan.
        When either side is a stream, dispatches to the stateful
        stream-stream temporal join (streaming/stateful.
        asof_join_stream); forward/nearest directions require
        tolerance_ms there — the tolerance is the finalization horizon
        (a left emits once the watermark passes t + tolerance). Not in
        the reference; standard in time-series/feature-store engines."""
        r = _as_df(right)
        if self._df.isStreaming or r.isStreaming:
            from denormalized_spark.streaming.stateful import asof_join_stream

            return self._wrap(
                asof_join_stream(
                    self._df, r, on, left_time, right_time, right_cols,
                    watermark=self.watermark, matched_time_col=matched_time_col,
                    direction=direction, tolerance_ms=tolerance_ms,
                )
            )
        from denormalized_spark.operators.temporal import asof_join

        return self._wrap(
            asof_join(
                self._df, r, on, left_time, right_time, right_cols,
                direction=direction, tolerance_ms=tolerance_ms,
                matched_time_col=matched_time_col,
            )
        )

    def join_range(
        self,
        right: "DataStream | DataFrame",
        left_point: str,
        right_start: str,
        right_end: str,
        *,
        on: Sequence[str] = (),
        bin_width_s: int = 604_800,
        how: str = "inner",
        end_inclusive: bool = False,
    ) -> "DataStream":
        """Interval-containment join via bin-bucketed equi-join — see
        operators/temporal.range_join. When either side is a stream,
        dispatches to the native stream-stream form (range_join_stream):
        ``bin_width_s`` doubles as the max-interval contract there —
        the bin supplies the symmetric hash join's equi key and the
        ``point <= start + bin_width`` bound lets the watermark evict
        both sides' state."""
        r = _as_df(right)
        if self._df.isStreaming or r.isStreaming:
            from denormalized_spark.operators.temporal import range_join_stream

            return self._wrap(
                range_join_stream(
                    self._df, r, left_point, right_start, right_end,
                    on=on, max_interval_s=bin_width_s,
                    watermark=self.watermark, how=how,
                    end_inclusive=end_inclusive,
                )
            )
        from denormalized_spark.operators.temporal import range_join

        return self._wrap(
            range_join(
                self._df, r, left_point, right_start, right_end,
                on=on, bin_width_s=bin_width_s, how=how,
                end_inclusive=end_inclusive,
            )
        )

    # -- windowed aggregation (reference datastream.rs:178-196) ----------

    def window(
        self,
        group_exprs: Sequence[Column | str],
        aggr_exprs: Sequence[Column],
        window_length_ms: int,
        slide_ms: int | None = None,
    ) -> "DataStream":
        """Tumbling/sliding event-time window aggregation — the
        reference's core custom operator (SURVEY §2.4), expressed as
        Spark's built-in windowed groupBy. Requires a designated
        event-time column (``with_timestamp`` or a TimestampType
        column named at construction)."""
        out = _w.window_aggregate(
            self._watermarked("window"), self.event_time, group_exprs,
            aggr_exprs, window_length_ms, slide_ms,
        )
        return DataStream(out, event_time=None, watermark=self.watermark)

    def session_window(
        self,
        group_exprs: Sequence[Column | str],
        aggr_exprs: Sequence[Column],
        gap_ms: int | Column,
    ) -> "DataStream":
        """Session windows — declared-but-unimplemented in the
        reference (planner/streaming_window.rs:130); native here.
        ``gap_ms`` accepts a per-event millisecond Column for DYNAMIC
        gaps (operators/windows.session_window_aggregate)."""
        out = _w.session_window_aggregate(
            self._watermarked("session_window"), self.event_time,
            group_exprs, aggr_exprs, gap_ms,
        )
        return DataStream(out, event_time=None, watermark=self.watermark)

    def sessionize(
        self,
        group_exprs: Sequence[str],
        gap_ms: int,
    ) -> "DataStream":
        """Per-key sessionization with custom state — exact window-fn
        plan on batch, applyInPandasWithState (GroupState + event-time
        timeout) on streams. See streaming/stateful.py."""
        from denormalized_spark.streaming.stateful import (
            sessionize_batch,
            sessionize_stream,
        )

        return self._event_op(
            "sessionize", sessionize_stream, sessionize_batch,
            list(group_exprs), gap_ms=gap_ms,
        )

    def scd2(
        self,
        key_cols: Sequence[str],
        attr_col: str,
        tiebreak_col: str | None = None,
    ) -> "DataStream":
        """Type-2 slowly-changing-dimension fold of this change-log:
        validity intervals per (key, run of identical ``attr_col``).
        Batch → operators/temporal.scd2_intervals (closed AND current
        intervals); stream → streaming/stateful.scd2_stream (closed
        intervals as changes arrive; the current interval is held in
        state — append holdback). The streaming form is
        single-attribute; pack several columns with to_json(struct)."""
        from denormalized_spark.operators.temporal import scd2_intervals
        from denormalized_spark.streaming.stateful import scd2_stream

        def batch(df, keys, event_time, attr_col, tiebreak_col):
            return scd2_intervals(df, keys, event_time, [attr_col], tiebreak_col)

        return self._event_op(
            "scd2", scd2_stream, batch, list(key_cols),
            attr_col=attr_col, tiebreak_col=tiebreak_col,
        )

    def near_dedup(
        self,
        id_col: str = "doc_id",
        text_col: str = "text",
        *,
        num_hashes: int = 16,
        bands: int = 4,
        shingle_n: int = 3,
        emit_window_ms: int = 60_000,
        payload_cols: Sequence[str] = (),
        ts_mode: str = "exact",
    ) -> "DataStream":
        """MinHash-LSH near-duplicate filter, path-polymorphic: on a
        stream, the online first-claimant gate
        (:func:`~denormalized_spark.operators.dedup.near_dedup_stream`,
        two chained stateful operators, watermark-TTL'd bucket state);
        on a batch, the deterministic earliest-(event_time, id) twin.
        Requires an event-time column (bucket ownership is temporal).

        ``ts_mode="window_time"`` emits the emit window's
        ``window_time`` as the event time instead of the doc's exact
        timestamp — on a stream that column keeps its event-time tag,
        so the gate CHAINS into a further windowed aggregation in the
        same query (gate → quality monitor → sink; the returned
        DataStream keeps its event-time designation). The batch twin
        derives the identical value from the doc timestamp, so
        stream == batch parity holds in both modes."""
        from denormalized_spark.operators.dedup import (
            near_dedup_batch,
            near_dedup_stream,
        )

        # validate HERE, not inside one leg: the batch twin must reject
        # exactly what the streaming path rejects (a typo'd ts_mode
        # silently meaning "exact" on batch would pass tests and then
        # raise on the production stream)
        if ts_mode not in ("exact", "window_time"):
            raise ValueError(
                f"ts_mode must be exact|window_time, got {ts_mode!r}"
            )

        def batch(df, id_col, text_col, event_time, **kwargs):
            out = near_dedup_batch(df, id_col, text_col, event_time, **kwargs)
            if ts_mode == "exact":
                return out
            # same value the stream emits: the doc's emit-window
            # end − 1 µs (its band rows all carry its exact ts)
            return out.withColumn(
                event_time,
                F.window_time(
                    F.window(F.col(event_time), f"{emit_window_ms} milliseconds")
                ),
            )

        return self._event_op(
            "near_dedup",
            partial(near_dedup_stream, ts_mode=ts_mode, emit_window_ms=emit_window_ms),
            batch, id_col, text_col,
            keep_event_time=ts_mode == "window_time",
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
            payload_cols=tuple(payload_cols),
        )

    def near_dedup_images(
        self,
        id_col: str = "doc_id",
        binary_col: str = "payload",
        *,
        method: str = "dhash",
        emit_window_ms: int = 60_000,
        payload_cols: Sequence[str] = (),
    ) -> "DataStream":
        """Perceptual-hash near-duplicate filter for IMAGE payloads,
        path-polymorphic like :meth:`near_dedup`: on a stream, the
        online first-claimant band gate (:func:`~denormalized_spark.
        operators.multimodal.image_near_gate` — dHash/aHash bands,
        watermark-TTL'd bucket state); on a batch, the deterministic
        earliest-(event_time, id) twin. Undecodable payloads are
        dropped (no fingerprint to contest with). Requires an
        event-time column."""
        from denormalized_spark.operators.multimodal import (
            image_near_gate,
            image_near_gate_batch,
        )

        return self._event_op(
            "near_dedup_images",
            partial(image_near_gate, emit_window_ms=emit_window_ms),
            image_near_gate_batch, id_col, binary_col,
            method=method, payload_cols=tuple(payload_cols),
        )

    def near_dedup_audio(
        self,
        id_col: str = "doc_id",
        binary_col: str = "payload",
        *,
        n_frames: int = 64,
        emit_window_ms: int = 60_000,
        payload_cols: Sequence[str] = (),
    ) -> "DataStream":
        """Energy-envelope near-duplicate filter for AUDIO payloads —
        the third modality of the path-polymorphic gate family
        (:meth:`near_dedup` for text, :meth:`near_dedup_images` for
        images): on a stream the online first-claimant band gate
        (:func:`~denormalized_spark.operators.multimodal.
        audio_near_gate`), on a batch its deterministic twin. The
        fingerprint is loudness-invariant, so re-normalized copies
        are gated too. Undecodable/too-short clips are dropped.
        Requires an event-time column."""
        from denormalized_spark.operators.multimodal import (
            audio_near_gate,
            audio_near_gate_batch,
        )

        return self._event_op(
            "near_dedup_audio",
            partial(audio_near_gate, emit_window_ms=emit_window_ms),
            audio_near_gate_batch, id_col, binary_col,
            n_frames=n_frames, payload_cols=tuple(payload_cols),
        )

    def funnel(
        self,
        steps: Sequence[str],
        *,
        session_gap_ms: int | None = None,
        user_col: str = "user_id",
        type_col: str = "event_type",
        id_col: str = "event_id",
    ) -> "DataStream":
        """Ordered conversion funnel over the event stream's batch
        form (operators/analytics): strict step sequencing per user;
        with ``session_gap_ms`` the chain must complete within one
        gap-based session. Batch-only (the per-user fold needs the
        full horizon); for online funnels run it per window via
        foreachBatch."""
        from denormalized_spark.operators import analytics

        if self._df.isStreaming:
            raise ValueError(
                "funnel() is batch-only; wrap it in foreachBatch for "
                "per-micro-batch funnels"
            )
        if self.event_time is None:
            raise ValueError("funnel() requires an event-time column")
        if session_gap_ms is None:
            out = analytics.funnel_counts(
                self._df, list(steps), user_col, self.event_time, type_col, id_col
            )
        else:
            out = analytics.session_funnel(
                self._df, list(steps), session_gap_ms, user_col,
                self.event_time, type_col, id_col,
            )
        return DataStream(out, event_time=None, watermark=self.watermark)

    def anomaly_scores(
        self,
        group_cols: Sequence[str] = ("event_type",),
        *,
        window_ms: int = 3600_000,
        z_threshold: float = 3.0,
        min_windows: int = 3,
    ) -> "DataStream":
        """Causal per-window volume anomaly scores, path-polymorphic:
        on a stream, the applyInPandasWithState running-moments kernel
        (streaming/stateful.anomaly_stream); on a batch, the
        deterministic window-function twin
        (operators/analytics.anomaly_online_batch) — stream == batch
        on every closed window (tests/test_stateful.py)."""
        from denormalized_spark.operators.analytics import anomaly_online_batch
        from denormalized_spark.streaming.stateful import anomaly_stream

        def batch(df, groups, event_time, **kwargs):
            if len(groups) != 1:
                raise ValueError(
                    "batch anomaly_scores supports exactly one group column"
                )
            return anomaly_online_batch(df, groups[0], event_time, **kwargs)

        return self._event_op(
            "anomaly_scores", anomaly_stream, batch, list(group_cols),
            window_ms=window_ms, z_threshold=z_threshold,
            min_windows=min_windows,
        )

    def near_dedup_incremental(
        self,
        index: DataFrame | "DataStream",
        id_col: str = "doc_id",
        text_col: str = "text",
        *,
        num_hashes: int = 8,
        bands: int = 4,
        shingle_n: int = 3,
    ) -> tuple["DataStream", "DataStream"]:
        """Batch-incremental near-dedup against a persistent LSH band
        index (:func:`~denormalized_spark.operators.dedup.
        near_dedup_incremental`): gate this batch against all of
        history via one keyed join with the stored index, plus the
        within-batch first-claimant rule. Returns ``(flags, updated
        index)`` — persist the updated index for the next load
        (see examples/incremental_dedup_load.py). Batch-only: the
        streaming analogue is :meth:`near_dedup`'s online gate."""
        from denormalized_spark.operators.dedup import near_dedup_incremental

        if self._df.isStreaming:
            raise ValueError(
                "near_dedup_incremental() is the batch-load form; use "
                "near_dedup() on streams"
            )
        flags, updated = near_dedup_incremental(
            self._df, _as_df(index), id_col, text_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        )
        return DataStream(flags), DataStream(updated)

    # -- sinks (reference datastream.rs:309-374, data_stream.py:223-232) --

    def sink(
        self,
        func: Callable[[DataFrame, int], Any] | Callable[[DataFrame], Any],
        *,
        checkpoint: str | None = None,
        trigger: dict | None = None,
        query_name: str | None = None,
    ):
        """Per-batch Python callback sink (reference ``ds.sink(func)``,
        py-denormalized/src/datastream.rs:229-270) via foreachBatch.

        Batch DataFrames invoke ``func`` once, immediately — the
        degenerate single-batch stream — so tests and batch backfills
        share sink code with live streams.
        """
        takes_epoch = len(inspect.signature(func).parameters) != 1
        if not self._df.isStreaming:
            return func(self._df, 0) if takes_epoch else func(self._df)

        def _call(batch_df: DataFrame, epoch: int):
            if takes_epoch:
                func(batch_df, epoch)
            else:
                func(batch_df)

        writer = self._df.writeStream.foreachBatch(_call)
        if query_name:
            writer = writer.queryName(query_name)
        if checkpoint:
            writer = writer.option("checkpointLocation", checkpoint)
        return writer.trigger(**(trigger or _AVAILABLE_NOW)).start()

    def sink_kafka(
        self,
        bootstrap_servers: str,
        topic: str,
        *,
        checkpoint: str,
        trigger: dict | None = None,
    ):
        """JSON-encode every row and produce to Kafka (reference
        datastream.rs:346-374 + utils/row_encoder.rs:16-44)."""
        from denormalized_spark.sources.kafka import write_kafka_json

        return write_kafka_json(
            self._df, bootstrap_servers, topic, checkpoint=checkpoint, trigger=trigger
        )

    def sink_parquet(
        self,
        path: str,
        *,
        checkpoint: str,
        trigger: dict | None = None,
        partition_by: Sequence[str] | None = None,
    ):
        """Exactly-once streaming parquet sink — Spark's native file
        sink commits each micro-batch through the `_spark_metadata`
        transaction log, so a restarted batch is never double-counted
        (the durable-landing analogue of the reference's checkpointed
        Kafka sink). Append-only; batch DataStreams write once via
        :meth:`to_parquet` semantics."""
        if not self._df.isStreaming:
            self.to_parquet(path, partition_by=list(partition_by or ()))
            return None
        return self._sink_files(
            "parquet", path, checkpoint, trigger, partition_by=partition_by
        )

    def sink_csv(
        self, path: str, *, checkpoint: str, trigger: dict | None = None, header: bool = True
    ):
        """Streaming CSV file sink (same `_spark_metadata` exactly-once
        commit protocol as :meth:`sink_parquet`)."""
        if not self._df.isStreaming:
            self.to_csv(path, header=header)
            return None
        return self._sink_files(
            "csv", path, checkpoint, trigger, header=str(header).lower()
        )

    def sink_json(self, path: str, *, checkpoint: str, trigger: dict | None = None):
        """Streaming newline-delimited-JSON file sink (exactly-once)."""
        if not self._df.isStreaming:
            self.to_json(path)
            return None
        return self._sink_files("json", path, checkpoint, trigger)

    def _sink_files(
        self,
        fmt: str,
        path: str,
        checkpoint: str,
        trigger: dict | None,
        partition_by: Sequence[str] | None = None,
        **options: str,
    ):
        """The streaming body of the file sinks: Spark's ``fmt`` file
        sink in append mode, committed through ``_spark_metadata``."""
        w = (
            self._df.writeStream.format(fmt)
            .outputMode("append")
            .option("path", path)
            .options(**options)
            .option("checkpointLocation", checkpoint)
            .trigger(**(trigger or _AVAILABLE_NOW))
        )
        if partition_by:
            w = w.partitionBy(*partition_by)
        return w.start()

    def print_stream(self, *, trigger: dict | None = None, num_rows: int = 20):
        """Console sink (reference datastream.rs:309-344)."""
        if not self._df.isStreaming:
            self._df.show(num_rows, truncate=False)
            return None
        return (
            self._df.writeStream.format("console")
            .outputMode("append")
            .option("numRows", str(num_rows))
            .trigger(**(trigger or _AVAILABLE_NOW))
            .start()
        )

    # -- batch file writers (reference vendored dataframe.py:417-447) ----

    def to_parquet(
        self,
        path: str,
        *,
        mode: str = "overwrite",
        partition_by: Sequence[str] = (),
        sort_within_partitions: Sequence[str] = (),
    ) -> None:
        """Parquet writer. ``partition_by`` lays the data out for
        partition pruning on those keys; ``sort_within_partitions``
        additionally orders rows inside each file so min/max row-group
        stats prune at read time — the cheap half of a bucketed
        layout, and the right default for a 100 TB corpus that is
        read far more often than written."""
        df = self._df
        if sort_within_partitions:
            df = df.sortWithinPartitions(*sort_within_partitions)
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    def to_csv(self, path: str, *, mode: str = "overwrite", header: bool = True) -> None:
        self._df.write.mode(mode).option("header", str(header).lower()).csv(path)

    def to_json(self, path: str, *, mode: str = "overwrite") -> None:
        self._df.write.mode(mode).json(path)

    # -- introspection (reference datastream.rs:214-242) -----------------

    def print_schema(self) -> "DataStream":
        self._df.printSchema()
        return self

    def print_plan(self) -> "DataStream":
        self._df.explain(extended=False)
        return self

    def print_physical_plan(self) -> "DataStream":
        self._df.explain(mode="formatted")
        return self
