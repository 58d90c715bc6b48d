"""Live sketch maintenance over a stream — the trend-detector shape.

The mergeable sketches in ``operators/sketches.py`` (Count-Min, HLL)
and the exponentially-decayed counters in ``operators/analytics.py``
exist precisely so a stream can maintain them incrementally: each
micro-batch builds its own partial sketch with the BATCH operators
(distributed — partial aggregation over the batch's rows), and the
partials fold into the accumulated state by the merge laws

    CM:      cell-wise SUM          (exact, integer)
    HLL:     register-wise MAX      (exact, integer)
    Bloom:   set-bit UNION          (exact — bitwise OR; optional,
             ``bloom_m_bits`` arms it)
    decayed: C(T₂) = C(T₁)·2^((T₁−T₂)/h) + fresh   (decay commutes
             with addition; float rescaling, so parity with the batch
             form is exact-to-ulps, not bit-exact)

State is METADATA-sized by construction — ≤ depth·width CM cells,
≤ 2^p HLL registers, one scalar pair per decay key — so it lives on
the driver inside the foreachBatch closure, exactly like the
reference's per-key state scalars live in its state backend
(reference: crates/core/src/physical_plan/continuous/
grouped_window_agg_stream.rs keeps per-group accumulator state across
batches; sketches are the same pattern with sublinear state).
The driver-side ``collect()`` per batch is the sketch itself, never
the data: the distributed partial agg has already reduced the batch
to cells/registers.

Used by ``bench.py``'s ``sketch_stream_rows_per_sec`` lane and the
stream==batch parity test in ``tests/test_streaming.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from denormalized_spark.operators._hashing import md5_int


def _fold_centroids(cur: list[list], new_rows: list[list], delta: int) -> list[list]:
    """Driver-side mirror of operators/sketches.tdigest_merge: union
    centroids, re-rank by mean, re-cluster through the same sqrt
    scale function. Output stays <= delta rows. Shared by the global
    and per-group streaming t-digest lanes."""
    import math

    rows = sorted(cur + new_rows, key=lambda r: (r[1], r[2], r[0]))
    if not rows:
        return cur
    total = sum(r[0] for r in rows)
    out: dict[int, list] = {}
    cum = 0
    for w, mean, vmin, vmax in rows:
        cum += w
        q = (2 * cum - w) / (2 * total)
        k = math.floor(delta * 0.5 * (math.sqrt(q) - math.sqrt(1.0 - q) + 1.0))
        k = min(max(k, 0), delta - 1)
        if k not in out:
            out[k] = [w, mean * w, vmin, vmax]
        else:
            o = out[k]
            o[0] += w
            o[1] += mean * w
            o[2] = min(o[2], vmin)
            o[3] = max(o[3], vmax)
    return [
        [w, ws / w, vmin, vmax] for k, (w, ws, vmin, vmax) in sorted(out.items())
    ]


class SketchMaintainer:
    """foreachBatch sink body that maintains CM + HLL + decayed-counter
    state across micro-batches. Call :meth:`update` per batch; read
    the accumulated state via :attr:`cm_cells`, :attr:`hll_regs`,
    :attr:`decayed` (plain dicts) or the ``*_df`` helpers."""

    def __init__(
        self,
        key_col: str,
        depth: int = 4,
        width: int = 32,
        p: int = 6,
        half_life_ms: int | None = None,
        ts_col: str = "ts",
        decay_key_col: str | None = None,
        bloom_m_bits: int | None = None,
        bloom_hashes: int = 4,
        tdigest_col: str | None = None,
        tdigest_delta: int = 32,
        tdigest_group_col: str | None = None,
        sample_k: int | None = None,
        sample_seed: str = "rs0",
        mg_k: int | None = None,
    ):
        self.key_col = key_col
        self.depth = depth
        self.width = width
        self.p = p
        self.half_life_ms = half_life_ms
        self.ts_col = ts_col
        self.decay_key_col = decay_key_col or key_col
        self.bloom_m_bits = bloom_m_bits
        self.bloom_hashes = bloom_hashes
        self.tdigest_col = tdigest_col
        self.tdigest_delta = tdigest_delta
        self.tdigest_group_col = tdigest_group_col
        if tdigest_group_col is not None and tdigest_col is None:
            raise ValueError(
                "SketchMaintainer: tdigest_group_col requires tdigest_col"
            )
        # group key (string) -> list of [w, mean, vmin, vmax]
        self.td_group_centroids: dict[str, list[list]] = {}
        self.mg_k = mg_k
        # Misra-Gries k-counter state: key -> undercounted count, plus
        # the certified total undercount bound (grows with every
        # residual subtraction — batch-side and merge-side)
        self.mg_counters: dict[str, int] = {}
        self.mg_error: int = 0
        self.sample_k = sample_k
        self.sample_seed = sample_seed
        # accumulated uniform bottom-k sample: (ticket, key) pairs
        self.sample: list[tuple[int, str]] = []
        # accumulated t-digest centroids: list of [w, mean, vmin, vmax]
        self.td_centroids: list[list] = []
        self.cm_cells: dict[tuple[int, int], int] = {}
        self.hll_regs: dict[int, int] = {}
        self.bloom_bits: set[int] = set()
        # decay key -> [as_of_epoch_ms, decayed_count, n_events]
        self.decayed: dict[str, list] = {}
        self.n_rows = 0
        self.n_batches = 0

    def update(self, batch_df: DataFrame, epoch_id: int | None = None) -> None:
        from denormalized_spark.operators import sketches as sk

        self.n_batches += 1
        self.n_rows += batch_df.count()

        # CM partial: cell-wise sum into state (merge law: cm_merge)
        for r in sk.count_min(
            batch_df, self.key_col, depth=self.depth, width=self.width
        ).collect():
            k = (r["cm_row"], r["cm_col"])
            self.cm_cells[k] = self.cm_cells.get(k, 0) + r["cnt"]

        # HLL partial: register-wise max into state (merge law: hll_merge)
        for r in sk.hll_registers(batch_df, self.key_col, p=self.p).collect():
            reg = r["reg"]
            if r["rho"] > self.hll_regs.get(reg, 0):
                self.hll_regs[reg] = r["rho"]

        # Bloom partial (optional): set-bit union into state (merge
        # law: bloom_merge — a set of bits ORs by plain union).
        if self.bloom_m_bits is not None:
            for r in sk.bloom_bits(
                batch_df,
                self.key_col,
                m_bits=self.bloom_m_bits,
                n_hashes=self.bloom_hashes,
            ).collect():
                self.bloom_bits.add(r["bit"])

        # bottom-k reservoir partial (optional): each distinct key's
        # ticket is the 60-bit portable hash (15 hex chars) of
        # ``sample_seed + ":" + key``; the k smallest tickets of a
        # union are the merge of each side's bottom-k, so the
        # accumulated sample IS the batch sample of everything seen —
        # deterministic, EXACTLY stream==batch (the distributed-
        # reservoir trick behind every "sample the firehose" monitor)
        if self.sample_k is not None:
            part = (
                batch_df.select(F.col(self.key_col).cast("string").alias("_k"))
                .distinct()
                .select(md5_int("_k", 15, salt=self.sample_seed + ":").alias("_t"), "_k")
                .orderBy("_t")
                .limit(self.sample_k)
                .collect()
            )
            merged = {t: k for t, k in self.sample}
            merged.update({r["_t"]: r["_k"] for r in part})
            self.sample = sorted(merged.items())[: self.sample_k]

        # t-digest partial (optional): batch centroids fold into state
        # by the merging-digest compression (merge law: tdigest_merge —
        # approximate by design; the parity test asserts quantile
        # tolerance, not bit equality)
        if self.tdigest_col is not None:
            part = [
                [r["w"], r["mean_e4"], r["vmin"], r["vmax"]]
                for r in sk.tdigest_centroids(
                    batch_df, self.tdigest_col, delta=self.tdigest_delta
                ).collect()
            ]
            self._td_fold(part)

        # grouped t-digest partial (optional): one digest PER GROUP —
        # per-domain tail quantiles maintained live. The distributed
        # partial agg (tdigest_centroids_grouped: group-partitioned
        # rank window + (group, cluster) agg) reduces the batch to
        # ≤ delta rows per group before the driver fold, so state is
        # groups × delta metadata rows; the merge law per group is the
        # same merging-digest compression as the global lane.
        if self.tdigest_col is not None and self.tdigest_group_col is not None:
            by_group: dict[str, list[list]] = {}
            for r in sk.tdigest_centroids_grouped(
                batch_df.withColumn(
                    "_tdg", F.col(self.tdigest_group_col).cast("string")
                ),
                "_tdg",
                self.tdigest_col,
                delta=self.tdigest_delta,
            ).collect():
                by_group.setdefault(r["_tdg"], []).append(
                    [r["w"], r["mean_e4"], r["vmin"], r["vmax"]]
                )
            for g, rows in by_group.items():
                self.td_group_centroids[g] = _fold_centroids(
                    self.td_group_centroids.get(g, []), rows, self.tdigest_delta
                )

        # Misra-Gries partial (optional): the batch's deterministic MG
        # summary (exact per-key counts, subtract the (k+1)-th largest,
        # keep positives — operators/sketches.misra_gries_merged's
        # shard form) folds into state by the Agarwal et al. 2013
        # mergeable-summaries law: counter-wise sum, then one more
        # (k+1)-th-largest subtraction if over k counters. Both
        # subtractions add to the certified undercount bound; the
        # parity test asserts the MG sandwich
        # mg_count <= true <= mg_count + error for every key.
        if self.mg_k is not None:
            kk = self.mg_k
            top = (
                batch_df.groupBy(F.col(self.key_col).cast("string").alias("_k"))
                .count()
                .orderBy(F.desc("count"), F.asc("_k"))
                .limit(kk + 1)
                .collect()  # k+1 metadata rows
            )
            resid = int(top[kk]["count"]) if len(top) > kk else 0
            self.mg_error += resid
            for r in top[:kk]:
                c = int(r["count"]) - resid
                if c > 0:
                    self.mg_counters[r["_k"]] = (
                        self.mg_counters.get(r["_k"], 0) + c
                    )
            if len(self.mg_counters) > kk:
                cut = sorted(self.mg_counters.values(), reverse=True)[kk]
                self.mg_error += cut
                self.mg_counters = {
                    key: c - cut
                    for key, c in self.mg_counters.items()
                    if c - cut > 0
                }

        if self.half_life_ms is None:
            return
        # decayed partial at the BATCH's own as_of (its max ts), then
        # rescale both sides to the newer reference and add — the
        # decay-commutes-with-addition law. Unrounded (round_digits
        # high) so repeated rescaling doesn't compound grid snapping.
        from denormalized_spark.operators.analytics import decayed_counts

        mx = batch_df.agg(
            F.unix_millis(F.max(self.ts_col)).alias("mx")
        ).collect()[0]["mx"]
        if mx is None:
            return
        part = decayed_counts(
            batch_df,
            self.half_life_ms,
            [self.decay_key_col],
            ts_col=self.ts_col,
            round_digits=12,
        ).collect()
        h = float(self.half_life_ms)
        for r in part:
            key = r[self.decay_key_col]
            c_b, n_b = float(r["decayed_count"]), int(r["n_events"])
            if key not in self.decayed:
                self.decayed[key] = [mx, c_b, n_b]
                continue
            t_cur, c_cur, n_cur = self.decayed[key]
            t_new = max(t_cur, mx)
            c = c_cur * 2.0 ** ((t_cur - t_new) / h) + c_b * 2.0 ** (
                (mx - t_new) / h
            )
            self.decayed[key] = [t_new, c, n_cur + n_b]

    def _td_fold(self, new_rows: list[list]) -> None:
        self.td_centroids = _fold_centroids(
            self.td_centroids, new_rows, self.tdigest_delta
        )

    # -- state back to DataFrames (for cm_estimate / hll_estimate) ----
    def cm_cells_df(self, spark) -> DataFrame:
        rows = [(r, c, n) for (r, c), n in sorted(self.cm_cells.items())]
        return spark.createDataFrame(rows, "cm_row int, cm_col long, cnt long")

    def hll_regs_df(self, spark) -> DataFrame:
        rows = sorted(self.hll_regs.items())
        return spark.createDataFrame(rows, "reg long, rho long")

    def bloom_bits_df(self, spark) -> DataFrame:
        """Accumulated Bloom set bits in the same (bit,) row form as
        operators/sketches.bloom_bits — feed straight to bloom_probe
        (broadcast) to answer definitely-not-seen membership over
        everything the stream has carried so far."""
        return spark.createDataFrame(
            [(b,) for b in sorted(self.bloom_bits)], "bit long"
        )

    def decayed_df(self, spark, round_digits: int = 6) -> DataFrame:
        """Per-key decayed counters, all rescaled to the GLOBAL max
        as_of seen so far (matching the batch operator's default
        reference) and rounded like the batch form. The schema types
        the key as STRING — pass a string ``decay_key_col`` (cast
        upstream if the key is numeric)."""
        if not self.decayed:
            return spark.createDataFrame(
                [], f"{self.decay_key_col} string, n_events long, decayed_count double"
            )
        t_glob = max(t for t, _, _ in self.decayed.values())
        h = float(self.half_life_ms)
        rows = [
            (k, n, round(c * 2.0 ** ((t - t_glob) / h), round_digits))
            for k, (t, c, n) in sorted(self.decayed.items())
        ]
        return spark.createDataFrame(
            rows, f"{self.decay_key_col} string, n_events long, decayed_count double"
        )

    def tdigest_df(self, spark) -> DataFrame:
        """Accumulated t-digest centroids in the batch operator's
        ``(cluster, w, mean_e4, vmin, vmax)`` schema — feed straight
        to operators/sketches.tdigest_quantiles. Cluster ids are the
        positional order of the folded state."""
        rows = [
            (i, int(w), float(round(mean, 4)), float(vmin), float(vmax))
            for i, (w, mean, vmin, vmax) in enumerate(self.td_centroids)
        ]
        return spark.createDataFrame(
            rows, "cluster long, w long, mean_e4 double, vmin double, vmax double"
        )

    def tdigest_groups_df(self, spark) -> DataFrame:
        """Accumulated PER-GROUP t-digest centroids —
        ``(group, cluster, w, mean_e4, vmin, vmax)`` in the batch
        tdigest_centroids_grouped schema (group typed string; cluster
        ids are positional within the group's folded state). Filter
        one group out and feed operators/sketches.tdigest_quantiles
        for that group's live tail quantiles."""
        rows = [
            (g, i, int(w), float(round(mean, 4)), float(vmin), float(vmax))
            for g, cents in sorted(self.td_group_centroids.items())
            for i, (w, mean, vmin, vmax) in enumerate(cents)
        ]
        return spark.createDataFrame(
            rows,
            "group string, cluster long, w long, mean_e4 double,"
            " vmin double, vmax double",
        )

    def sample_df(self, spark) -> DataFrame:
        """The accumulated exact uniform bottom-k sample of every key
        the stream has carried — ``(ticket, key)`` rows, ticket
        ascending. Equal BY CONSTRUCTION to the batch bottom-k over
        the union of all batches (bottom-k is a mergeable summary)."""
        return spark.createDataFrame(
            [(t, k) for t, k in self.sample], "ticket long, key string"
        )
