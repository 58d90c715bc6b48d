"""Streaming near-duplicate detection against a PERSISTENT banded
LSH index — the maintainer twin of the batch MinHash-LSH dedup family
(operators/dedup.lsh_candidate_pairs / near_dedup_incremental) and the
third member of the foreachBatch-maintainer trio beside
streaming/sketches.SketchMaintainer and streaming/ivf.IVFMaintainer.

Contrast with operators/dedup.near_dedup_stream (the Structured
Streaming stateful-operator form): that gate keeps bucket ownership
in Spark's watermark-TTL'd state store, so its memory horizon IS the
watermark. This maintainer instead owns a DURABLE index at a parquet
path — unbounded horizon, inspectable between runs, shareable with
the batch pipeline — which is what a production ingest dedup leg
actually wants: "have we EVER seen this content" rather than "have we
seen it in the last hour".

Per micro-batch (everything distributed; ONLY counters reach the
driver):

1. signature + banding of the batch — pure JVM expressions (the
   text banding step every MinHash-LSH operator shares), local-
   checkpointed so the gate, the index append and the counts do not
   recompute it;
2. the band-level gate of ``near_dedup_incremental`` over those band
   rows and the index: a left join on (band, band_key) flags docs
   that hit a bucket the index already holds, and the batch
   first-claimant core (min id per bucket, one band-key window)
   decides which docs own all their bands;
3. survivors are the gate's ``kept`` docs: no history hit, every
   band owned; the rest are flagged as near-dups of earlier content;
4. each bucket the batch claims that the index does not hold yet is
   APPENDED to the index parquet (partitioned by band) with its
   min-id owner, becoming visible to the next batch.

The index is found through the Hadoop ``FileSystem`` of its path, so
``file://``, ``hdfs://`` and ``s3a://`` index paths work as well as
plain local ones.

Determinism contract: feeding batches B₁, B₂, … equals the batch
near-dedup run over B₁∪B₂∪… processed in (batch, id) order — the
parity test replays exactly that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_INDEX_SCHEMA = "band int, band_key string, owner_id long"


class LSHDedupMaintainer:
    """foreachBatch sink body maintaining a banded LSH dedup index.

    ``index_path``: parquet directory holding (band, band_key,
    owner_id); created on first batch. Call :meth:`update` per batch;
    it returns the batch's SURVIVORS (docs whose content is new) as a
    DataFrame and records driver-side counters (:attr:`n_seen`,
    :attr:`n_survived`, :attr:`n_flagged`, :attr:`n_buckets_added`).
    """

    def __init__(
        self,
        index_path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        num_hashes: int = 8,
        bands: int = 4,
        shingle_n: int = 3,
    ):
        self.index_path = index_path
        self.id_col = id_col
        self.text_col = text_col
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n
        self.n_seen = 0
        self.n_survived = 0
        self.n_flagged = 0
        self.n_buckets_added = 0
        self.n_batches = 0

    def _index(self, spark) -> DataFrame:
        # the path's own FileSystem, so file://, hdfs:// and s3a://
        # index paths are found as well as plain local ones
        path = getattr(spark._jvm, "org.apache.hadoop.fs.Path")(self.index_path)
        hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
        if path.getFileSystem(hadoop_conf).exists(path):
            return spark.read.schema(_INDEX_SCHEMA).parquet(self.index_path)
        return spark.createDataFrame([], _INDEX_SCHEMA)

    def update(self, batch_df: DataFrame, epoch_id: int | None = None) -> DataFrame:
        from denormalized_spark.operators.dedup import (
            _incremental_gate,
            _lsh_band_rows,
        )

        self.n_batches += 1
        idx = self._index(batch_df.sparkSession)
        banded = _lsh_band_rows(
            batch_df, self.text_col, [self.id_col], self.num_hashes,
            self.bands, self.shingle_n,
        ).localCheckpoint(eager=True)
        survivors = (
            _incremental_gate(banded, idx, self.id_col, self.bands)
            .filter("kept")
            .select(self.id_col)
        )
        # the batch's claims on buckets the index does not hold yet,
        # appended to the index (visible to the NEXT batch)
        new_buckets = (
            banded.groupBy("band", "band_key")
            .agg(F.min(self.id_col).alias("_owner"))
            .join(idx, ["band", "band_key"], "left_anti")
            .select(
                F.col("band").cast("int"),
                "band_key",
                F.col("_owner").cast("long").alias("owner_id"),
            )
        )
        n_new = new_buckets.count()
        new_buckets.write.mode("append").partitionBy("band").parquet(
            self.index_path
        )
        n_docs = batch_df.select(self.id_col).distinct().count()
        n_surv = survivors.count()
        self.n_seen += n_docs
        self.n_survived += n_surv
        self.n_flagged += n_docs - n_surv
        self.n_buckets_added += n_new
        return survivors
