"""Streaming KMV (k-minimum-values) distinct sketch — the third
mergeable distinct summary driven through a stream (beside streaming/hll.py
and streaming/heavy_hitters.py), each demonstrating a different merge law:

- HLL merges by register-wise MAX,
- Misra-Gries by capacity-bounded counter subtraction,
- KMV by "k smallest of the union" — a pure order statistic, so like HLL
  the merged state is BIT-IDENTICAL to the batch sketch no matter how the
  stream split into micro-batches, and the drained result carries an
  EXACT oracle.

Per micro-batch the distributed plan reduces the batch to its k smallest
distinct hashes (TakeOrderedAndProject — ≤k rows per partition reach the
driver), and the driver keeps the k smallest of the running union:
O(k) state regardless of stream volume, same argument as the HLL/MG/kmeans
foreachBatch architecture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kafka_stream_job_spark.operators._portable import md5_int
from kafka_stream_job_spark.operators.sketches import KMV_HEX, KMV_K


class StreamingKMV:
    """Driver-side k-smallest-hash state + the foreachBatch update body."""

    def __init__(self, spark: SparkSession, key_col: str, k: int = KMV_K) -> None:
        self._spark = spark
        self.key_col = key_col
        self.k = k
        self.values: list[int] = []  # sorted, ≤k smallest hashes seen
        self.batches_seen = 0

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_vals = [
            int(r["hv"])
            for r in (
                batch_df.select(md5_int(self.key_col, "kmv:", KMV_HEX).alias("hv"))
                .distinct()
                .orderBy("hv")
                .limit(self.k)
                .collect()
            )
        ]
        self.values = sorted(set(self.values) | set(batch_vals))[: self.k]
        self.batches_seen += 1
