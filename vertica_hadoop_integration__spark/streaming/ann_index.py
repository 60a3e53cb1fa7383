"""Streaming ANN (IVF) index maintenance: keep a persisted
nearest-centroid assignment continuously fresh as embedding
micro-batches land — the vector-side member of the incremental-index
family (streaming/dedup.py maintains the MinHash text index,
streaming/indexing.py the posting lists; this maintains the IVF
buckets).

Centroids are FIXED at bootstrap (from the initial corpus or a k-means
run) and broadcast into every batch: a stable quantizer is what makes
incremental maintenance possible at all — re-deriving centroids per
batch would silently shift every earlier vector's bucket. Each batch's
(vec_id, centroid_id, embedding) rows land as an idempotent delta
directory keyed by batch id (ledger-guarded, replay-safe); probes read
the recursive union and run the standard nprobe bucket join. At 100 TB
write the deltas bucketed by centroid_id (compaction cadence as in
streaming/indexing.py::compact_index) so probe joins prune and
co-locate; re-centering is an offline rebuild, not a streaming concern.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ledger import once_per_batch
from ..operators.similarity import assign_to_centroids, ivf_topk
from ..sources.writers import write_atomic


def stream_embedding_index_load(
    vectors,
    centroids_dir: str,
    deltas_dir: str,
    ledger_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table_name: str = "ivf_index",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Start the IVF-maintaining embedding ingest; returns the
    StreamingQuery. ``centroids_dir`` must hold the bootstrap centroid
    table (centroid_id, centroid_vec) — write it once with
    bootstrap_centroids."""

    @once_per_batch(ledger_path, table_name)
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        key = str(batch_id)
        cents = spark.read.parquet(centroids_dir)
        assigned = assign_to_centroids(batch_df, cents, id_col, vec_col)
        write_atomic(
            assigned,
            os.path.join(deltas_dir, f"batch={key}"),
            output_format="parquet",
        )

    writer = vectors.writeStream.foreachBatch(_sink).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def bootstrap_centroids(
    corpus: DataFrame,
    centroids_dir: str,
    every_nth: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Write the fixed quantizer once (every-Nth seed; swap in
    kmeans_centroids for refined ones — the streaming side only needs
    SOME stable centroid table)."""
    from ..operators.similarity import pick_centroids

    write_atomic(
        pick_centroids(corpus, every_nth, id_col, vec_col),
        centroids_dir,
        output_format="parquet",
    )


def probe_index(
    spark,
    centroids_dir: str,
    deltas_dir: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k probe against the streamed index: union of landed deltas
    joined through the standard nprobe bucket path (operators/
    similarity.py::ivf_topk with a persisted index — no assignment
    recompute, no corpus rescan). A vector re-ingested with an updated
    embedding appears in multiple batch deltas; only the LATEST batch's
    row may be probed (otherwise stale and fresh rows both rank), so
    the read keeps max-batch per vec_id — a vec_id-partitioned window,
    never global."""
    from pyspark.sql import Window

    cents = spark.read.parquet(centroids_dir)
    # plain read (not recursiveFileLookup) so the batch=<id> directory
    # level is inferred as a partition column we can dedup on
    deltas = spark.read.parquet(deltas_dir)
    wb = Window.partitionBy(id_col).orderBy(F.col("batch").cast("long").desc())
    assigned = (
        deltas.withColumn("_rn", F.row_number().over(wb))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "batch")
    )
    return ivf_topk(
        assigned,  # corpus arg unused when index is passed
        queries,
        k=k,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
        index=(cents, assigned),
    )


def compact_ann_index(
    spark,
    deltas_dir: str,
    base_table: str,
    buckets: int = 16,
) -> None:
    """Fold the streamed assignment deltas into a centroid-bucketed,
    sorted base table (streaming/indexing.py::compact_index's contract,
    for vectors): probe joins against the compacted base run with the
    index side pre-partitioned on centroid_id — co-located, no
    exchange when the probe side shares the layout, bucket-pruned
    otherwise. Runs on its own cadence, independent of ingest. Folds
    each vec_id's LATEST batch row only (same max-batch dedup as
    probe_index — a re-ingested vector's superseded assignment must not
    survive into the compacted base)."""
    from pyspark.sql import Window

    from ..sources.writers import write_bucketed

    deltas = spark.read.parquet(deltas_dir)
    wb = Window.partitionBy("vec_id").orderBy(F.col("batch").cast("long").desc())
    idx = (
        deltas.withColumn("_rn", F.row_number().over(wb))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "batch")
    )
    write_bucketed(
        idx,
        base_table,
        bucket_cols=["centroid_id"],
        num_buckets=buckets,
        sort_cols=["centroid_id", "vec_id"],
    )
