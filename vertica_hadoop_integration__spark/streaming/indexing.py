"""Streaming inverted-index maintenance: keep the retrieval layout
(term -> posting list) continuously fresh as document micro-batches
land — the serving-side sibling of streaming/rollup.py (continuous
aggregate) and streaming/trending.py (ranked serving table).

Each batch lands its own posting rows (term, doc_id, tf) as an
idempotent delta directory keyed by batch id; readers get the full
index as the recursive union of deltas (posting rows are disjoint
across batches because doc ids are partitioned by arrival batch, so
union IS merge — no read-modify-write). A compaction step
periodically folds deltas into a term-bucketed base table so probe
joins stay co-located; between compactions a term probe reads
base + small deltas. A replayed batch id is skipped via the ledger,
so the index never double-counts a document.

At 100 TB/day the per-batch delta is proportional to the batch, not
the corpus; compaction is the only whole-index pass and runs on its
own cadence.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ledger import once_per_batch
from ..operators.text import inverted_index
from ..sources.writers import write_atomic


def stream_index_load(
    docs,
    deltas_dir: str,
    ledger_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    table_name: str = "inverted_index",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Start the index-maintaining ingest stream; returns the
    StreamingQuery. Deltas land under ``deltas_dir/batch=<id>``."""

    @once_per_batch(ledger_path, table_name)
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        key = str(batch_id)
        delta = inverted_index(batch_df, text_col, id_col)
        write_atomic(
            delta,
            os.path.join(deltas_dir, f"batch={key}"),
            output_format="parquet",
        )

    writer = docs.writeStream.foreachBatch(_sink).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_index(spark, deltas_dir: str) -> DataFrame:
    """The full index: union of all landed deltas. Posting rows are
    disjoint across batches (each doc arrives once), so no merge
    aggregation is needed to read."""
    return spark.read.option("recursiveFileLookup", "true").parquet(deltas_dir)


def compact_index(
    spark,
    deltas_dir: str,
    base_table: str,
    buckets: int = 16,
) -> None:
    """Fold all deltas into a term-bucketed, sorted base table so that
    term-probe joins run co-located with zero exchange on the index
    side (sources/writers.py::write_bucketed layout contract). Runs on
    its own cadence, independent of ingest."""
    from ..sources.writers import write_bucketed

    idx = read_index(spark, deltas_dir)
    write_bucketed(
        idx, base_table, bucket_cols=["term"], num_buckets=buckets,
        sort_cols=["term", "doc_id"],
    )
