"""Streaming CDC apply: keep a base snapshot continuously maintained
from a changelog stream — the incremental-materialization member of the
streaming-maintenance family (rollup = aggregate, trending = ranked
serving table, indexing = retrieval layout, cdc = the TABLE itself).

Each micro-batch of (op, seq, key, cols) rows is applied with
operators/relational.py::cdc_apply semantics (max-seq frontier per key,
'D' removes, 'I'/'U' replace-or-insert) and the new snapshot is
committed atomically; the ledger skips replayed batch ids, so a
checkpoint restart neither double-applies nor loses changes.

Cross-batch ordering is enforced by a per-key APPLIED-SEQ FRONTIER
sidecar (``{base_dir}__frontier``: key cols + ``applied_seq``): before
applying a batch, changelog rows with ``seq <= applied_seq`` for their
key are dropped, so a late micro-batch carrying a lower-seq change for
an already-updated key is a no-op instead of silently rolling newer
state back.  Deletes advance the frontier too — a stale lower-seq
upsert cannot resurrect a deleted key.  Within a batch the highest seq
per key still wins (cdc_apply).

At 100 TB the base table and the frontier should both be bucketed by
the key so the per-batch anti-join and the frontier probe co-locate;
the frontier is bounded by the count of distinct keys ever touched
(key + one long), orders of magnitude smaller than the base.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from ..ledger import once_per_batch
from ..operators.relational import cdc_apply
from ..sources.writers import write_atomic


def frontier_dir_for(base_dir: str) -> str:
    return base_dir.rstrip("/") + "__frontier"


def stream_cdc_apply(
    changes,
    base_dir: str,
    ledger_path: str,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    table_name: str = "cdc_base",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Start the snapshot-maintaining changelog stream; returns the
    StreamingQuery. ``base_dir`` must hold the initial snapshot (the
    base schema = changelog minus op/seq columns)."""
    frontier_dir = frontier_dir_for(base_dir)

    @once_per_batch(ledger_path, table_name)
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        base = spark.read.parquet(base_dir)
        try:
            frontier = spark.read.parquet(frontier_dir)
        except AnalysisException:  # first batch: no frontier yet
            frontier = None
        if frontier is not None:
            effective = (
                batch_df.join(frontier, on=key_cols, how="left")
                .filter(
                    F.col("applied_seq").isNull()
                    | (F.col(seq_col) > F.col("applied_seq"))
                )
                .drop("applied_seq")
            )
        else:
            effective = batch_df
        updated = cdc_apply(
            base, effective, key_cols=key_cols, seq_col=seq_col, op_col=op_col
        )
        # cdc_apply reads `base` lazily; write_atomic stages to a side
        # directory and renames, so the read plan never overlaps the
        # overwrite of its own input.  Base first, then frontier, then
        # ledger: a crash between any two replays the batch, and the
        # replay is idempotent (same effective rows, same values).
        write_atomic(updated, base_dir, output_format="parquet")
        batch_max = effective.groupBy(*key_cols).agg(
            F.max(seq_col).alias("applied_seq")
        )
        if frontier is not None:
            new_frontier = (
                frontier.unionByName(batch_max)
                .groupBy(*key_cols)
                .agg(F.max("applied_seq").alias("applied_seq"))
            )
        else:
            new_frontier = batch_max
        write_atomic(new_frontier, frontier_dir, output_format="parquet")

    writer = changes.writeStream.foreachBatch(_sink).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
