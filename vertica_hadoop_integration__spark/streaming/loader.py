"""Streaming incremental loader: the reference's batch load loop
(extract -> convert -> mark complete, ``sqoop_etl.py:36-46``) recast as
a Structured Streaming sink.

``foreachBatch`` gives each micro-batch a batch id and exactly-once
semantics against idempotent sinks: we write each batch as ``batch=<id>/``
with the same atomic-rename commit the batch pipeline uses
(``writers.write_atomic``: hidden staging, and a replay replaces a batch
dir that landed before a crash rather than appending to it), then record
(table, batch_id) in the ledger — a replayed batch id is skipped, which
is precisely the reference's is_complete re-run guard at micro-batch
granularity. Both loaders start through ``sink.start_stream``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..ledger import once_per_batch
from ..sources.writers import write_atomic
from .sink import start_stream


def stream_load(
    events,
    dest_dir: str,
    ledger_path: str,
    table_name: str = "events_stream",
    output_format: str = "orc",
    checkpoint_dir: str | None = None,
):
    """Start an incremental streaming load into ``dest_dir``.

    Each micro-batch lands as ``batch=<id>/`` via atomic rename, then the
    ledger marks that batch complete. On restart, Spark's checkpoint
    replays the last uncommitted batch; the ledger guard makes the
    replay a no-op for already-landed batch dirs — the same
    write-then-flip ordering as the batch pipeline (exactly-once to an
    idempotent sink). Returns the StreamingQuery."""

    @once_per_batch(ledger_path, table_name)
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        write_atomic(
            batch_df, os.path.join(dest_dir, f"batch={batch_id}"),
            output_format=output_format,
        )

    return start_stream(events, _sink, checkpoint_dir)


def stream_partitioned_load(
    events,
    dest_dir: str,
    ledger_path: str,
    partition_cols: list[str],
    table_name: str = "events_partitioned",
    checkpoint_dir: str | None = None,
):
    """Streaming ingest into a two-level hive layout:
    ``batch=<id>/pcol=value/`` — the batch level gives exactly-once
    (each micro-batch is one atomic directory rename; a replayed or
    half-written batch never double-appends), the data-partition level
    gives plan-time pruning (Spark's partition discovery exposes BOTH
    levels as columns, and a predicate on the partition column prunes
    directories inside every batch).

    Why not dynamic partition overwrite per batch: two micro-batches
    carrying rows for the SAME date would each overwrite that date's
    partition with only their own rows — streaming appends must be
    batch-keyed. Fold batches together on a compaction cadence
    (sources/maintenance.py::compact_path or a write_partitioned
    rewrite) once a partition stops receiving data. A replay of a batch
    whose dir landed before the ledger mark rewrites that dir whole
    (``write_atomic`` sets the old one aside), so it never double-appends.
    Returns the StreamingQuery."""

    @once_per_batch(ledger_path, table_name)
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        write_atomic(
            batch_df, os.path.join(dest_dir, f"batch={batch_id}"),
            output_format="parquet", partition_by=partition_cols,
        )

    return start_stream(events, _sink, checkpoint_dir)
