"""The one stream-sink path every ``foreachBatch`` stream shares.

* :func:`start_stream` — the one starter: each micro-batch goes to the
  sink under ``availableNow`` (drain what is there, then stop), with
  Spark's checkpoint when a directory is given.  Exactly-once is the
  sink's own business (``ledger.once_per_batch``).
* :func:`latest_snapshot` / :func:`prune_after_land` — the carried
  state of the state-carrying sinks (attribution, funnel, retention,
  transition): one snapshot per batch id under ``state_dir/<batch_id>``,
  batch N reading the newest snapshot with id < N, so a replayed batch
  re-reads exactly the pre-batch state its first attempt read.
* :func:`land_delta` — the per-batch additive artifact of the sinks
  whose serving report is the re-sum of every committed
  ``deltas/<batch_id>`` (a replay overwrites its own delta).

Committed snapshots and deltas are enumerated by EXACT digit name.
``write_atomic`` stages as hidden ``.<id>.inprogress-*`` /
``.<id>.replaced-*`` siblings, which that listing skips too.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame

from ..sources.writers import write_atomic


def start_stream(frame, sink, checkpoint_dir: str | None = None):
    """Start ``frame`` into ``sink(batch_df, batch_id)``: append mode,
    ``availableNow`` trigger, checkpointed at ``checkpoint_dir`` if one
    is given. Returns the StreamingQuery."""
    writer = (
        frame.writeStream.foreachBatch(sink)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def _committed_ids(root: str) -> list[int]:
    try:
        return [int(d) for d in os.listdir(root) if d.isdigit()]
    except FileNotFoundError:
        return []


def latest_snapshot(spark, state_dir: str, before_batch_id: int):
    """The newest committed state snapshot with id < ``before_batch_id``,
    or None. The strict bound is the replay guard: a replayed batch
    never sees its own first-attempt snapshot."""
    ids = [i for i in _committed_ids(state_dir) if i < before_batch_id]
    if not ids:
        return None
    return spark.read.parquet(f"{state_dir}/{max(ids)}")


def prune_after_land(land, state_dir: str):
    """Wrap a ``once_per_batch``-guarded ``land(batch_df, batch_id)`` into
    the foreachBatch sink: once the batch has landed, delete the state
    snapshots its commit made unreachable. Every LATER batch resolves a
    snapshot id >= this one, and a replay of THIS batch is ledger-
    skipped, so ids < batch_id are dead."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if not land(batch_df, batch_id):
            return  # replayed batch, already applied
        for i in _committed_ids(state_dir):
            if i < batch_id:
                shutil.rmtree(f"{state_dir}/{i}", ignore_errors=True)

    return _sink


def land_delta(delta: DataFrame, report_dir: str, batch_id: int) -> DataFrame:
    """Atomically write ``delta`` as ``{report_dir}/deltas/<batch_id>``,
    then read the union of every committed delta — the input of the
    serving report's re-sum (self-healing: a replay overwrites its own
    delta, the re-sum converges). The listing is driver-side but bounded
    by batch count, the same cardinality the ledger already tracks."""
    deltas_root = f"{report_dir.rstrip('/')}/deltas"
    write_atomic(delta, f"{deltas_root}/{batch_id}", output_format="parquet")
    committed = sorted(f"{deltas_root}/{i}" for i in _committed_ids(deltas_root))
    return delta.sparkSession.read.parquet(*committed)
