"""Streaming continuous-aggregate maintenance: raw events land
append-only; the hypertable rollup refreshes ONLY the calendar days each
micro-batch touches (dynamic partition overwrite) — the streaming form
of the reference's partition-at-a-time incremental loop
(sqoop_etl.py:77-83) applied to `operators/temporal.py::refresh_rollup`.

Per batch: atomically land the raw slice (idempotent batch directory),
collect its touched days (a tiny distinct — days per batch, not rows),
recompute those days' rollup partitions from the FULL raw table, and
mark the ledger. Untouched days are never read or rewritten; a replayed
batch id is skipped wholesale, and because the refresh recomputes whole
day partitions from raw, a re-run converges to the identical rollup
(self-healing rather than additive)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ledger import once_per_batch
from ..operators.temporal import refresh_rollup
from ..sources.writers import write_atomic
from .sink import start_stream


def stream_rollup_refresh(
    events,
    raw_dir: str,
    rollup_dir: str,
    ledger_path: str,
    table_name: str = "events_rollup",
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    granularities: tuple[str, ...] = ("minute", "hour", "day"),
    checkpoint_dir: str | None = None,
):
    """Start the rollup-maintaining ingest stream; returns the
    StreamingQuery. The rollup at ``rollup_dir`` is partitioned by
    (granularity, part_day) — readers filtering either get pruned
    scans; a dashboard reads it between batches and always sees whole
    committed partitions."""

    @once_per_batch(ledger_path, table_name)
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        key = str(batch_id)
        write_atomic(
            batch_df,
            os.path.join(raw_dir, f"batch={key}"),
            output_format="parquet",
        )
        days = [
            str(r.d)
            for r in batch_df.select(
                F.to_date(F.col(ts_col)).alias("d")
            ).distinct().collect()
        ]
        all_events = (
            spark.read.option("recursiveFileLookup", "true").parquet(raw_dir)
        )
        refresh_rollup(
            all_events, rollup_dir, days=days,
            ts_col=ts_col, key_cols=key_cols, value_col=value_col,
            granularities=granularities,
        )

    return start_stream(events, _sink, checkpoint_dir)
