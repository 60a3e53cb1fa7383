"""Streaming trending top-k maintenance: the "what's hot right now"
serving table of an event pipeline — per tumbling window, the k most
frequent event types — kept continuously fresh as micro-batches land.

Ranking inside a streaming aggregation is not expressible in a pure
streaming plan (a row_number over a windowed agg needs the finished
window), so this is a foreachBatch pipeline in the same shape as
streaming/rollup.py: each batch lands its per-window partial counts as
an idempotent delta directory, then ONLY the windows that batch touched
are re-ranked from the summed deltas and their partitions of the
trending table overwritten (dynamic partition overwrite). Untouched
windows are never read or rewritten; a replayed batch id is skipped via
the ledger; and because each refresh recomputes whole window partitions
from the delta sum, a re-run converges to the identical table
(self-healing, exactly-once effective).

At 100 TB/day the per-batch delta is (windows x event types) rows —
thousands, not billions — and the re-rank reads only the touched
windows' deltas, so serving-table maintenance cost is independent of
history size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..ledger import once_per_batch
from ..sources.writers import write_atomic
from .sink import start_stream


def window_counts(
    events: DataFrame, window: str = "1 hour", ts_col: str = "ts"
) -> DataFrame:
    """Per (tumbling window, event_type) counts — the mergeable partial
    every batch contributes. Pure map + one partial-agg shuffle."""
    return (
        events.groupBy(
            F.window(F.col(ts_col), window).alias("win"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"), "event_type", "n"
        )
    )


def trending_topk(
    counts: DataFrame, k: int = 5
) -> DataFrame:
    """Rank summed window counts to the top-k per window (count desc,
    event_type asc for a deterministic total order)."""
    summed = counts.groupBy("window_start", "event_type").agg(
        F.sum("n").alias("n_events")
    )
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        summed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def stream_trending_load(
    events,
    deltas_dir: str,
    trending_dir: str,
    ledger_path: str,
    window: str = "1 hour",
    k: int = 5,
    ts_col: str = "ts",
    table_name: str = "events_trending",
    checkpoint_dir: str | None = None,
):
    """Start the trending-maintaining ingest stream; returns the
    StreamingQuery. ``trending_dir`` is partitioned by window_start day
    (``part_day``) so readers and the per-batch overwrite both prune."""

    @once_per_batch(ledger_path, table_name)
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        key = str(batch_id)
        delta = window_counts(batch_df, window=window, ts_col=ts_col)
        write_atomic(
            delta,
            os.path.join(deltas_dir, f"batch={key}"),
            output_format="parquet",
        )
        # tiny collect: the distinct DAYS this batch touched — the refresh
        # unit must equal the partition-overwrite unit, or overwriting a
        # day with only some of its windows would drop the others
        touched_days = [
            str(r.d)
            for r in delta.select(
                F.to_date("window_start").alias("d")
            ).distinct().collect()
        ]
        if touched_days:
            all_deltas = (
                spark.read.option("recursiveFileLookup", "true")
                .parquet(deltas_dir)
            )
            refreshed = trending_topk(
                all_deltas.filter(
                    F.to_date("window_start").cast("string").isin(touched_days)
                ),
                k=k,
            ).withColumn("part_day", F.to_date("window_start").cast("string"))
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", "dynamic"
            )
            (
                refreshed.repartition("part_day")
                .write.mode("overwrite")
                .partitionBy("part_day")
                .parquet(trending_dir)
            )

    return start_stream(events, _sink, checkpoint_dir)
