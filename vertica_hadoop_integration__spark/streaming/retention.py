"""Streaming cohort-retention triangle: keep the
(cohort_start, period_offset) -> n_users retention matrix
(operators/temporal.py::retention_cohorts' output) continuously
maintained as event micro-batches land — the engagement serving table
next to attribution (credit), transition (behavioral chain) and rollup
(sums).  r10 VERDICT item 6: the delta pattern those sinks established,
applied to the remaining high-value batch-only behavioral report.

Per batch, three bounded artifacts move:

* **seen-pair state snapshots** (``{report_dir}__seen/<batch_id>``:
  user_id, cohort_start, period_start) — every (user, activity period)
  already counted, carrying the user's fixed first-event cohort.
  Snapshot-per-batch-id with strictly-earlier resolution (the
  attribution/transition r10 replay contract): a replayed batch re-reads
  the same pre-batch state it read the first time.  Bounded by distinct
  (user, period) — exactly the cardinality the batch operator's
  ``active`` frame materializes.
* **per-batch retention delta** (``{report_dir}/deltas/<batch_id>``) —
  (cohort_start, period_offset, n_users) counting only the (user,
  period) pairs FIRST OBSERVED in this batch (anti-join against the
  carried seen-set), so a user active in one period across many batches
  is counted exactly once.  Keyed by batch id, written atomically: a
  replay overwrites its own delta, never double-counts.
* **the serving report** (``{report_dir}/report``) — summed deltas on
  the tiny (cohort, offset) key, atomically swapped; recompute-from-
  deltas makes a crash replay self-healing.

Ordering contract: exact for in-order arrival (time-ordered micro-batch
files — the attribution/transition contract): a user's first-ever event
arrives before their later events, so ``cohort_start`` is fixed the
first time the user is seen and never retro-shifts.  Out-of-order
cohort corrections require a batch rebuild, as with every sink in this
family.

Parity: the final report over any in-order batch split equals
retention_cohorts over the union (tests/test_stream_retention.py),
and a crash replayed from between the state write and the ledger mark
converges to the same report.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ledger import once_per_batch
from ..sources.writers import write_atomic


def seen_dir_for(report_dir: str) -> str:
    return report_dir.rstrip("/") + "__seen"


def read_report(spark, report_dir: str) -> DataFrame:
    """(cohort_start, period_offset, n_users)."""
    return spark.read.parquet(report_dir.rstrip("/") + "/report")


def _latest_snapshot(spark, state_dir: str, before_batch_id: int):
    try:
        ids = [
            int(d) for d in os.listdir(state_dir)
            if d.isdigit() and int(d) < before_batch_id
        ]
    except FileNotFoundError:
        return None
    if not ids:
        return None
    return spark.read.parquet(f"{state_dir}/{max(ids)}")


def make_retention_sink(
    report_dir: str,
    ledger_path: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    granularity: str = "week",
):
    """The foreachBatch sink as a standalone callable (testable without
    a running stream, like make_transition_sink)."""
    state_dir = seen_dir_for(report_dir)
    report_path = report_dir.rstrip("/") + "/report"
    per = {"week": 7, "day": 1}[granularity]

    @once_per_batch(ledger_path, "retention")
    def _land(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        state = _latest_snapshot(spark, state_dir, batch_id)
        pairs = (
            batch_df.select(
                F.col(user_col).alias("user_id"),
                F.date_trunc(granularity, F.col(ts_col)).alias(
                    "period_start"
                ),
            )
            .distinct()
        )
        first_in_batch = pairs.groupBy("user_id").agg(
            F.min("period_start").alias("_batch_first")
        )
        if state is not None:
            carried_cohort = state.select(
                "user_id", "cohort_start"
            ).distinct()
            cohorts = first_in_batch.join(
                carried_cohort, on="user_id", how="left"
            ).select(
                "user_id",
                F.coalesce(
                    F.col("cohort_start"), F.col("_batch_first")
                ).alias("cohort_start"),
            )
            new_pairs = pairs.join(
                state.select("user_id", "period_start"),
                on=["user_id", "period_start"],
                how="left_anti",
            )
        else:
            cohorts = first_in_batch.select(
                "user_id", F.col("_batch_first").alias("cohort_start")
            )
            new_pairs = pairs
        stamped = new_pairs.join(cohorts, on="user_id")
        delta = (
            stamped.select(
                "cohort_start",
                (
                    F.datediff(
                        F.col("period_start").cast("date"),
                        F.col("cohort_start").cast("date"),
                    )
                    / per
                )
                .cast("int")
                .alias("period_offset"),
            )
            .groupBy("cohort_start", "period_offset")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        )
        deltas_root = f"{report_dir.rstrip('/')}/deltas"
        os.makedirs(deltas_root, exist_ok=True)
        write_atomic(
            delta, f"{deltas_root}/{batch_id}", output_format="parquet"
        )
        committed = sorted(
            f"{deltas_root}/{d}"
            for d in os.listdir(deltas_root)
            if d.isdigit()
        )
        report = (
            spark.read.parquet(*committed)
            .groupBy("cohort_start", "period_offset")
            .agg(F.sum("n_users").cast("bigint").alias("n_users"))
        )
        write_atomic(report, report_path, output_format="parquet")
        # advance the seen-set: carried pairs plus this batch's new ones
        advanced = stamped.select(
            "user_id", "cohort_start", "period_start"
        )
        if state is not None:
            advanced = state.select(
                "user_id", "cohort_start", "period_start"
            ).unionByName(advanced)
        os.makedirs(state_dir, exist_ok=True)
        write_atomic(
            advanced, f"{state_dir}/{batch_id}", output_format="parquet"
        )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if not _land(batch_df, batch_id):
            return  # replayed batch, already applied
        for d in os.listdir(state_dir):
            if d.isdigit() and int(d) < batch_id:
                shutil.rmtree(f"{state_dir}/{d}", ignore_errors=True)

    return _sink


def stream_retention(
    events,
    report_dir: str,
    ledger_path: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    granularity: str = "week",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Start the retention-maintaining stream; returns the
    StreamingQuery."""
    _sink = make_retention_sink(
        report_dir,
        ledger_path,
        user_col=user_col,
        ts_col=ts_col,
        granularity=granularity,
    )
    writer = events.writeStream.foreachBatch(_sink).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
