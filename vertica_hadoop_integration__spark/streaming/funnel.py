"""Streaming conversion funnel: keep the per-stage reached-user counts
(operators/temporal.py::funnel's output) continuously maintained as
event micro-batches land — the acquisition serving table completing the
behavioral family (r10 VERDICT item 6) next to retention (engagement),
attribution (credit) and transition (chains).

Funnel counts are AGGREGATES OF MONOTONE PER-USER STATE, not sums of
per-event deltas: a user "reaches stage k" once their earliest
qualifying stage-k timestamp exists, and under in-order arrival that
timestamp only ever gets SET, never moved.  So this sink deviates from
the delta-dir pattern deliberately — per batch, two artifacts move:

* **stage-frontier state snapshots** (``{report_dir}__stage/<batch_id>``:
  user_id, t_0..t_{K-1}) — each user's earliest qualifying timestamp
  per stage (NULL = unreached), the exact frontier the batch operator's
  cascaded min-aggregations carry, advanced per batch by the same
  cascade over (carried state + batch events).  Stage k qualifies
  at-or-after the user's CURRENT t_{k-1} — including a t_{k-1} set
  earlier in the same batch, so a user can traverse several stages in
  one batch exactly as in the batch plan.  Snapshot-per-batch-id with
  strictly-earlier resolution (the r10 replay contract).
* **the serving report** (``{report_dir}/report``) — (stage_idx, stage,
  n_users) aggregated from the POST-MERGE snapshot and atomically
  swapped.  Deriving the report from the committed state (rather than
  summed deltas) is what makes replay exactly-once here: a replayed
  batch re-reads the same pre-batch snapshot, recomputes the same
  merged state, and re-publishes the identical report — there is no
  additive artifact to double-count.

Ordering contract: exact for in-order arrival (the family contract).
An out-of-order stage-(k-1) event that would retro-lower t_{k-1} —
and thereby qualify an already-seen stage-k event — requires a batch
rebuild, as with every sink in this family.

Parity: the final report over any in-order batch split equals
funnel() over the union, including users whose stage progression
straddles batch boundaries (tests/test_stream_funnel.py), and a crash
replayed from between the state write and the ledger mark converges.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ledger import once_per_batch
from ..sources.writers import write_atomic


def stage_dir_for(report_dir: str) -> str:
    return report_dir.rstrip("/") + "__stage"


def read_report(spark, report_dir: str) -> DataFrame:
    """(stage_idx, stage, n_users)."""
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


def make_funnel_sink(
    report_dir: str,
    ledger_path: str,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
):
    """The foreachBatch sink as a standalone callable (testable without
    a running stream, like make_transition_sink)."""
    state_dir = stage_dir_for(report_dir)
    report_path = report_dir.rstrip("/") + "/report"
    tcols = [f"t_{i}" for i in range(len(stages))]

    @once_per_batch(ledger_path, "funnel")
    def _land(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        state = _latest_snapshot(spark, state_dir, batch_id)
        if state is None:
            state = spark.createDataFrame(
                [],
                "user_id long, "
                + ", ".join(f"{c} timestamp" for c in tcols),
            )
        # the batch operator's cascade over (carried frontier + batch):
        # stage 0's frontier is min batch ts merged with the carry;
        # stage k's candidates must be >= the user's UPDATED t_{k-1}
        merged = state
        for i, s in enumerate(stages):
            ev = batch_df.filter(F.col(type_col) == s).select(
                F.col(user_col).alias("user_id"),
                F.col(ts_col).alias("_t"),
            )
            if i == 0:
                cand = ev.groupBy("user_id").agg(F.min("_t").alias("_new"))
            else:
                prev = merged.filter(
                    F.col(f"t_{i - 1}").isNotNull()
                ).select("user_id", F.col(f"t_{i - 1}").alias("_p"))
                cand = (
                    ev.join(prev, on="user_id")
                    .filter(F.col("_t") >= F.col("_p"))
                    .groupBy("user_id")
                    .agg(F.min("_t").alias("_new"))
                )
            # F.least skips NULLs, so a carried t_i merges with a new
            # candidate and a NULL-vs-value pair resolves to the value
            merged = (
                merged.join(cand, on="user_id", how="full")
                .select(
                    "user_id",
                    *[F.col(c) for c in tcols[:i]],
                    F.least(F.col(f"t_{i}"), F.col("_new")).alias(
                        f"t_{i}"
                    ),
                    *[F.col(c) for c in tcols[i + 1:]],
                )
            )
        os.makedirs(state_dir, exist_ok=True)
        write_atomic(
            merged, f"{state_dir}/{batch_id}", output_format="parquet"
        )
        # count from the COMMITTED snapshot (not the lazy lineage): the
        # report provably derives from the state a replay would re-read
        snap = spark.read.parquet(f"{state_dir}/{batch_id}")
        counts = snap.agg(
            *[
                F.count(F.col(c)).cast("bigint").alias(f"n_{i}")
                for i, c in enumerate(tcols)
            ]
        ).collect()[0]
        report = spark.createDataFrame(
            [
                (i, s, int(counts[f"n_{i}"]))
                for i, s in enumerate(stages)
            ],
            "stage_idx int, stage string, n_users bigint",
        )
        write_atomic(report, report_path, output_format="parquet")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if not _land(batch_df, batch_id):
            return  # replayed batch, already applied
        for d in os.listdir(state_dir):
            if d.isdigit() and int(d) < batch_id:
                shutil.rmtree(f"{state_dir}/{d}", ignore_errors=True)

    return _sink


def stream_funnel(
    events,
    report_dir: str,
    ledger_path: str,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Start the funnel-maintaining stream; returns the StreamingQuery."""
    _sink = make_funnel_sink(
        report_dir,
        ledger_path,
        stages=stages,
        user_col=user_col,
        type_col=type_col,
        ts_col=ts_col,
    )
    writer = events.writeStream.foreachBatch(_sink).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
