"""Streaming Markov transition matrix: keep the first-order behavioral
chain (operators/temporal.py::markov_transitions' output — counts AND
``p(to | from)``) continuously maintained as event micro-batches land,
the same serving-table pattern as streaming attribution (per-batch
atomic deltas + a tiny carried state + recompute-the-report-from-deltas
self-healing).

Per batch, three bounded artifacts move:

* **last-event state snapshots** (``{report_dir}__last/<batch_id>``:
  user_id, l_ts, l_id, l_ty) — each user's latest event as of the END
  of that batch.  A transition that straddles a batch boundary (user's
  last event of batch N-1 → first event of batch N) is recovered by
  unioning the carried state rows into the new batch
  before the sequence window, so NO transition is lost to batching.
  Snapshot-per-batch-id with strictly-earlier resolution makes crash
  replays read the same pre-batch state as the first attempt
  (streaming/attribution.py's r10 replay contract); committed batches
  prune older snapshots, so live storage is ~2 snapshots bounded by
  distinct users.
* **per-batch transition delta** (``{report_dir}/deltas/<batch_id>``) —
  (from_type, to_type, n) for exactly the transitions this batch
  CREATED: in-batch consecutive pairs plus the boundary pair per
  carried user.  Bounded by |event types|^2 rows.  Keyed by batch id,
  written atomically: a replay overwrites its own delta, never
  double-counts.
* **the serving report** (``{report_dir}/report``) — summed deltas
  re-normalized to (from_type, to_type, n_transitions, p_transition)
  and atomically swapped.  The normalizing window runs over the
  types^2-bounded matrix only.

Ordering contract: exact for in-order arrival (time-ordered
micro-batch files), the streaming-attribution contract; within a batch
order is restored by the (ts, event_id) window, and the carried state
row competes by (ts, event_id) so a batch boundary never changes which
event precedes which.

Parity: the final report over any in-order batch split equals
markov_transitions over the union (tests/test_stream_transition.py),
and a crash replayed from between the state write and the ledger mark
converges to the same report.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..ledger import once_per_batch
from ..sources.writers import write_atomic


def last_dir_for(report_dir: str) -> str:
    return report_dir.rstrip("/") + "__last"


def read_report(spark, report_dir: str) -> DataFrame:
    """(from_type, to_type, n_transitions, p_transition)."""
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


def make_transition_sink(
    report_dir: str,
    ledger_path: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
):
    """The foreachBatch sink as a standalone callable (testable without
    a running stream, like make_attribution_sink)."""
    state_dir = last_dir_for(report_dir)
    report_path = report_dir.rstrip("/") + "/report"

    @once_per_batch(ledger_path, "transition")
    def _land(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        state = _latest_snapshot(spark, state_dir, batch_id)
        rows = batch_df.select(
            F.col(user_col).alias("_u"),
            F.col(ts_col).alias("_t"),
            F.col(id_col).alias("_i"),
            F.col(type_col).alias("_y"),
        )
        if state is not None:
            # prepend each carried user's last event: the sequence
            # window then emits the boundary transition (carry -> first
            # in-batch event) alongside the in-batch pairs.  Carried
            # rows for users ABSENT from this batch produce no pair
            # (lead is NULL) — harmless, and the semi-join that would
            # remove them costs more than the window row they add.
            carried = state.select(
                F.col("user_id").alias("_u"),
                F.col("l_ts").alias("_t"),
                F.col("l_id").alias("_i"),
                F.col("l_ty").alias("_y"),
            )
            seq = rows.unionByName(carried)
        else:
            seq = rows
        w = Window.partitionBy("_u").orderBy("_t", "_i")
        delta = (
            seq.select(
                F.col("_y").alias("from_type"),
                F.lead("_y").over(w).alias("to_type"),
            )
            .filter(F.col("to_type").isNotNull())
            .groupBy("from_type", "to_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )
        deltas_root = f"{report_dir.rstrip('/')}/deltas"
        os.makedirs(deltas_root, exist_ok=True)
        write_atomic(delta, f"{deltas_root}/{batch_id}", output_format="parquet")
        committed = sorted(
            f"{deltas_root}/{d}"
            for d in os.listdir(deltas_root)
            if d.isdigit()
        )
        counts = (
            spark.read.parquet(*committed)
            .groupBy("from_type", "to_type")
            .agg(F.sum("n").cast("bigint").alias("n_transitions"))
        )
        w_from = Window.partitionBy("from_type")
        report = counts.select(
            "from_type",
            "to_type",
            "n_transitions",
            (
                F.col("n_transitions").cast("double")
                / F.sum("n_transitions").over(w_from).cast("double")
            ).alias("p_transition"),
        )
        write_atomic(report, report_path, output_format="parquet")
        # advance state: per-user latest event across carry + batch
        batch_last = (
            rows.groupBy(F.col("_u").alias("user_id"))
            .agg(
                F.max_by(
                    F.struct(
                        F.col("_t").alias("l_ts"),
                        F.col("_i").alias("l_id"),
                        F.col("_y").alias("l_ty"),
                    ),
                    F.struct(F.col("_t"), F.col("_i")),
                ).alias("_r")
            )
            .select("user_id", "_r.l_ts", "_r.l_id", "_r.l_ty")
        )
        if state is not None:
            merged = (
                state.unionByName(batch_last)
                .groupBy("user_id")
                .agg(
                    F.max_by(
                        F.struct("l_ts", "l_id", "l_ty"),
                        F.struct("l_ts", "l_id"),
                    ).alias("_r")
                )
                .select("user_id", "_r.l_ts", "_r.l_id", "_r.l_ty")
            )
        else:
            merged = batch_last
        os.makedirs(state_dir, exist_ok=True)
        write_atomic(merged, f"{state_dir}/{batch_id}", output_format="parquet")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if not _land(batch_df, batch_id):
            return  # replayed batch, already applied
        for d in os.listdir(state_dir):
            if d.isdigit() and int(d) < batch_id:
                shutil.rmtree(f"{state_dir}/{d}", ignore_errors=True)

    return _sink


def stream_transition_matrix(
    events,
    report_dir: str,
    ledger_path: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Start the transition-matrix-maintaining stream; returns the
    StreamingQuery."""
    _sink = make_transition_sink(
        report_dir,
        ledger_path,
        user_col=user_col,
        type_col=type_col,
        ts_col=ts_col,
        id_col=id_col,
    )
    writer = events.writeStream.foreachBatch(_sink).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
