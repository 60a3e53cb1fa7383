"""Streaming last-touch attribution: keep the conversion-credit report
(operators/temporal.py::attribution_last_touch's output) continuously
maintained as event micro-batches land — the marketing/causal serving
table next to trending (ranked counts) and rollup (sums).

Per batch, three bounded artifacts move:

* **touch-state snapshots** (``{report_dir}__touch/<batch_id>``: user_id,
  t_ts, t_ty, t_id) — each user's latest non-conversion event as of the
  END of that batch, the carry-in that lets a conversion at the start of
  batch N credit a touch from batch N-1.  State is written as one
  atomic snapshot PER BATCH ID and batch N always resolves its carry-in
  from the newest snapshot with id < N, so a crash between the state
  write and the ledger commit cannot poison a replay: the replayed
  batch re-reads the same pre-batch snapshot it read the first time and
  simply overwrites its own orphan (r09 ADVICE — previously state
  advanced in place before the ledger mark, and a replay attributed
  against state that already contained the batch's own later touches).
  Snapshots older than the last committed batch are pruned after the
  ledger mark, so live storage is ~2 snapshots, each bounded by
  distinct users ever seen (one timestamp + type + event id per user).
* **per-batch report delta** (``{report_dir}/deltas/<batch_id>``) — the
  batch's conversions attributed against (in-batch prior touch) merged
  with (carried snapshot touch), aggregated to (attributed_type,
  n_conversions, DECIMAL value sum).  Deltas are keyed by batch id and
  written atomically, so a replayed batch overwrites its own delta
  instead of double-counting — exactly-once effective without
  rewriting history.
* **the serving report** (``{report_dir}/report``) — the summed deltas,
  re-aggregated and atomically swapped each batch (types-cardinality
  rows; recompute-from-deltas makes a crash replay self-healing).

Ordering contract: attribution is exact for in-order arrival (a touch
never lands in a LATER batch than a conversion it should credit —
the contract micro-batch sources with time-ordered files satisfy).  A
late cross-batch touch cannot retro-credit an already-attributed
conversion; pipelines with heavy lateness should widen the batch
window upstream (watermarked buffering) rather than rewrite credited
conversions downstream.  Within a batch, order is fully restored by
the (ts, event_id) window; the carried snapshot touch competes with
the in-batch prior touch by (ts, event_id) — the batch operator's
exact tie-break, which the state can honor because each snapshot
stores the winning event id (r09 ADVICE: a ts-only merge resolved
carried-vs-new ties nondeterministically).  Credit is additionally
gated on the touch PRECEDING the conversion in (ts, event_id) order —
a no-op for in-order data, and the guard that a corrupted or
adversarial state row can never credit a touch that happened after
the conversion.

Parity: the final report over any in-order batch split equals the
batch operator over the union (tests/test_stream_attribution.py),
including the NULL (organic) row; replayed batch ids are skipped via
the ledger, and a crash replayed from ANY point between the delta
write and the ledger mark converges to the same report
(test_crash_between_state_and_ledger_replays_clean).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..ledger import once_per_batch
from ..sources.writers import write_atomic
from .sink import (
    land_delta,
    latest_snapshot,
    prune_after_land,
    start_stream,
)


def touch_dir_for(report_dir: str) -> str:
    return report_dir.rstrip("/") + "__touch"


def read_report(spark, report_dir: str) -> DataFrame:
    """The serving report: (attributed_type, n_conversions, total_value)."""
    return spark.read.parquet(report_dir.rstrip("/") + "/report")


_LEGACY_TID_SENTINEL = -(2**63)  # Long.MIN: loses every (ts, id) tie


def _migrate_legacy_state(spark, touch_dir: str) -> None:
    """One-shot upgrade of pre-r10 in-place touch state (r10 ADVICE):
    the r10 snapshot-per-batch rework left a pre-existing deployment's
    parquet files sitting DIRECTLY under ``touch_dir`` (and without the
    ``t_id`` column), where ``sink.latest_snapshot``'s digit-only listing
    ignores them — so the first post-upgrade batch would silently treat
    every user as having no carried touch and attribute straddling
    conversions NULL/organic.

    If legacy part-files are present and NO digit-named snapshot exists
    yet, rewrite them as snapshot ``0`` with ``t_id`` backfilled to
    Long.MIN — the sentinel deterministically loses any (ts, event_id)
    tie against a post-upgrade event, the conservative resolution for a
    row whose true event id was never recorded — then remove the legacy
    files.  Later batches (id >= 1) resolve snapshot 0 like any other;
    a fresh-checkpoint batch 0 replays the stream from scratch and
    overwrites it, which is also correct."""
    try:
        entries = os.listdir(touch_dir)
    except FileNotFoundError:
        return
    if any(d.isdigit() and os.path.isdir(os.path.join(touch_dir, d))
           for d in entries):
        return  # already on the snapshot layout
    legacy = [
        e for e in entries
        if os.path.isfile(os.path.join(touch_dir, e))
        and (e.endswith(".parquet") or e.startswith("part-"))
    ]
    if not legacy:
        return
    old = spark.read.parquet(*[os.path.join(touch_dir, e) for e in legacy])
    cols = [F.col("user_id"), F.col("t_ts")]
    if "t_id" in old.columns:
        cols.append(F.col("t_id").cast("long"))
    else:
        cols.append(
            F.lit(_LEGACY_TID_SENTINEL).cast("long").alias("t_id")
        )
    cols.append(F.col("t_ty"))
    write_atomic(
        old.select(*cols), f"{touch_dir}/0", output_format="parquet"
    )
    for e in legacy:
        try:
            os.remove(os.path.join(touch_dir, e))
        except OSError:
            pass
    for e in entries:  # _SUCCESS / .crc markers of the legacy write
        p = os.path.join(touch_dir, e)
        if os.path.isfile(p) and (e == "_SUCCESS" or e.endswith(".crc")):
            try:
                os.remove(p)
            except OSError:
                pass


def make_attribution_sink(
    report_dir: str,
    ledger_path: str,
    conversion_type: str = "purchase",
    window_days: int = 7,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
):
    """The foreachBatch sink as a standalone callable — exposed so the
    crash-replay tests can drive individual (batch_df, batch_id) calls
    and interrupt between the artifact writes exactly where a real
    crash would."""
    touch_dir = touch_dir_for(report_dir)
    report_path = report_dir.rstrip("/") + "/report"
    win_us = window_days * 86400 * 1_000_000

    @once_per_batch(ledger_path, "attribution")
    def _land(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _migrate_legacy_state(spark, touch_dir)
        state = latest_snapshot(spark, touch_dir, batch_id)
        # in-batch prior touch per row (the batch operator's window)
        w = (
            Window.partitionBy(user_col)
            .orderBy(ts_col, id_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        in_batch = F.last(
            F.when(
                F.col(type_col) != conversion_type,
                F.struct(
                    F.col(ts_col).alias("t"),
                    F.col(id_col).alias("i"),
                    F.col(type_col).alias("y"),
                ),
            ),
            ignorenulls=True,
        ).over(w)
        rows = batch_df.withColumn("_bt", in_batch)
        if state is not None:
            rows = rows.join(
                state.select(
                    F.col("user_id").alias(user_col),
                    F.struct(
                        F.col("t_ts").alias("t"),
                        F.col("t_id").alias("i"),
                        F.col("t_ty").alias("y"),
                    ).alias("_st"),
                ),
                on=user_col,
                how="left",
            )
        else:
            rows = rows.withColumn(
                "_st",
                F.lit(None).cast(
                    "struct<t:timestamp,i:bigint,y:string>"
                ),
            )
        # latest touch wins by (ts, event_id) — the batch operator's
        # exact window order, so a carried touch and an in-batch touch
        # with identical timestamps resolve identically to the batch
        # twin (struct comparison is lexicographic on (t, i))
        best = F.when(
            F.col("_bt").isNotNull()
            & (
                F.col("_st").isNull()
                | (
                    F.struct(F.col("_bt.t"), F.col("_bt.i"))
                    >= F.struct(F.col("_st.t"), F.col("_st.i"))
                )
            ),
            F.col("_bt"),
        ).otherwise(F.col("_st"))
        # credit gate: the touch must PRECEDE the conversion in
        # (ts, event_id) order — the batch window guarantees this for
        # in-batch touches and in-order carries; enforcing it here means
        # even a corrupted state row can never credit a touch that
        # happened after the conversion — and fall within the window
        conv = rows.filter(F.col(type_col) == conversion_type).select(
            F.when(
                best.isNotNull()
                & (
                    F.struct(best["t"], best["i"])
                    < F.struct(F.col(ts_col), F.col(id_col))
                )
                & (
                    F.unix_micros(F.col(ts_col)) - F.unix_micros(best["t"])
                    <= win_us
                ),
                best["y"],
            ).alias("attributed_type"),
            F.col(value_col),
        )
        delta = conv.groupBy("attributed_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_conversions"),
            F.sum(F.col(value_col).cast("decimal(38,6)")).alias("_v"),
        )
        # refresh the serving report from ALL committed deltas
        all_deltas = land_delta(delta, report_dir, batch_id)
        report = all_deltas.groupBy("attributed_type").agg(
            F.sum("n_conversions").cast("bigint").alias("n_conversions"),
            F.sum("_v").cast("double").alias("total_value"),
        )
        write_atomic(report, report_path, output_format="parquet")
        # advance the touch state: per-user latest non-conversion touch,
        # written as THIS batch's snapshot (never in place — replays of
        # later batches resolve strictly-earlier snapshots, see
        # sink.latest_snapshot)
        batch_touch = (
            batch_df.filter(F.col(type_col) != conversion_type)
            .groupBy(F.col(user_col).alias("user_id"))
            .agg(
                F.max_by(
                    F.struct(
                        F.col(ts_col).alias("t_ts"),
                        F.col(id_col).alias("t_id"),
                        F.col(type_col).alias("t_ty"),
                    ),
                    F.struct(F.col(ts_col), F.col(id_col)),
                ).alias("_r")
            )
            .select("user_id", "_r.t_ts", "_r.t_id", "_r.t_ty")
        )
        if state is not None:
            merged = (
                state.unionByName(batch_touch)
                .groupBy("user_id")
                .agg(
                    F.max_by(
                        F.struct("t_ts", "t_id", "t_ty"),
                        F.struct("t_ts", "t_id"),
                    ).alias("_r")
                )
                .select("user_id", "_r.t_ts", "_r.t_id", "_r.t_ty")
            )
        else:
            merged = batch_touch
        write_atomic(merged, f"{touch_dir}/{batch_id}", output_format="parquet")

    return prune_after_land(_land, touch_dir)


def stream_attribution(
    events,
    report_dir: str,
    ledger_path: str,
    conversion_type: str = "purchase",
    window_days: int = 7,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    checkpoint_dir: str | None = None,
):
    """Start the attribution-maintaining stream; returns the
    StreamingQuery.  ``events`` is a streaming DataFrame with the batch
    operator's columns."""
    _sink = make_attribution_sink(
        report_dir,
        ledger_path,
        conversion_type=conversion_type,
        window_days=window_days,
        user_col=user_col,
        type_col=type_col,
        ts_col=ts_col,
        value_col=value_col,
        id_col=id_col,
    )
    return start_stream(events, _sink, checkpoint_dir)
