"""Streaming distribution-drift monitoring: score every micro-batch of
a numeric column against a FROZEN reference histogram with the PSI
primitive (operators/profile.py::distribution_drift is the batch twin),
appending one (batch_id, n_rows, psi, alarm) row per batch to a serving
table — the monitor a feature pipeline alarms on when an upstream
schema change or population shift starts feeding the model junk.

Design for scale: the reference is reduced ONCE, driver-side, to a
``num_bins``-cut + count model (kilobytes, frozen for the stream's
lifetime — drift is measured AGAINST something stable; refreshing the
reference is a new stream). Per batch the only distributed work is one
map-side count-of-cuts-below-value pass against the literal cut array
plus a <=num_bins-row aggregate; the PSI fold over 10 bins runs
driver-side on exact counts (fixed iteration order, so reruns are
bit-identical). Exactly-once via the ledger batch guard + atomic batch
directories, the same contract every loader here follows."""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ledger import once_per_batch
from ..sources.writers import write_atomic


def _bin_expr(cuts: list[float], col: str):
    """Shared binning expression: NULL values get the dedicated -1 bin
    (a NULL surge is drift, not lowest-decile mass — mirrors the batch
    twin operators/profile.py::distribution_drift)."""
    return (
        F.when(F.col(col).isNull(), F.lit(-1))
        .otherwise(
            F.size(
                F.filter(
                    F.array(*[F.lit(c) for c in cuts]),
                    lambda x: F.col(col) > x,
                )
            )
        )
        .alias("bin")
    )


def freeze_reference(ref: DataFrame, col: str, num_bins: int = 10) -> dict:
    """Reduce the reference split to the frozen drift model: exact
    decile cut points + per-bin counts + total (same binning as
    operators/profile.py::distribution_drift — count of cuts strictly
    below the value; NULLs in a dedicated -1 bin)."""
    fracs = [i / num_bins for i in range(1, num_bins)]
    cuts_row = ref.agg(
        F.percentile(F.col(col), F.array(*[F.lit(f) for f in fracs])).alias(
            "c"
        )
    ).collect()[0]
    cuts = [float(x) for x in cuts_row["c"]]
    rows = ref.select(_bin_expr(cuts, col)).groupBy("bin").agg(
        F.count(F.lit(1)).alias("n")
    ).collect()
    by_bin = {int(r["bin"]): int(r["n"]) for r in rows}
    counts = [by_bin.get(b, 0) for b in range(-1, num_bins)]
    return {
        "cuts": cuts,
        "counts": counts,
        "total": sum(counts),
        "num_bins": num_bins,
    }


def psi_from_counts(model: dict, cur_counts: dict[int, int], cur_total: int) -> float:
    """Add-one-smoothed PSI of a batch's bin counts against the frozen
    reference model — the same (q - p) * ln(q / p) terms as the batch
    twin, folded in fixed bin order (rerun-identical).  Bin -1 carries
    the NULL counts; smoothing spans num_bins + 1 bins."""
    nb = model["num_bins"]
    psi = 0.0
    for i, b in enumerate(range(-1, nb)):
        p = (model["counts"][i] + 1.0) / (model["total"] + float(nb + 1))
        q = (cur_counts.get(b, 0) + 1.0) / (cur_total + float(nb + 1))
        psi += (q - p) * math.log(q / p)
    return psi


def ks_from_counts(
    model: dict, cur_counts: dict[int, int]
) -> float | None:
    """Binned two-sample KS statistic of a batch's bin counts against
    the frozen reference model (operators/profile.py::ks_drift is the
    batch twin, evaluated at the same reference-quantile cuts): the max
    absolute cumulative-fraction gap over the value bins.  The NULL bin
    (-1) is excluded — KS is defined over values; NULL-rate drift is
    PSI's job via its dedicated bin.  Returns None when either side has
    no non-null rows.  Fixed iteration order + order-free max =>
    rerun-identical and equal to the batch twin bit for bit."""
    nb = model["num_bins"]
    ref_nonnull = model["total"] - model["counts"][0]
    cur_nonnull = sum(v for b, v in cur_counts.items() if b >= 0)
    if ref_nonnull == 0 or cur_nonnull == 0:
        return None
    cr = cc = 0
    ks = 0.0
    for i, b in enumerate(range(0, nb)):
        cr += model["counts"][i + 1]
        cc += cur_counts.get(b, 0)
        d = abs(cr / ref_nonnull - cc / cur_nonnull)
        if d > ks:
            ks = d
    return ks


def stream_drift_monitor(
    values,
    reference: DataFrame,
    col: str,
    out_dir: str,
    ledger_path: str,
    table_name: str = "drift_monitor",
    num_bins: int = 10,
    alarm_threshold: float = 0.2,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Start the drift-monitoring stream; returns the StreamingQuery.
    The serving table at ``out_dir`` holds one committed row per batch
    (batch_id, n_rows, psi, alarm, ks, ks_alarm) — PSI for density
    shifts and NULL surges, binned KS (ks_from_counts; large-sample
    critical value 1.358*sqrt((n1+n2)/(n1*n2))) for location/scale
    shifts that spread thinly over many bins, both from the SAME
    per-batch bin counts (no extra distributed work).  A replayed batch
    id is skipped wholesale (ledger guard), so restarts never duplicate
    rows."""
    model = freeze_reference(reference, col, num_bins)
    bin_expr = _bin_expr(model["cuts"], col)

    @once_per_batch(ledger_path, table_name)
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        key = str(batch_id)
        rows = (
            batch_df.select(bin_expr)
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        cur = {int(r["bin"]): int(r["n"]) for r in rows}
        n = sum(cur.values())
        psi = psi_from_counts(model, cur, n)
        ks = ks_from_counts(model, cur)
        ks_alarm = None
        if ks is not None:
            n1 = model["total"] - model["counts"][0]
            n2 = sum(v for b, v in cur.items() if b >= 0)
            ks_alarm = bool(ks > 1.358 * math.sqrt((n1 + n2) / (n1 * n2)))
        out = spark.createDataFrame(
            [
                (
                    int(batch_id),
                    n,
                    float(psi),
                    bool(psi > alarm_threshold),
                    None if ks is None else float(ks),
                    ks_alarm,
                )
            ],
            "batch_id long, n_rows long, psi double, alarm boolean, "
            "ks double, ks_alarm boolean",
        )
        write_atomic(
            out, os.path.join(out_dir, f"batch={key}"), output_format="parquet"
        )

    writer = values.writeStream.foreachBatch(_sink).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def freeze_reference_by_group(
    ref: DataFrame, col: str, group_col: str, num_bins: int = 10
) -> dict:
    """Per-group frozen drift models: one grouped percentile aggregate
    for the cut arrays plus one grouped binning pass for the reference
    counts — the whole model is groups x (num_bins + 1) integers plus
    groups x (num_bins - 1) cut doubles (kilobytes for any realistic
    segment count), collected once for the stream's lifetime.  Same
    binning contract as the batch twin
    (operators/profile.py::distribution_drift_by_group): NULLs in the
    dedicated -1 bin, counts over all rows.  Group keys are segment
    NAMES (string) — the monitored dimension of this monitor class."""
    fracs = [i / num_bins for i in range(1, num_bins)]
    cut_rows = ref.groupBy(F.col(group_col).alias("_g")).agg(
        F.percentile(F.col(col), F.array(*[F.lit(f) for f in fracs])).alias(
            "c"
        )
    ).collect()
    models: dict = {}
    for r in cut_rows:
        models[r["_g"]] = {
            "cuts": [float(x) for x in r["c"]],
            "counts": [0] * (num_bins + 1),
            "total": 0,
            "num_bins": num_bins,
        }
    # ONE grouped binning pass for every group's reference counts: the
    # per-group cut arrays join in as a broadcast literal table (never a
    # per-group rescan of the reference)
    spark = ref.sparkSession
    cut_table = F.broadcast(
        spark.createDataFrame(
            [(g, m["cuts"]) for g, m in models.items()],
            f"{group_col} string, _cuts array<double>",
        )
    )
    rows = (
        ref.join(cut_table, on=group_col, how="inner")
        .select(
            F.col(group_col).alias("_g"),
            F.when(F.col(col).isNull(), F.lit(-1))
            .otherwise(
                F.size(F.filter(F.col("_cuts"), lambda x: F.col(col) > x))
            )
            .cast("int")
            .alias("bin"),
        )
        .groupBy("_g", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    for r in rows:
        models[r["_g"]]["counts"][int(r["bin"]) + 1] += int(r["n"])
    for m in models.values():
        m["total"] = sum(m["counts"])
    return models


def stream_drift_monitor_by_group(
    values,
    reference: DataFrame,
    col: str,
    group_col: str,
    out_dir: str,
    ledger_path: str,
    table_name: str = "drift_monitor_grouped",
    num_bins: int = 10,
    alarm_threshold: float = 0.2,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Per-segment streaming PSI: the grouped twin of
    stream_drift_monitor (and of the batch
    distribution_drift_by_group) — every micro-batch appends one
    (batch_id, group, n_rows, psi, alarm, ks, ks_alarm) row PER
    SEGMENT (KS from the same bin counts, as in the ungrouped
    monitor), so drift
    confined to a single source alarms even when the global PSI
    dilutes it.  Segments absent from the frozen reference are
    surfaced with a NULL psi and alarm=true (an unknown feed IS an
    anomaly) rather than silently dropped.

    Per batch the distributed work is ONE grouped binning pass (the
    per-group cut arrays join in as a broadcast literal table); the PSI
    folds run driver-side over groups x bins exact counts in fixed
    order (rerun-identical).  Exactly-once via the ledger batch guard +
    atomic batch directories, like every loader here."""
    models = freeze_reference_by_group(reference, col, group_col, num_bins)
    spark0 = reference.sparkSession
    cut_table = F.broadcast(
        spark0.createDataFrame(
            [(g, m["cuts"]) for g, m in models.items()],
            f"{group_col} string, _cuts array<double>",
        )
    )

    @once_per_batch(ledger_path, table_name)
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        key = str(batch_id)
        binned = (
            batch_df.join(cut_table, on=group_col, how="left")
            .select(
                F.col(group_col).alias("_g"),
                F.when(F.col(col).isNull() | F.col("_cuts").isNull(), F.lit(-1))
                .otherwise(
                    F.size(
                        F.filter(F.col("_cuts"), lambda x: F.col(col) > x)
                    )
                )
                .cast("int")
                .alias("bin"),
            )
            .groupBy("_g", "bin")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        per_group: dict = {}
        for r in binned:
            per_group.setdefault(r["_g"], {})[int(r["bin"])] = int(r["n"])
        out_rows = []
        for g in sorted(per_group, key=str):
            cur = per_group[g]
            n = sum(cur.values())
            if g in models:
                psi = psi_from_counts(models[g], cur, n)
                ks = ks_from_counts(models[g], cur)
                ks_alarm = None
                if ks is not None:
                    n1 = models[g]["total"] - models[g]["counts"][0]
                    n2 = sum(v for b, v in cur.items() if b >= 0)
                    ks_alarm = bool(
                        ks > 1.358 * math.sqrt((n1 + n2) / (n1 * n2))
                    )
                out_rows.append(
                    (
                        int(batch_id),
                        g,
                        n,
                        float(psi),
                        bool(psi > alarm_threshold),
                        None if ks is None else float(ks),
                        ks_alarm,
                    )
                )
            else:
                # segment unseen in the reference: no cuts to bin
                # against — surface it as an alarm, never drop it
                out_rows.append((int(batch_id), g, n, None, True, None, True))
        out = spark.createDataFrame(
            out_rows,
            f"batch_id long, {group_col} string, n_rows long, "
            "psi double, alarm boolean, ks double, ks_alarm boolean",
        )
        write_atomic(
            out, os.path.join(out_dir, f"batch={key}"), output_format="parquet"
        )

    writer = values.writeStream.foreachBatch(_sink).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
