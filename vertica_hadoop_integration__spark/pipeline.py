"""Incremental partition-at-a-time backup pipeline — the engine's recast of
the reference's orchestration state machine (E1, sqoop_etl.py:48-84).

One iteration of the reference loop was: pick oldest pending partition ->
snapshot to salted temp table -> Sqoop extract (N mappers) -> Hive MR
text->ORC rewrite -> purge staging -> mark complete. Here each iteration is
ONE Spark job: partition-predicate scan (pushed to the source) ->
repartition(N) -> atomic columnar write -> ledger flip. The Sqoop REST hop,
text staging, and Hive MR conversion disappear (SURVEY.md §3 E1).

Scale: each iteration touches one partition's rows only (predicate
pushdown prunes the rest); write parallelism = spec.num_partitions; the
ledger is O(#partitions) driver-side rows and never touches fact data; only
the distinct partition values are collected to the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .etl_logging import EtlLogger
from .jobspec import JobSpec
from .ledger import Ledger
from .locking import FileLock
from .operators.relational import distinct_partitions, rank_newest_first, skip_latest
from .sources.writers import write_atomic


class JobLockHeld(RuntimeError):
    """The job's lock is held by a live process — a distinct signal from
    'nothing pending' (an empty return used to be ambiguous: a crashed
    holder would silently stall the pipeline forever)."""

    def __init__(self, lock_path: str):
        super().__init__(f"job lock held: {lock_path}")
        self.lock_path = lock_path


class JobLock:
    """Mutual exclusion per job name (reference: JobLock, sqoop_etl.py:29,
    92-94,104). FileLock underneath: pid-stamped, and a lock whose owner
    pid is dead is reclaimed automatically — a hard-crashed run no longer
    wedges the job permanently."""

    def __init__(self, lock_dir: str, name: str):
        os.makedirs(lock_dir, exist_ok=True)
        self._lock = FileLock(os.path.join(lock_dir, f"{name}.lock"))

    @property
    def path(self) -> str:
        return self._lock.path

    def acquire(self) -> bool:
        return self._lock.acquire(blocking=False)

    def release(self) -> None:
        self._lock.release()


def enqueue_pending(
    spark: SparkSession, spec: JobSpec, ledger: Ledger, source: DataFrame
) -> int:
    """Discover and enqueue unseen partitions (generate_status_table,
    sqoop_table.py:131-148): distinct partition values, newest-first rank,
    skip the SKIP_LATEST hottest, collected once (one row per partition);
    the ledger takes the set difference against what it has seen."""
    if not spec.primary_id:
        return ledger.enqueue_whole_table(
            spec.table_name, spec.target_db, spec.num_partitions
        )
    parts = distinct_partitions(source, F.col(spec.primary_id).cast("string"))
    kept = skip_latest(rank_newest_first(parts), spec.skip_latest)
    return ledger.enqueue_new(
        [r["part"] for r in kept.select("part").collect()],
        spec.table_name,
        spec.target_db,
        spec.primary_id,
        spec.num_partitions,
    )


def backup_partition(
    spec: JobSpec, source: DataFrame, partition_value: str | None
) -> str:
    """One loop iteration (back_with_static_table + extract + convert,
    sqoop_etl.py:36-46) as a single Spark job. Returns the written path."""
    if partition_value is None:
        slice_df = source
        out_dir = os.path.join(spec.target_path, "full")
    else:
        # predicate pushdown prunes all other partitions at the scan
        slice_df = source.filter(
            F.col(spec.primary_id).cast("string") == partition_value
        )
        out_dir = os.path.join(spec.target_path, f"{spec.primary_id}={partition_value}")
    # repartition(N) = the reference's rowId round-robin salt
    # (sqoop_table.py:97) — N balanced write tasks regardless of key skew
    write_atomic(
        slice_df.repartition(spec.num_partitions),
        out_dir,
        output_format=spec.output_format,
        compression=spec.compression,
        orc_stripe_size=spec.orc_stripe_size,
        orc_index_stride=spec.orc_index_stride,
    )
    return out_dir


def run_incremental(
    spark: SparkSession,
    spec: JobSpec,
    source: DataFrame,
    ledger_path: str,
    lock_dir: str | None = None,
    max_iterations: int | None = None,
) -> list[str]:
    """The full E1 state machine: lock -> enqueue unseen -> loop oldest-
    pending-first until drained -> unlock. Idempotent: re-runs enqueue
    nothing new and completed partitions are never re-extracted.

    Raises :class:`JobLockHeld` when another LIVE run holds the lock (a
    dead holder's lock is reclaimed transparently) — callers can tell
    "locked out" apart from "nothing to do". Every step is logged before
    it executes (P8 audit trail, sqoop_etl.py:28)."""
    log = EtlLogger(spec.table_name)
    lock = JobLock(lock_dir or os.path.join(ledger_path, "_locks"), spec.table_name)
    if not lock.acquire():
        log.warn("lock_contended", lock=lock.path)
        raise JobLockHeld(lock.path)
    log.step("lock_acquired", lock=lock.path)
    try:
        ledger = Ledger(spark, ledger_path)
        n_new = enqueue_pending(spark, spec, ledger, source)
        log.step("enqueue", new_partitions=n_new)
        done: list[str] = []
        while ledger.pending_exists(spec.table_name):
            value = ledger.next_pending(spec.table_name)
            log.step("extract_start", partition=value, num_partitions=spec.num_partitions)
            out = backup_partition(spec, source, value)
            log.step("extract_done", partition=value, path=out)
            ledger.mark_complete(spec.table_name, value)
            log.step("ledger_flip", partition=value, is_complete="t")
            done.append(out)
            if max_iterations and len(done) >= max_iterations:
                break
            if not spec.primary_id:
                break  # whole-table mode: single iteration (sqoop_etl.py:81-82)
        log.step("drained", partitions_written=len(done))
        return done
    finally:
        lock.release()
        log.step("lock_released", lock=lock.path)
