"""Incremental partition-at-a-time backup pipeline — the engine's recast of
the reference's orchestration state machine (E1, sqoop_etl.py:48-84).

One iteration of the reference loop was: pick oldest pending partition ->
snapshot to salted temp table -> Sqoop extract (N mappers) -> Hive MR
text->ORC rewrite -> purge staging -> mark complete, i.e. two cluster jobs
and one full source scan per partition. Here a drain moves the bulk data
in ONE Spark write: a single scan of the source filtered to the pending
values -> repartition(N) -> one partitioned columnar write into a staging
dir. The per-partition state machine stays in the control plane: oldest
first, each value's staged dir is renamed into place and only then is its
ledger row flipped. The Sqoop REST hop, text staging and Hive MR
conversion disappear (SURVEY.md §3 E1).

Scale: a drain costs one scan and one write whatever the backlog length
(the source is read once, not once per partition: a derived key such as
``date_format(o_orderdate)`` prunes nothing at the scan); write
parallelism = spec.num_partitions; the ledger is O(#partitions)
driver-side rows and never touches fact data; only the distinct partition
values are collected to the driver.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .etl_logging import EtlLogger
from .jobspec import JobSpec
from .ledger import Ledger, reject_null_partitions
from .locking import FileLock
from .operators.relational import distinct_partitions
from .sources.writers import replace_dir, write_columnar

# Staging partition column. Its values are the partition value prefixed
# with "v": Spark names an empty value's dir __HIVE_DEFAULT_PARTITION__,
# so without the prefix '' and that literal string would share one dir.
_STAGE_COL = "_graft_part"


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
    sqoop_table.py:131-148): the distinct partition values are collected
    once (one row per partition), and the newest-first rank that skips the
    SKIP_LATEST hottest is a sort of that list on the driver (Python's
    code-point order is Spark's binary string order); the ledger takes the
    set difference against what it has seen."""
    if not spec.primary_id:
        return ledger.enqueue_whole_table(
            spec.table_name, spec.target_db, spec.num_partitions
        )
    parts = distinct_partitions(source, F.col(spec.primary_id).cast("string"))
    values = [r["part"] for r in parts.collect()]
    reject_null_partitions(values, spec.table_name, spec.primary_id)
    return ledger.enqueue_new(
        sorted(values, reverse=True)[spec.skip_latest :],
        spec.table_name,
        spec.target_db,
        spec.primary_id,
        spec.num_partitions,
    )


def backup_partition(
    spec: JobSpec, source: DataFrame, values: list[str | None], staging: str
) -> dict[str | None, str]:
    """The extract + convert steps (back_with_static_table + extract +
    convert, sqoop_etl.py:36-46) for every value in ``values`` as ONE Spark
    write into ``staging``. Returns each value's staged dir.

    ``repartition(N)`` is the reference's rowId round-robin salt
    (sqoop_table.py:97): N balanced write tasks regardless of key skew,
    each holding rows of every value, so each value's dir gets N files.
    The planned write sorts each task by the staging column, so a task
    keeps one file open at a time. The files carry the source's columns,
    ``primary_id`` included. A value with no source rows (say, enqueued
    by a run that crashed) gets a 0-row dir that still carries the
    schema, at the cost of one more job."""
    opts = dict(
        output_format=spec.output_format,
        compression=spec.compression,
        orc_stripe_size=spec.orc_stripe_size,
        orc_index_stride=spec.orc_index_stride,
    )
    if values == [None]:
        full = os.path.join(staging, "full")
        write_columnar(source.repartition(spec.num_partitions), full, **opts)
        return {None: full}
    key = F.col(spec.primary_id).cast("string")
    tagged = source.filter(key.isin(values)).withColumn(
        _STAGE_COL, F.concat(F.lit("v"), key)
    )
    write_columnar(
        tagged.repartition(spec.num_partitions),
        staging,
        partition_by=[_STAGE_COL],
        **opts,
    )
    prefix = f"{_STAGE_COL}=v"
    # Spark %XX-escapes special characters in partition dir names
    staged = {
        unquote(name[len(prefix) :]): os.path.join(staging, name)
        for name in os.listdir(staging)
        if name.startswith(prefix)
    }
    missing = [v for v in values if v not in staged]
    for i, value in enumerate(missing):
        staged[value] = os.path.join(staging, f"_empty-{i}")
        write_columnar(source.limit(0), staged[value], **opts)
    return staged


def run_incremental(
    spark: SparkSession,
    spec: JobSpec,
    source: DataFrame,
    ledger_path: str,
    lock_dir: str | None = None,
    max_iterations: int | None = None,
) -> list[str]:
    """The full E1 state machine: lock -> purge dead runs' staging ->
    enqueue unseen -> back up every pending partition (oldest first, at
    most ``max_iterations``) with one write -> per partition, oldest first:
    write its ``_SUCCESS`` marker, rename its staged dir into place, flip
    its ledger row -> unlock. Returns the committed dirs, oldest first.
    Idempotent: re-runs enqueue nothing new and completed partitions are
    never re-extracted. A crash leaves every unflipped partition pending;
    the next run rewrites it, replacing a dir that was committed but not
    flipped.

    Raises :class:`JobLockHeld` when another LIVE run holds the lock (a
    dead holder's lock is reclaimed transparently) — callers can tell
    "locked out" apart from "nothing to do". Every step is logged before
    it executes (P8 audit trail, sqoop_etl.py:28): ``extract_start`` and
    ``extract_done`` once per drain, carrying the list of partitions, and
    ``ledger_flip`` once per partition."""
    log = EtlLogger(spec.table_name)
    lock = JobLock(lock_dir or os.path.join(ledger_path, "_locks"), spec.table_name)
    if not lock.acquire():
        log.warn("lock_contended", lock=lock.path)
        raise JobLockHeld(lock.path)
    log.step("lock_acquired", lock=lock.path)
    staging = os.path.join(spec.target_path, f".inprogress-{uuid.uuid4().hex[:8]}")
    try:
        # the lock is ours, so any staging dir is a dead run's leftover
        for stale in glob.glob(os.path.join(glob.escape(spec.target_path), ".inprogress-*")):
            log.step("purge_staging", path=stale)
            shutil.rmtree(stale, ignore_errors=True)
        ledger = Ledger(spark, ledger_path)
        n_new = enqueue_pending(spark, spec, ledger, source)
        log.step("enqueue", new_partitions=n_new)
        pending = ledger.pending(spec.table_name)
        if not spec.primary_id:
            pending = pending[:1]  # whole-table mode: one row (sqoop_etl.py:81-82)
        pending = pending[:max_iterations] if max_iterations else pending
        done: list[str] = []
        if pending:
            log.step("extract_start", partitions=pending, num_partitions=spec.num_partitions)
            staged = backup_partition(spec, source, pending, staging)
            log.step("extract_done", partitions=pending, path=staging)
            for value in pending:
                open(os.path.join(staged[value], "_SUCCESS"), "a").close()
                out = os.path.join(
                    spec.target_path,
                    "full" if value is None else f"{spec.primary_id}={value}",
                )
                replace_dir(staged[value], out)
                ledger.mark_complete(spec.table_name, value)
                log.step("ledger_flip", partition=value, is_complete="t")
                done.append(out)
        log.step("drained", partitions_written=len(done))
        return done
    finally:
        shutil.rmtree(staging, ignore_errors=True)
        lock.release()
        log.step("lock_released", lock=lock.path)
