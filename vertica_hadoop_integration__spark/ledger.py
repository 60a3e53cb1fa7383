"""Incremental-state ledger: the engine's ``sqoop_etl_status`` table
(reference schema inferred at FIXTURES.md §B from sqoop_table.py:143,145,62).

Storage: a tiny versioned-parquet table with an atomically-swapped pointer
file — a minimal Delta-style commit protocol giving UPDATE/INSERT semantics
(S11/S14/S15) on immutable files:

    <path>/v-<12-digit seq>-<sfx>/      immutable snapshots
    <path>/_LATEST                      text file naming the live version
                                        (os.replace -> atomic on POSIX)

Readers read the version named by _LATEST; writers write a NEW version dir
then swap the pointer, under _WRITE_LOCK. Crash between "write dir" and
"swap" leaves garbage files but never a torn table.

The driver reads and edits the live snapshot as plain rows through
``pyarrow.parquet``; no ledger call launches a Spark job. That is the
reference's split (single-row SQL on a control table beside the bulk
movers, sqoop_table.py:39-73,131-148): the ledger holds one row per
table-partition — thousands of rows at 100 TB fact scale — so a whole
snapshot rewrite is O(KB) of driver work, where a Spark job per lookup
costs a scheduler round trip. The *fact* data never goes through this
path; ``read()`` still gives Spark callers the snapshot as a DataFrame.

Partition values are stored as strings; callers must use an
order-preserving encoding (ISO dates, zero-padded ints) because
oldest-first selection (S1, sqoop_table.py:41) sorts lexically (Python's
code-point order is Spark's binary string order).
"""

from __future__ import annotations

import functools
import os
import shutil
import uuid
from datetime import datetime, timezone
from typing import Callable, Iterable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from .locking import FileLock

# Microsecond UTC timestamps: the engine session reads nanosecond parquet
# timestamps as longs (spark.sql.legacy.parquet.nanosAsLong).
_ARROW_SCHEMA = pa.schema(
    [
        pa.field("table_name", pa.string(), nullable=False),
        ("hive_db", pa.string()),
        ("start_date", pa.timestamp("us", tz="UTC")),
        ("end_date", pa.timestamp("us", tz="UTC")),
        ("primary_partition_column", pa.string()),
        ("primary_partition_value", pa.string()),
        pa.field("is_complete", pa.string(), nullable=False),  # 'f'/'t' as in reference
        ("num_mappers", pa.int32()),
    ]
)
LEDGER_SCHEMA = from_arrow_schema(_ARROW_SCHEMA)
_POINTER = "_LATEST"


def _pending_row(table_name, hive_db, column, value, num_mappers) -> dict:
    return {
        "table_name": table_name,
        "hive_db": hive_db,
        "start_date": datetime.now(timezone.utc),
        "end_date": None,
        "primary_partition_column": column,
        "primary_partition_value": value,
        "is_complete": "f",
        "num_mappers": num_mappers,
    }


class Ledger:
    """Parquet-backed incremental-state ledger with atomic snapshot swap."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)
        # Ledger-scoped writer lock: every mutation is a whole-snapshot
        # read-modify-write, so two concurrent writers on DIFFERENT tables
        # sharing one ledger path (two jobs, or a stream plus a batch run)
        # would otherwise lose each other's rows — last snapshot wins.
        # Serializing the read->edit->swap critical section closes that;
        # readers stay lock-free (the pointer swap is atomic).
        self._write_lock = FileLock(os.path.join(path, "_WRITE_LOCK"))
        if not os.path.exists(self._pointer_path()):
            with self._write_lock:
                if not os.path.exists(self._pointer_path()):
                    self._write_snapshot([])

    # -- commit protocol ---------------------------------------------------
    def _pointer_path(self) -> str:
        return os.path.join(self.path, _POINTER)

    def _current_version(self) -> str | None:
        try:
            with open(self._pointer_path()) as f:
                return f.read().strip()
        except FileNotFoundError:
            return None

    # Snapshot retention: every mutation writes a NEW immutable version
    # dir, so without pruning the ledger path accumulates one dir per
    # mutation forever (at one mutation per table-partition per run this
    # is thousands of small dirs a day at 100 TB scale — a namenode /
    # object-listing burden, not a data-size one).  After each pointer
    # swap (still under the writer lock) all but the newest _RETAIN
    # versions are deleted.  _RETAIN > 1 keeps a window for lock-free
    # readers that resolved the pointer just before a swap: a reader
    # would have to lag _RETAIN consecutive mutations behind to see its
    # version vanish.
    _RETAIN = 10

    @staticmethod
    def _version_seq(d: str) -> int:
        """Explicit version order: the zero-padded sequence prefix baked
        into the dir name at write time.  mtime ordering (the previous
        scheme) ties/misorders under coarse filesystem timestamp
        granularity, which could delete a newer non-live version first
        and shrink the _RETAIN reader-safety window.  Legacy unordered
        names (v-<uuid>) parse as -1 -> pruned first.  Only the exact
        new format (v-<12 digits>-<suffix>) is accepted: a legacy uuid
        chunk that happens to be all decimal digits would otherwise
        parse as a huge sequence, pinning that oldest dir as "newest"
        in pruning and bumping _next_seq to start above it."""
        parts = d.split("-")
        if len(parts) >= 3 and len(parts[1]) == 12 and parts[1].isdigit():
            return int(parts[1])
        return -1

    def _next_seq(self) -> int:
        try:
            existing = os.listdir(self.path)
        except FileNotFoundError:
            return 0
        return 1 + max(
            (self._version_seq(d) for d in existing if d.startswith("v-")),
            default=-1,
        )

    def _prune_old_versions(self) -> None:
        live = self._current_version()
        versions = [
            d
            for d in os.listdir(self.path)
            if d.startswith("v-")
            and d != live
            and os.path.isdir(os.path.join(self.path, d))
        ]
        versions.sort(key=self._version_seq, reverse=True)
        for stale in versions[self._RETAIN - 1 :]:
            shutil.rmtree(os.path.join(self.path, stale), ignore_errors=True)

    def _write_snapshot(self, rows: list[dict]) -> None:
        version = f"v-{self._next_seq():012d}-{uuid.uuid4().hex[:6]}"
        out_dir = os.path.join(self.path, version)
        os.makedirs(out_dir)
        # one file per snapshot: the ledger is tiny by design
        pq.write_table(
            pa.Table.from_pylist(rows, schema=_ARROW_SCHEMA),
            os.path.join(out_dir, "part-00000.parquet"),
        )
        tmp = self._pointer_path() + f".tmp-{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            f.write(version)
        os.replace(tmp, self._pointer_path())  # atomic pointer swap
        self._prune_old_versions()

    def _rows(self) -> list[dict]:
        """The live snapshot as plain rows. Snapshots written by Spark
        store INT96 timestamps: read them at microsecond precision."""
        live = os.path.join(self.path, self._current_version())
        rows: list[dict] = []
        for name in sorted(os.listdir(live)):
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                table = pq.ParquetFile(
                    os.path.join(live, name), coerce_int96_timestamp_unit="us"
                ).read()
                rows += table.cast(_ARROW_SCHEMA).to_pylist()
        return rows

    def _pending(self, table_name: str) -> list[str | None]:
        return [
            r["primary_partition_value"]
            for r in self._rows()
            if r["table_name"] == table_name and r["is_complete"] == "f"
        ]

    def read(self) -> DataFrame:
        version = self._current_version()
        return self.spark.read.schema(LEDGER_SCHEMA).parquet(
            os.path.join(self.path, version)
        )

    # -- S9+S11: enqueue unseen partitions (sqoop_table.py:131-148) --------
    def enqueue_new(
        self,
        parts: DataFrame | Iterable[str],
        table_name: str,
        hive_db: str,
        partition_column: str | None,
        num_mappers: int,
    ) -> int:
        """Insert a pending row for every partition value absent from the
        ledger (set difference -> idempotent re-runs). ``parts`` is the
        collected values or a DataFrame with a single string column
        ``part`` (collected here). A NULL value raises before anything is
        enqueued: it would alias the whole-table row and never match on a
        re-run. Returns rows inserted."""
        if isinstance(parts, DataFrame):
            parts = [r[0] for r in parts.select(F.col("part").cast("string")).collect()]
        values = list(dict.fromkeys(parts))
        if None in values:
            raise ValueError(
                f"partition column {partition_column!r} of {table_name!r} has "
                "NULL values; encode them as a non-NULL string first"
            )
        with self._write_lock:
            rows = self._rows()
            seen = {
                r["primary_partition_value"] for r in rows if r["table_name"] == table_name
            }
            new = [
                _pending_row(table_name, hive_db, partition_column, v, num_mappers)
                for v in values
                if v not in seen
            ]
            if new:
                self._write_snapshot(rows + new)
            return len(new)

    def enqueue_whole_table(
        self, table_name: str, hive_db: str, num_mappers: int
    ) -> int:
        """Whole-table mode (PRIMARY_ID='': one NULL-keyed row,
        sqoop_table.py:141-143)."""
        with self._write_lock:
            rows = self._rows()
            if any(
                r["table_name"] == table_name and r["primary_partition_value"] is None
                for r in rows
            ):
                return 0
            rows.append(_pending_row(table_name, hive_db, None, None, num_mappers))
            self._write_snapshot(rows)
            return 1

    # -- S1/S2: oldest pending (sqoop_table.py:39-52) ----------------------
    def next_pending(self, table_name: str) -> str | None:
        # NULL (the whole-table row) first, then ascending
        return min(
            self._pending(table_name),
            key=lambda v: (v is not None, v or ""),
            default=None,
        )

    # -- S3: existence probe (sqoop_table.py:106-112) ----------------------
    def pending_exists(self, table_name: str) -> bool:
        return bool(self._pending(table_name))

    # -- S14: mark complete (sqoop_table.py:59-66) -------------------------
    def mark_complete(self, table_name: str, partition_value: str | None) -> None:
        with self._write_lock:
            rows = self._rows()
            now = datetime.now(timezone.utc)
            for r in rows:
                if (r["table_name"], r["primary_partition_value"]) == (
                    table_name,
                    partition_value,
                ):
                    r.update(is_complete="t", end_date=now)
            self._write_snapshot(rows)

    # -- S15: delete rows (sqoop_table.py:68-73) ---------------------------
    def delete_table(self, table_name: str) -> None:
        with self._write_lock:
            self._write_snapshot(
                [r for r in self._rows() if r["table_name"] != table_name]
            )

    # -- exactly-once guard for stream sinks -------------------------------
    def apply_once(self, key: str, fn: Callable[..., object], *args) -> bool:
        """Run ``fn(*args)`` once per ``key`` across replays: enqueue the
        key as a whole-table row, skip if it is complete, else run ``fn``
        and mark the key complete. A crash inside ``fn`` leaves the key
        pending, so ``fn`` must be safe to re-run. Returns whether it ran."""
        self.enqueue_whole_table(key, "stream", 1)
        if not self.pending_exists(key):
            return False
        fn(*args)
        self.mark_complete(key, None)
        return True


def once_per_batch(ledger_path: str, prefix: str):
    """Decorate a ``foreachBatch`` body ``fn(batch_df, batch_id)`` so it
    runs once per batch id (key ``<prefix>#<batch_id>``) through
    :meth:`Ledger.apply_once`; a replayed batch is skipped wholesale. The
    decorated sink returns whether the body ran."""

    def wrap(fn):
        @functools.wraps(fn)
        def sink(batch_df: DataFrame, batch_id: int) -> bool:
            return Ledger(batch_df.sparkSession, ledger_path).apply_once(
                f"{prefix}#{batch_id}", fn, batch_df, batch_id
            )

        return sink

    return wrap
