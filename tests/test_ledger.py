"""Ledger state-machine unit tests — the FIXTURES.md §B assertions:
(1) enqueue inserts only absent partitions, (2) oldest pending first,
(3) completion flips is_complete + stamps end_date, (4) double-run no-op,
(5) SKIP_LATEST leaves the k newest unenqueued, (6) empty PRIMARY_ID
yields one NULL-keyed row."""

import pytest
from pyspark.sql import functions as F

from vertica_hadoop_integration__spark.ledger import Ledger
from vertica_hadoop_integration__spark.operators.relational import (
    pending_partition_pipeline,
)


@pytest.fixture()
def ledger(spark, tmp_path):
    return Ledger(spark, str(tmp_path / "ledger"))


def _parts(spark, values):
    return spark.createDataFrame([(v,) for v in values], "part string")


def test_enqueue_only_absent(spark, ledger):
    n1 = ledger.enqueue_new(_parts(spark, ["2024-01", "2024-02"]), "t", "db", "m", 8)
    assert n1 == 2
    n2 = ledger.enqueue_new(
        _parts(spark, ["2024-01", "2024-02", "2024-03"]), "t", "db", "m", 8
    )
    assert n2 == 1  # only the unseen one
    assert ledger.read().count() == 3


def test_oldest_pending_first(spark, ledger):
    ledger.enqueue_new(_parts(spark, ["2024-03", "2024-01", "2024-02"]), "t", "db", "m", 8)
    assert ledger.next_pending("t") == "2024-01"
    ledger.mark_complete("t", "2024-01")
    assert ledger.next_pending("t") == "2024-02"


def test_completion_flips_flag_and_stamps_end_date(spark, ledger):
    ledger.enqueue_new(_parts(spark, ["2024-01"]), "t", "db", "m", 8)
    ledger.mark_complete("t", "2024-01")
    row = ledger.read().filter(F.col("primary_partition_value") == "2024-01").first()
    assert row["is_complete"] == "t"
    assert row["end_date"] is not None
    assert not ledger.pending_exists("t")


def test_double_run_noop(spark, ledger):
    parts = _parts(spark, ["2024-01", "2024-02"])
    assert ledger.enqueue_new(parts, "t", "db", "m", 8) == 2
    ledger.mark_complete("t", "2024-01")
    # re-run: completed partitions must NOT be re-enqueued
    assert ledger.enqueue_new(parts, "t", "db", "m", 8) == 0
    assert ledger.read().filter(F.col("is_complete") == "t").count() == 1


def test_skip_latest_leaves_newest_unenqueued(spark, ledger):
    src = spark.createDataFrame(
        [(m,) for m in ["2024-01", "2024-02", "2024-03", "2024-04"] for _ in range(3)],
        "m string",
    )
    seen = ledger.read().select(F.col("primary_partition_value").alias("part"))
    pending = pending_partition_pipeline(src, F.col("m"), seen, skip_latest_n=2)
    got = sorted(r["part"] for r in pending.collect())
    assert got == ["2024-01", "2024-02"]  # two newest skipped


def test_whole_table_mode_single_null_row(spark, ledger):
    assert ledger.enqueue_whole_table("dim", "db", 8) == 1
    assert ledger.enqueue_whole_table("dim", "db", 8) == 0  # idempotent
    rows = ledger.read().filter(F.col("table_name") == "dim").collect()
    assert len(rows) == 1
    assert rows[0]["primary_partition_value"] is None
    assert ledger.next_pending("dim") is None  # NULL sorts first, returned as None
    assert ledger.pending_exists("dim")
    ledger.mark_complete("dim", None)
    assert not ledger.pending_exists("dim")


def test_per_table_isolation(spark, ledger):
    ledger.enqueue_new(_parts(spark, ["2024-01"]), "t1", "db", "m", 8)
    ledger.enqueue_new(_parts(spark, ["2024-01"]), "t2", "db", "m", 8)
    ledger.mark_complete("t1", "2024-01")
    assert not ledger.pending_exists("t1")
    assert ledger.pending_exists("t2")
    ledger.delete_table("t2")
    assert ledger.read().filter(F.col("table_name") == "t2").count() == 0


def test_snapshot_retention_bounded(spark, tmp_path):
    """Every mutation writes a new immutable snapshot version; retention
    (r05 verdict item 7) must keep the on-disk version count bounded —
    not one dir per mutation forever — while the live content stays
    correct and the pointer always resolves."""
    import os

    led = Ledger(spark, str(tmp_path / "ledger_retention"))
    months = [f"2024-{m:02d}" for m in range(1, 13)] + [
        f"2025-{m:02d}" for m in range(1, 13)
    ]
    led.enqueue_new(_parts(spark, months), "t", "db", "m", 8)
    for m in months:  # 24 mutations on top of the enqueue + init
        led.mark_complete("t", m)
    versions = [d for d in os.listdir(led.path) if d.startswith("v-")]
    assert len(versions) <= Ledger._RETAIN + 1, versions
    # live content survived the pruning churn
    rows = led.read().collect()
    assert len(rows) == len(months)
    assert all(r["is_complete"] == "t" for r in rows)


def test_legacy_all_digit_uuid_dir_never_pins_retention(spark, tmp_path):
    """A legacy v-<uuid> dir whose uuid chunk is all decimal digits
    (~0.4% of uuids) must parse as legacy (-1), not as a huge sequence
    number — otherwise it is pinned 'newest' forever (occupying a
    _RETAIN slot) and _next_seq starts above it (r07 ADVICE)."""
    import os

    assert Ledger._version_seq("v-361204914265") == -1
    assert Ledger._version_seq("v-000000000007-ab12cd") == 7
    assert Ledger._version_seq("v-12345-ab12cd") == -1  # wrong width

    led = Ledger(spark, str(tmp_path / "ledger_legacy"))
    led.enqueue_new(_parts(spark, ["2024-01"]), "t", "db", "m", 8)
    # plant an adversarial legacy dir, then churn past the retention cap
    os.mkdir(os.path.join(led.path, "v-361204914265"))
    for _ in range(Ledger._RETAIN + 3):
        led.mark_complete("t", "2024-01")
        led.enqueue_new(_parts(spark, ["2024-01"]), "t", "db", "m", 8)
    versions = [d for d in os.listdir(led.path) if d.startswith("v-")]
    # the legacy dir was pruned first, not pinned as newest
    assert "v-361204914265" not in versions
    # and sequence numbering stayed small (not bumped above 361204914265)
    assert all(Ledger._version_seq(d) < 10_000 for d in versions)
    assert led.read().count() == 1
    assert led.next_pending("t") is None


def test_spark_written_snapshot_still_reads_and_mutates(spark, tmp_path):
    """A ledger whose live snapshot was written by Spark (INT96
    timestamps, LEDGER_SCHEMA, one ``v-...`` dir plus ``_LATEST``) is
    read, mutated and read back with its timestamps intact."""
    import datetime as dt
    import os

    import pyarrow.parquet as pq

    from vertica_hadoop_integration__spark.ledger import LEDGER_SCHEMA

    path = tmp_path / "legacy"
    start = dt.datetime(2024, 3, 1, 12, 30, 15, 123456)
    done = dt.datetime(2024, 3, 2, 8, 0, 0, 654321)
    version = "v-000000000003-abc123"
    spark.createDataFrame(
        [
            ("t", "db", start, done, "m", "2024-01", "t", 8),
            ("t", "db", start, None, "m", "2024-02", "f", 8),
            ("dim", "db", start, None, None, None, "f", 2),
        ],
        LEDGER_SCHEMA,
    ).coalesce(1).write.parquet(str(path / version))
    (path / "_LATEST").write_text(version)
    part = next(f for f in os.listdir(path / version) if f.endswith(".parquet"))
    phys = pq.ParquetFile(str(path / version / part)).schema.column(2).physical_type
    assert phys == "INT96"

    led = Ledger(spark, str(path))
    assert led.next_pending("t") == "2024-02"
    assert led.next_pending("dim") is None and led.pending_exists("dim")
    assert led.enqueue_new(["2024-01", "2024-02", "2024-03"], "t", "db", "m", 8) == 1
    led.mark_complete("t", "2024-02")
    led.mark_complete("dim", None)
    rows = {
        (r["table_name"], r["primary_partition_value"]): r
        for r in led.read().collect()
    }
    assert len(rows) == 4
    assert rows[("t", "2024-01")]["start_date"] == start
    assert rows[("t", "2024-01")]["end_date"] == done
    assert rows[("t", "2024-02")]["start_date"] == start
    assert rows[("t", "2024-02")]["is_complete"] == "t"
    assert rows[("t", "2024-02")]["end_date"] is not None
    assert rows[("dim", None)]["is_complete"] == "t"
    assert rows[("dim", None)]["num_mappers"] == 2
    assert led.next_pending("t") == "2024-03"
    # the engine session reads the driver-written timestamps as timestamps
    assert isinstance(rows[("t", "2024-03")]["start_date"], dt.datetime)


def test_concurrent_writers_lose_no_rows(spark, tmp_path):
    """Writers enqueue different tables into one ledger path at the same
    time; the write lock serializes each read-modify-write, so no
    snapshot swap drops another writer's rows."""
    import sys
    import threading

    path = str(tmp_path / "shared")
    tables = [f"t{k}" for k in range(6)]  # more writers than cores
    errors = []

    def writer(table):
        try:
            led = Ledger(spark, path)
            for i in range(20):
                led.enqueue_new([f"p{i:02d}"], table, "db", "m", 1)
        except Exception as exc:  # surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(t,)) for t in tables]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    rows = Ledger(spark, path).read().collect()
    assert sorted((r["table_name"], r["primary_partition_value"]) for r in rows) == [
        (t, f"p{i:02d}") for t in tables for i in range(20)
    ]


def test_ledger_calls_launch_no_spark_job(spark, spark_jobs, tmp_path):
    """The ledger is driver-side bookkeeping: none of its calls may
    launch a Spark job."""
    path = str(tmp_path / "nojobs")

    def bookkeeping():
        led = Ledger(spark, path)
        led.enqueue_whole_table("dim", "db", 1)
        led.enqueue_new(["2024-01", "2024-02"], "t", "db", "m", 1)
        assert led.pending_exists("t")
        assert led.next_pending("t") == "2024-01"
        led.mark_complete("t", "2024-01")
        assert led.apply_once("s#0", lambda: None)
        led.delete_table("dim")

    assert spark_jobs("ledger-no-jobs", bookkeeping) == []
    # the probe does see jobs: a Spark read of the same ledger launches one
    assert spark_jobs("ledger-spark-read", lambda: Ledger(spark, path).read().count())


def test_apply_once_runs_each_key_once(spark, ledger):
    calls = []
    assert ledger.apply_once("s#1", calls.append, 1)
    assert not ledger.apply_once("s#1", calls.append, 1)  # replay: skipped

    def crash():
        raise RuntimeError("crash before the mark")

    with pytest.raises(RuntimeError):
        ledger.apply_once("s#2", crash)
    assert ledger.pending_exists("s#2")  # not marked: the replay runs it
    assert ledger.apply_once("s#2", calls.append, 2)
    assert calls == [1, 2]
