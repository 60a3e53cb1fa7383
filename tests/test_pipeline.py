"""End-to-end incremental pipeline tests: the E1 state machine recast
(SURVEY.md §3), format round-trips (FIXTURES.md §B), lock exclusion."""

import os

from pyspark.sql import functions as F

from vertica_hadoop_integration__spark.jobspec import JobSpec
from vertica_hadoop_integration__spark.ledger import Ledger
from vertica_hadoop_integration__spark.pipeline import JobLock, run_incremental
from vertica_hadoop_integration__spark.sources import load_table
from vertica_hadoop_integration__spark.sources.readers import read_csv_staging
from vertica_hadoop_integration__spark.sources.writers import write_atomic, write_columnar


def _orders_with_month(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").withColumn(
        "order_month", F.date_trunc("month", F.col("o_orderdate")).cast("date").cast("string")
    )


def test_incremental_backup_end_to_end(spark, sf_dir, tmp_path):
    src = _orders_with_month(spark, sf_dir)
    spec = JobSpec(
        table_name="orders",
        source_path=sf_dir,
        target_path=str(tmp_path / "out"),
        primary_id="order_month",
        num_partitions=4,
        skip_latest=0,
        output_format="parquet",
    )
    ledger_path = str(tmp_path / "ledger")
    done = run_incremental(spark, spec, src, ledger_path)
    n_months = src.select("order_month").distinct().count()
    assert len(done) == n_months
    # every partition dir holds exactly its slice
    total = 0
    for d in done:
        month = os.path.basename(d).split("=", 1)[1]
        got = spark.read.parquet(d)
        assert got.filter(F.col("order_month") != month).count() == 0
        total += got.count()
    assert total == src.count()
    # ledger fully complete
    led = Ledger(spark, ledger_path)
    assert not led.pending_exists("orders")

    # idempotent re-run: no new work
    done2 = run_incremental(spark, spec, src, ledger_path)
    assert done2 == []


def test_incremental_resume_after_partial(spark, sf_dir, tmp_path):
    src = _orders_with_month(spark, sf_dir)
    spec = JobSpec(
        table_name="orders",
        source_path=sf_dir,
        target_path=str(tmp_path / "out"),
        primary_id="order_month",
        num_partitions=2,
        output_format="parquet",
    )
    ledger_path = str(tmp_path / "ledger")
    first = run_incremental(spark, spec, src, ledger_path, max_iterations=3)
    assert len(first) == 3
    rest = run_incremental(spark, spec, src, ledger_path)
    n_months = src.select("order_month").distinct().count()
    assert len(first) + len(rest) == n_months
    # oldest-first ordering across the resume boundary
    months = [os.path.basename(d).split("=", 1)[1] for d in first + rest]
    assert months == sorted(months)


def test_whole_table_mode(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "nation")
    spec = JobSpec(
        table_name="nation",
        source_path=sf_dir,
        target_path=str(tmp_path / "out"),
        primary_id="",  # whole-table (advertiser_dim.yaml:4)
        num_partitions=2,
        output_format="parquet",
    )
    done = run_incremental(spark, spec, src, str(tmp_path / "ledger"))
    assert len(done) == 1 and done[0].endswith("full")
    assert spark.read.parquet(done[0]).count() == src.count()


def test_csv_staging_roundtrip(spark, sf_dir, tmp_path):
    li = load_table(spark, sf_dir, "lineitem").limit(200)
    path = str(tmp_path / "staging")
    write_columnar(li, path, output_format="csv")
    back = read_csv_staging(spark, path, li.schema)
    assert back.count() == 200
    assert [f.name for f in back.schema.fields] == [f.name for f in li.schema.fields]
    # value equality via order-insensitive anti-join both ways
    assert li.exceptAll(back).count() == 0
    assert back.exceptAll(li).count() == 0


def test_orc_roundtrip_with_reference_options(spark, sf_dir, tmp_path):
    o = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_orc")
    write_atomic(o, path, output_format="orc")
    back = spark.read.orc(path)
    assert back.schema == o.schema
    assert back.exceptAll(o).count() == 0 and o.exceptAll(back).count() == 0


def test_job_lock_mutual_exclusion(tmp_path):
    l1 = JobLock(str(tmp_path), "job")
    l2 = JobLock(str(tmp_path), "job")
    assert l1.acquire()
    assert not l2.acquire()  # held elsewhere -> exit 0 path (sqoop_etl.py:92-94)
    l1.release()
    assert l2.acquire()
    l2.release()


def test_job_lock_reclaims_dead_owner(tmp_path):
    """A lock whose recorded pid is dead must be reclaimed, not wedge the
    job forever (the hard-crash case)."""
    lock = JobLock(str(tmp_path), "job")
    # forge a lock file from a crashed process: pid that cannot be alive
    with open(lock.path, "w") as f:
        f.write("999999999")
    assert lock.acquire(), "dead-pid lock was not reclaimed"
    lock.release()
    assert not os.path.exists(lock.path)


def test_run_incremental_raises_distinct_locked_signal(spark, sf_dir, tmp_path):
    """Lock held by a LIVE process -> JobLockHeld, not an empty list
    (an empty list is indistinguishable from 'nothing pending')."""
    import pytest

    from vertica_hadoop_integration__spark.pipeline import JobLockHeld

    src = _orders_with_month(spark, sf_dir)
    spec = JobSpec(
        table_name="orders",
        source_path=sf_dir,
        target_path=str(tmp_path / "out"),
        primary_id="order_month",
        num_partitions=2,
        output_format="parquet",
    )
    ledger_path = str(tmp_path / "ledger")
    lock_dir = os.path.join(ledger_path, "_locks")
    holder = JobLock(lock_dir, "orders")
    assert holder.acquire()  # we are alive -> no reclaim
    try:
        with pytest.raises(JobLockHeld):
            run_incremental(spark, spec, src, ledger_path)
    finally:
        holder.release()


def test_pipeline_logs_every_step(spark, sf_dir, tmp_path, caplog):
    """P8 audit trail (EtlLogger, sqoop_etl.py:28): each pipeline step is
    logged with its parameters before/after execution."""
    import logging

    src = _orders_with_month(spark, sf_dir)
    spec = JobSpec(
        table_name="orders",
        source_path=sf_dir,
        target_path=str(tmp_path / "out"),
        primary_id="order_month",
        num_partitions=2,
        output_format="parquet",
    )
    with caplog.at_level(logging.INFO, logger="spark_etl.orders"):
        run_incremental(
            spark, spec, src, str(tmp_path / "ledger"), max_iterations=1
        )
    text = caplog.text
    for step in (
        "step=lock_acquired",
        "step=enqueue",
        "step=extract_start",
        "step=extract_done",
        "step=ledger_flip",
        "step=drained",
        "step=lock_released",
    ):
        assert step in text, f"missing audit step: {step}"
    assert "job=orders" in text


def test_write_atomic_overwrite_leaves_no_debris(spark, sf_dir, tmp_path):
    """Overwrite commits the new data, removes the moved-aside old copy,
    and never leaves .replaced/.inprogress dirs on the happy path."""
    n1 = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "t")
    write_atomic(n1, path, output_format="parquet")
    write_atomic(n1.limit(5), path, output_format="parquet")
    assert spark.read.parquet(path).count() == 5
    debris = [p for p in os.listdir(tmp_path) if ".replaced" in p or ".inprogress" in p]
    assert debris == []


def test_cli_pause_file_skips_run(tmp_path, capsys):
    from vertica_hadoop_integration__spark.cli import RC_PAUSED, main

    pause = tmp_path / "PAUSE"
    pause.write_text("maintenance")
    rc = main(
        ["run", "nonexistent.yaml", "--pause-file", str(pause)]
    )
    assert rc == RC_PAUSED
    assert "ALERT" in capsys.readouterr().err


def test_compact_path_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    from vertica_hadoop_integration__spark.sources.maintenance import compact_path
    from vertica_hadoop_integration__spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    path = str(tmp_path / "frag")
    li.repartition(40).write.parquet(path)  # simulate 40 mapper files
    before = li.count()
    stats = compact_path(spark, path, target_file_bytes=8 * 1024 * 1024)
    assert stats["files_after"] < stats["files_before"]
    after_df = spark.read.parquet(path)
    assert after_df.count() == before
    # content identical, not just row count
    assert after_df.exceptAll(li).count() == 0


def test_jsonl_staging_roundtrip(spark, sf_dir, tmp_path):
    """JSONL write -> schema-on-read -> values identical (the ingest
    format of jsonl_ingest_roundtrip, oracle-checked since r07)."""
    d = load_table(spark, sf_dir, "documents").limit(200)
    path = str(tmp_path / "jsonl")
    d.write.mode("overwrite").json(path)
    back = spark.read.schema(d.schema).json(path)
    assert back.count() == 200
    assert d.exceptAll(back).count() == 0
    assert back.exceptAll(d).count() == 0


def test_jsonl_corrupt_record_preserves_raw_line(spark, sf_dir):
    """PERMISSIVE ingest keeps the bad line's RAW TEXT in _corrupt_record
    (auditable, re-parseable later) and parses every good line."""
    from pyspark.sql import functions as F

    from vertica_hadoop_integration__spark.sources import load_table

    import tempfile

    d = load_table(spark, sf_dir, "documents").limit(100)
    line = F.when(
        F.col("doc_id") % 7 != 0,
        F.concat(F.lit('{"doc_id":'), F.col("doc_id"), F.lit("}")),
    ).otherwise(F.concat(F.lit('{"doc_id":'), F.col("doc_id"), F.lit(',"x":"e')))
    tmp = tempfile.mkdtemp(prefix="jsonl_raw_")
    d.select(line.alias("value")).write.mode("overwrite").text(f"{tmp}/raw")
    parsed = (
        spark.read.schema("doc_id long, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(f"{tmp}/raw")
    ).collect()
    assert len(parsed) == 100
    bad = [r for r in parsed if r._corrupt_record is not None]
    good = [r for r in parsed if r._corrupt_record is None]
    assert all(r.doc_id % 7 != 0 for r in good)
    for r in bad:
        # the raw malformed line is preserved verbatim and names its id
        assert r._corrupt_record.startswith('{"doc_id":')
        assert r._corrupt_record.endswith(',"x":"e')
        assert int(r._corrupt_record.split(":")[1].split(",")[0]) % 7 == 0


def test_csv_corrupt_record_preserves_raw_line(spark, sf_dir):
    """CSV twin: a typed-field parse failure (text in a BIGINT column)
    lands the raw line in _corrupt_record; good lines parse fully."""
    from pyspark.sql import functions as F

    from vertica_hadoop_integration__spark.sources import load_table

    import tempfile

    d = load_table(spark, sf_dir, "documents").limit(100)
    line = F.when(
        F.col("doc_id") % 7 != 0,
        F.concat(F.col("doc_id"), F.lit(","), F.col("lang")),
    ).otherwise(
        F.concat(F.lit("id_"), F.col("doc_id"), F.lit(","), F.col("lang"))
    )
    tmp = tempfile.mkdtemp(prefix="csv_raw_")
    d.select(line.alias("value")).write.mode("overwrite").text(f"{tmp}/raw")
    parsed = (
        spark.read.schema("doc_id long, lang string, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(f"{tmp}/raw")
    ).collect()
    assert len(parsed) == 100
    bad = [r for r in parsed if r._corrupt_record is not None]
    good = [r for r in parsed if r._corrupt_record is None]
    assert all(r.doc_id % 7 != 0 and r.lang is not None for r in good)
    assert {int(r._corrupt_record[3:].split(",")[0]) for r in bad} == {
        i for i in range(100) if i % 7 == 0
    }
    for r in bad:
        # raw malformed line preserved verbatim: bad field AND the rest
        assert r._corrupt_record.startswith("id_")
        assert "," in r._corrupt_record
        assert r.doc_id is None  # the unparseable typed field is NULL


def test_null_partition_value_raises_and_writes_nothing(spark, tmp_path):
    """A NULL partition value would alias the whole-table row and never
    match the ledger on a re-run (the drain would rewrite ``full``
    forever); the drain must refuse it before enqueueing anything."""
    import pytest

    src = spark.createDataFrame(
        [(1, "2024-01"), (2, "2024-02"), (3, None)], "id int, m string"
    )
    spec = JobSpec(
        table_name="t",
        source_path="",
        target_path=str(tmp_path / "out"),
        primary_id="m",
        num_partitions=1,
        output_format="parquet",
    )
    ledger_path = str(tmp_path / "ledger")
    for _ in range(2):
        with pytest.raises(ValueError, match="'m'"):
            run_incremental(spark, spec, src, ledger_path)
    assert not os.path.exists(tmp_path / "out")
    assert Ledger(spark, ledger_path).read().count() == 0
