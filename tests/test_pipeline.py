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


def _m_spec(tmp_path, num_partitions=2, skip_latest=0):
    return JobSpec(
        table_name="t",
        source_path="",
        target_path=str(tmp_path / "out"),
        primary_id="m",
        num_partitions=num_partitions,
        skip_latest=skip_latest,
        output_format="parquet",
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_drain_commits_special_values_to_their_own_dirs(spark, tmp_path):
    """Spark %XX-escapes partition dir names and writes '' as
    __HIVE_DEFAULT_PARTITION__; every value must still land, with only its
    rows and a _SUCCESS marker, at ``<target>/m=<value>``."""
    values = ["a:b", "50%", "k=v", "x#y", "sp ace", "héllo", "", "a/b",
              "__HIVE_DEFAULT_PARTITION__"]
    src = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values * 3)], "id int, m string"
    )
    spec = _m_spec(tmp_path)
    done = run_incremental(spark, spec, src, str(tmp_path / "ledger"))
    want = [os.path.join(spec.target_path, f"m={v}") for v in sorted(values)]
    assert done == want
    for v, d in zip(sorted(values), done):
        assert os.path.exists(os.path.join(d, "_SUCCESS"))
        assert _rows(spark.read.parquet(d)) == _rows(src.filter(F.col("m") == v))


def test_drain_gives_a_rowless_value_an_empty_dir(spark, tmp_path):
    """A pending value with no source rows (left by an earlier run) still
    gets a readable 0-row dir with the source's schema, and its flip."""
    src = spark.createDataFrame(
        [(1, "2024-01"), (2, "2024-02")], "id int, m string"
    )
    spec = _m_spec(tmp_path)
    ledger_path = str(tmp_path / "ledger")
    Ledger(spark, ledger_path).enqueue_new(["2023-12"], "t", "default", "m", 2)
    done = run_incremental(spark, spec, src, ledger_path)
    assert [os.path.basename(d) for d in done] == ["m=2023-12", "m=2024-01", "m=2024-02"]
    empty = spark.read.parquet(done[0])
    assert empty.schema == src.schema and empty.count() == 0
    assert os.path.exists(os.path.join(done[0], "_SUCCESS"))
    assert not Ledger(spark, ledger_path).pending_exists("t")


def _debris(root):
    return [
        name
        for _, dirs, files in os.walk(root)
        for name in dirs + files
        if ".inprogress" in name or ".replaced" in name
    ]


def _fail_after_write(monkeypatch, module):
    """Make ``module.write_columnar`` write its files, then raise."""
    write_columnar = module.write_columnar

    def failing(df, path, **kwargs):
        write_columnar(df, path, **kwargs)
        raise OSError("write failed")

    monkeypatch.setattr(module, "write_columnar", failing)


def test_drain_write_failure_removes_its_staging(spark, tmp_path, monkeypatch):
    import pytest

    from vertica_hadoop_integration__spark import pipeline

    src = spark.createDataFrame(
        [(i, f"2024-0{i % 3 + 1}") for i in range(30)], "id int, m string"
    )
    spec = _m_spec(tmp_path)
    ledger_path = str(tmp_path / "ledger")
    _fail_after_write(monkeypatch, pipeline)
    with pytest.raises(OSError, match="write failed"):
        run_incremental(spark, spec, src, ledger_path)
    assert os.listdir(spec.target_path) == []
    assert Ledger(spark, ledger_path).pending("t") == ["2024-01", "2024-02", "2024-03"]


def test_write_atomic_failed_write_leaves_committed_data_and_no_debris(
    spark, tmp_path, monkeypatch
):
    import pytest

    from vertica_hadoop_integration__spark.sources import writers

    src = spark.createDataFrame([(1, "a"), (2, "b")], "id int, m string")
    path = str(tmp_path / "t")
    write_atomic(src, path, output_format="parquet")
    _fail_after_write(monkeypatch, writers)
    with pytest.raises(OSError, match="write failed"):
        write_atomic(src.limit(1), path, output_format="parquet")
    assert spark.read.parquet(path).count() == 2
    assert _debris(tmp_path) == []


def test_drain_resumes_after_crash_between_commit_and_flip(spark, tmp_path, monkeypatch):
    """A crash after a partition's dir is committed but before its ledger
    flip: the re-run rewrites that partition and the rest, purges the
    dead run's staging, and ends with the same data as a clean drain."""
    import pytest

    src = spark.createDataFrame(
        [(i, f"2024-{i % 6 + 1:02d}") for i in range(60)], "id int, m string"
    )
    months = [f"2024-{k:02d}" for k in range(1, 7)]
    spec = _m_spec(tmp_path)
    ledger_path = str(tmp_path / "ledger")
    flips = []
    mark_complete = Ledger.mark_complete

    def crash_on_third(self, table_name, value):
        flips.append(value)
        if len(flips) == 3:
            raise RuntimeError("crash before flip")
        mark_complete(self, table_name, value)

    monkeypatch.setattr(Ledger, "mark_complete", crash_on_third)
    with pytest.raises(RuntimeError, match="crash before flip"):
        run_incremental(spark, spec, src, ledger_path)
    monkeypatch.undo()
    assert Ledger(spark, ledger_path).pending("t") == months[2:]
    assert os.path.isdir(os.path.join(spec.target_path, f"m={months[2]}"))
    os.makedirs(os.path.join(spec.target_path, ".inprogress-deadbeef", "junk"))

    rest = run_incremental(spark, spec, src, ledger_path)
    assert rest == [os.path.join(spec.target_path, f"m={m}") for m in months[2:]]
    assert not Ledger(spark, ledger_path).pending_exists("t")
    assert _debris(spec.target_path) == []

    clean = _m_spec(tmp_path / "clean")
    run_incremental(spark, clean, src, str(tmp_path / "clean_ledger"))
    for m in months:
        got = spark.read.parquet(os.path.join(spec.target_path, f"m={m}"))
        want = spark.read.parquet(os.path.join(clean.target_path, f"m={m}"))
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_drain_job_count_does_not_grow_with_partitions(spark, spark_jobs, tmp_path):
    """One drain is one write: 8 partitions launch as many Spark jobs as
    2, and each partition dir still gets ``num_partitions`` files."""
    src = spark.range(800).select(
        F.col("id"), F.format_string("2024-%02d", F.col("id") % 8 + 1).alias("m")
    )
    jobs = {}
    for n in (2, 8):
        spec = _m_spec(tmp_path / str(n), num_partitions=3, skip_latest=8 - n)
        jobs[n] = spark_jobs(
            f"drain-{n}",
            lambda: run_incremental(spark, spec, src, str(tmp_path / f"ledger{n}")),
        )
        dirs = sorted(os.listdir(spec.target_path))
        assert len(dirs) == n
        for d in dirs:
            files = os.listdir(os.path.join(spec.target_path, d))
            assert len([f for f in files if not f.startswith((".", "_"))]) == 3
    assert len(jobs[8]) == len(jobs[2])
