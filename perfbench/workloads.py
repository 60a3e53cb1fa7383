"""The benchmark's closed-loop workloads.

Each workload prepares its inputs, runs one untimed warm pass, then runs
timed passes; every op starts only after the previous one has finished.
A pass returns its wall time and one latency sample per op.  Checks that
read results back run after the timed passes, in ``verify``.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field
from statistics import median

from pyspark.sql import functions as F

from vertica_hadoop_integration__spark import pipeline
from vertica_hadoop_integration__spark.jobspec import JobSpec
from vertica_hadoop_integration__spark.ledger import Ledger
from vertica_hadoop_integration__spark.sources import load_table
from vertica_hadoop_integration__spark.streaming import loader

import oracle
import tracing


@dataclass
class PassResult:
    wall: float
    ops: list[tuple[str, float]]  # (op name, latency in seconds)
    attempted: int
    failures: list[str] = field(default_factory=list)
    sinks: list[str] = field(default_factory=list)  # dirs the pass wrote
    detail: dict = field(default_factory=dict)


class Workload:
    name = ""

    def __init__(self, run):
        self.run = run
        self.spark = run.spark

    def prepare(self) -> None:
        pass

    def warm(self) -> None:
        raise NotImplementedError

    def run_pass(self, index: int, tracer=None) -> PassResult:
        raise NotImplementedError

    def verify(self, results: list[PassResult]) -> None:
        """Append failures to each result; runs after the timed passes."""

    def layer_metrics(self, results: list[PassResult]) -> dict[str, float]:
        return {}


# -- backup_incremental ------------------------------------------------------
class BackupIncremental(Workload):
    """The reference's core loop: lock -> enqueue unseen months of
    ``orders`` -> extract oldest pending month to ORC -> flip its ledger
    row, until drained, then an idempotent re-run that must write nothing."""

    name = "backup_incremental"
    # newest months left out of the drained backlog (SKIP_LATEST_MONTHS)
    SKIP_LATEST = 68
    WARM_PARTITIONS = 4

    def prepare(self) -> None:
        self.source = load_table(self.spark, self.run.sf_dir, "orders").withColumn(
            "o_month", F.date_format("o_orderdate", "yyyy-MM")
        )

    def _spec(self, target: str) -> JobSpec:
        return JobSpec(
            table_name="orders",
            source_path=self.run.sf_dir,
            target_path=target,
            primary_id="o_month",
            num_partitions=self.run.nproc,
            skip_latest=self.SKIP_LATEST,
        )

    def warm(self) -> None:
        d = os.path.join(self.run.work_dir, "warm_backup")
        pipeline.run_incremental(
            self.spark, self._spec(os.path.join(d, "out")), self.source,
            os.path.join(d, "ledger"), max_iterations=self.WARM_PARTITIONS)

    def run_pass(self, index: int, tracer=None) -> PassResult:
        d = os.path.join(self.run.work_dir, f"backup_{index}")
        out, ledger_path = os.path.join(d, "out"), os.path.join(d, "ledger")
        spec = self._spec(out)
        failures = []
        t0 = time.perf_counter()
        # module attribute lookups, so a traced pass sees the wrapped calls
        done = pipeline.run_incremental(self.spark, spec, self.source, ledger_path)
        again = pipeline.run_incremental(self.spark, spec, self.source, ledger_path)
        wall = time.perf_counter() - t0
        if again:
            failures.append(f"re-run wrote {len(again)} partitions")
        return PassResult(wall=wall, ops=[], attempted=len(done) + 1,
                          failures=failures, sinks=[out],
                          detail={"ledger": ledger_path})

    def verify(self, results: list[PassResult]) -> None:
        expected = {
            r["o_month"]: r["count"]
            for r in self.source.groupBy("o_month").count().collect()
        }
        months = sorted(expected)
        backlog = months[: len(months) - self.SKIP_LATEST]
        for res in results:
            ledger = Ledger(self.spark, res.detail["ledger"]).read().collect()
            stamps = sorted(r["end_date"] for r in ledger if r["end_date"] is not None)
            # partition latency: gap between consecutive completion stamps
            res.ops = [
                (f"partition_{i}", (b - a).total_seconds())
                for i, (a, b) in enumerate(zip(stamps, stamps[1:]), start=1)
            ]
            incomplete = [r for r in ledger if r["is_complete"] != "t"]
            if incomplete or len(ledger) != len(backlog):
                res.failures.append(
                    f"ledger has {len(ledger)} rows, {len(incomplete)} incomplete; "
                    f"backlog is {len(backlog)}")
            out = res.sinks[0]
            got = {
                r["o_month"]: r["count"]
                for r in self.spark.read.orc(os.path.join(out, "o_month=*"))
                .groupBy("o_month").count().collect()
            }
            for m in backlog:
                if got.get(m) != expected[m]:
                    res.failures.append(f"month {m}: {got.get(m)} rows, want {expected[m]}")
            extra = set(got) - set(backlog)
            if extra:
                res.failures.append(f"unexpected months written: {sorted(extra)}")


# -- stream_ingest -----------------------------------------------------------
class StreamIngest(Workload):
    """``events`` split into files that arrive one per micro-batch
    (availableNow, maxFilesPerTrigger=1); each batch builds a Ledger,
    enqueues a whole-table key, writes ORC atomically and flips the key."""

    name = "stream_ingest"
    FILES = 12
    WARM_FILES = 3
    MTIME_BASE = 1_600_000_000  # file arrival order is set through mtimes

    def prepare(self) -> None:
        spark, work = self.spark, self.run.work_dir
        events = load_table(spark, self.run.sf_dir, "events")
        self.schema = events.schema
        src = os.path.join(work, "stream_src")
        events.repartitionByRange(self.FILES, "event_id").write.parquet(src)
        files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
        if len(files) != self.FILES:
            raise RuntimeError(f"split events into {len(files)} files, want {self.FILES}")
        random.Random(self.run.seed).shuffle(files)
        warm = os.path.join(work, "stream_warm_src")
        os.makedirs(warm)
        for k, f in enumerate(files):
            os.utime(os.path.join(src, f), (self.MTIME_BASE + k,) * 2)
            if k < self.WARM_FILES:
                os.link(os.path.join(src, f), os.path.join(warm, f))
        self.src, self.warm_src = src, warm

    def _stream(self, src: str, d: str):
        reader = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = loader.stream_load(
            reader, os.path.join(d, "dest"), os.path.join(d, "ledger"),
            checkpoint_dir=os.path.join(d, "checkpoint"))
        q.awaitTermination(150)
        if q.isActive:
            q.stop()
            raise RuntimeError("stream did not drain within 150 s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q

    def warm(self) -> None:
        self._stream(self.warm_src, os.path.join(self.run.work_dir, "stream_warm"))

    def run_pass(self, index: int, tracer=None) -> PassResult:
        d = os.path.join(self.run.work_dir, f"stream_{index}")
        t0 = time.perf_counter()
        q = self._stream(self.src, d)
        wall = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        ops = [(f"batch_{p['batchId']}", p["durationMs"]["triggerExecution"] / 1000)
               for p in progress]
        return PassResult(wall=wall, ops=ops, attempted=self.FILES,
                          sinks=[os.path.join(d, "dest")],
                          detail={"progress": progress})

    def verify(self, results: list[PassResult]) -> None:
        want = self.spark.read.parquet(self.src).count()
        for res in results:
            dest = res.sinks[0]
            batches = [b for b in os.listdir(dest) if b.startswith("batch=")]
            got = self.spark.read.orc(os.path.join(dest, "batch=*")).count()
            if got != want:
                res.failures.append(f"landed {got} rows, want {want}")
            if len(batches) != self.FILES or len(res.ops) != self.FILES:
                res.failures.append(
                    f"{len(batches)} batch dirs and {len(res.ops)} batches, "
                    f"want {self.FILES}")

    def layer_metrics(self, results: list[PassResult]) -> dict[str, float]:
        out = {}
        for key, name in (("triggerExecution", "trigger_ms_p50"),
                          ("addBatch", "add_batch_ms_p50"),
                          ("walCommit", "wal_commit_ms_p50")):
            vals = [p["durationMs"][key] for r in results for p in r.detail["progress"]]
            out[f"streaming.{name}"] = median(vals)
        return out


# -- query_mix ---------------------------------------------------------------
class QueryMix(Workload):
    """Operator kernels and the Python/Arrow boundary (LLM curation) beside
    short generated-SQL and TPC-H queries whose cost is mostly per-job
    overhead, plus the Spark <-> JDBC bridge.  The queries run in a seeded
    order per pass; each result is collected, then checked against its
    DuckDB oracle."""

    name = "query_mix"
    QUERIES = (
        # LLM-data curation kernels
        "dedup_minhash_lsh",
        "ann_cosine_topk",
        "text_bpe_encode",  # the Python/Arrow boundary (mapInPandas)
        # the reference's generated-SQL surface
        "s1_next_pending",
        "s6_distinct_partitions",
        "s10_pending_pipeline",
        "s12_salt_round_robin",
        "s19_csv_orc_roundtrip",
        # TPC-H
        "q1_pricing_summary",
        "q3_shipping_priority",
        # the Spark <-> JDBC bridge, on embedded Derby
        "jdbc_write_roundtrip",
    )

    def prepare(self) -> None:
        from vertica_hadoop_integration__spark.plans import ORACLES, QUERIES

        self.fns, self.oracles = QUERIES, ORACLES

    def _order(self, index: int) -> list[str]:
        order = list(self.QUERIES)
        random.Random(self.run.seed * 1000 + index).shuffle(order)
        return order

    def warm(self) -> None:
        for name in self._order(-1):
            self.fns[name](self.spark, self.run.sf_dir).collect()
            self.spark.catalog.clearCache()

    def _query(self, name: str):
        df = self.fns[name](self.spark, self.run.sf_dir)
        rows = df.collect()
        self.spark.catalog.clearCache()
        return df, rows

    def run_pass(self, index: int, tracer=None) -> PassResult:
        ops, failures, digests, plan = [], [], {}, {}
        wall = 0.0
        for name in self._order(index):
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    df, rows = self._query(name)
                else:
                    tracer.op = f"{self.name}:{index}:{name}"
                    df, rows = tracer.call(f"plans.{name}", self._query, name)
            except Exception as e:  # noqa: BLE001 — one failed query must not void the pass
                wall += time.perf_counter() - t0
                failures.append(f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:200]}")
                continue
            dt = time.perf_counter() - t0
            wall += dt
            ops.append((name, dt))
            digests[name] = oracle.digest(rows, df.columns)
            if tracer is not None:
                plan[name] = tracing.plan_metrics(df)
        return PassResult(wall=wall, ops=ops, attempted=len(self.QUERIES),
                          failures=failures, detail={"digests": digests, "plan": plan})

    def verify(self, results: list[PassResult]) -> None:
        for res in results:
            for name, got in res.detail["digests"].items():
                want = self.run.oracles.expected(name, self.oracles[name])
                if got != want:
                    res.failures.append(f"{name}: rows/digest {got}, oracle {want}")

    def layer_metrics(self, results: list[PassResult]) -> dict[str, float]:
        out = {}
        for res in results:
            for per_query in res.detail["plan"].values():
                for key, val in per_query.items():
                    layer = "operators" if key == "shuffle_bytes" else "functions"
                    out[f"{layer}.{key}"] = out.get(f"{layer}.{key}", 0) + val
        return out


WORKLOADS = {w.name: w for w in (BackupIncremental, StreamIngest, QueryMix)}
