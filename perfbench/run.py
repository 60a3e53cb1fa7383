"""Benchmark of the spark-etl-engine: one workload per run, in a fresh process.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from anywhere inside a checkout.  The run sets up Spark at
``local[nproc]``, prepares its inputs, runs one untimed warm pass (all of
that is ``setup_s``), then runs whole timed passes while the next one is
expected to end within ``--seconds`` (at least one).  With ``--trace 1``
it then runs one more pass with spans around the engine's layers and
reports per-layer metrics instead of end-to-end ones.  Outputs are
checked after the timed passes.
The last line of stdout is one JSON object: correct, attempted, failed,
metrics.  ``--workload all`` runs every workload, each in its own process,
and prints a table.  See NOTES.md for what each metric means.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from statistics import geometric_mean, median  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "vertica_hadoop_integration__spark"
STATE = os.path.join(ROOT, ".perfbench")  # run scratch, traces, oracle cache
DRIVER_MEM = "4g"
LAYERS = ("pipeline", "ledger", "locking", "readers", "writers", "jdbc",
          "streaming", "plans")
WORKLOAD_NAMES = ("backup_incremental", "stream_ingest", "query_mix")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "query_geomean_s": "s",
    "heap_live_mb": "MB",
    "worker_rss_mb": "MB",
}


def per_layer_units(queries: list[str]) -> dict[str, str]:
    """Every per-layer metric, in report order, with its unit."""
    units = {"session.get_session_s": "s", "pipeline.run_incremental_s": "s",
             "pipeline.enqueue_pending_s": "s", "pipeline.backup_partition_s": "s",
             "pipeline.backup_partition_n": "count"}
    for m in ("init", "next_pending", "pending_exists", "mark_complete",
              "enqueue_new", "enqueue_whole_table"):
        units[f"ledger.{m}_s"] = "s"
        units[f"ledger.{m}_n"] = "count"
    units.update({
        "ledger.jobs": "count", "ledger.share": "ratio",
        "locking.acquire_s": "s", "locking.acquire_n": "count",
        "readers.load_table_s": "s", "readers.load_table_n": "count",
        "writers.write_atomic_s": "s", "writers.write_atomic_n": "count",
        "writers.bytes_written": "bytes", "writers.files_written": "count",
        "jdbc.write_jdbc_atomic_s": "s", "jdbc.read_partitioned_s": "s",
        "streaming.trigger_ms_p50": "ms", "streaming.add_batch_ms_p50": "ms",
        "streaming.wal_commit_ms_p50": "ms",
    })
    for layer in LAYERS:
        units[f"{layer}.self_s"] = "s"
    for q in queries:
        units[f"plans.{q}_s"] = "s"
        units[f"plans.{q}_jobs"] = "count"
    units.update({
        "operators.shuffle_bytes": "bytes", "functions.python_rows": "count",
        "functions.python_bytes_sent": "bytes",
        "functions.python_bytes_received": "bytes", "trace.overhead_s": "s",
    })
    return units


# -- statistics --------------------------------------------------------------
def tail(vals) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it, but never
    below the median; with ten samples or fewer, the maximum.
    Returns (value, samples beyond it)."""
    vals = sorted(vals)
    idx = len(vals) - 11 if len(vals) > 10 else len(vals) - 1
    idx = max(idx, len(vals) // 2)
    return vals[idx], len(vals) - 1 - idx


# -- processes and memory ----------------------------------------------------
def _proc_table() -> dict[int, tuple[int, str, str]]:
    """pid -> (ppid, comm, state) for every process visible in /proc."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1: stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2:].split()
        table[int(entry)] = (int(fields[1]), comm, fields[0])
    return table


def descendants(pid: int) -> list[int]:
    table = _proc_table()
    found, frontier = [], [pid]
    while frontier:
        parent = frontier.pop()
        kids = [p for p, (pp, _, _) in table.items() if pp == parent]
        found += kids
        frontier += kids
    return found


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def python_rss_mb(jvm_pid: int) -> tuple[float, int]:
    """RSS of this driver process plus every Python worker under the JVM."""
    table = _proc_table()
    workers = [p for p in descendants(jvm_pid) if "python" in table.get(p, (0, "", ""))[1]]
    return rss_mb(os.getpid()) + sum(rss_mb(p) for p in workers), len(workers)


def heap_live_mb(spark) -> float:
    """JVM heap in use after forced full collections.  A collection lets
    Spark's ContextCleaner drop blocks of the RDDs, shuffles and broadcasts
    it freed, which the next collection reclaims; collect until two
    readings agree within 1%."""
    gc.collect()  # drop Python proxies, so py4j releases the JVM objects behind them
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    prev = None
    for _ in range(8):
        jvm.System.gc()
        used = bean.getHeapMemoryUsage().getUsed()
        if prev is not None and abs(used - prev) <= 0.01 * prev:
            break
        prev = used
        time.sleep(0.5)
    return used / 2**20


def _alive(pid: int) -> bool:
    state = _proc_table().get(pid)
    return state is not None and state[2] != "Z"


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until it and its workers are gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = descendants(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while any(_alive(p) for p in children) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in children:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


# -- provenance --------------------------------------------------------------
def provenance(run) -> dict:
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True).stdout.strip() or None
    src = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(os.path.join(ROOT, PKG)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    src.update(f.encode() + fh.read())
    return {
        "nproc": run.nproc,
        "master": run.spark.sparkContext.master,
        "shuffle_partitions": run.spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": DRIVER_MEM,
        "git_sha": sha,
        "source_sha256": src.hexdigest()[:16],
        "loadavg_start": run.loadavg_start,
        "loadavg_end": os.getloadavg(),
        "fixture_dir": run.sf_dir,
    }


def fixture_dir() -> str:
    """The sf0.1 fixtures; ``SPARK_GRAFT_SF_DIR`` overrides."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        import __spark_entry__

        sf_dir = os.path.join(os.path.dirname(__spark_entry__._SMOKE_SF_DIR), "sf0.1")
    return sf_dir


# -- one workload ------------------------------------------------------------
def setup_process(workload: str) -> tuple[str, int]:
    """Environment for Spark and its Python workers; a private work dir."""
    nproc = len(os.sched_getaffinity(0))
    os.environ.update(SPARK_GRAFT_CPUS=str(nproc),
                      SPARK_GRAFT_SHUFFLE_PARTITIONS=str(nproc),
                      SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM)
    os.environ.pop("SPARK_MASTER", None)
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + paths)
    work = os.path.join(STATE, f"run-{workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.chdir(work)  # derby.log, metastore_db and friends land here
    sys.path.insert(0, ROOT)
    return work, nproc


def run_workload(args) -> int:
    work, nproc = setup_process(args.workload)
    # a terminated run still removes its work dir; the JVM ends with us
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run_workload(args, work, nproc)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def _run_workload(args, work: str, nproc: int) -> int:
    loadavg_start = os.getloadavg()
    sf_dir = fixture_dir()
    if not os.path.isfile(os.path.join(sf_dir, "orders.parquet")):
        print(f"perfbench: no fixtures at {sf_dir}", file=sys.stderr)
        return 2

    from vertica_hadoop_integration__spark.session import get_session

    import oracle
    import tracing
    import workloads

    t = time.perf_counter()
    spark = get_session(
        f"perfbench-{args.workload}",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    try:
        run = SimpleNamespace(
            spark=spark, sf_dir=sf_dir, work_dir=work,
            seed=args.seed, nproc=nproc, loadavg_start=loadavg_start,
            oracles=oracle.OracleCache(os.path.join(STATE, "oracle"), sf_dir, nproc),
        )
        wl = workloads.WORKLOADS[args.workload](run)
        wl.prepare()
        wl.warm()
        setup_s = time.perf_counter() - _T0

        # whole passes while the next one is expected to end within --seconds
        results = []
        t_loop = time.perf_counter()
        while not results or (
            time.perf_counter() - t_loop + results[-1].wall <= args.seconds
        ):
            results.append(wl.run_pass(len(results)))
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        heap_mb = heap_live_mb(spark)
        py_rss_mb, n_workers = python_rss_mb(jvm_pid)

        traced, tracer = [], None
        if args.trace:
            tracer = tracing.Tracer(spark)
            tracer.install()
            tracer.op = f"{args.workload}:{len(results)}"
            try:
                traced.append(wl.run_pass(len(results), tracer))
            finally:
                tracer.uninstall()
            tracer.count_jobs()

        wl.verify(results + traced)
        run.oracles.close()
        prov = provenance(run)
    except Exception:
        traceback.print_exc()
        stop_spark(spark)
        return 1
    stop_spark(spark)

    attempted = sum(r.attempted for r in results + traced)
    failures = [f for r in results + traced for f in r.failures]
    for f in failures:
        print(f"# FAILED {f}", file=sys.stderr)
    samples = [lat for r in results for _, lat in r.ops]
    if not samples:
        print("# no op completed", file=sys.stderr)
        return 1
    by_op: dict[str, list[float]] = {}
    for r in results:
        for name, lat in r.ops:
            by_op.setdefault(name, []).append(lat)
    tail_s, beyond = tail(samples)
    report = {
        "setup_s": setup_s,
        "pass_s": median([r.wall for r in results]),
        "op_p50_s": median(samples),
        "op_tail_s": tail_s,
        "query_geomean_s": geometric_mean([median(v) for v in by_op.values()]),
        "heap_live_mb": heap_mb,
        "worker_rss_mb": py_rss_mb,
    }
    units = dict(END_TO_END)
    notes = {
        "passes": len(results),
        "ops": " ".join(f"{n}={lat:.3f}" for r in results for n, lat in r.ops),
        "op_tail_s": f"p{100 * (len(samples) - beyond) / len(samples):.1f} of "
                     f"{len(samples)} ops, {beyond} beyond",
        "worker_rss_mb": f"driver + {n_workers} Python workers",
        "failed_share": f"{len(failures)}/{attempted}",
    }
    if args.trace:
        units = per_layer_units(list(workloads.QueryMix.QUERIES))
        report = layer_report(tracer, traced[0], results, wl, units, session_s)
        notes["ledger.share"] = (
            f"ledger self {report['ledger.self_s']:.3f} s of traced pass_s "
            f"{traced[0].wall:.3f} s")
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        tracer.dump(os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.jsonl"))

    print("# provenance " + json.dumps(prov), file=sys.stderr)
    for key, val in notes.items():
        print(f"# {key}: {val}", file=sys.stderr)
    for name, unit in units.items():
        print(f"# {name} = {report[name]:.6g} {unit}", file=sys.stderr)
    sys.stderr.flush()
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": report[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def layer_report(tracer, traced, untraced, wl, units, session_s) -> dict:
    out = {name: 0.0 for name in units}
    out["session.get_session_s"] = session_s
    spans = tracer.spans
    own = tracer.self_times(spans)
    jobs = {s.id: s.jobs for s in spans}
    for s in reversed(spans):  # children have higher ids than their parents
        if s.parent is not None:
            jobs[s.parent] += jobs[s.id]
    by_id = {s.id: s for s in spans}
    for s in spans:
        for key, val in ((f"{s.name}_s", s.end - s.start), (f"{s.name}_n", 1),
                         (f"{s.layer}.self_s", own[s.id])):
            if key in out:
                out[key] += val
        if s.layer == "plans":
            out[f"{s.name}_jobs"] = jobs[s.id]
        parent = by_id.get(s.parent)
        if s.layer == "ledger" and (parent is None or parent.layer != "ledger"):
            out["ledger.jobs"] += jobs[s.id]
    out["ledger.share"] = out["ledger.self_s"] / traced.wall
    for sink in traced.sinks:
        for dirpath, _, files in os.walk(sink):
            for f in files:
                if not f.startswith((".", "_")):
                    out["writers.files_written"] += 1
                    out["writers.bytes_written"] += os.path.getsize(os.path.join(dirpath, f))
    out.update(wl.layer_metrics(untraced + [traced]))
    out["trace.overhead_s"] = traced.wall - median([r.wall for r in untraced])
    return out


# -- every workload ----------------------------------------------------------
def run_all(args) -> int:
    merged, ok, attempted, failed = {}, True, 0, 0
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"perfbench: {name} exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        res = json.loads(lines[-1])
        ok &= res["correct"]
        attempted += res["attempted"]
        failed += res["failed"]
        print(f"{name}  failed_share = {res['failed']}/{res['attempted']}")
        for metric, m in res["metrics"].items():
            print(f"{name}  {metric} = {m['value']:.6g} {m['unit']}")
            merged[f"{name}/{metric}"] = m
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": merged}))
    return 0


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    parser.add_argument("--seed", type=int, default=0)
    parser.add_argument("--seconds", type=float, default=10)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: no {PKG} package in {ROOT}; run it from a full checkout",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
