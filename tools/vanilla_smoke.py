"""Vanilla-session parity smoke: run EVERY registered query on a bare
SparkSession — driver-style, none of session.py's engine confs (no AQE
tuning, no UTC pin, no nanosAsLong legacy flag, default shuffle
partitions) — and execute plan-build + limit(1) for each. Catches any
query whose correctness or even runnability silently depends on the
engine's session configuration (the driver's harness builds its OWN
session, so conf-dependence would pass every local gate and fail there).

Must run in a FRESH interpreter/JVM: inside the test suite's process,
SparkSession.builder.getOrCreate() would hand back the tuned engine
session. tests/test_vanilla_session.py invokes this as a subprocess.

Usage: python tools/vanilla_smoke.py [sf_dir]
Exit code = number of failing queries (0 = all green).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from pyspark.sql import SparkSession

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = (
        SparkSession.builder.appName("vanilla-smoke")
        .master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from vertica_hadoop_integration__spark.plans import QUERIES

    failures: list[tuple[str, str]] = []
    t0 = time.perf_counter()
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, sf_dir)
            df.limit(1).collect()
        except Exception as e:  # noqa: BLE001
            msg = str(e).splitlines()[0][:200] if str(e) else type(e).__name__
            failures.append((name, msg))
            print(f"FAIL {name}: {msg}", flush=True)
    dt = time.perf_counter() - t0
    print(
        f"vanilla smoke: {len(QUERIES) - len(failures)}/{len(QUERIES)} "
        f"queries green on a bare local[8] session in {dt:.1f}s"
    )
    return len(failures)


if __name__ == "__main__":
    sys.exit(main())
