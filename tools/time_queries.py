"""Time named queries with the bench's exact methodology (xxhash-sum
collect, cache clear between trials, min + all trials reported) in an
isolated session — for before/after A/B during optimization rounds.

Usage: python tools/time_queries.py <trials> <query> [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    trials = int(sys.argv[1])
    names = sys.argv[2:]
    from pyspark.sql import functions as F

    from vertica_hadoop_integration__spark.plans import QUERIES
    from vertica_hadoop_integration__spark.session import get_session

    spark = get_session("time-queries")
    # same warmup spirit as bench.py: spin codegen + python workers
    spark.range(1).count()
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _echo(s):
        return s

    _echo.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _u = pandas_udf(_echo, "long")
    spark.range(0, 32 * 1024, 1, 32).select(_u(F.col("id"))).count()

    for name in names:
        fn = QUERIES[name]
        ts = []
        for _ in range(trials):
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.xxhash64(*[F.col(c) for c in df.columns]).cast(
                        "decimal(38,0)"
                    )
                ).alias("h"),
            ).collect()
            ts.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
        print(
            f"{name}: min={min(ts):.3f}s trials="
            + "/".join(f"{t:.3f}" for t in ts)
        )


if __name__ == "__main__":
    main()
