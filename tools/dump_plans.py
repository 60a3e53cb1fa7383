"""Dump the formatted physical plan of every bench headline query at
sf0.001 into reports/plans_round8.txt — reviewable evidence that scans
prune/push down, joins broadcast or co-locate, and no accidental
all-pairs plan exists (complements tests/test_plan_guards.py, which
asserts the same machine-checkably).

Usage: python tools/dump_plans.py [out_path]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "reports/plans_round8.txt"
    from bench import HEADLINE
    from vertica_hadoop_integration__spark.plans import QUERIES
    from vertica_hadoop_integration__spark.session import get_session

    spark = get_session("plan-dump")
    with open(out_path, "w") as f:
        for name in HEADLINE:
            df = QUERIES[name](spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            f.write(f"{'=' * 72}\n## {name}\n{'=' * 72}\n{plan}\n")
            spark.catalog.clearCache()
    print(f"wrote {out_path} ({len(HEADLINE)} plans)")


if __name__ == "__main__":
    main()
