#!/usr/bin/env python
"""Dump .explain("formatted") for named queries to text files.

    python scripts/dump_plans.py --out plans/r17 --suffix _after q1 q2 ...

Runs from the repo the script lives in (so a worktree copy dumps the
worktree's plans). Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_join_scaling_spark import plans  # noqa: E402
from flink_join_scaling_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", default="_after")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    spark = get_spark(
        app_name="fjss-dump-plans",
        cpus=cpus,
        shuffle_partitions=cpus,
        max_partition_bytes="8m",
    )
    os.makedirs(args.out, exist_ok=True)
    for name in args.names:
        df = plans.QUERIES[name].fn(spark, sf_dir)
        txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(args.out, f"{name}{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print("wrote", path, f"({len(txt)} chars)")


if __name__ == "__main__":
    main()
