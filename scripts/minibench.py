#!/usr/bin/env python
"""Subset bench: bench.py's exact methodology (noop sink, warmup pass,
release_pinned between passes, median of N) over only the named
queries — the optimization round's A/B tool. Usage:

    python scripts/minibench.py [-r REPS] q_name [q_name ...]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default: the CPUs this process may run on).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_join_scaling_spark import plans  # noqa: E402
from flink_join_scaling_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-r", "--reps", type=int, default=5)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    spark = get_spark(
        app_name="fjss-minibench",
        cpus=cpus,
        shuffle_partitions=cpus,
        max_partition_bytes="8m",
    )

    def force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def release_pinned() -> None:
        jsc = getattr(spark.sparkContext, "_jsc", None)
        if jsc is None:
            return
        try:
            rdds = list(jsc.getPersistentRDDs().values())
        except Exception:
            return
        for rdd in rdds:
            rdd.unpersist(False)

    for name in args.names:  # warmup
        force(plans.QUERIES[name].fn(spark, sf_dir))
        release_pinned()
    passes: dict[str, list[float]] = {n: [] for n in args.names}
    for _ in range(args.reps):
        for name in args.names:
            t0 = time.perf_counter()
            force(plans.QUERIES[name].fn(spark, sf_dir))
            passes[name].append(time.perf_counter() - t0)
            release_pinned()
    out = {
        n: {
            "median": round(statistics.median(ts), 3),
            "min": round(min(ts), 3),
            "max": round(max(ts), 3),
        }
        for n, ts in passes.items()
    }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
