#!/usr/bin/env python
"""Per-query job/stage profiler (optimization-round tooling).

Runs each named registered query into the noop sink twice with the
Spark UI enabled: a warmup pass, then a timed pass, releasing pinned
blocks after each. For the timed pass it prints the wall time and each
job's wall, task and stage counts from the UI REST API, so the gap
between the job walls and the pass wall shows the driver's planning
time. Usage:

    python scripts/profile_query.py q_dedup_minhash [q_... ...]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default: the CPUs this process may run on).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_join_scaling_spark import plans  # noqa: E402
from flink_join_scaling_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    spark = get_spark(
        app_name="fjss-profile",
        cpus=cpus,
        shuffle_partitions=cpus,
        max_partition_bytes="8m",
        extra_conf={"spark.ui.enabled": "true"},
    )
    sc = spark.sparkContext
    ui = sc.uiWebUrl
    app_id = sc.applicationId

    def rest(path: str):
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/{path}") as r:
            return json.load(r)

    def force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    for name in names:
        fn = plans.QUERIES[name].fn
        force(fn(spark, sf_dir))  # warmup
        # release pinned blocks so the timed pass pays only for its own
        try:
            for rdd in sc._jsc.getPersistentRDDs().values():
                rdd.unpersist(False)
        except Exception:
            pass
        jobs_before = {j["jobId"] for j in rest("jobs")}
        sc.setJobDescription(f"profile:{name}")
        t0 = time.perf_counter()
        force(fn(spark, sf_dir))
        wall = time.perf_counter() - t0
        sc.setJobDescription(None)
        jobs = [j for j in rest("jobs") if j["jobId"] not in jobs_before]
        jobs.sort(key=lambda j: j["jobId"])
        print(f"\n=== {name}: wall {wall:.3f}s, {len(jobs)} jobs ===")
        total_job = 0.0
        for j in jobs:
            t_sub = time.mktime(
                time.strptime(j["submissionTime"][:19], "%Y-%m-%dT%H:%M:%S")
            ) + float(j["submissionTime"][20:23]) / 1000.0
            t_end = time.mktime(
                time.strptime(j["completionTime"][:19], "%Y-%m-%dT%H:%M:%S")
            ) + float(j["completionTime"][20:23]) / 1000.0
            dur = t_end - t_sub
            total_job += dur
            print(
                f"  job {j['jobId']:>4} {dur:7.3f}s tasks={j['numCompletedTasks']:>4} "
                f"stages={len(j['stageIds'])} desc={ (j.get('description') or '')[:90] }"
            )
        print(f"  sum(job walls) {total_job:.3f}s (gaps = driver/planning time)")
        try:
            for rdd in sc._jsc.getPersistentRDDs().values():
                rdd.unpersist(False)
        except Exception:
            pass


if __name__ == "__main__":
    main()
