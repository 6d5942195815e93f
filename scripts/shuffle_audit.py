#!/usr/bin/env python
"""Measured shuffle/input volumes per headline query (SCALING.md).

The plan-guard suite proves plan SHAPES (pushdown, broadcast, partial
aggs); this audit measures the actual bytes: per query, the delta of
completed-stage totals from the Spark UI REST API — input bytes read,
shuffle bytes written, shuffle bytes read. The design-for-scale claims
become numbers: a dedup query whose shuffle volume is a small fraction
of its input is demonstrably moving pair sets / sketches, not the
corpus.

Usage: python scripts/shuffle_audit.py [query ...]
Prints one markdown row per query at $SPARK_GRAFT_SF_DIR (sf0.1).
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_join_scaling_spark import plans  # noqa: E402
from flink_join_scaling_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _api(ui: str, path: str):
    with urllib.request.urlopen(f"{ui}/api/v1/{path}") as r:
        return json.load(r)


def _totals(ui: str, app: str) -> dict:
    tot = {"input": 0, "sh_write": 0, "sh_read": 0}
    for st in _api(ui, f"applications/{app}/stages?status=complete"):
        tot["input"] += st.get("inputBytes", 0)
        tot["sh_write"] += st.get("shuffleWriteBytes", 0)
        tot["sh_read"] += st.get("shuffleReadBytes", 0)
    return tot


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    spark = get_spark(
        app_name="fjss-shuffle-audit", cpus=cpus, shuffle_partitions=cpus,
        extra_conf={"spark.ui.enabled": "true"},
    )
    ui = spark.sparkContext.uiWebUrl
    app = _api(ui, "applications")[0]["id"]
    names = sys.argv[1:] or [
        n for n, s in plans.QUERIES.items() if s.headline
    ]
    # NOTE: stage-level inputBytes is NOT reported (measured: a full
    # 11 MB lineitem scan shows ~17 KB — the vectorized parquet
    # reader's bytes-read metric is unreliable in this build), so the
    # audit reports the SHUFFLE columns only; compare queries against
    # each other and against their tables' known on-disk sizes.
    print("| query | shuffle-write MB | shuffle-read MB |")
    print("|---|---|---|")
    mb = 1024 * 1024
    # noop sink, not count(): Catalyst eliminates a count over a join
    # against a unique-keyed aggregate — q_dedup_spans measured ZERO
    # shuffle under count() because its whole pipeline was optimized
    # away (bench.py's r7 methodology note)
    def force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    for name in names:
        fn = plans.QUERIES[name].fn
        force(fn(spark, SF_DIR))  # warm: caches/codegen settle
        before = _totals(ui, app)
        force(fn(spark, SF_DIR))
        after = _totals(ui, app)
        sw = (after["sh_write"] - before["sh_write"]) / mb
        sr = (after["sh_read"] - before["sh_read"]) / mb
        print(f"| {name} | {sw:.2f} | {sr:.2f} |", flush=True)


if __name__ == "__main__":
    main()
