#!/usr/bin/env python
"""Per-query DuckDB oracle check: the driver's comparison protocol
(tests/oracle_utils.assert_parity — row count + column set +
order-insensitive exact values) over just the named queries, at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.01). The
optimization round's per-change correctness tool. Usage:

    python scripts/oracle_check.py q_name [q_name ...]
    python scripts/oracle_check.py --all        # every oracle-bearing query
"""

from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"
))

from oracle_utils import assert_parity  # noqa: E402

from flink_join_scaling_spark import plans  # noqa: E402
from flink_join_scaling_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    names = sys.argv[1:]
    if names == ["--all"]:
        names = [n for n, s in plans.QUERIES.items() if s.oracle is not None]
    if not names:
        print("usage: oracle_check.py q_name [q_name ...] | --all")
        raise SystemExit(2)
    spark = get_spark(app_name="fjss-oracle-check", cpus=int(
        os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
    ))
    failures = []
    for name in names:
        spec = plans.QUERIES[name]
        if spec.oracle is None:
            print(f"{name}: SKIP (rows-only, no oracle)")
            continue
        try:
            assert_parity(spec.fn(spark, sf_dir), spec.oracle, sf_dir)
            print(f"{name}: OK")
        except Exception:
            failures.append(name)
            print(f"{name}: FAIL")
            traceback.print_exc(limit=3)
    print(f"FAILURES: {failures if failures else 'none'}")
    raise SystemExit(1 if failures else 0)


if __name__ == "__main__":
    main()
