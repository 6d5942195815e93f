"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's inputs from the
seed, sets up, measures for ``--seconds``, checks every output and
prints one JSON line last: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (whose spans also go to
``.perfbench_out/``). Exits non-zero without a result when the engine
cannot be imported or the run fails.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import flink_join_scaling_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"engine not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    import common

    workloads = {
        "batch_versioned_join": "wl_batch",
        "stream_versioned_join": "wl_stream",
    }
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "params.json")) as f:
        params = json.load(f)["workloads"][args.workload]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    # a terminated run still stops its JVM and workers (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    b = common.Bench(ROOT, args.workload, args.seed, args.seconds, bool(args.trace), params)
    t0 = time.perf_counter()
    try:
        b.environment()
        e2e = importlib.import_module(workloads[args.workload]).run(b)
        e2e["setup_s"] = common.percentile(b.setup_times, 0.5)
        b.layer["peak_rss_mb"] = b.rss_mb
        b.layer["session.start_s"] = common.percentile(b.session_times, 0.5)
    finally:
        b.close()
    b.layer["op_error_ratio"] = b.failed / max(b.attempted, 1)
    b.notes.update(setup_s=b.setup_times, session_start_s=b.session_times,
                   run_wall_s=time.perf_counter() - t0)

    if args.trace:
        b.notes["trace_file"] = os.path.relpath(b.write_trace(), ROOT)
        wanted, values = spec["per_layer"], b.layer
    else:
        wanted, values = spec["end_to_end"], e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"notes": b.notes}, default=str))
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
