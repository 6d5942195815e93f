#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "headline_total", "value": N, "unit": "sec",
     "queries": {"q_...": sec, ...}, "sf": 0.1}

Each query is forced with the ``noop`` sink (full evaluation of every
output column, no result serialization to the driver) — the standard
Spark benchmarking action. Rounds 1-6 used ``df.count()``, which
Catalyst can partially ELIMINATE: a count over a left join against a
unique-keyed aggregate drops the join and everything under it
(q_dedup_spans measured as a bare scan), and counts prune output-only
columns everywhere. The r7+ numbers are therefore strictly-more-work
measurements; vs-r1-baseline comparisons are conservative, and the
JSON's "action" field records which regime a round ran under. A warmup
pass initializes the JVM, Arrow, and parquet footer caches so
per-query numbers reflect steady state.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_join_scaling_spark import plans  # noqa: E402
from flink_join_scaling_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0
    # split file scans small: bench data is a few MB/table, so Spark's
    # default 128m split turns every scan into one task, idling the
    # other cores (on a real cluster at real scale the default is correct)
    spark = get_spark(
        app_name="fjss-bench",
        cpus=cpus,
        shuffle_partitions=cpus,
        max_partition_bytes="8m",
    )

    # fixed-cost calibration: a data-independent null query whose plan
    # never changes (range→count, no scan, no shuffle). Its median is
    # pure sandbox/JVM overhead for THIS run — when every headline query
    # drifts by the same factor the calibration drifts by, the delta is
    # environment noise, not a plan regression. Published raw alongside
    # the (untouched) per-query medians so rounds stay comparable.
    def _calibrate() -> float:
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            spark.range(1_000_000).count()
            times.append(time.perf_counter() - t0)
        return round(statistics.median(times), 4)

    _calibrate()  # warm the range/count plan's codegen like any query

    names = plans.headline_queries()
    # warmup pass (JMH-style): run every headline query once so the
    # measured pass reflects steady state — whole-stage codegen is
    # Janino-compiled per plan shape on first execution (nested
    # higher-order-function expressions cost seconds to compile), and
    # at real scale that one-time cost amortizes to nothing.
    # Every query is fault-isolated: one broken query records an error
    # entry instead of zeroing the whole round's perf signal.
    def force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # harness hygiene (r15): release blocks pinned by the query that
    # just ran. localCheckpoint-pinned stages (q_pipeline_media & co)
    # otherwise accumulate in the block manager for the whole bench —
    # ContextCleaner only reclaims them after a driver GC, which a
    # 128 GiB heap rarely runs — and later queries pay growing memory
    # pressure for blocks THEY never pinned. Measured on r15's
    # unchanged q_pipeline_media at sf0.1: clean-session median-of-7
    # 2.63 s, but 4.64 s in a 30-query-aged session with samples
    # CLIMBING 3.3→6.1 s; with this release between passes the aged
    # median returns to 2.78 s and the climb inverts (details in
    # scripts/plan_audit.py). Runs OUTSIDE the timed region; each
    # query's own pins live for exactly its own pass.
    #
    # Spark-version coupling (r15 advisor note): `_jsc` is py4j
    # PRIVATE API — there is no public PySpark enumeration of
    # persistent RDDs (SPARK-16693 never landed a Python face).
    # try/except, not hasattr: py4j's JavaObject.__getattr__ returns
    # a JavaMember for ANY name without consulting the JVM, so
    # hasattr is always True and only the call itself can reveal a
    # hidden/renamed method — degrade to a no-op instead of crashing
    # the bench on an upgrade. Safety invariant: this runs strictly
    # AFTER the pass's action completes and every pass rebuilds its
    # plan from scratch, so no still-referenced localCheckpointed RDD
    # can be unpersisted mid-use.
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

    errors: dict[str, str] = {}
    for name in names:
        try:
            force(plans.QUERIES[name].fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — record and keep going
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
        release_pinned()

    # 3 measured passes per query, then SUB-SECOND queries get 4 more
    # (median-of-7): near the noise floor a single slow pass can read
    # as a 2× regression (the r8 q_sim_topk driver outlier — 1.73 s
    # attested vs 0.69–1.00 s on every rerun), and extra repetitions
    # are cheap exactly where they're needed. Per-query spread
    # (max−min over the measured passes) is published so a noisy
    # median is visible as such in the round artifact.
    passes: dict[str, list[float]] = {n: [] for n in names if n not in errors}

    def one_pass(name: str) -> None:
        fn = plans.QUERIES[name].fn
        t0 = time.perf_counter()
        try:
            force(fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            passes.pop(name, None)
            release_pinned()
            return
        passes[name].append(time.perf_counter() - t0)
        release_pinned()

    for _ in range(3):
        for name in names:
            if name in errors:
                continue
            one_pass(name)
    _SUBSEC = 1.5  # seconds: below this, noise-floor variance dominates
    for _ in range(4):
        for name in list(passes):
            ts = passes.get(name)
            if ts and statistics.median(ts) < _SUBSEC:
                one_pass(name)

    # statistics.median interpolates the two middle elements for even
    # rep counts (a query crossing the 1.5 s threshold mid-loop can
    # land on 4-6 reps) — the upper-middle pick of rounds ≤9 carried a
    # small upward bias exactly there.
    timings = {
        name: round(statistics.median(ts), 3)
        for name, ts in passes.items()
        if ts
    }
    spread = {
        name: round(max(ts) - min(ts), 3)
        for name, ts in passes.items()
        if ts
    }
    reps = {name: len(ts) for name, ts in passes.items() if ts}
    calibration = _calibrate()  # measured AFTER the query passes so it
    # reflects the same system state the timings saw
    # a partial sum is not comparable round-over-round (a crashed
    # query would read as a speedup), so value is null when any
    # headline query errored; per-query medians still carry signal
    total = round(sum(timings.values()), 3) if not errors else None

    # The driver records only the LAST ~2000 characters of stdout and
    # parses the final JSON line. Round 9's single fat line (medians +
    # spread + reps) exceeded that capture, truncating the medians away
    # (BENCH_r09 parsed: null). So: the variance evidence (spread /
    # reps / errors detail) goes on a PRECEDING line — free to be long,
    # present in full in the repo-side log — and the FINAL line carries
    # exactly the attestation payload (headline total + per-query
    # medians + calibration), compact-separated and size-guarded by
    # tests/test_bench_contract.py against the 2000-char capture.
    detail = {
        "detail": "bench-variance-evidence",
        # forcing action for every query; "noop" from r7 on, "count"
        # r1-r6 (see module docstring for why the switch)
        "action": "noop",
        # per-query max−min over the measured passes (7 for sub-second
        # queries, 3 otherwise — "reps") — the variance evidence the
        # median claims rest on
        "spread": spread,
        "reps": reps,
    }
    if errors:
        detail["errors"] = errors
        detail["partial_total"] = round(sum(timings.values()), 3)
    print(json.dumps(detail, separators=(",", ":")))

    out = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "calibration": calibration,
        "queries": timings,
        "sf": sf,
    }
    if errors:
        out["errors"] = sorted(errors)  # names only; messages on line 1
        out["partial_total"] = round(sum(timings.values()), 3)
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:  # belt-and-braces: never ship an unparseable
        # final line — drop per-query medians before the headline total
        out["queries_truncated"] = len(timings)
        del out["queries"]
        line = json.dumps(out, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
