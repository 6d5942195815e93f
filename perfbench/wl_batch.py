"""batch_versioned_join: one closed-loop client runs the reference join
family over seeded A -> B -> C versioned parquet, each call forced with
the ``noop`` sink. The traced run also takes the near-duplicate dedup
tail's per-layer numbers (``wl_dedup``) after its own calls."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from flink_join_scaling_spark.operators import joins, versioned

import gen
import oracle
import wl_dedup
from common import Bench, median_or_zero, percentile, tail


def _csv(arr: str) -> F.Column:
    return F.expr(
        f"array_join(array_sort(transform({arr}, s -> "
        "concat(cast(s.id AS string), ':', cast(s.ts AS string)))), ',')"
    )


_PAIR_COLS = ["x_id", "x_ts", "x_tag", "x_val", "y_id", "ida", "y_ts", "y_tag", "y_val"]

#: name -> (input tables, op on (x[, y]) frames, canonical projection).
#: Every op dedups its inputs first, which is what the traced run
#: materializes: by ``id``, except the left side of the left-outer ops,
#: which collapse it per join key (``id`` here too): ``LEFT_BY_KEY``.
OPS = {
    "dedup_latest": (
        ("b",),
        lambda b: versioned.dedup_latest(b, "id", "ts"),
        lambda df: df.select("id", "ida", "ts", "tag", "val"),
    ),
    "join_full_outer": (
        ("a", "b"),
        lambda a, b: joins.join_full_outer(a, b, "id", "ida", "id", "id", "ts", "ts"),
        lambda df: df.select(*_PAIR_COLS),
    ),
    "join_left_outer": (
        ("a", "b"),
        lambda a, b: joins.join_left_outer(a, b, "id", "ida", "id", "ts", "ts"),
        lambda df: df.select(*_PAIR_COLS),
    ),
    "join_left_outer_seq": (
        ("b", "c"),
        lambda b, c: joins.join_left_outer_seq(b, c, "id", "idb", "id", "ts", "ts"),
        lambda df: df.select("id", "ida", "ts", "tag", "val", _csv("ys").alias("ys")),
    ),
    "join_full_outer_seq": (
        ("a", "b"),
        lambda a, b: joins.join_full_outer_seq(a, b, "id", "ida", "id", "id", "ts", "ts"),
        lambda df: df.select("key", _csv("xs").alias("xs"), _csv("ys").alias("ys")),
    ),
}


#: ops that collapse their left input per join key, not per id
LEFT_BY_KEY = ("join_left_outer", "join_left_outer_seq")


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(b: Bench) -> dict:
    p = b.params
    inputs = os.path.join(b.work, "inputs")
    rows: dict[str, int] = {}
    sizes: dict[str, int] = {}  # parquet bytes on disk per table

    def read(t: str):
        return b.spark.read.parquet(os.path.join(inputs, t))

    def build() -> None:
        tables = gen.versioned_hierarchy(b.seed, **p["shape"])
        for name, table in tables.items():
            out = os.path.join(inputs, name)
            gen.write_parquet(table, out, parts=p["files_per_table"])
            rows[name] = table.num_rows
            sizes[name] = sum(e.stat().st_size for e in os.scandir(out))

    def call(name: str) -> float:
        tabs, op, _ = OPS[name]
        t0 = time.perf_counter()
        _force(op(*[read(t) for t in tabs]))
        return time.perf_counter() - t0

    def warmup() -> None:
        for name in OPS:
            call(name)
        b.release_pinned()

    b.setup(build, warmup)
    b.layer["spark.calibration_s"] = b.calibrate()

    samples: list[float] = []
    per_op: dict[str, list[float]] = {n: [] for n in OPS}
    rows_done = 0
    untraced_wall = traced_wall = 0.0
    names = list(OPS)
    deadline = time.perf_counter() + b.seconds
    i = 0
    # whole rounds only: every op runs equally often, so the call median
    # does not move with which ops the deadline cut off, and a traced
    # run covers every join
    while time.perf_counter() < deadline or i % len(names) or not i:
        name = names[i % len(names)]
        i += 1
        dt = call(name)
        b.attempted += 1
        samples.append(dt)
        per_op[name].append(dt)
        rows_done += sum(rows[t] for t in OPS[name][0])
        b.release_pinned()
        if b.trace:
            untraced_wall += dt
            traced_wall += _traced_call(b, name, read, rows, sizes)
            b.release_pinned()

    b.rss_mb = b.peak_rss_mb()
    with b.phase("gate"):
        failed_ops = _gate(b, read, inputs)
    b.failed += sum(len(per_op[n]) for n in failed_ops)

    q, tail_v = tail(samples)
    b.notes["call_tail"] = {"percentile": q, "samples": len(samples)}
    b.notes["per_op_p50_s"] = {n: median_or_zero(v) for n, v in per_op.items()}
    if b.trace:
        _layers(b, untraced_wall, traced_wall)
        wl_dedup.trace_layers(b)
    return {
        "input_rows_per_s": rows_done / sum(samples),
        "call_p50_s": percentile(samples, 0.5),
        "call_tail_s": tail_v,
        # closed loop: a call is due when the previous one returns, so
        # its emit latency is its wall time
        "emit_latency_p50_s": percentile(samples, 0.5),
        "emit_latency_tail_s": tail_v,
    }


def _traced_call(b: Bench, name: str, read, rows: dict[str, int],
                 sizes: dict[str, int]) -> float:
    """The same call with every layer boundary materialized, so each
    span times one layer: scan -> the op's own dedup -> join. The join
    op re-runs its dedup over the already-unique rows; that pass is part
    of the join's self time."""
    tabs, op, _ = OPS[name]
    t0 = time.perf_counter()
    with b.span(f"call.{name}"):
        with b.span("sources.scan", bytes_read=sum(sizes[t] for t in tabs)):
            frames = [read(t).localCheckpoint(eager=True) for t in tabs]
        rows_in = sum(rows[t] for t in tabs)
        dedups = [versioned.dedup_latest] * len(tabs)
        if name in LEFT_BY_KEY:
            dedups[0] = versioned.dedup_latest_by_key
        with b.span("versioned.dedup", rows_in=rows_in) as sp:
            deduped = [dedup(f, "id", "ts").localCheckpoint(eager=True)
                       for dedup, f in zip(dedups, frames)]
        if name != "dedup_latest":
            with b.span(f"joins.{name}"):
                _force(op(*deduped))
    wall = time.perf_counter() - t0
    # counted after the call, so the count jobs time no layer
    sp["counts"]["rows_out"] = sum(d.count() for d in deduped)
    return wall


def _gate(b: Bench, read, inputs: str) -> list[str]:
    """Hash-compare every op's result with DuckDB; return failing ops."""
    con = oracle.connect({t: os.path.join(inputs, t) for t in ("a", "b", "c")})
    bad = []
    rows_out = 0
    for name, (tabs, op, canon) in OPS.items():
        got = oracle.spark_digest(canon(op(*[read(t) for t in tabs])))
        want = oracle.duck_digest(con, oracle.BATCH_SQL[name])
        if got != want:
            bad.append(name)
        if name.startswith("join"):
            rows_out += got[0]
        b.release_pinned()
    con.close()
    b.layer["joins.rows_out"] = rows_out
    b.notes["gate_failures"] = bad
    return bad


def _layers(b: Bench, untraced_wall: float, traced_wall: float) -> None:
    calls = [s for s in b.spans if s["parent"] is None]
    by_name: dict[str, list[dict]] = {}
    for s in b.spans:
        by_name.setdefault(s["name"], []).append(s)

    def med_self(name: str) -> float:
        return median_or_zero([b.self_time(s) for s in by_name.get(name, [])])

    def call_total(c: dict, key: str) -> float:
        return sum(s["stages"][key] for s in b.spans if s["call"] == c["id"])

    scans = by_name["sources.scan"]
    dedups = by_name["versioned.dedup"]
    joins_ = [s for n, ss in by_name.items() if n.startswith("joins.") for s in ss]
    rows_in = sum(s["counts"]["rows_in"] for s in dedups)
    rows_out = sum(s["counts"]["rows_out"] for s in dedups)
    b.layer.update({
        "sources.scan_s": med_self("sources.scan"),
        "sources.bytes_read": median_or_zero([s["counts"]["bytes_read"] for s in scans]),
        "versioned.dedup_s": med_self("versioned.dedup"),
        "versioned.rows_in": median_or_zero([s["counts"]["rows_in"] for s in dedups]),
        "versioned.rows_out": median_or_zero([s["counts"]["rows_out"] for s in dedups]),
        "versioned.keep_ratio": rows_out / rows_in,
        "versioned.shuffle_records_per_row_in":
            sum(s["stages"]["shuffle_write_records"] for s in dedups) / rows_in,
        "joins.shuffle_write_bytes":
            median_or_zero([s["stages"]["shuffle_write_bytes"] for s in joins_]),
        "spark.executor_cpu_s": median_or_zero([call_total(c, "cpu_s") for c in calls]),
        "spark.gc_s": median_or_zero([call_total(c, "gc_s") for c in calls]),
        "spark.spill_bytes": median_or_zero([call_total(c, "spill_bytes") for c in calls]),
        "trace.wall_s": traced_wall,
        "trace.untraced_wall_s": untraced_wall,
        "trace.overhead_ratio": traced_wall / untraced_wall - 1,
        "trace.unattributed_share":
            sum(b.self_time(c) for c in calls) / sum(c["end"] - c["start"] for c in calls),
    })
    for name in OPS:
        if name.startswith("join"):
            b.layer[f"joins.{name}.self_s"] = med_self(f"joins.{name}")
