"""stream_versioned_join: seeded A -> B versions arrive as parquet chunk
files, out of order across chunks, and feed
``stream_join_versioned(how="full_outer")`` into ``upsert_sink``.

Two phases share one checkpoint, so the final snapshot covers every
chunk:

* drain — closed loop: a backlog staged in advance, run with
  ``availableNow``;
* paced — open loop: a generator thread publishes the remaining chunks
  on a fixed schedule while the query runs; each chunk's emit latency
  runs from its due time to the end of the upsert commit that holds it.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
import time
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from flink_join_scaling_spark.operators import joins
from flink_join_scaling_spark.streaming import (
    read_upsert_snapshot,
    stream_join_versioned,
    upsert_sink,
)

import gen
import oracle
from common import Bench, median_or_zero, percentile, tail

A_SCHEMA = "id long, ts long, tag string, val long"
B_SCHEMA = "id long, ida long, ts long, tag string, val long"
SIDES = (("x", A_SCHEMA), ("y", B_SCHEMA))


class Query:
    """One run of the streaming join into the upsert snapshot under a
    given checkpoint; its sink wrapper records each commit's end time.
    Traced, the wrapper also materializes the micro-batch first, so the
    join and the merge are timed apart and emitted rows are counted."""

    def __init__(self, b: Bench, src: str, root: str, traced: bool):
        self.b = b
        self.src = src
        self.snap = os.path.join(root, "snap")
        self.ckpt = os.path.join(root, "ckpt")
        self.traced = traced
        self.sink = upsert_sink(self.snap, "k")
        self.commit_end: dict[int, float] = {}
        self.batches: list[dict] = []

    def _merge(self, df, batch_id: int) -> None:
        # a key's emission is its whole current join result, so the
        # upsert key is the join key with the result rows as its value
        grouped = df.groupBy("k").agg(
            F.collect_list(F.struct("x_payload", "y_payload")).alias("rows"))
        rec = {"batch_id": batch_id}
        if self.traced:
            t0 = time.perf_counter()
            grouped = grouped.persist()
            rec["emitted_keys"] = grouped.count()
            rec["emitted_rows"] = grouped.select(F.sum(F.size("rows"))).first()[0] or 0
            rec["join_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.sink(grouped, batch_id)
        rec["merge_s"] = time.perf_counter() - t0
        self.commit_end[batch_id] = time.monotonic()
        if self.traced:
            grouped.unpersist()
            gen_dir = os.path.join(self.snap, f"gen-{batch_id:09d}")
            rec["bytes_written"] = sum(
                os.path.getsize(f) for f in glob.glob(os.path.join(gen_dir, "*.parquet")))
            rec["snapshot_rows"] = read_upsert_snapshot(df.sparkSession, self.snap).count()
        self.batches.append(rec)

    def start(self, files_per_trigger: int | None = None, interval_s: float | None = None):
        """Run to the end of the available input (``availableNow``), or
        with no end on a fixed trigger interval."""
        spark = self.b.spark
        frames = []
        for side, schema in SIDES:
            r = spark.readStream.schema(schema)
            if files_per_trigger:
                r = r.option("maxFilesPerTrigger", files_per_trigger)
            frames.append(r.parquet(os.path.join(self.src, side)))
        out = stream_join_versioned(*frames, "id", "ida", "id", "id", "ts", "ts",
                                    how="full_outer")
        w = (out.writeStream.foreachBatch(self._merge).outputMode("update")
             .option("checkpointLocation", self.ckpt))
        if interval_s is None:
            return w.trigger(availableNow=True).start()
        return w.trigger(processingTime=f"{interval_s} seconds").start()


def _write_chunks(chunks, first: int, dest: str) -> None:
    for k, pair in enumerate(chunks, start=first):
        for (side, _), table in zip(SIDES, pair):
            os.makedirs(os.path.join(dest, side), exist_ok=True)
            pq.write_table(table, os.path.join(dest, side, f"chunk-{k:05d}.parquet"))


def _chunk_batches(ckpt: str) -> dict[str, int]:
    """File name -> query batch that read it, from the checkpoint's
    source logs (file -> source log offset) and offset log (query batch
    -> each source's end offset)."""
    offset_of: dict[str, int] = {}
    for f in glob.glob(os.path.join(ckpt, "sources", "*", "*")):
        with open(f) as fh:
            for line in fh.read().splitlines()[1:]:
                e = json.loads(line)
                offset_of[e["path"]] = e["batchId"]
    ends: dict[int, list[int]] = {}
    for f in glob.glob(os.path.join(ckpt, "offsets", "[0-9]*")):
        with open(f) as fh:
            lines = fh.read().splitlines()[2:]
        ends[int(os.path.basename(f))] = [
            json.loads(x)["logOffset"] if x.startswith("{") else -1 for x in lines]
    order = sorted(ends)
    out = {}
    for path, off in offset_of.items():
        side = path.rsplit("/", 2)[-2]
        src = [s for s, _ in SIDES].index(side)
        out[os.path.basename(path) + side] = next(
            bid for bid in order if ends[bid][src] >= off)
    return out


def run(b: Bench) -> dict:
    p = b.params
    base = os.path.join(b.work, "stream")
    src, staged, full = (os.path.join(base, d) for d in ("src", "staged", "full"))
    n_paced = round(p["paced_rate_per_s"] * b.seconds * p["paced_share"])
    n_chunks = p["backlog_chunks"] + n_paced

    def build() -> None:
        shutil.rmtree(base, ignore_errors=True)
        chunks = gen.versioned_stream(b.seed, n_chunks=n_chunks, **p["shape"])
        _write_chunks(chunks[:p["backlog_chunks"]], 0, src)
        _write_chunks(chunks[p["backlog_chunks"]:], p["backlog_chunks"], staged)
        for (side, _), tables in zip(SIDES, zip(*chunks)):
            gen.write_parquet(pa.concat_tables(tables), os.path.join(full, side))

    def warmup() -> None:
        # the whole pipeline over the first backlog chunks, one
        # micro-batch each, so later batches also merge into existing
        # state and an existing snapshot
        wsrc = os.path.join(base, "warm-src")
        for side, _ in SIDES:
            os.makedirs(os.path.join(wsrc, side))
            for k in range(p["warmup_batches"]):
                shutil.copy(os.path.join(src, side, f"chunk-{k:05d}.parquet"),
                            os.path.join(wsrc, side))
        Query(b, wsrc, os.path.join(base, "warm"), False).start(1).awaitTermination()
        b.release_pinned()

    b.setup(build, warmup)
    b.layer["spark.calibration_s"] = b.calibrate()

    if b.trace:  # the same drain untraced, on its own checkpoint
        plain = Query(b, src, os.path.join(base, "plain"), False)
        t0 = time.perf_counter()
        plain.start(p["drain_files_per_trigger"]).awaitTermination()
        b.layer["trace.untraced_wall_s"] = time.perf_counter() - t0
        b.release_pinned()

    q = Query(b, src, os.path.join(base, "run"), b.trace)
    with b.phase("drain"):
        t0 = time.perf_counter()
        sq = q.start(p["drain_files_per_trigger"])
        sq.awaitTermination()
        drain_wall = time.perf_counter() - t0
    progress = list(sq.recentProgress)
    n_drain = len(q.batches)

    # paced phase: once the restarted query is running, the generator
    # thread publishes chunk k at t0 + k / rate. A fixed trigger interval
    # longer than a micro-batch fixes which chunks each batch holds; with
    # back-to-back batches, batch size and duration fed back into each
    # other and the emit latencies of equal runs differed by 40%.
    sq = q.start(interval_s=p["paced_trigger_s"])
    sq.processAllAvailable()
    due: dict[str, float] = {}
    late: list[float] = []
    published: dict[str, float] = {}

    def publish() -> None:
        start = time.monotonic() + 0.5
        for i in range(n_paced):
            name = f"chunk-{p['backlog_chunks'] + i:05d}.parquet"
            t_due = start + i / p["paced_rate_per_s"]
            time.sleep(max(0.0, t_due - time.monotonic()))
            for side, _ in SIDES:
                os.replace(os.path.join(staged, side, name), os.path.join(src, side, name))
            late.append(time.monotonic() - t_due)
            due[name] = t_due
            published[name] = time.time()

    with b.phase("paced"):
        gen_thread = threading.Thread(target=publish, name="chunk-generator")
        gen_thread.start()
        gen_thread.join()
        sq.processAllAvailable()
        sq.stop()
    progress += list(sq.recentProgress)

    batch_of = _chunk_batches(q.ckpt)
    emit, wait = [], []
    start_wall = {pr.batchId: datetime.fromisoformat(pr.timestamp.replace("Z", "+00:00"))
                  .timestamp() for pr in progress}
    for name, t_due in due.items():
        bids = [batch_of[name + s] for s in ("x", "y")]
        emit.append(max(q.commit_end[bid] for bid in bids) - t_due)
        wait.append(min(start_wall[bid] for bid in bids) - published[name])

    b.attempted += len(q.batches)
    b.rss_mb = b.peak_rss_mb()
    with b.phase("gate"):
        bad = _gate(b, q.snap, full)
    if bad:
        b.failed += len(q.batches)

    # one sample per committed micro-batch (an idle query also reports
    # progress, repeating the last batch id with no input)
    by_batch: dict = {}
    for pr in progress:
        if pr.numInputRows:
            by_batch.setdefault(pr.batchId, pr)
    progress = [by_batch[r["batch_id"]] for r in q.batches]
    durations = [pr.durationMs["triggerExecution"] / 1e3 for pr in progress]
    # calls are the drain's micro-batches: equal closed-loop batches,
    # where the paced phase's batch count and sizes depend on timing
    q_call, call_tail = tail(durations[:n_drain])
    q_emit, emit_tail = tail(emit)
    b.notes.update(
        call_tail={"percentile": q_call, "samples": n_drain},
        emit_tail={"percentile": q_emit, "samples": len(emit)},
        drain_batches=n_drain, paced_chunks=n_paced, gate_failures=bad,
        batch_duration_ms=[dict(pr.durationMs) for pr in progress])
    if b.trace:
        _layers(b, q, progress, drain_wall, n_drain, late, wait, batch_of)
    return {
        # the drain's micro-batches hold equal row counts, so the median
        # of their rates is the drain's steady throughput
        "input_rows_per_s": percentile(
            [pr.processedRowsPerSecond for pr in progress[:n_drain]], 0.5),
        "call_p50_s": percentile(durations[:n_drain], 0.5),
        "call_tail_s": call_tail,
        "emit_latency_p50_s": percentile(emit, 0.5),
        "emit_latency_tail_s": emit_tail,
    }


def _snapshot_pairs(spark, snap: str):
    snapshot = read_upsert_snapshot(spark, snap)
    rows = snapshot.select(F.explode("rows").alias("r"))
    x = F.from_json("r.x_payload", A_SCHEMA)
    y = F.from_json("r.y_payload", B_SCHEMA)
    dec = rows.select(x.alias("x"), y.alias("y"))
    return dec.select(
        *[F.col(f"x.{c}").alias(f"x_{c}") for c in ("id", "ts", "tag", "val")],
        F.col("y.id").alias("y_id"), F.col("y.ida").alias("ida"),
        *[F.col(f"y.{c}").alias(f"y_{c}") for c in ("ts", "tag", "val")],
    )


def _gate(b: Bench, snap: str, full: str) -> list[str]:
    """The converged snapshot must equal batch ``join_full_outer`` over
    every chunk, and that must equal DuckDB's full outer join."""
    spark = b.spark
    got = oracle.spark_digest(_snapshot_pairs(spark, snap))
    x, y = (spark.read.parquet(os.path.join(full, s)) for s in ("x", "y"))
    batch = joins.join_full_outer(x, y, "id", "ida", "id", "id", "ts", "ts")
    want = oracle.spark_digest(batch.select(
        "x_id", "x_ts", "x_tag", "x_val", "y_id", "ida", "y_ts", "y_tag", "y_val"))
    con = oracle.connect({"a": os.path.join(full, "x"), "b": os.path.join(full, "y")})
    duck = oracle.duck_digest(con, oracle.BATCH_SQL["join_full_outer"])
    con.close()
    bad = []
    if got != want:
        bad.append("snapshot_vs_batch")
    if want != duck:
        bad.append("batch_vs_duckdb")
    return bad


def _layers(b: Bench, q: Query, progress, drain_wall: float, n_drain: int,
            late: list[float], wait: list[float], batch_of: dict[str, int]) -> None:
    ops = [pr.stateOperators[0] for pr in progress if pr.stateOperators]
    inputs = sum(pr.numInputRows for pr in progress)
    paced_bids = {r["batch_id"] for r in q.batches[n_drain:]}
    files_per_batch = [sum(1 for bid in batch_of.values() if bid == pb) for pb in paced_bids]
    b.layer.update({
        "stream_join.batch_s": median_or_zero(
            [pr.durationMs["triggerExecution"] / 1e3 for pr in progress]),
        "stream_join.state_rows": float(ops[-1].numRowsTotal),
        "stream_join.state_bytes": float(ops[-1].memoryUsedBytes),
        "stream_join.state_commit_ms": median_or_zero([o.commitTimeMs for o in ops]),
        "stream_join.emit_amplification":
            sum(r["emitted_rows"] for r in q.batches) / max(inputs, 1),
        "upsert.merge_s": median_or_zero([r["merge_s"] for r in q.batches]),
        "upsert.snapshot_rows": float(q.batches[-1]["snapshot_rows"]),
        "upsert.bytes_written": median_or_zero([r["bytes_written"] for r in q.batches]),
        "source.backlog_files": median_or_zero(files_per_batch),
        "source.queue_wait_s": median_or_zero(wait),
        "gen.late_s": max(late, default=0.0),
        "trace.wall_s": drain_wall,
    })
    b.layer["trace.overhead_ratio"] = drain_wall / b.layer["trace.untraced_wall_s"] - 1
    b.notes["join_s_per_batch"] = [r["join_s"] for r in q.batches]
