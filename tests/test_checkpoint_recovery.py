"""Checkpoint recovery: a restarted streaming query resumes from its
offsets — already-committed input is not reprocessed, new input is,
and stateful operators rehydrate their state store.

This is the property that replaces the reference's never-restarting
local mini-cluster (``FlinkTestEnv.scala:8-13``) in any real
deployment: the source offsets + state live in the checkpoint, so the
changelog survives process death.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_join_scaling_spark.streaming.dedup import stream_dedup_latest

A_SCHEMA = "id long, ts long, tag string"


def _write_chunk(spark, df, root: str, name: str) -> None:
    df.coalesce(1).write.parquet(os.path.join(root, name), mode="overwrite")


def _read_stream(spark, root: str, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(root, "chunk-*"))
    )


def _run_once(sdf, sink_dir: str, ckpt: str) -> None:
    q = (
        sdf.writeStream.foreachBatch(
            lambda b, i: b.toPandas().to_json(
                os.path.join(sink_dir, f"b{i:04d}.json"), orient="records"
            )
        )
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _emissions(sink_dir: str) -> pd.DataFrame:
    frames = [
        pd.read_json(os.path.join(sink_dir, f), orient="records")
        for f in sorted(os.listdir(sink_dir))
        if os.path.getsize(os.path.join(sink_dir, f)) > 2
    ]
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


def test_restart_resumes_without_reprocessing(streaming_spark, tmp_path):
    spark = streaming_spark
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    os.makedirs(src), os.makedirs(sink)

    df1 = spark.createDataFrame([(1, 10, "v10"), (2, 5, "w5")], A_SCHEMA)
    _write_chunk(spark, df1, src, "chunk-000")

    # run 1: processes chunk 0, emits initial latest rows
    out = stream_dedup_latest(_read_stream(spark, src, df1.schema), "id", "ts", tiebreak=["tag"])
    _run_once(out, sink, ckpt)
    em1 = _emissions(sink)
    assert sorted(zip(em1["id"], em1["ts"])) == [(1, 10), (2, 5)]

    # new data lands while the query is down: a newer + a stale version
    df2 = spark.createDataFrame([(1, 20, "v20"), (2, 1, "stale")], A_SCHEMA)
    _write_chunk(spark, df2, src, "chunk-001")

    # run 2, same checkpoint: must process ONLY chunk 1, and the
    # rehydrated state must suppress the stale id-2 version
    out2 = stream_dedup_latest(_read_stream(spark, src, df1.schema), "id", "ts", tiebreak=["tag"])
    _run_once(out2, sink, ckpt)
    em2 = _emissions(sink)

    # exactly one new emission: id 1 improved to ts 20; id 2's stale
    # version emitted nothing (state survived the restart), and chunk 0
    # was not reprocessed (no duplicate (1,10)/(2,5) rows)
    assert sorted(zip(em2["id"], em2["ts"])) == [(1, 10), (1, 20), (2, 5)]


def test_grouped_join_state_survives_restart(streaming_spark, tmp_path):
    """Kill-and-restart for the grouped (Seq) versioned join: the
    two-side id→latest maps rehydrate from the checkpoint, so a
    micro-batch arriving after restart emits the key's FULL current
    (Seq[X], Seq[Y]) — including X entities seen only before the kill —
    and the converged (O15-reduced: last emission per key) result
    equals processing all chunks in one run. This is the reference's
    whole subject — join state durability under continuous updates
    (``VersioningEvictor.scala:10-29``) — on the cogrouped O8/O9 shape.
    """
    import json

    from flink_join_scaling_spark.streaming.joins import stream_join_versioned

    spark = streaming_spark
    src_x = str(tmp_path / "x")
    src_y = str(tmp_path / "y")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    for d in (src_x, src_y, sink):
        os.makedirs(d)
    x_schema = spark.createDataFrame([], "id long, ts long, ka long, tag string").schema
    y_schema = spark.createDataFrame([], "id long, ts long, kb long, tag string").schema

    def run():
        out = stream_join_versioned(
            _read_stream(spark, src_x, x_schema),
            _read_stream(spark, src_y, y_schema),
            "ka", "kb", "id", "id", "ts", "ts",
            how="full_outer_seq",
        )
        _run_once(out, sink, ckpt)

    # run 1: key 1 holds two X entities and one Y version
    _write_chunk(
        spark,
        spark.createDataFrame(
            [(101, 10, 1, "x101"), (102, 10, 1, "x102")], x_schema
        ),
        src_x,
        "chunk-000",
    )
    _write_chunk(
        spark,
        spark.createDataFrame([(201, 5, 1, "y201v5")], y_schema),
        src_y,
        "chunk-000",
    )
    run()

    # query is DOWN; a newer version of y201 and a new y202 land
    _write_chunk(
        spark,
        spark.createDataFrame(
            [(201, 20, 1, "y201v20"), (202, 3, 1, "y202")], y_schema
        ),
        src_y,
        "chunk-001",
    )
    run()  # restart from the same checkpoint

    em = _emissions(sink)
    k1 = em[em["k"].astype(str) == "1"]
    # chunk 0 was not reprocessed: one emission per run for key 1
    assert len(k1) == 2

    def tags(cell):
        return [json.loads(p)["tag"] for p in json.loads(cell)]

    last = k1.iloc[-1]
    # X state seen only BEFORE the kill is present in the post-restart
    # emission, and the newer y201 version replaced the pre-kill one
    assert tags(last["xs_json"]) == ["x101", "x102"]
    assert tags(last["ys_json"]) == ["y201v20", "y202"]


def test_state_ttl_evicts_idle_keys(streaming_spark, tmp_path):
    """With ttl_ms, a key idle past the TTL is evicted when a later
    batch fires its timeout, so a subsequent stale replay re-emits as
    new — bounded state, the trade the reference's evictor could not
    express. Eviction is lazy: it happens in a batch where the key
    receives no data (a key with fresh data in the timeout batch keeps
    its state — tested via the keep path in run 1→3).

    ProcessingTimeTimeout + noDataMicroBatches would keep an
    availableNow query alive firing empty timeout batches, so that
    conf is disabled for the runs here.
    """
    import time

    spark = streaming_spark
    old = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        sink = str(tmp_path / "sink")
        os.makedirs(src), os.makedirs(sink)
        schema = spark.createDataFrame([], A_SCHEMA).schema

        def run(df, chunk):
            _write_chunk(spark, df, src, chunk)
            out = stream_dedup_latest(
                _read_stream(spark, src, schema), "id", "ts",
                tiebreak=["tag"], ttl_ms=500,
            )
            _run_once(out, sink, ckpt)

        run(spark.createDataFrame([(1, 100, "new")], A_SCHEMA), "chunk-000")
        time.sleep(1.5)  # TTL lapses while the query is down
        # run 2: only key 2 → fires key 1's timeout, evicting its state
        run(spark.createDataFrame([(2, 1, "other")], A_SCHEMA), "chunk-001")
        # run 3: stale replay of key 1 — state is gone, so it re-emits
        run(spark.createDataFrame([(1, 50, "stale")], A_SCHEMA), "chunk-002")

        em = _emissions(sink)
        rows = sorted(zip(em["id"], em["ts"], em["tag"]))
        assert (1, 50, "stale") in rows  # proof the TTL evicted key 1
        assert (1, 100, "new") in rows and (2, 1, "other") in rows
    finally:
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", old)


@pytest.mark.parametrize("how", ["full_outer", "full_outer_seq"])
def test_join_state_ttl_evicts_idle_keys(streaming_spark, tmp_path, how):
    """Same TTL contract on the versioned join, pair and Seq variants:
    an idle key's two-side state is evicted, so a later right-side
    arrival emits as a right-only row instead of pairing with the
    forgotten left."""
    import json
    import time

    from flink_join_scaling_spark.streaming.joins import stream_join_versioned

    spark = streaming_spark
    old = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        src_a = str(tmp_path / "a")
        src_b = str(tmp_path / "b")
        ckpt = str(tmp_path / "ckpt")
        sink = str(tmp_path / "sink")
        for d in (src_a, src_b, sink):
            os.makedirs(d)
        a_schema = spark.createDataFrame([], A_SCHEMA).schema
        b_schema = spark.createDataFrame([], "id long, ts long, ida long, tag string").schema

        def run(chunk_a, chunk_b, name_a, name_b):
            if chunk_a is not None:
                _write_chunk(spark, chunk_a, src_a, name_a)
            if chunk_b is not None:
                _write_chunk(spark, chunk_b, src_b, name_b)
            out = stream_join_versioned(
                _read_stream(spark, src_a, a_schema),
                _read_stream(spark, src_b, b_schema),
                "id", "ida", "id", "id", "ts", "ts",
                how=how, ttl_ms=500,
            )
            _run_once(out, sink, ckpt)

        # run 1: left row for key 1 → (x, null)
        run(spark.createDataFrame([(1, 10, "a1")], A_SCHEMA), None, "chunk-000", None)
        time.sleep(1.5)
        # run 2: unrelated key 9 fires key 1's timeout → state evicted
        run(spark.createDataFrame([(9, 1, "a9")], A_SCHEMA), None, "chunk-001", None)
        # run 3: right row for key 1 — left side forgotten → (null, y)
        run(None, spark.createDataFrame([(5, 1, 1, "b5")], b_schema), None, "chunk-000")

        em = _emissions(sink)
        last_k1 = em[em["k"].astype(str) == "1"].iloc[-1]
        if how == "full_outer":
            assert pd.isna(last_k1["x_payload"])  # left side forgotten
            assert json.loads(last_k1["y_payload"])["tag"] == "b5"
        else:
            assert last_k1["xs_json"] == "[]"  # left side forgotten
            ys = json.loads(last_k1["ys_json"])
            assert [json.loads(p)["tag"] for p in ys] == ["b5"]
    finally:
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", old)


def test_interval_join_state_survives_restart(streaming_spark, tmp_path):
    """Kill-and-restart for the BUILT-IN watermarked stream-stream
    interval join (the state Spark manages itself, vs the keyed-state
    joins above): a click buffered before the kill must pair with a
    purchase arriving after the restart — the buffered side rehydrates
    from the checkpoint, and the watermark (still inside the `within`
    horizon) has not evicted it. Stream-stream joins are append-mode,
    so this uses its own runner."""
    import datetime as dt

    from flink_join_scaling_spark.streaming.joins import stream_stream_join_within

    spark = streaming_spark
    src_x = str(tmp_path / "x")
    src_y = str(tmp_path / "y")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    for d in (src_x, src_y, sink):
        os.makedirs(d)
    x_schema = spark.createDataFrame(
        [], "user_id long, click_id long, cts timestamp"
    ).schema
    y_schema = spark.createDataFrame(
        [], "user_id long, purchase_id long, pts timestamp"
    ).schema

    def run():
        out = stream_stream_join_within(
            _read_stream(spark, src_x, x_schema),
            _read_stream(spark, src_y, y_schema),
            on="user_id",
            x_ts="cts",
            y_ts="pts",
            within="30 minutes",
            delay="10 seconds",
        ).select("click_id", "purchase_id")
        q = (
            out.writeStream.foreachBatch(
                lambda b, i: b.toPandas().to_json(
                    os.path.join(sink, f"b{i:04d}.json"), orient="records"
                )
            )
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    t = dt.datetime(2026, 1, 1, 10, 0, 0)
    # run 1: a click, no purchase yet -> no pairs, click buffered
    _write_chunk(
        spark,
        spark.createDataFrame([(1, 100, t)], x_schema),
        src_x,
        "chunk-000",
    )
    run()
    # query DOWN; a purchase 5 min after the click lands
    _write_chunk(
        spark,
        spark.createDataFrame(
            [(1, 200, t + dt.timedelta(minutes=5))], y_schema
        ),
        src_y,
        "chunk-000",
    )
    run()  # restart from the same checkpoint

    em = _emissions(sink)
    pairs = sorted(zip(em["click_id"], em["purchase_id"]))
    # the pre-kill click paired with the post-restart purchase exactly once
    assert pairs == [(100, 200)]


def test_scd2_state_survives_restart(streaming_spark, tmp_path):
    """Kill-and-restart for continuous SCD2: the retained version-list
    state rehydrates, so a post-restart late version still splits the
    interval history exactly — committed chunks are not reprocessed."""
    from flink_join_scaling_spark.streaming.dedup import stream_scd2_intervals

    spark = streaming_spark
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    os.makedirs(src), os.makedirs(sink)

    schema_str = "event_id long, k long, attr string, ts long"
    df1 = spark.createDataFrame([(1, 1, "A", 100), (2, 1, "A", 300)], schema_str)
    _write_chunk(spark, df1, src, "chunk-000")

    out = stream_scd2_intervals(
        _read_stream(spark, src, df1.schema), "k", "attr", "ts", "event_id"
    )
    _run_once(out, sink, ckpt)
    em1 = _emissions(sink)
    assert list(em1.iloc[-1]["attr"]) == ["A"]  # one merged interval

    # while down: a LATE version with a different attr lands mid-interval
    df2 = spark.createDataFrame([(3, 1, "B", 200)], schema_str)
    _write_chunk(spark, df2, src, "chunk-001")

    out2 = stream_scd2_intervals(
        _read_stream(spark, src, df1.schema), "k", "attr", "ts", "event_id"
    )
    _run_once(out2, sink, ckpt)
    em2 = _emissions(sink)
    # exactly one new emission (the re-split history); the rehydrated
    # state held versions 100/300, so the split is A|B|A — impossible
    # if state had been lost or chunk 0 reprocessed from scratch with
    # only its own rows
    assert len(em2) == len(em1) + 1
    final = em2.iloc[-1]
    assert list(final["attr"]) == ["A", "B", "A"]
    assert [int(x) for x in final["valid_from"]] == [100, 200, 300]
    assert list(final["is_current"]) == [False, False, True]


def test_mg_sketch_state_survives_restart(streaming_spark, tmp_path):
    """Kill-and-restart for continuous Misra-Gries: the bucket summary
    rehydrates, so post-restart occurrences ADD to the pre-kill
    estimates — committed chunks are not reprocessed and the sketch is
    not restarted from zero. With k=2 the pre-kill chunk forces one
    eviction trim (delta=1), pinning the rehydrated counter to an
    exact, order-independent value the final emission must extend."""
    from flink_join_scaling_spark.streaming.sketches import (
        stream_heavy_hitters,
    )

    spark = streaming_spark
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    os.makedirs(src), os.makedirs(sink)

    schema_str = "w string"
    # h x10 + two distinct rares: MG k=2 trims delta=1 -> {h: 9}, total 12
    df1 = spark.createDataFrame(
        [("h",)] * 10 + [("a",), ("b",)], schema_str
    )
    _write_chunk(spark, df1, src, "chunk-000")
    out = stream_heavy_hitters(
        _read_stream(spark, src, df1.schema), "w", k=2, buckets=1
    )
    _run_once(out, sink, ckpt)
    em1 = _emissions(sink)
    pre = {r["token"]: int(r["est"]) for _, r in em1.iterrows()}
    assert pre == {"h": 9}
    assert int(em1.iloc[-1]["bucket_total"]) == 12

    # while down: 5 more h occurrences land
    df2 = spark.createDataFrame([("h",)] * 5, schema_str)
    _write_chunk(spark, df2, src, "chunk-001")
    out2 = stream_heavy_hitters(
        _read_stream(spark, src, df1.schema), "w", k=2, buckets=1
    )
    _run_once(out2, sink, ckpt)
    em2 = _emissions(sink)
    final = em2.iloc[-1]
    # 9 (rehydrated) + 5 (new) — state lost would give 5; chunk-000
    # reprocessed would give 14 but with bucket_total 29, not 17
    assert (final["token"], int(final["est"])) == ("h", 14)
    assert int(final["bucket_total"]) == 17


def test_hll_rollup_state_survives_restart(streaming_spark, tmp_path):
    """Kill-and-restart for the continuous HLL rollup: the register
    state rehydrates, so the post-restart estimate covers BOTH chunks'
    distincts (state loss would count only chunk 1's) and equals the
    batch sketch over the union."""
    from flink_join_scaling_spark.streaming.sketches import stream_hll_rollup

    spark = streaming_spark
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    os.makedirs(src), os.makedirs(sink)

    schema_str = "source string, w string"
    rows1 = [("s", f"tok{i}") for i in range(300)]
    df1 = spark.createDataFrame(rows1, schema_str)
    _write_chunk(spark, df1, src, "chunk-000")
    out = stream_hll_rollup(
        _read_stream(spark, src, df1.schema), "source", "w"
    )
    _run_once(out.drop("sketch"), sink, ckpt)

    rows2 = [("s", f"tok{i}") for i in range(200, 500)]  # 100 overlap
    df2 = spark.createDataFrame(rows2, schema_str)
    _write_chunk(spark, df2, src, "chunk-001")
    out2 = stream_hll_rollup(
        _read_stream(spark, src, df1.schema), "source", "w"
    )
    _run_once(out2.drop("sketch"), sink, ckpt)
    em = _emissions(sink)
    final = int(em.iloc[-1]["n_est"])

    # 500 true distincts across both chunks. Exact equality with the
    # batch sketch does NOT hold here: the streaming path merges
    # serialized per-batch partials while batch updates one sketch
    # directly, and DataSketches' union path can differ by a few
    # counts from direct updates. The recovery property is that the
    # estimate covers BOTH chunks — state loss would leave ~300 —
    # attested with the same 5% band the batch q_hll_rollup uses.
    assert abs(final - 500) <= 25, final


def test_cms_state_survives_restart(streaming_spark, tmp_path):
    """Kill-and-restart for the continuous Count-Min sketch: counter
    state rehydrates from the checkpoint, so the converged post-restart
    sketch EXACTLY equals the batch sketch over both chunks' union
    (integer counters — unlike HLL there is no merge tolerance; state
    loss would leave chunk 1's counts missing)."""
    from flink_join_scaling_spark.operators.sketches import cms_build
    from flink_join_scaling_spark.streaming.sketches import stream_cms

    spark = streaming_spark
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    os.makedirs(src), os.makedirs(sink)

    schema_str = "w string"
    rows1 = [(f"tok{i % 40}",) for i in range(400)]
    df1 = spark.createDataFrame(rows1, schema_str)
    _write_chunk(spark, df1, src, "chunk-000")
    _run_once(stream_cms(_read_stream(spark, src, df1.schema), "w"), sink, ckpt)

    rows2 = [(f"tok{i % 55}",) for i in range(300)]
    df2 = spark.createDataFrame(rows2, schema_str)
    _write_chunk(spark, df2, src, "chunk-001")
    _run_once(stream_cms(_read_stream(spark, src, df1.schema), "w"), sink, ckpt)

    em = _emissions(sink)
    last = em.groupby(["d", "pos"], as_index=False).last()
    got = {(int(r.d), int(r.pos)): int(r.cnt) for r in last.itertuples(index=False)}
    batch = {
        (r.d, r.pos): r.cnt
        for r in cms_build(df1.unionByName(df2), "w").collect()
    }
    assert got == batch


def test_winnow_bucket_state_survives_restart(streaming_spark, tmp_path):
    """Kill-and-restart for the continuous winnowing detector: the
    fingerprint-bucket membership lists rehydrate from the checkpoint,
    so a post-restart arrival sharing a pre-restart document's
    fingerprints still emits the cross-chunk pair (state loss would
    silently lose exactly these pairs), and total converged emission
    counts equal the batch n_shared over both chunks' union."""
    from collections import Counter

    from flink_join_scaling_spark.operators.dedup import winnow_dedup_pairs
    from flink_join_scaling_spark.streaming.dedup import stream_dedup_winnow

    spark = streaming_spark
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    os.makedirs(src), os.makedirs(sink)

    run = " ".join(f"sh{j}" for j in range(8))  # k+w-1 guarantee run
    schema_str = "doc_id long, text string"
    df1 = spark.createDataFrame(
        [(1, run + " " + " ".join(f"a{j}" for j in range(12)))], schema_str
    )
    _write_chunk(spark, df1, src, "chunk-000")
    _run_once(
        stream_dedup_winnow(_read_stream(spark, src, df1.schema), "doc_id", "text"),
        sink, ckpt,
    )

    df2 = spark.createDataFrame(
        [(2, " ".join(f"b{j}" for j in range(9)) + " " + run)], schema_str
    )
    _write_chunk(spark, df2, src, "chunk-001")
    _run_once(
        stream_dedup_winnow(_read_stream(spark, src, df1.schema), "doc_id", "text"),
        sink, ckpt,
    )

    em = _emissions(sink)
    got = Counter((int(r.id_a), int(r.id_b)) for r in em.itertuples(index=False))
    batch = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnow_dedup_pairs(
            df1.unionByName(df2), "doc_id", "text", min_shared=1, max_df=1 << 30
        ).collect()
    }
    assert (1, 2) in got, "cross-restart pair lost — bucket state not recovered"
    assert dict(got) == batch


def test_phash_bucket_state_survives_restart(streaming_spark, tmp_path):
    """Kill-and-restart for the continuous image near-dup detector:
    the band-membership state (id + 64-bit dHash per bucket)
    rehydrates from the checkpoint, so a post-restart arrival of the
    planted near-duplicate still emits the cross-restart pair — and
    the hamming it emits equals the batch pipeline's."""
    from flink_join_scaling_spark.operators import multimodal as mm
    from flink_join_scaling_spark.operators.dedup import phash_dedup_pairs
    from flink_join_scaling_spark.streaming.dedup import stream_dedup_phash

    spark = streaming_spark
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    os.makedirs(src), os.makedirs(sink)

    schema_str = "doc_id long, payload binary"
    df1 = spark.createDataFrame(
        [(0, mm.synth_png(0)), (8, mm.synth_png(8))], schema_str
    )
    _write_chunk(spark, df1, src, "chunk-000")
    _run_once(
        stream_dedup_phash(_read_stream(spark, src, df1.schema), "doc_id"),
        sink, ckpt,
    )

    df2 = spark.createDataFrame([(1, mm.synth_png(1))], schema_str)
    _write_chunk(spark, df2, src, "chunk-001")
    _run_once(
        stream_dedup_phash(_read_stream(spark, src, df1.schema), "doc_id"),
        sink, ckpt,
    )

    em = _emissions(sink)
    got = {(int(r.id_a), int(r.id_b), int(r.hamming)) for r in em.itertuples(index=False)}
    batch = {
        (r.id_a, r.id_b, r.hamming)
        for r in phash_dedup_pairs(
            df1.unionByName(df2), "doc_id", max_hamming=3
        ).collect()
    }
    assert any(p[:2] == (0, 1) for p in got), (
        "cross-restart pair lost — band state not recovered"
    )
    assert got == batch


def test_audiohash_bucket_state_survives_restart(streaming_spark, tmp_path):
    """Kill-and-restart for the continuous AUDIO near-dup detector —
    the r10 image-detector restart contract applied to the WAV face:
    band-membership state rehydrates from the checkpoint, a
    post-restart arrival of the planted near-duplicate clip still
    emits the cross-restart pair, and every emitted hamming equals the
    batch pipeline's on the same payloads."""
    from flink_join_scaling_spark.operators import multimodal as mm
    from flink_join_scaling_spark.operators.dedup import audiohash_dedup_pairs
    from flink_join_scaling_spark.streaming.dedup import stream_dedup_audiohash

    spark = streaming_spark
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    os.makedirs(src), os.makedirs(sink)

    schema_str = "doc_id long, payload binary"
    df1 = spark.createDataFrame(
        [(0, mm.synth_wav(0)), (8, mm.synth_wav(8))], schema_str
    )
    _write_chunk(spark, df1, src, "chunk-000")
    _run_once(
        stream_dedup_audiohash(_read_stream(spark, src, df1.schema), "doc_id"),
        sink, ckpt,
    )

    df2 = spark.createDataFrame([(1, mm.synth_wav(1))], schema_str)
    _write_chunk(spark, df2, src, "chunk-001")
    _run_once(
        stream_dedup_audiohash(_read_stream(spark, src, df1.schema), "doc_id"),
        sink, ckpt,
    )

    em = _emissions(sink)
    got = {(int(r.id_a), int(r.id_b), int(r.hamming)) for r in em.itertuples(index=False)}
    batch = {
        (r.id_a, r.id_b, r.hamming)
        for r in audiohash_dedup_pairs(
            df1.unionByName(df2), "doc_id", max_hamming=3
        ).collect()
    }
    assert any(p[:2] == (0, 1) for p in got), (
        "cross-restart pair lost — band state not recovered"
    )
    assert got == batch


def test_frames_bucket_state_survives_restart(streaming_spark, tmp_path):
    """Kill-and-restart for the continuous FRAME-level detector: the
    band-membership state keyed by composite node ids rehydrates from
    the checkpoint, so a post-restart arrival of the frame-wise
    near-duplicate container still emits every cross-restart
    frame-aligned pair, hamming-equal to the batch pipeline."""
    from flink_join_scaling_spark.operators import multimodal as mm
    from flink_join_scaling_spark.operators.dedup import hash64_band_pairs
    from flink_join_scaling_spark.streaming.dedup import stream_dedup_frames

    spark = streaming_spark
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    os.makedirs(src), os.makedirs(sink)

    schema_str = "doc_id long, payload binary"
    df1 = spark.createDataFrame(
        [(0, mm.synth_apng_group(0)), (8, mm.synth_apng_group(8))], schema_str
    )
    _write_chunk(spark, df1, src, "chunk-000")
    _run_once(
        stream_dedup_frames(_read_stream(spark, src, df1.schema), "doc_id"),
        sink, ckpt,
    )

    df2 = spark.createDataFrame([(1, mm.synth_apng_group(1))], schema_str)
    _write_chunk(spark, df2, src, "chunk-001")
    _run_once(
        stream_dedup_frames(_read_stream(spark, src, df1.schema), "doc_id"),
        sink, ckpt,
    )

    em = _emissions(sink)
    got = {(int(r.id_a), int(r.id_b), int(r.hamming)) for r in em.itertuples(index=False)}
    fh = mm.apng_frame_hashes(
        mm.attach_synth_apng_group(
            df1.unionByName(df2).select("doc_id"), "doc_id"
        ),
        "doc_id",
    ).localCheckpoint(eager=True)
    batch = {
        (r.id_a, r.id_b, r.hamming)
        for r in hash64_band_pairs(
            fh.select("node", "fhash"), "node", "fhash", max_hamming=3
        ).collect()
    }
    # doc 0's frames live in state before the kill; doc 1's arrival
    # after restart must pair with them (nodes 0..n-1 vs 16..16+n-1)
    assert any(p[0] < 16 and 16 <= p[1] < 32 for p in got), (
        "cross-restart frame pair lost — band state not recovered"
    )
    assert got == batch


def test_minhash_bucket_state_survives_restart(streaming_spark, tmp_path):
    """Kill-and-restart for the continuous TEXT LSH detector (r12 —
    the image/audio restart contract applied to the minhash face):
    bucket-membership state rehydrates from the checkpoint, so a
    post-restart arrival of a near-duplicate document still emits the
    cross-restart candidate pair, and the converged candidate set
    equals the batch banded self-join's on the same corpus."""
    from flink_join_scaling_spark.operators.dedup import (
        minhash_bands,
        minhash_signatures,
    )
    from flink_join_scaling_spark.streaming.dedup import stream_dedup_minhash

    spark = streaming_spark
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    os.makedirs(src), os.makedirs(sink)

    base = "the quick brown fox jumps over the lazy dog and runs far away"
    schema_str = "doc_id long, text string"
    df1 = spark.createDataFrame(
        [(0, base), (8, "completely unrelated words about spark shuffles")],
        schema_str,
    )
    _write_chunk(spark, df1, src, "chunk-000")
    _run_once(
        stream_dedup_minhash(
            _read_stream(spark, src, df1.schema), "doc_id", "text",
            max_bucket=4096,
        ),
        sink, ckpt,
    )

    df2 = spark.createDataFrame([(1, base + " tonight")], schema_str)
    _write_chunk(spark, df2, src, "chunk-001")
    _run_once(
        stream_dedup_minhash(
            _read_stream(spark, src, df1.schema), "doc_id", "text",
            max_bucket=4096,
        ),
        sink, ckpt,
    )

    em = _emissions(sink)
    got = {(int(r.id_a), int(r.id_b)) for r in em[["id_a", "id_b"]].itertuples(index=False)}
    docs = df1.unionByName(df2)
    bands = minhash_bands(minhash_signatures(docs, "doc_id", "text"), "doc_id")
    a = bands.select(F.col("doc_id").alias("id_a"), "band_idx", "band_hash")
    b = bands.select(F.col("doc_id").alias("id_b"), "band_idx", "band_hash")
    batch = {
        (r.id_a, r.id_b)
        for r in a.join(b, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct().collect()
    }
    assert (0, 1) in got, (
        "cross-restart candidate lost — bucket state not recovered"
    )
    assert got == batch


def test_simhash_bucket_state_survives_restart(streaming_spark, tmp_path):
    """Kill-and-restart for the continuous SimHash detector (r12):
    byte-band bucket state rehydrates, the post-restart near-duplicate
    emits the cross-restart pair, and every emitted pair carries the
    exact verified hamming the batch pipeline computes."""
    from flink_join_scaling_spark.operators.dedup import simhash_dedup_pairs
    from flink_join_scaling_spark.streaming.dedup import stream_dedup_simhash

    spark = streaming_spark
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    os.makedirs(src), os.makedirs(sink)

    base = "the quick brown fox jumps over the lazy dog and runs far away"
    schema_str = "doc_id long, text string"
    df1 = spark.createDataFrame(
        [(0, base), (8, "completely unrelated words about spark shuffles")],
        schema_str,
    )
    _write_chunk(spark, df1, src, "chunk-000")
    _run_once(
        stream_dedup_simhash(
            _read_stream(spark, src, df1.schema), "doc_id", "text",
            max_bucket=4096,
        ),
        sink, ckpt,
    )

    df2 = spark.createDataFrame([(1, base + " tonight")], schema_str)
    _write_chunk(spark, df2, src, "chunk-001")
    _run_once(
        stream_dedup_simhash(
            _read_stream(spark, src, df1.schema), "doc_id", "text",
            max_bucket=4096,
        ),
        sink, ckpt,
    )

    em = _emissions(sink)
    got = {
        (int(r.id_a), int(r.id_b), int(r.hamming))
        for r in em[["id_a", "id_b", "hamming"]].itertuples(index=False)
    }
    batch = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_dedup_pairs(
            df1.unionByName(df2), "doc_id", "text"
        ).collect()
    }
    assert any(p[:2] == (0, 1) for p in got), (
        "cross-restart pair lost — bucket state not recovered"
    )
    assert got == batch


def test_semantic_cell_state_survives_restart(streaming_spark, tmp_path):
    """Kill-and-restart for the continuous SEMANTIC detector: the
    per-cell (id, packed-vector) membership state rehydrates from the
    checkpoint, so a post-restart arrival of a near-identical
    embedding still emits the cross-restart pair with the exact batch
    e6 cosine."""
    from flink_join_scaling_spark.operators.dedup import (
        embedding_dedup_pairs_exact,
    )
    from flink_join_scaling_spark.streaming.dedup import stream_dedup_semantic

    spark = streaming_spark
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    os.makedirs(src), os.makedirs(sink)

    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]
    schema_str = "vec_id long, embedding array<double>"
    df1 = spark.createDataFrame(
        [(0, [1.0, 0.02, 0.0, 0.0]), (5, [0.0, 0.0, 1.0, 0.0])], schema_str
    )
    _write_chunk(spark, df1, src, "chunk-000")
    _run_once(
        stream_dedup_semantic(
            _read_stream(spark, src, df1.schema), "vec_id", "embedding", cents
        ),
        sink, ckpt,
    )

    df2 = spark.createDataFrame([(1, [1.0, 0.03, 0.0, 0.0])], schema_str)
    _write_chunk(spark, df2, src, "chunk-001")
    _run_once(
        stream_dedup_semantic(
            _read_stream(spark, src, df1.schema), "vec_id", "embedding", cents
        ),
        sink, ckpt,
    )

    em = _emissions(sink)
    got = {
        (int(r.id_a), int(r.id_b), int(r.cosine_e6))
        for r in em.itertuples(index=False)
    }
    batch = {
        (r.id_a, r.id_b, r.cosine_e6)
        for r in embedding_dedup_pairs_exact(
            df1.unionByName(df2), "vec_id", "embedding",
            threshold=0.85, emit_e6=True,
        ).collect()
    }
    assert any(p[:2] == (0, 1) for p in got), (
        "cross-restart pair lost — cell state not recovered"
    )
    assert got == batch
