"""Tests for the foreachBatch keyed-upsert sink (streaming/sinks.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_join_scaling_spark.streaming import chunked_parquet_stream
from flink_join_scaling_spark.streaming.dedup import stream_dedup_latest
from flink_join_scaling_spark.streaming.sinks import (
    read_upsert_snapshot,
    upsert_sink,
)

A_SCHEMA = "id long, ts long, tag string"


def _run(sdf, sink):
    q = (
        sdf.writeStream.foreachBatch(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _tags(snap) -> set:
    return {(r.id, r.ts, r.tag) for r in snap.collect()}


def test_upsert_converges_to_latest(streaming_spark, tmp_path):
    """Changelog of a versioned dedup upserted into a snapshot equals
    the batch dedup of the full input."""
    spark = streaming_spark
    rows = [(i % 4, t, f"v{t}") for t, i in ((t, t) for t in range(16))]
    df = spark.createDataFrame(rows, A_SCHEMA)
    s = chunked_parquet_stream(spark, df, str(tmp_path / "in"), n_chunks=4)
    out = stream_dedup_latest(s, "id", "ts", tiebreak=["tag"])
    _run(out, upsert_sink(str(tmp_path / "snap"), "id", ts_col="ts"))

    snap = read_upsert_snapshot(spark, str(tmp_path / "snap"))
    got = {(r.id, r.ts, r.tag) for r in snap.collect()}
    from flink_join_scaling_spark.operators.versioned import dedup_latest

    exp = {(r.id, r.ts, r.tag) for r in dedup_latest(df, "id", "ts").collect()}
    assert got == exp
    assert snap.count() == 4  # exactly one row per key


def test_upsert_ignores_stale_redelivery(streaming_spark, tmp_path):
    """A redelivered older version must not overwrite a newer snapshot
    row when ts_col is given (last-writer-wins at the sink)."""
    spark = streaming_spark
    root = str(tmp_path / "snap")
    sink = upsert_sink(root, "id", ts_col="ts")
    b1 = spark.createDataFrame([(1, 100, "new")], A_SCHEMA)
    b2 = spark.createDataFrame([(1, 50, "stale"), (2, 10, "other")], A_SCHEMA)
    sink(b1, 0)
    sink(b2, 1)
    snap = read_upsert_snapshot(spark, root)
    assert {(r.id, r.ts, r.tag) for r in snap.collect()} == {
        (1, 100, "new"),
        (2, 10, "other"),
    }


def test_upsert_without_ts_replaces(streaming_spark, tmp_path):
    """Without ``ts_col`` a key's batch rows replace its whole row set;
    rows sharing a key within one batch are all kept."""
    spark = streaming_spark
    root = str(tmp_path / "snap")
    sink = upsert_sink(root, "id")
    sink(spark.createDataFrame([(1, 1, "a"), (1, 2, "b"), (2, 1, "c")], A_SCHEMA), 0)
    assert _tags(read_upsert_snapshot(spark, root)) == {
        (1, 1, "a"),
        (1, 2, "b"),
        (2, 1, "c"),
    }
    sink(spark.createDataFrame([(1, 3, "d")], A_SCHEMA), 1)
    assert _tags(read_upsert_snapshot(spark, root)) == {(1, 3, "d"), (2, 1, "c")}


def test_upsert_replay_after_flip_is_skipped(streaming_spark, tmp_path):
    """A batch whose generation ``_LATEST`` already names committed
    before the crash: its replay rewrites nothing."""
    spark = streaming_spark
    root = str(tmp_path / "snap")
    sink = upsert_sink(root, "id")
    sink(spark.createDataFrame([(1, 1, "a")], A_SCHEMA), 0)
    sink(spark.createDataFrame([(2, 1, "b")], A_SCHEMA), 1)
    gen_dir = tmp_path / "snap" / "gen-000000001"
    files = {p.name: p.stat().st_mtime_ns for p in gen_dir.iterdir()}
    sink(spark.createDataFrame([(2, 9, "replayed")], A_SCHEMA), 1)
    assert {p.name: p.stat().st_mtime_ns for p in gen_dir.iterdir()} == files
    assert _tags(read_upsert_snapshot(spark, root)) == {(1, 1, "a"), (2, 1, "b")}


def test_upsert_replay_after_crash_before_flip(streaming_spark, tmp_path):
    """A crash between the write and the pointer flip leaves a
    half-committed generation; the replay overwrites it."""
    spark = streaming_spark
    root = str(tmp_path / "snap")
    sink = upsert_sink(root, "id")
    sink(spark.createDataFrame([(1, 1, "a")], A_SCHEMA), 0)
    spark.createDataFrame([(7, 7, "half-written")], A_SCHEMA).write.parquet(
        str(tmp_path / "snap" / "gen-000000001")
    )
    assert _tags(read_upsert_snapshot(spark, root)) == {(1, 1, "a")}
    sink(spark.createDataFrame([(2, 1, "b")], A_SCHEMA), 1)
    assert _tags(read_upsert_snapshot(spark, root)) == {(1, 1, "a"), (2, 1, "b")}


def test_upsert_keeps_two_generations(streaming_spark, tmp_path):
    spark = streaming_spark
    root = tmp_path / "snap"
    sink = upsert_sink(str(root), "id", ts_col="ts")
    for b in range(5):
        sink(spark.createDataFrame([(b % 2, b, f"v{b}")], A_SCHEMA), b)
    gens = sorted(p.name for p in root.iterdir() if p.name.startswith("gen-"))
    assert gens == ["gen-000000003", "gen-000000004"]
    assert _tags(read_upsert_snapshot(spark, str(root))) == {
        (0, 4, "v4"),
        (1, 3, "v3"),
    }


def test_stream_join_into_upsert_sink_matches_batch(streaming_spark, tmp_path):
    """The documented pattern: ``stream_join_versioned`` upserted on
    ``"k"``. Keys with several B ids emit one row per pairing, and the
    converged snapshot equals the batch full outer join."""
    import random
    from collections import Counter

    from flink_join_scaling_spark.operators.joins import join_full_outer
    from flink_join_scaling_spark.streaming import stream_join_versioned

    spark = streaming_spark
    rng = random.Random(5)
    a_rows = [(i, rng.randrange(1000), f"a{i}v{v}") for i in range(5) for v in range(2)]
    # B ids 0..11 over A keys 0..5 (two B ids per key; key 5 has no A)
    b_rows = [
        (i, rng.randrange(1000), i % 6, f"b{i}v{v}") for i in range(12) for v in range(2)
    ]
    rng.shuffle(a_rows)
    rng.shuffle(b_rows)
    a = spark.createDataFrame(a_rows, A_SCHEMA)
    b = spark.createDataFrame(b_rows, "id long, ts long, ida long, tag string")
    sa = chunked_parquet_stream(spark, a, str(tmp_path / "a"), n_chunks=3)
    sb = chunked_parquet_stream(spark, b, str(tmp_path / "b"), n_chunks=3)
    out = stream_join_versioned(sa, sb, "id", "ida", "id", "id", "ts", "ts")
    root = str(tmp_path / "snap")
    _run(out, upsert_sink(root, "k"))

    snap = read_upsert_snapshot(spark, root)
    x = F.get_json_object("x_payload", "$.tag")
    y = F.get_json_object("y_payload", "$.tag")
    got = Counter(tuple(r) for r in snap.select(x, y).collect())
    batch = join_full_outer(a, b, "id", "ida", "id", "id", "ts", "ts")
    want = Counter((r.x_tag, r.y_tag) for r in batch.collect())
    assert sum(want.values()) == 12
    assert got == want
