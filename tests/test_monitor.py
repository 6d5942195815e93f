"""Tests for stream monitoring (O13: observe + listener)."""

from __future__ import annotations

import time

from flink_join_scaling_spark.streaming import chunked_parquet_stream
from flink_join_scaling_spark.streaming.monitor import StreamMetrics, observed


def test_observe_and_listener_collect_batch_metrics(streaming_spark, tmp_path):
    spark = streaming_spark
    df = spark.createDataFrame(
        [(i, i * 1000) for i in range(12)], "id long, ts long"
    )
    s = chunked_parquet_stream(spark, df, str(tmp_path), n_chunks=3)
    mon = StreamMetrics.install(spark)
    try:
        q = (
            observed(s, ts_col="ts")
            .writeStream.format("noop")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # listener events are delivered asynchronously
        for _ in range(40):
            if sum(b.num_input_rows for b in mon.batches) >= 12:
                break
            time.sleep(0.25)
    finally:
        mon.uninstall(spark)

    data_batches = [b for b in mon.batches if b.num_input_rows > 0]
    assert len(data_batches) == 3  # one per chunk
    assert sum(b.num_input_rows for b in data_batches) == 12
    # observed metrics rode the plan: counts and event-time bounds
    assert all(b.observed["n_rows"] == b.num_input_rows for b in data_batches)
    assert max(b.observed["max_ts"] for b in data_batches) == 11000


def test_versioned_join_into_upsert_sink_runs_state_once(streaming_spark, tmp_path):
    """Each micro-batch evaluates the join's state operator once: after
    the drain, the state holds one row per live join key. A sink that
    read its batch frame twice would run the stateful stage twice and
    double ``numRowsTotal``."""
    from flink_join_scaling_spark.streaming import stream_join_versioned, upsert_sink

    spark = streaming_spark
    a = spark.createDataFrame(
        [(i, v, f"a{i}v{v}") for i in range(6) for v in range(2)],
        "id long, ts long, tag string",
    )
    b = spark.createDataFrame(
        [(i, v, i % 8, f"b{i}v{v}") for i in range(10) for v in range(2)],
        "id long, ts long, ida long, tag string",
    )
    sa = chunked_parquet_stream(spark, a, str(tmp_path / "a"), n_chunks=3)
    sb = chunked_parquet_stream(spark, b, str(tmp_path / "b"), n_chunks=3)
    out = stream_join_versioned(sa, sb, "id", "ida", "id", "id", "ts", "ts")
    mon = StreamMetrics.install(spark)
    try:
        q = (
            out.writeStream.foreachBatch(upsert_sink(str(tmp_path / "snap"), "k"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        for _ in range(40):
            if sum(b.num_input_rows for b in mon.batches) >= 32:
                break
            time.sleep(0.25)
    finally:
        mon.uninstall(spark)

    data_batches = [b for b in mon.batches if b.num_input_rows > 0]
    assert sum(b.num_input_rows for b in data_batches) == 32
    live_keys = len(set(range(6)) | {i % 8 for i in range(10)})
    assert data_batches[-1].state_rows_total == live_keys
    assert all(0 < b.state_rows_updated <= live_keys for b in data_batches)
    assert all(b.duration_ms["addBatch"] > 0 for b in data_batches)
    assert all(b.state_memory_bytes > 0 for b in data_batches)
