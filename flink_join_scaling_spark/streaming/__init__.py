"""Structured Streaming execution of the engine's operators.

The reference runs its joins continuously: GlobalWindows + a
fire-per-record ``CountTrigger.of(1)`` re-emit the updated join result
for a key on every arriving record, and a ``VersioningEvictor``
periodically compacts window state (``/root/reference/src/main/scala/
flink_perf/joins.scala:18-20``, ``VersioningEvictor.scala:10-29``).

Spark mapping (SURVEY §3.4/§4.2): micro-batch update mode ≙ a batched
CountTrigger — each micro-batch re-emits results for exactly the keys
that received data. The versioned join's ``applyInPandasWithState``
state is one row per key holding one id→latest-version map per side,
which is the reference's evictor with *perfect* (every-record, not
every-5th) compaction and none of its O(n²)-per-key re-scan.
(``transformWithStateInPandas`` is the Spark-4 successor API, unusable
here: its state protocol imports ``protobuf``, not installed in this
environment.)
"""

from flink_join_scaling_spark.streaming.harness import (  # noqa: F401
    chunked_parquet_stream,
    collect_emissions,
    converged,
    run_to_memory,
)
from flink_join_scaling_spark.streaming.dedup import (  # noqa: F401
    stream_dedup_exact,
    stream_dedup_latest,
    stream_dedup_minhash,
    stream_dedup_simhash,
    stream_dedup_within_watermark,
)
from flink_join_scaling_spark.streaming.sketches import (  # noqa: F401
    stream_heavy_hitters,
    stream_hll_rollup,
)
from flink_join_scaling_spark.streaming.joins import (  # noqa: F401
    stream_join_versioned,
    stream_join_versioned_typed,
    stream_stream_join_within,
)
from flink_join_scaling_spark.streaming.sinks import (  # noqa: F401
    read_upsert_snapshot,
    upsert_sink,
)
from flink_join_scaling_spark.streaming.windows import (  # noqa: F401
    stream_session_agg,
    stream_sliding_agg,
    stream_tumbling_agg,
)
