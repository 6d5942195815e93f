"""Stream monitoring (reference O13, ``StreamMonitor.scala:9-44``).

The reference wraps streams in a pass-through operator to watch
watermark flow and keep idle sources alive. Spark equivalents, built
in rather than bolted on:

* idle sources — ``spark.sql.streaming.noDataMicroBatches.enabled``
  (set in the engine session) keeps watermark/stateful progress
  advancing with no data, which is the whole job of the reference's
  idle-timeout re-wrapping (``StreamMonitor.scala:13-29``);
* per-batch metrics — ``df.observe`` attaches aggregate observations
  evaluated inline with the query (no extra pass), surfaced through a
  ``StreamingQueryListener``;
* watermark / throughput / phase durations / state-store sizes —
  already in every progress event.

:class:`StreamMetrics` packages both: observed row counts + event-time
bounds per micro-batch, and the engine-side progress log the
reference's commented-out printlns wanted (``StreamMonitor.scala:
31,36,41``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryListener


def observed(
    sdf: DataFrame,
    name: str = "fjs_monitor",
    ts_col: str | None = None,
) -> DataFrame:
    """Attach inline observations: row count, and min/max event time
    when ``ts_col`` is given. Zero extra passes — metrics ride the
    existing plan (the pass-through-operator idea of O13, minus the
    operator)."""
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    if ts_col is not None:
        metrics += [F.min(ts_col).alias("min_ts"), F.max(ts_col).alias("max_ts")]
    return sdf.observe(name, *metrics)


@dataclass
class BatchMetric:
    """One micro-batch's progress. The ``state_*`` fields sum the
    query's stateful operators (0 without one): rows held after the
    batch, rows it wrote, commit time and memory of the state store.
    A state operator evaluated twice in one batch (a ``foreachBatch``
    sink that reads its frame twice) counts its rows twice."""

    batch_id: int
    num_input_rows: int
    watermark: str | None
    observed: dict[str, Any]
    duration_ms: dict[str, int] = field(default_factory=dict)
    state_rows_total: int = 0
    state_rows_updated: int = 0
    state_commit_ms: int = 0
    state_memory_bytes: int = 0


class StreamMetrics(StreamingQueryListener):
    """Listener collecting per-batch progress + ``observe`` metrics.

    Usage::

        mon = StreamMetrics.install(spark)
        q = observed(plan, ts_col="ts").writeStream...start()
        q.awaitTermination(); mon.uninstall(spark)
        mon.batches  # [BatchMetric(...), ...]
    """

    def __init__(self, observation_name: str = "fjs_monitor"):
        self.observation_name = observation_name
        self.batches: list[BatchMetric] = []

    @classmethod
    def install(cls, spark: SparkSession, observation_name: str = "fjs_monitor"):
        mon = cls(observation_name)
        spark.streams.addListener(mon)
        return mon

    def uninstall(self, spark: SparkSession) -> None:
        spark.streams.removeListener(self)

    # StreamingQueryListener interface
    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        obs_row = p.observedMetrics.get(self.observation_name)
        obs = obs_row.asDict() if obs_row is not None else {}
        ops = p.stateOperators
        self.batches.append(
            BatchMetric(
                batch_id=p.batchId,
                num_input_rows=p.numInputRows,
                watermark=p.eventTime.get("watermark"),
                observed=obs,
                duration_ms=dict(p.durationMs),
                state_rows_total=sum(o.numRowsTotal for o in ops),
                state_rows_updated=sum(o.numRowsUpdated for o in ops),
                state_commit_ms=sum(o.commitTimeMs for o in ops),
                state_memory_bytes=sum(o.memoryUsedBytes for o in ops),
            )
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass
