"""Streaming sinks beyond the built-ins: idempotent keyed upsert.

The reference's downstream contract is a changelog — every emission
supersedes the previous row for its key (``SURVEY §3.1 step 3``); its
only sink is an in-memory test buffer (``sinks.scala:9-27``). A real
consumer wants the *converged table*: latest row per key. Spark's file
sinks are append-only, so the upsert is done in ``foreachBatch`` — the
standard Structured Streaming pattern for merge targets without a
transactional table format (with Delta/Iceberg you'd issue MERGE INTO
instead; same shape, one merge per micro-batch).

Layout: one parquet snapshot directory per micro-batch generation,
``gen-<batch_id>``, with a ``_LATEST`` pointer file flipped after the
write. Readers always see a complete snapshot. Each merge reads the
old snapshot and the batch once, in one key-partitioned window
executed by Spark (no driver-side rows), and keeps only the current
and the previous generation on disk.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _latest_gen(root: str) -> str | None:
    ptr = os.path.join(root, "_LATEST")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return f.read().strip() or None


def read_upsert_snapshot(spark: SparkSession, root: str) -> DataFrame | None:
    """Read the current converged table (or None before first commit)."""
    gen = _latest_gen(root)
    return spark.read.parquet(os.path.join(root, gen)) if gen else None


def _flip_latest(root: str, gen: str, prev: str | None) -> None:
    """Point ``_LATEST`` at ``gen`` (single small-file rewrite), then
    delete every generation but ``gen`` and ``prev``: the previous one
    stays for readers that resolved ``_LATEST`` just before the flip."""
    tmp = os.path.join(root, "_LATEST.tmp")
    with open(tmp, "w") as f:
        f.write(gen)
    os.replace(tmp, os.path.join(root, "_LATEST"))
    for old in os.listdir(root):
        if old.startswith("gen-") and old not in (gen, prev):
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)


def upsert_sink(
    root: str,
    key_cols: str | Sequence[str],
    ts_col: str | None = None,
):
    """Build a ``foreachBatch`` function that merges each micro-batch
    into a keyed parquet snapshot.

    Without ``ts_col``, a key's rows in the batch replace the key's
    whole old row set, and keys the batch does not touch keep theirs.
    This is the changelog contract of :func:`stream_join_versioned`,
    which emits a touched key's full current join result (one row per
    pairing) every time, so its changelog upserted on ``"k"`` converges
    to the batch join. The join's null-keyed rows are emitted per
    (side, id), not as one key's result; drop or re-key them before an
    upsert on ``"k"``.

    With ``ts_col``, the sink keeps one row per key, the newest by
    ``ts_col`` over the old row and the batch's rows, the old row
    winning a tie (last-writer-wins against out-of-order redelivery).

    The sink is idempotent by batch id: a batch whose generation
    ``_LATEST`` already names is skipped, and a batch that crashed
    between its write and the pointer flip rewrites its generation.
    So ``root`` belongs to one query and its checkpoint.

    Usage::

        q = (changelog.writeStream
             .foreachBatch(upsert_sink("/data/out", "k"))
             .outputMode("update").trigger(availableNow=True).start())
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        gen = f"gen-{batch_id:09d}"
        prev = _latest_gen(root)
        if prev == gen:
            return  # replay of a batch that already committed
        rows = batch_df.withColumn("__new", F.lit(1))
        if prev is not None:
            old = batch_df.sparkSession.read.parquet(os.path.join(root, prev))
            rows = old.withColumn("__new", F.lit(0)).unionByName(rows)
        w = Window.partitionBy(*keys)
        if ts_col is None:
            keep = F.col("__new") == F.max("__new").over(w)
        else:
            keep = F.row_number().over(w.orderBy(F.desc(ts_col), "__new")) == 1
        merged = rows.withColumn("__keep", keep).where("__keep").drop("__new", "__keep")
        merged.write.mode("overwrite").parquet(os.path.join(root, gen))
        _flip_latest(root, gen, prev)

    return merge
