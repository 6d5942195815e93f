"""The versioned join family (reference operators O6-O10).

Reference: ``/root/reference/src/main/scala/flink_perf/joins.scala:10-70``
(public API) and ``cogroupFunctions.scala:7-87`` (per-key emit logic).
Each reference join is: hash-partition both streams by a string key,
retain all versions in per-key window state, and on every record
re-emit the join of the *latest version per (key, id)* of each side —
full-outer (null-padded cross product), left-outer (left assumed unique
per key), grouped ("Seq") variants, and an inner variant (dead code in
the reference, ``cogroupFunctions.scala:74-87``).

Spark-first design
------------------
The converged result of the reference's changelog is exactly::

    dedup_latest(X) ⋈ dedup_latest(Y)        -- plain Catalyst join

so each operator here composes O4/O5 dedup with a built-in join and
lets Catalyst choose broadcast / shuffled-hash / sort-merge (AQE can
switch at runtime and split skewed keys). The grouped variants compose
dedup + ``collect_list(struct(*))`` aggregation — map-side partial
aggregation applies, and the join then moves one row per key rather
than one per record. Continuous (per-record-trigger) semantics live in
``flink_join_scaling_spark.streaming`` as micro-batch changelogs.

Known reference divergences, intentional:
- The reference dedups per id *within* a key's window state, so an
  entity whose key changed between versions would linger under its old
  key (and its evictor under-evicts the right side —
  ``versionDeduplicator.scala:100``, a bug). We dedup per id globally:
  last-writer-wins across keys, which matches the converged answer for
  key-stable entities (all reference tests) and is well-defined when
  keys do change.
- O7's left-unique precondition: the reference silently keeps one
  arbitrary left record per key and *drops* right-only keys
  (``cogroupFunctions.scala:31-47``, the root cause of its ignored
  B⋈C test, ``JoinSpec.scala:289-312``). We keep the drop-right-only
  semantics (it is what "left outer" means) but make the left collapse
  deterministic via ``dedup_latest_by_key`` with an explicit tiebreak.
- Null keys: the reference's ``keyFromX`` string coercion would NPE
  (``joins.scala:11``); here SQL semantics apply — null keys never
  match but null-keyed rows are preserved on their outer side, and
  null ids form one dedup group (tests/test_versioned_properties.py::
  test_null_key_semantics).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_join_scaling_spark.operators.versioned import (
    _as_list,
    dedup_latest,
    dedup_latest_by_key,
)


def _disambiguate(
    x: DataFrame, y: DataFrame, x_prefix: str, y_prefix: str
) -> tuple[DataFrame, DataFrame, dict[str, str], dict[str, str]]:
    """Prefix-rename any output columns whose names collide across sides."""
    common = set(x.columns) & set(y.columns)
    x_map = {c: (x_prefix + c if c in common else c) for c in x.columns}
    y_map = {c: (y_prefix + c if c in common else c) for c in y.columns}
    x2 = x.select([F.col(c).alias(n) for c, n in x_map.items()])
    y2 = y.select([F.col(c).alias(n) for c, n in y_map.items()])
    return x2, y2, x_map, y_map


def _key_cond(xk: list[str], yk: list[str]) -> F.Column:
    cond = None
    for a, b in zip(xk, yk):
        c = F.col(a) == F.col(b)
        cond = c if cond is None else (cond & c)
    return cond


def _joined(
    x: DataFrame,
    y: DataFrame,
    x_key: str | Sequence[str],
    y_key: str | Sequence[str],
    how: str,
    x_prefix: str,
    y_prefix: str,
    broadcast_right: bool = False,
) -> DataFrame:
    x2, y2, x_map, y_map = _disambiguate(x, y, x_prefix, y_prefix)
    xk = [x_map[k] for k in _as_list(x_key)]
    yk = [y_map[k] for k in _as_list(y_key)]
    right = F.broadcast(y2) if broadcast_right else y2
    return x2.join(right, on=_key_cond(xk, yk), how=how)


def join_full_outer(
    x: DataFrame,
    y: DataFrame,
    x_key: str | Sequence[str],
    y_key: str | Sequence[str],
    x_id: str | Sequence[str],
    y_id: str | Sequence[str],
    x_ts: str,
    y_ts: str,
    x_prefix: str = "x_",
    y_prefix: str = "y_",
) -> DataFrame:
    """O6 ``JoinFullOuter`` (``joins.scala:10-23``): latest-per-id both
    sides, then per key the null-padded cross product — which is
    precisely SQL FULL OUTER JOIN on the key."""
    dx = dedup_latest(x, x_id, x_ts)
    dy = dedup_latest(y, y_id, y_ts)
    return _joined(dx, dy, x_key, y_key, "full_outer", x_prefix, y_prefix)


def join_left_outer(
    x: DataFrame,
    y: DataFrame,
    x_key: str | Sequence[str],
    y_key: str | Sequence[str],
    y_id: str | Sequence[str],
    x_ts: str,
    y_ts: str,
    x_prefix: str = "x_",
    y_prefix: str = "y_",
    broadcast_right: bool = False,
) -> DataFrame:
    """O7 ``JoinLeftOuter`` (``joins.scala:24-37``): one latest X per
    *key* joined to each latest-per-id Y; right-only keys dropped."""
    dx = dedup_latest_by_key(x, x_key, x_ts)
    dy = dedup_latest(y, y_id, y_ts)
    return _joined(dx, dy, x_key, y_key, "left_outer", x_prefix, y_prefix, broadcast_right)


def join_left_outer_seq(
    x: DataFrame,
    y: DataFrame,
    x_key: str | Sequence[str],
    y_key: str | Sequence[str],
    y_id: str | Sequence[str],
    x_ts: str,
    y_ts: str,
    seq_col: str = "ys",
) -> DataFrame:
    """O8 ``JoinLeftOuterSeq`` (``joins.scala:39-54``): emits one row per
    left entity with an array of current right versions; empty array
    (never null) when unmatched — matching ``cogroupFunctions.scala:50-62``.

    The right side is pre-aggregated to one array row per key *before*
    the join, so the shuffle moves one row per key and the left join is
    1:1 — no row explosion, and Catalyst may broadcast the aggregated
    side if small.
    """
    dx = dedup_latest_by_key(x, x_key, x_ts)
    dy = dedup_latest(y, y_id, y_ts)
    yk = _as_list(y_key)
    grouped = dy.groupBy(*yk).agg(
        F.collect_list(F.struct(*[F.col(c) for c in dy.columns])).alias(seq_col)
    )
    xk = _as_list(x_key)
    joined = dx.join(grouped, on=_key_cond(xk, yk), how="left_outer") if set(xk) != set(
        yk
    ) else dx.join(grouped, on=xk, how="left_outer")
    empty = F.array().cast(joined.schema[seq_col].dataType)
    return joined.withColumn(seq_col, F.coalesce(F.col(seq_col), empty))


def join_full_outer_seq(
    x: DataFrame,
    y: DataFrame,
    x_key: str | Sequence[str],
    y_key: str | Sequence[str],
    x_id: str | Sequence[str],
    y_id: str | Sequence[str],
    x_ts: str,
    y_ts: str,
    key_col: str = "key",
    xs_col: str = "xs",
    ys_col: str = "ys",
) -> DataFrame:
    """O9 ``JoinFullOuterSeq`` (``joins.scala:56-70``): per key emit
    ``(Seq[X], Seq[Y])`` of latest-per-id versions, either side possibly
    empty (``cogroupFunctions.scala:64-73``). Composition: two grouped
    aggregations full-outer-joined on the key; arrays coalesced to []."""
    dx = dedup_latest(x, x_id, x_ts)
    dy = dedup_latest(y, y_id, y_ts)
    xk, yk = _as_list(x_key), _as_list(y_key)
    gx = dx.groupBy(*xk).agg(
        F.collect_list(F.struct(*[F.col(c) for c in dx.columns])).alias(xs_col)
    )
    gy = dy.groupBy(*yk).agg(
        F.collect_list(F.struct(*[F.col(c) for c in dy.columns])).alias(ys_col)
    )
    if xk == yk:
        # same key names: a USING join, whose key columns are already
        # coalesced across sides (unqualified refs would be ambiguous)
        out = gx.join(gy, on=xk, how="full_outer")
        key_cols = xk
    else:
        out = gx.join(gy, on=_key_cond(xk, yk), how="full_outer")
        key_cols = xk + yk
    if len(xk) == 1:
        out = out.withColumn(key_col, F.coalesce(*[F.col(c) for c in key_cols]))
        key_cols = [key_col]
    for c in (xs_col, ys_col):
        out = out.withColumn(c, F.coalesce(F.col(c), F.array().cast(out.schema[c].dataType)))
    return out.select(*key_cols, xs_col, ys_col)


def join_inner(
    x: DataFrame,
    y: DataFrame,
    x_key: str | Sequence[str],
    y_key: str | Sequence[str],
    x_id: str | Sequence[str],
    y_id: str | Sequence[str],
    x_ts: str,
    y_ts: str,
    x_prefix: str = "x_",
    y_prefix: str = "y_",
    broadcast_right: bool = False,
) -> DataFrame:
    """O10 ``cgfInner`` (``cogroupFunctions.scala:74-87`` — dead code in
    the reference, live here): latest-per-id cross product when both
    sides are present."""
    dx = dedup_latest(x, x_id, x_ts)
    dy = dedup_latest(y, y_id, y_ts)
    return _joined(dx, dy, x_key, y_key, "inner", x_prefix, y_prefix, broadcast_right)
