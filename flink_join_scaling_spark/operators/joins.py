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

One key rule
------------
All five operators join through ``_joined``, as each reference variant
is one keyed cogroup with one key extractor per side: ``x_key`` and
``y_key`` are a name or equal-length name lists, and x key *i* matches
y key *i* by position whatever the names (equal, permuted, partly
shared, disjoint; x may be y). Output columns, whatever the key names:

- O6/O7/O10: x's columns, then y's; a name on both sides gets its
  side's prefix, ``x_`` or ``y_``, so both key columns appear.
- O8 ``join_left_outer_seq``: x's columns in x's order, then ``ys``.
- O9 ``join_full_outer_seq``: one coalesced key column per key position
  (``key_col`` for a single key, x's key names for a composite key),
  then ``xs`` and ``ys``.

An output name that would occur twice raises ``ValueError`` naming it;
renaming the input column resolves it.

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

import operator
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_join_scaling_spark.operators.versioned import (
    _as_list,
    dedup_latest,
    dedup_latest_by_key,
)


def _joined(
    x: DataFrame,
    y: DataFrame,
    x_key: str | Sequence[str],
    y_key: str | Sequence[str],
    how: str,
) -> tuple[DataFrame, dict[str, str], dict[str, str]]:
    """Join x to y on x key *i* == y key *i*, after prefixing the column
    names that collide across sides. Returns the joined frame and each
    side's input-name -> output-name map. Raises ``ValueError`` when a
    prefixed name is already taken (x ``id`` -> ``x_id`` beside x's own
    ``x_id``)."""
    common = set(x.columns) & set(y.columns)
    x_map = {c: ("x_" + c if c in common else c) for c in x.columns}
    y_map = {c: ("y_" + c if c in common else c) for c in y.columns}
    taken: dict[str, str] = {}
    for side, m in (("x", x_map), ("y", y_map)):
        for c, n in m.items():
            if n in taken:
                raise ValueError(
                    f"join output column {n!r} would come from {taken[n]} and "
                    f"{side}.{c}; rename one of the columns"
                )
            taken[n] = f"{side}.{c}"
    if common:  # each extra projection costs a driver-side analysis
        x = x.select([F.col(c).alias(n) for c, n in x_map.items()])
        y = y.select([F.col(c).alias(n) for c, n in y_map.items()])
    pairs = zip(_as_list(x_key), _as_list(y_key), strict=True)
    cond = reduce(operator.and_, [F.col(x_map[a]) == F.col(y_map[b]) for a, b in pairs])
    return x.join(y, on=cond, how=how), x_map, y_map


def _check_distinct(names: list[str]) -> None:
    """Raise ``ValueError`` naming a name that occurs twice in a Seq
    join's output or grouped columns: a list column (``xs``/``ys``)
    beside a key or input column of the same name."""
    dup = [n for i, n in enumerate(names) if n in names[:i]]
    if dup:
        raise ValueError(f"join column {dup[0]!r} would occur twice; rename the input column")


def _grouped(df: DataFrame, key: str | Sequence[str], list_col: str) -> DataFrame:
    """One row per key: the key columns and ``list_col``, the array of
    the key's rows as structs."""
    _check_distinct([*_as_list(key), list_col])
    rows = F.collect_list(F.struct(*[F.col(c) for c in df.columns]))
    return df.groupBy(*_as_list(key)).agg(rows.alias(list_col))


def _or_empty(df: DataFrame, col: str) -> F.Column:
    """``col`` with null (an unmatched key) replaced by an empty array."""
    return F.coalesce(F.col(col), F.array().cast(df.schema[col].dataType))


def join_full_outer(
    x: DataFrame,
    y: DataFrame,
    x_key: str | Sequence[str],
    y_key: str | Sequence[str],
    x_id: str | Sequence[str],
    y_id: str | Sequence[str],
    x_ts: str,
    y_ts: str,
) -> DataFrame:
    """O6 ``JoinFullOuter`` (``joins.scala:10-23``): latest-per-id both
    sides, then per key the null-padded cross product — which is
    precisely SQL FULL OUTER JOIN on the key."""
    dx = dedup_latest(x, x_id, x_ts)
    dy = dedup_latest(y, y_id, y_ts)
    return _joined(dx, dy, x_key, y_key, "full_outer")[0]


def join_left_outer(
    x: DataFrame,
    y: DataFrame,
    x_key: str | Sequence[str],
    y_key: str | Sequence[str],
    y_id: str | Sequence[str],
    x_ts: str,
    y_ts: str,
) -> DataFrame:
    """O7 ``JoinLeftOuter`` (``joins.scala:24-37``): one latest X per
    *key* joined to each latest-per-id Y; right-only keys dropped."""
    dx = dedup_latest_by_key(x, x_key, x_ts)
    dy = dedup_latest(y, y_id, y_ts)
    return _joined(dx, dy, x_key, y_key, "left_outer")[0]


def join_left_outer_seq(
    x: DataFrame,
    y: DataFrame,
    x_key: str | Sequence[str],
    y_key: str | Sequence[str],
    y_id: str | Sequence[str],
    x_ts: str,
    y_ts: str,
) -> DataFrame:
    """O8 ``JoinLeftOuterSeq`` (``joins.scala:39-54``), the reference's
    ``(X, Seq[Y])``: x's columns in x's order (one latest X per key),
    then ``ys``, the array of the key's latest-per-id Y rows as
    structs; empty (never null) when unmatched, as in
    ``cogroupFunctions.scala:50-62``. Y is grouped to one array row per
    key *before* the join, so the left join is 1:1 and Catalyst may
    broadcast the grouped side if small.
    """
    _check_distinct([*x.columns, "ys"])
    dx = dedup_latest_by_key(x, x_key, x_ts)
    gy = _grouped(dedup_latest(y, y_id, y_ts), y_key, "ys")
    out, x_map, y_map = _joined(dx, gy, x_key, y_key, "left_outer")
    return out.select(
        *[F.col(x_map[c]).alias(c) for c in dx.columns],
        _or_empty(out, y_map["ys"]).alias("ys"),
    )


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
) -> DataFrame:
    """O9 ``JoinFullOuterSeq`` (``joins.scala:56-70``): per key emit
    ``(Seq[X], Seq[Y])`` of latest-per-id versions as structs, either
    side possibly empty (``cogroupFunctions.scala:64-73``). Output: one
    key column per key position, whichever side's key is present
    (``key_col`` for a single key, x's key names for a composite key),
    then ``xs`` and ``ys``, never null. Composition: each side grouped
    to one array row per key, full-outer-joined on the key.
    """
    xk, yk = _as_list(x_key), _as_list(y_key)
    names = [key_col] if len(xk) == 1 else xk
    _check_distinct([*names, "xs", "ys"])
    gx = _grouped(dedup_latest(x, x_id, x_ts), xk, "xs")
    gy = _grouped(dedup_latest(y, y_id, y_ts), yk, "ys")
    out, x_map, y_map = _joined(gx, gy, xk, yk, "full_outer")
    return out.select(
        *[F.coalesce(F.col(x_map[a]), F.col(y_map[b])).alias(n) for a, b, n in zip(xk, yk, names)],
        _or_empty(out, x_map["xs"]).alias("xs"),
        _or_empty(out, y_map["ys"]).alias("ys"),
    )


def join_inner(
    x: DataFrame,
    y: DataFrame,
    x_key: str | Sequence[str],
    y_key: str | Sequence[str],
    x_id: str | Sequence[str],
    y_id: str | Sequence[str],
    x_ts: str,
    y_ts: str,
) -> DataFrame:
    """O10 ``cgfInner`` (``cogroupFunctions.scala:74-87`` — dead code in
    the reference, live here): latest-per-id cross product when both
    sides are present."""
    dx = dedup_latest(x, x_id, x_ts)
    dy = dedup_latest(y, y_id, y_ts)
    return _joined(dx, dy, x_key, y_key, "inner")[0]
