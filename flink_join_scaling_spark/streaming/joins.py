"""Continuously-maintained versioned joins (reference O6–O9 streaming).

The reference's engine: both inputs are unioned into
``TaggedUnion[X,Y]`` elements inside one keyed ``GlobalWindows``
operator; every arriving record triggers a re-dedup + re-emit of the
key's full join result (``/root/reference/src/main/scala/flink_perf/
joins.scala:10-23``, ``cogroupFunctions.scala:7-30``) — O(n²) work per
key because the whole retained window is re-scanned per record. All
variants share that operator; only the final cogroup emission differs
(``cogroupFunctions.scala:7-87``).

Spark-native redesign with the same split: ONE per-key state function
serves the family, in one ``applyInPandasWithState`` whose state is
**per-side maps keyed by entity id holding only the current latest
version** — so each micro-batch does O(touched keys × live ids) work,
and state is exactly compacted (the ``VersioningEvictor``'s goal,
minus its every-5th-record amortization and its Y-side bug,
``versionDeduplicator.scala:100``). A key that receives data emits
``(k, xs_json, ys_json)``, JSON arrays of its latest versions per side
by entity id: the grouped changelog (O8/O9) as it is. The exploded
variants (O6/O7/O10) take their cross product from a stateless JVM
``explode_outer`` of both arrays, which update mode allows after the
stateful operator (Structured Streaming, SIGMOD 2018).

Records are carried as JSON payloads so one processor serves any
schema; callers wrap/unwrap with ``to_json``/``from_json``. At scale
the payload column rides the one shuffle to the grouping key; state
lives in the executor-local state store (RocksDB on a real cluster).

State-write cost, stated plainly: ``GroupState`` holds ONE value per
group, so a micro-batch that changes a key's maps rewrites that key's
full serialized state — O(live ids under the key), NOT O(versions
ever seen) (keep-latest compaction discards superseded versions on
arrival, and ``scripts/scale_probe.py --streaming-state`` measures
per-arrival cost flat in version count). Micro-batches that change
nothing (stale/duplicate versions) skip the write entirely. A true
one-row-per-(side, id) layout needs a keyed MapState — that is
exactly ``transformWithStateInPandas``, whose protocol requires the
unavailable ``protobuf`` package (SURVEY §4.3); revisit if the
environment gains it. Keys with very many live ids are bounded by the
same ``ttl_ms`` eviction that bounds state growth overall.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: output of the per-key state function, and the grouped changelog
#: (O8/O9): one row per emitting key, JSON arrays of the current latest
#: versions per side
GROUPED_OUT_SCHEMA = "k string, xs_json string, ys_json string"

#: the ``how`` values of :func:`stream_join_versioned`: the pair
#: variants, then the Seq (grouped) variants
_HOWS = ("full_outer", "left_outer", "inner", "full_outer_seq", "left_outer_seq")

#: per-key state: two JSON maps  id -> [ts, payload]  (one per side)
_STATE_SCHEMA = "xs string, ys string"

#: null event time ranks below every real timestamp — Arrow hands a
#: null long to pandas as float NaN, and int(NaN) would kill the query
_TS_NULL_SENTINEL = -(1 << 63)


def _dump_state(xs: dict, ys: dict) -> tuple[str, str]:
    """Serialize the two id→latest maps compactly (no separator
    whitespace — the write is O(state bytes), so the encoding is the
    constant factor on every state-changing arrival)."""
    return (
        json.dumps(xs, separators=(",", ":")),
        json.dumps(ys, separators=(",", ":")),
    )


def tag_side(df: DataFrame, key, id_, ts, side: int) -> DataFrame:
    """Normalize one input to the tagged-union shape. ``key``/``id_``/
    ``ts`` are column names or Column expressions — the reference's
    extractor-function triple (``joins.scala:11-13``) as expressions."""
    as_col = lambda c: F.col(c) if isinstance(c, str) else c  # noqa: E731
    return df.select(
        as_col(key).cast("string").alias("k"),
        F.lit(side).cast("long").alias("side"),
        # null ids form ONE dedup group (batch dedup_latest semantics);
        # a NUL sentinel keeps the state-map key non-null — pandas
        # groupby and JSON map keys both mishandle real nulls
        F.coalesce(as_col(id_).cast("string"), F.lit("\u0000")).alias("id"),
        # null event time → sentinel JVM-side, BEFORE Arrow: a nullable
        # long column reaches pandas as float64, and timestamps above
        # 2^53 (epoch-nanos scale, e.g. ts_ns) would silently lose
        # precision for the real rows, flipping last-writer-wins within
        # ~hundreds of ns. Sentinel = int64 min, so a null ts still
        # loses to any real version.
        F.coalesce(as_col(ts).cast("long"), F.lit(_TS_NULL_SENTINEL)).alias("ts"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("payload"),
    )


def _fold_latest(
    xs: dict[str, list], ys: dict[str, list], pdfs: Iterator[pd.DataFrame]
) -> bool:
    """Fold a micro-batch of tagged rows into the two id→[ts, payload]
    maps, last-writer-wins on (ts, payload). Returns True iff any map
    entry changed — a batch of stale versions leaves state untouched,
    and the caller skips the O(state) serialize + store write.

    A plain loop over the columns as Python lists: a key's batch holds
    a handful of rows, too few to repay pandas' per-call overhead. The
    rows come from :func:`tag_side`, so ``ts`` is never null."""
    changed = False
    for pdf in pdfs:
        for side, id_, t, payload in zip(
            pdf["side"].tolist(),
            pdf["id"].tolist(),
            pdf["ts"].tolist(),
            pdf["payload"].tolist(),
        ):
            m = xs if side == 0 else ys
            cur = m.get(id_)
            if cur is None or (cur[0], cur[1]) < (t, payload):
                m[id_] = [t, payload]
                changed = True
    return changed


def _join_fn(how: str, ttl_ms: int | None):
    """The per-key state function of every variant: fold arriving
    tagged rows into the two id→latest maps, write state only when a
    map changed, then emit the key's ``(k, xs_json, ys_json)`` row,
    entity ids ascending — except for a left variant's key without X
    and an ``inner`` key with either side empty.

    With ``ttl_ms``, a key idle past the TTL is evicted (lazy, on the
    batch that fires its timeout) — see ``dedup.stream_dedup_latest``.
    """

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return
        xs: dict[str, list] = {}
        ys: dict[str, list] = {}
        if state.exists:
            sx, sy = state.get
            xs, ys = json.loads(sx), json.loads(sy)
        changed = _fold_latest(xs, ys, pdfs)
        if changed or not state.exists:
            state.update(_dump_state(xs, ys))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if (how.startswith("left") and not xs) or (
            how == "inner" and not (xs and ys)
        ):
            return
        xs_json = json.dumps([xs[i][1] for i in sorted(xs)])
        ys_json = json.dumps([ys[i][1] for i in sorted(ys)])
        yield pd.DataFrame(
            [(key[0], xs_json, ys_json)], columns=["k", "xs_json", "ys_json"]
        )

    return fn


def _stateful_join(
    sx: DataFrame, sy: DataFrame, key_x, key_y, id_x, id_y, ts_x, ts_y,
    how: str, ttl_ms: int | None,
) -> DataFrame:
    """Tag and union both inputs, then run the one keyed stateful
    operator per ``(k, __sub)`` group; returns the grouped changelog.

    Left variants tag X with a constant id, so each key's X map holds
    one entry: the key's latest X, as batch ``dedup_latest_by_key``
    keeps (``versionDeduplicator.scala:13-19``)."""
    if how.startswith("left"):
        id_x = F.lit("")
    union = tag_side(sx, key_x, id_x, ts_x, 0).unionByName(
        tag_side(sy, key_y, id_y, ts_y, 1)
    )
    timeout = GroupStateTimeout.NoTimeout
    if ttl_ms is not None:
        timeout = GroupStateTimeout.ProcessingTimeTimeout
    return _with_null_subkey(union, how).groupBy("k", "__sub").applyInPandasWithState(
        _join_fn(how, ttl_ms),
        outputStructType=GROUPED_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


def _with_null_subkey(union: DataFrame, how: str) -> DataFrame:
    """Null-key handling, pinned to the batch family's SQL semantics:
    null join keys never match anything, but null-keyed rows are
    preserved outer-padded (dropped entirely where their side can't
    reach the output: inner, and the Y side of left joins).

    Implemented *inside* the single stateful operator (Spark rejects two
    ``applyInPandasWithState`` ops in one streaming query): rows are
    grouped by ``(k, __sub)`` where ``__sub`` is '' for real keys and a
    per-(side, id) (exploded) or per-side (grouped) discriminator for
    null keys, so they never form one hot group. Each null-key group
    holds one side, so the ordinary emission pads it: the sides' null
    groups never cross-join."""
    if how == "inner":
        return union.where(F.col("k").isNotNull()).withColumn("__sub", F.lit(""))
    u = union
    if how.startswith("left"):
        u = u.where(F.col("k").isNotNull() | (F.col("side") == 0))
    sub_null = (
        F.col("side").cast("string")
        if how.endswith("_seq")
        # one group per (side, id); tag_side never leaves an id null
        else F.concat_ws(":", F.col("side"), F.col("id"))
    )
    return u.withColumn(
        "__sub", F.when(F.col("k").isNotNull(), F.lit("")).otherwise(sub_null)
    )


def stream_stream_join_within(
    sx: DataFrame,
    sy: DataFrame,
    on,
    x_ts: str,
    y_ts: str,
    within: str = "10 minutes",
    delay: str = "10 seconds",
    how: str = "inner",
    before: str | None = None,
    after: str | None = None,
) -> DataFrame:
    """Spark's *built-in* watermarked stream-stream join: pairs whose
    event times fall within ``within`` of each other. State on both
    sides is bounded by the watermark + time constraint, which is what
    lets it run forever.

    This is the built-in alternative to :func:`stream_join_versioned`
    for the common case where matches are temporally local. It is NOT
    the reference's semantics — the reference retains *all* current
    versions indefinitely (GlobalWindows, ``joins.scala:18``) and
    re-emits per record, while this emits each qualifying pair once.
    Use it when the join key recurs only within a bounded lateness
    horizon; use the keyed-state join for true versioned upserts.

    Asymmetric windows (e.g. click→purchase ATTRIBUTION, where only
    later y rows qualify): pass ``before``/``after`` — y must fall in
    ``[x_ts - before, x_ts + after]``. Both default to ``within``
    (symmetric). ``before="0 seconds"`` expresses the pure forward
    window of the registered ``q_stream_join``.
    """
    xw = sx.withWatermark(x_ts, delay)
    yw = sy.withWatermark(y_ts, delay)
    cond = on if not isinstance(on, str) else (xw[on] == yw[on])
    lo = before if before is not None else within
    hi = after if after is not None else within
    time_cond = (yw[y_ts] >= xw[x_ts] - F.expr(f"INTERVAL {lo}")) & (
        yw[y_ts] <= xw[x_ts] + F.expr(f"INTERVAL {hi}")
    )
    return xw.join(yw, cond & time_cond, how)


def stream_join_versioned(
    sx: DataFrame,
    sy: DataFrame,
    key_x,
    key_y,
    id_x,
    id_y,
    ts_x,
    ts_y,
    how: str = "full_outer",
    ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming versioned join of two tagged streams (reference
    O6-O10 continuous); returns the update-mode changelog. Per touched
    key, one micro-batch emits the key's whole current join result:

    - ``full_outer`` / ``left_outer`` / ``inner`` (O6/O7/O10):
      ``(k, x_payload, y_payload)``, the null-padded cross product of
      the key's current latest versions. The pairs come from the
      grouped changelog by a JVM-side ``explode_outer`` of each side's
      JSON array, so the Python state function emits one row per key
      whatever the product's size.
    - ``full_outer_seq`` / ``left_outer_seq`` (O8/O9):
      ``(k, xs_json, ys_json)``, the state function's changelog as it
      is: JSON arrays of the key's current latest versions per side,
      ordered by entity id, ``"[]"`` for an empty side.

    Converged semantics (last emission per key) equal the batch
    ``operators.joins`` counterparts; tests assert that equivalence.
    For the left variants, ``id_x`` is unused: a key keeps its latest X
    only, as batch ``dedup_latest_by_key`` does; on equal ts the stream
    picks the X with the greater payload JSON, which may differ from
    batch's pick.

    ``ttl_ms`` bounds join state by evicting keys idle past the TTL —
    this is where state actually grows (the repo's namesake concern);
    default keeps reference-faithful forever-state.

    Unwrap payloads with ``F.from_json(col, schema)`` downstream, or
    use :func:`stream_join_versioned_typed`.
    """
    if how not in _HOWS:
        raise ValueError(f"unsupported how={how!r}; expected one of {', '.join(_HOWS)}")
    grouped = _stateful_join(sx, sy, key_x, key_y, id_x, id_y, ts_x, ts_y, how, ttl_ms)
    if how.endswith("_seq"):
        return grouped

    def explode(col: str) -> F.Column:
        return F.explode_outer(F.from_json(col, "array<string>"))

    # one generator per select: X first, then Y
    xs = grouped.select("k", explode("xs_json").alias("x_payload"), "ys_json")
    return xs.select("k", "x_payload", explode("ys_json").alias("y_payload"))


def stream_join_versioned_typed(
    sx: DataFrame,
    sy: DataFrame,
    key_x,
    key_y,
    id_x,
    id_y,
    ts_x,
    ts_y,
    how: str = "full_outer",
    ttl_ms: int | None = None,
) -> DataFrame:
    """Typed façade over :func:`stream_join_versioned`, each side's
    full input schema restored: the pair variants as ``(k, x struct,
    y struct)``, the reference's ``(Option[X], Option[Y])`` shape
    (``cogroupFunctions.scala:7-30``) with nulls marking the absent
    side; the Seq variants as ``(k, xs array<struct>, ys
    array<struct>)``, the reference's ``(Seq[X], Seq[Y])`` shape
    (``cogroupFunctions.scala:50-73``).

    The JSON payload is an implementation detail of the schema-generic
    state processor; this wrapper re-applies the inputs' own schemas
    with ``from_json`` at the output boundary, so callers never touch
    JSON. The extra cost is one narrow projection per emitted row —
    no additional shuffle or state.
    """
    out = stream_join_versioned(
        sx, sy, key_x, key_y, id_x, id_y, ts_x, ts_y, how=how, ttl_ms=ttl_ms
    )
    if not how.endswith("_seq"):
        return out.select(
            F.col("k"),
            F.from_json("x_payload", sx.schema).alias("x"),
            F.from_json("y_payload", sy.schema).alias("y"),
        )

    def typed(col: str, schema) -> F.Column:
        return F.transform(
            F.from_json(col, "array<string>"), lambda s: F.from_json(s, schema)
        )

    return out.select(
        F.col("k"),
        typed("xs_json", sx.schema).alias("xs"),
        typed("ys_json", sy.schema).alias("ys"),
    )
