"""Continuously-maintained versioned joins (reference O6–O9 streaming).

The reference's engine: both inputs are unioned into
``TaggedUnion[X,Y]`` elements inside one keyed ``GlobalWindows``
operator; every arriving record triggers a re-dedup + re-emit of the
key's full join result (``/root/reference/src/main/scala/flink_perf/
joins.scala:10-23``, ``cogroupFunctions.scala:7-30``) — O(n²) work per
key because the whole retained window is re-scanned per record.

Spark-native redesign: the same tagged union feeds
``applyInPandasWithState`` with **per-side maps keyed by entity id
holding only the current latest version** — so each micro-batch does
O(touched keys × live ids) work, state is exactly compacted (the
``VersioningEvictor``'s goal, minus its every-5th-record amortization
and its Y-side bug, ``versionDeduplicator.scala:100``), and emission
is the reference's changelog: the key's updated full join result
whenever the key receives data.

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

#: tagged-union shape both inputs are normalized to before the join
UNION_SCHEMA = "k string, side long, id string, ts long, payload string"

#: changelog output: one row per (x,y) pairing of the key's current state
OUT_SCHEMA = "k string, x_payload string, y_payload string"

#: grouped changelog output (O8/O9): one row per key, JSON arrays of
#: the current latest versions per side
GROUPED_OUT_SCHEMA = "k string, xs_json string, ys_json string"

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
    a handful of rows, too few to repay pandas' per-call overhead."""
    changed = False
    for pdf in pdfs:
        ts = pdf["ts"]
        if ts.hasnans:
            # defense for callers that bypass tag_side (which maps null
            # ts to the sentinel JVM-side, so this branch is normally
            # dead): a null ts ranks below every real version
            ts = ts.astype("Int64").fillna(_TS_NULL_SENTINEL).astype("int64")
        for side, id_, t, payload in zip(
            pdf["side"].tolist(),
            pdf["id"].tolist(),
            ts.tolist(),
            pdf["payload"].tolist(),
        ):
            m = xs if side == 0 else ys
            cur = m.get(id_)
            if cur is None or (cur[0], cur[1]) < (t, payload):
                m[id_] = [t, payload]
                changed = True
    return changed


def _join_fn(how: str, ttl_ms: int | None = None):
    """Per-key state function: fold arriving tagged rows into the two
    id→latest maps (last-writer-wins on (ts, payload)), then emit the
    key's full current join result:

    - ``full_outer``  (O6): X-only → (x, null); Y-only → (null, y)
    - ``left_outer``  (O7/O8 exploded): emit only if ≥1 X present
    - ``inner``       (O10): emit only if both sides present

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
        k = key[0]
        latest_x = [v[1] for v in xs.values()]
        latest_y = [v[1] for v in ys.values()]
        out: list[tuple] = []
        if latest_x and latest_y:
            out = [(k, x, y) for x in latest_x for y in latest_y]
        elif latest_x and how != "inner":
            out = [(k, x, None) for x in latest_x]
        elif latest_y and how == "full_outer":
            out = [(k, None, y) for y in latest_y]
        if out:
            yield pd.DataFrame(out, columns=["k", "x_payload", "y_payload"])

    return fn


def _grouped_join_fn(how: str):
    """Per-key state fn for the grouped ("Seq") variants: same two
    id→latest maps, but emission is ONE row per key carrying JSON
    arrays of the current latest versions — the reference's
    ``(X, Seq[Y])`` / ``(Seq[X], Seq[Y])`` shapes
    (``cogroupFunctions.scala:50-73``) as a keyed changelog.

    - ``full_outer_seq`` (O9): emit every touched key, either side
      possibly empty.
    - ``left_outer_seq`` (O8 grouped): emit only keys with ≥1 X.
    """

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        xs: dict[str, list] = {}
        ys: dict[str, list] = {}
        if state.exists:
            sx, sy = state.get
            xs, ys = json.loads(sx), json.loads(sy)
        changed = _fold_latest(xs, ys, pdfs)
        if changed or not state.exists:
            state.update(_dump_state(xs, ys))
        if how == "left_outer_seq" and not xs:
            return
        # deterministic order: by entity id
        latest_x = [xs[i][1] for i in sorted(xs)]
        latest_y = [ys[i][1] for i in sorted(ys)]
        yield pd.DataFrame(
            [(key[0], json.dumps(latest_x), json.dumps(latest_y))],
            columns=["k", "xs_json", "ys_json"],
        )

    return fn


def _stateful_join(
    union_subkeyed: DataFrame,
    how: str,
    grouped: bool,
    ttl_ms: int | None,
) -> DataFrame:
    """The keyed stateful operator: the GroupState whole-map fold per
    ``(k, __sub)`` group."""
    g = union_subkeyed.groupBy("k", "__sub")
    if grouped:
        return g.applyInPandasWithState(
            _grouped_join_fn(how),
            outputStructType=GROUPED_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    return g.applyInPandasWithState(
        _join_fn(how, ttl_ms),
        outputStructType=OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def _with_null_subkey(union: DataFrame, how: str, grouped: bool) -> DataFrame:
    """Null-key handling, pinned to the batch family's SQL semantics:
    null join keys never match anything, but null-keyed rows are
    preserved outer-padded (dropped entirely where their side can't
    reach the output: inner, and the Y side of left joins).

    Implemented *inside* the single stateful operator (Spark rejects two
    ``applyInPandasWithState`` ops in one streaming query): rows are
    grouped by ``(k, __sub)`` where ``__sub`` is '' for real keys and a
    per-(side, id) (exploded) or per-side (grouped) discriminator for
    null keys. Each null-key state group then holds exactly one side, so
    the ordinary emission logic produces the outer-padded rows — the
    sides' null groups can never cross-join each other."""
    if how == "inner":
        return union.where(F.col("k").isNotNull()).withColumn("__sub", F.lit(""))
    u = union
    if how in ("left_outer", "left_outer_seq"):
        u = u.where(F.col("k").isNotNull() | (F.col("side") == 0))
    sub_null = (
        F.col("side").cast("string")
        if grouped
        # concat_ws skips null ids: side 0 + null id → "0" (≠ "0:x" for
        # any real id, and ≠ "0:" for the empty-string id)
        else F.concat_ws(":", F.col("side"), F.col("id"))
    )
    return u.withColumn(
        "__sub", F.when(F.col("k").isNotNull(), F.lit("")).otherwise(sub_null)
    )


def stream_join_versioned_grouped(
    sx: DataFrame,
    sy: DataFrame,
    key_x,
    key_y,
    id_x,
    id_y,
    ts_x,
    ts_y,
    how: str = "full_outer_seq",
) -> DataFrame:
    """Streaming grouped versioned join (reference O8/O9 continuous):
    changelog of (k, xs_json, ys_json) — per touched key, the JSON
    arrays of current latest versions per side. Converged semantics
    (last emission per key) equal batch ``join_full_outer_seq`` /
    ``join_left_outer_seq``; one output row per key per micro-batch
    instead of the exploded variant's cross product."""
    if how not in ("full_outer_seq", "left_outer_seq"):
        raise ValueError(f"unsupported how={how!r}")
    union = tag_side(sx, key_x, id_x, ts_x, 0).unionByName(
        tag_side(sy, key_y, id_y, ts_y, 1)
    )
    return _stateful_join(
        _with_null_subkey(union, how, grouped=True),
        how, grouped=True, ttl_ms=None,
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
    """Streaming versioned join of two tagged streams; returns the
    changelog DataFrame (k, x_payload, y_payload). Converged semantics
    (last emission per key) equal the batch ``operators.joins``
    counterparts; tests assert that equivalence.

    ``ttl_ms`` bounds join state by evicting keys idle past the TTL —
    this is where state actually grows (the repo's namesake concern);
    default keeps reference-faithful forever-state.

    Unwrap payloads with ``F.from_json(col, schema)`` downstream.
    """
    if how not in ("full_outer", "left_outer", "inner"):
        raise ValueError(f"unsupported how={how!r}")
    union = tag_side(sx, key_x, id_x, ts_x, 0).unionByName(
        tag_side(sy, key_y, id_y, ts_y, 1)
    )
    return _stateful_join(
        _with_null_subkey(union, how, grouped=False),
        how, grouped=False, ttl_ms=ttl_ms,
    )


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
    """Typed façade over :func:`stream_join_versioned`: the changelog
    as (k, x struct, y struct) — the reference's ``(Option[X],
    Option[Y])`` pair shape (``cogroupFunctions.scala:7-30``) with each
    side's full input schema restored, nulls marking the absent side.

    The JSON payload is an implementation detail of the schema-generic
    state processor; this wrapper re-applies the inputs' own schemas
    with ``from_json`` at the output boundary, so callers never touch
    JSON. The extra cost is one narrow projection per emitted row —
    no additional shuffle or state.
    """
    out = stream_join_versioned(
        sx, sy, key_x, key_y, id_x, id_y, ts_x, ts_y, how=how, ttl_ms=ttl_ms
    )
    return out.select(
        F.col("k"),
        F.from_json("x_payload", sx.schema).alias("x"),
        F.from_json("y_payload", sy.schema).alias("y"),
    )


def stream_join_versioned_grouped_typed(
    sx: DataFrame,
    sy: DataFrame,
    key_x,
    key_y,
    id_x,
    id_y,
    ts_x,
    ts_y,
    how: str = "full_outer_seq",
) -> DataFrame:
    """Typed façade over :func:`stream_join_versioned_grouped`: the
    changelog as (k, xs array<struct>, ys array<struct>) — the
    reference's ``(Seq[X], Seq[Y])`` shape (``cogroupFunctions.scala:
    50-73``) with each side's input schema restored, so callers index
    and project struct fields natively. Same narrow projection cost as
    the exploded typed façade: no extra shuffle or state."""
    out = stream_join_versioned_grouped(
        sx, sy, key_x, key_y, id_x, id_y, ts_x, ts_y, how=how
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
