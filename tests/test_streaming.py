"""Structured Streaming parity with the batch operators.

Mirrors the reference's test protocol (``/root/reference/src/test/
scala/flink_perf/JoinSpec.scala:135-155``): run the continuous job on a
bounded out-of-order input, collect every incremental emission, assert

1. the changelog property — the sink saw at least as many emissions as
   the converged result has rows (``JoinSpec.scala:153``), and
2. the converged result (last emission per key, the O15
   OmniscientDeduplicator reduction) equals the batch operator's answer
   on the same data (``JoinSpec.scala:154``, strengthened from counts
   to field-exact comparison).

Inputs are reference-shaped versioned A/B records (``GenJoinInput
.scala:32-34``) from a seeded generator: multiple versions per id,
arrival order scrambled across micro-batches by the round-robin
chunking in ``chunked_parquet_stream``.
"""

from __future__ import annotations

import json
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_join_scaling_spark.operators.joins import (
    join_full_outer,
    join_inner,
    join_left_outer,
)
from flink_join_scaling_spark.operators.versioned import dedup_latest
from flink_join_scaling_spark.streaming import (
    chunked_parquet_stream,
    collect_emissions,
    converged,
    stream_dedup_latest,
    stream_dedup_within_watermark,
    stream_join_versioned,
    stream_tumbling_agg,
)

SEED = 123  # the reference's seed (JoinSpec.scala:17)


def _gen_a(n_ids: int, n_versions: int, seed: int = SEED) -> list[tuple]:
    """A(id, ts) with several versions per id, shuffled arrival order."""
    rng = random.Random(seed)
    rows = [
        (i, rng.randrange(1_000_000), f"a{i}v{v}")
        for i in range(n_ids)
        for v in range(n_versions)
    ]
    rng.shuffle(rows)
    return rows


def _gen_b(n_ids: int, n_versions: int, ida_max: int, seed: int = SEED + 1) -> list[tuple]:
    """B(id, ts, ida) — child records pointing at A ids (some dangling)."""
    rng = random.Random(seed)
    rows = [
        (i, rng.randrange(1_000_000), rng.randrange(ida_max), f"b{i}v{v}")
        for i in range(n_ids)
        for v in range(n_versions)
    ]
    rng.shuffle(rows)
    # a B entity's join key (ida) must be stable across versions: keep
    # the first drawn ida per id (reference invariant, GenJoinInput.scala:89-95)
    ida_of: dict[int, int] = {}
    fixed = []
    for bid, ts, ida, tag in rows:
        ida_of.setdefault(bid, ida)
        fixed.append((bid, ts, ida_of[bid], tag))
    return fixed


A_SCHEMA = "id long, ts long, tag string"
B_SCHEMA = "id long, ts long, ida long, tag string"


def _join_inputs(spark):
    """The input shapes the stream-vs-batch join tests run, as
    (A's key column, A, B): A keyed by its own id, so one A entity per
    key; and A keyed by ``grp``, with 2 A and 3 B entities on each
    shared key plus X-only and Y-only keys. The second shape has
    distinct ts throughout, so stream and batch agree on a key's
    latest X."""
    yield (
        "id",
        spark.createDataFrame(_gen_a(6, 3), A_SCHEMA),
        spark.createDataFrame(_gen_b(10, 3, ida_max=9), B_SCHEMA),
    )
    rng = random.Random(SEED + 2)
    ts = iter(rng.sample(range(1_000_000), 14 * 3 + 15 * 3))
    a = [(i, next(ts), i % 7, f"a{i}v{v}") for i in range(14) for v in range(3)]
    b = [(i, next(ts), 3 + i % 5, f"b{i}v{v}") for i in range(15) for v in range(3)]
    rng.shuffle(a)
    rng.shuffle(b)
    yield (
        "grp",
        spark.createDataFrame(a, "id long, ts long, grp long, tag string"),
        spark.createDataFrame(b, B_SCHEMA),
    )


def test_stream_dedup_latest_matches_batch(streaming_spark, tmp_path):
    spark = streaming_spark
    df = spark.createDataFrame(_gen_a(7, 4), A_SCHEMA)
    expected = {
        (r.id, r.ts, r.tag)
        for r in dedup_latest(df, "id", "ts", tiebreak=["tag"]).collect()
    }

    s = chunked_parquet_stream(spark, df, str(tmp_path), n_chunks=4)
    em = collect_emissions(stream_dedup_latest(s, "id", "ts", tiebreak=["tag"]))
    # changelog property: every id emits at least once, possibly more
    assert len(em) >= len(expected)
    got = converged(em, ["id"])
    assert {tuple(r) for r in got[["id", "ts", "tag"]].itertuples(index=False)} == expected


def test_stream_dedup_emits_only_on_change(streaming_spark, tmp_path):
    """A strictly version-ordered single id: each chunk carries a newer
    version, so every batch emits exactly one improved row; replaying a
    stale version must not re-emit."""
    spark = streaming_spark
    rows = [(1, t, f"v{t}") for t in range(4)] + [(1, 0, "stale")]
    df = spark.createDataFrame(rows, A_SCHEMA)
    s = chunked_parquet_stream(spark, df, str(tmp_path), n_chunks=5)
    em = collect_emissions(stream_dedup_latest(s, "id", "ts", tiebreak=["tag"]))
    got = converged(em, ["id"])
    assert list(got[["id", "ts", "tag"]].itertuples(index=False, name=None)) == [
        (1, 3, "v3")
    ]
    # the stale replay (and any not-newer chunk) emitted nothing
    assert len(em) <= 4


def test_stream_dedup_within_watermark_in_order(streaming_spark, tmp_path):
    """First-wins built-in equals last-writer-wins when versions arrive
    newest-first per id (then the first seen IS the latest)."""
    spark = streaming_spark
    rows = [(i, 100 - v, f"a{i}v{v}") for i in range(5) for v in range(3)]
    df = spark.createDataFrame(rows, A_SCHEMA).withColumn(
        "ets", F.timestamp_millis(F.col("ts") * 1000)
    )
    expected = {(i, 100, f"a{i}v0") for i in range(5)}
    # round-robin chunking puts all v0 (latest) rows in micro-batch 0,
    # so first-wins == last-writer-wins deterministically
    s = chunked_parquet_stream(spark, df, str(tmp_path), n_chunks=3)
    out = stream_dedup_within_watermark(s, "id", "ets", "10 seconds").drop("ets")
    em = collect_emissions(out, output_mode="append")
    got = {tuple(r) for r in em[["id", "ts", "tag"]].itertuples(index=False)}
    assert got == expected


@pytest.mark.parametrize("how", ["full_outer", "left_outer", "inner"])
def test_stream_join_matches_batch(streaming_spark, tmp_path, how):
    spark = streaming_spark
    for key_a, a, b in _join_inputs(spark):
        sa = chunked_parquet_stream(spark, a, str(tmp_path / key_a / "a"), n_chunks=3)
        sb = chunked_parquet_stream(spark, b, str(tmp_path / key_a / "b"), n_chunks=3)
        out = stream_join_versioned(
            sa, sb, key_a, "ida", "id", "id", "ts", "ts", how=how
        )
        em = collect_emissions(out)
        got = converged(em, ["k"])
        # decode converged pairs (x_tag, y_tag); None = outer null padding
        got_pairs = set()
        for r in got.itertuples(index=False):
            x = json.loads(r.x_payload)["tag"] if r.x_payload else None
            y = json.loads(r.y_payload)["tag"] if r.y_payload else None
            got_pairs.add((x, y))

        if how == "full_outer":
            batch = join_full_outer(a, b, key_a, "ida", "id", "id", "ts", "ts")
        elif how == "left_outer":
            # batch O7 keeps one latest A per *key*: the "grp" shape
            # checks the stream collapses a key's A entities the same way
            batch = join_left_outer(a, b, key_a, "ida", "id", "ts", "ts")
        else:
            batch = join_inner(a, b, key_a, "ida", "id", "id", "ts", "ts")
        exp_pairs = {(r.x_tag, r.y_tag) for r in batch.collect()}
        assert got_pairs == exp_pairs, key_a
        assert len(em) >= len(got)  # changelog re-emission property


def test_stream_join_typed_structs_end_to_end(streaming_spark, tmp_path):
    """Typed façade: callers get (k, x struct, y struct) with the
    inputs' own schemas — field access (`x.tag`) works directly on the
    changelog, no manual from_json — and the converged result still
    equals the batch full-outer join."""
    from flink_join_scaling_spark.streaming import stream_join_versioned_typed

    spark = streaming_spark
    a = spark.createDataFrame(_gen_a(6, 3), A_SCHEMA)
    b = spark.createDataFrame(_gen_b(10, 3, ida_max=9), B_SCHEMA)
    sa = chunked_parquet_stream(spark, a, str(tmp_path / "a"), n_chunks=3)
    sb = chunked_parquet_stream(spark, b, str(tmp_path / "b"), n_chunks=3)
    out = stream_join_versioned_typed(sa, sb, "id", "ida", "id", "id", "ts", "ts")
    # downstream consumes struct fields natively — this projection is a
    # plain typed expression over the changelog
    proj = out.select(
        "k",
        F.col("x.tag").alias("x_tag"),
        F.col("x.ts").alias("x_ts"),
        F.col("y.tag").alias("y_tag"),
    )
    em = collect_emissions(proj)
    got = converged(em, ["k"])
    got_pairs = {
        (r.x_tag if isinstance(r.x_tag, str) else None,
         r.y_tag if isinstance(r.y_tag, str) else None)
        for r in got.itertuples(index=False)
    }
    batch = join_full_outer(a, b, "id", "ida", "id", "id", "ts", "ts")
    exp_pairs = {(r.x_tag, r.y_tag) for r in batch.collect()}
    assert got_pairs == exp_pairs


@pytest.mark.parametrize("how", ["full_outer_seq", "left_outer_seq"])
def test_stream_join_grouped_matches_batch(streaming_spark, tmp_path, how):
    """O8/O9 streaming: converged grouped changelog equals the batch
    Seq-variant joins (element sets per key, both sides)."""
    from flink_join_scaling_spark.operators.joins import (
        join_full_outer_seq,
        join_left_outer_seq,
    )

    spark = streaming_spark

    def tags(arr_json: str) -> tuple:
        return tuple(sorted(json.loads(p)["tag"] for p in json.loads(arr_json)))

    for key_a, a, b in _join_inputs(spark):
        sa = chunked_parquet_stream(spark, a, str(tmp_path / key_a / "a"), n_chunks=3)
        sb = chunked_parquet_stream(spark, b, str(tmp_path / key_a / "b"), n_chunks=3)
        em = collect_emissions(
            stream_join_versioned(sa, sb, key_a, "ida", "id", "id", "ts", "ts", how=how)
        )
        got = {
            str(r.k): (tags(r.xs_json), tags(r.ys_json))
            for r in converged(em, ["k"]).itertuples(index=False)
        }

        if how == "full_outer_seq":
            batch = join_full_outer_seq(a, b, key_a, "ida", "id", "id", "ts", "ts")
            exp = {
                str(r.key): (
                    tuple(sorted(x.tag for x in r.xs)),
                    tuple(sorted(y.tag for y in r.ys)),
                )
                for r in batch.collect()
            }
        else:
            batch = join_left_outer_seq(a, b, key_a, "ida", "id", "ts", "ts")
            exp = {
                str(r[key_a]): (
                    (r.tag,),
                    tuple(sorted(y.tag for y in r.ys)),
                )
                for r in batch.collect()
            }
        assert got == exp, key_a


@pytest.mark.parametrize(
    "how", ["full_outer", "left_outer", "inner", "full_outer_seq", "left_outer_seq"]
)
def test_stream_join_output_schema_per_how(streaming_spark, tmp_path, how):
    """One entry point per output type: the pair variants emit one row
    per (x, y) pairing, the Seq variants one row per key with each
    side's versions as an array (JSON untyped, structs typed)."""
    from flink_join_scaling_spark.streaming import stream_join_versioned_typed

    spark = streaming_spark
    a = spark.createDataFrame([(1, 10, "a1")], A_SCHEMA)
    b = spark.createDataFrame([(2, 10, 1, "b2")], B_SCHEMA)
    sa = chunked_parquet_stream(spark, a, str(tmp_path / "a"), n_chunks=1)
    sb = chunked_parquet_stream(spark, b, str(tmp_path / "b"), n_chunks=1)
    args = (sa, sb, "id", "ida", "id", "id", "ts", "ts")

    def fields(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    xt = "struct<id:bigint,ts:bigint,tag:string>"
    yt = "struct<id:bigint,ts:bigint,ida:bigint,tag:string>"
    if how.endswith("_seq"):
        untyped = [("k", "string"), ("xs_json", "string"), ("ys_json", "string")]
        typed = [("k", "string"), ("xs", f"array<{xt}>"), ("ys", f"array<{yt}>")]
    else:
        untyped = [("k", "string"), ("x_payload", "string"), ("y_payload", "string")]
        typed = [("k", "string"), ("x", xt), ("y", yt)]
    assert fields(stream_join_versioned(*args, how=how)) == untyped
    assert fields(stream_join_versioned_typed(*args, how=how)) == typed


def test_stream_join_unknown_how_raises(spark):
    """Both entry points reject an unknown ``how`` with one error that
    lists the five variants, before any plan is built."""
    from flink_join_scaling_spark.streaming import stream_join_versioned_typed

    a = spark.createDataFrame([(1, 10, "a1")], A_SCHEMA)
    b = spark.createDataFrame([(2, 10, 1, "b2")], B_SCHEMA)
    for fn in (stream_join_versioned, stream_join_versioned_typed):
        with pytest.raises(ValueError) as err:
            fn(a, b, "id", "ida", "id", "id", "ts", "ts", how="right_outer")
        msg = str(err.value)
        assert "'right_outer'" in msg
        for how in ("full_outer", "left_outer", "inner", "full_outer_seq", "left_outer_seq"):
            assert how in msg


def test_stream_join_null_keys_match_batch(streaming_spark, tmp_path):
    """Null join keys never match (batch SQL semantics) but null-keyed
    rows are preserved outer-padded, with keep-latest dedup per id —
    regression for the version where all null-keyed rows of both sides
    landed in one state group and cross-joined each other."""
    spark = streaming_spark
    a = spark.createDataFrame(
        [(1, 10, "a1"), (None, 20, "anull"), (None, 30, "anull2")], A_SCHEMA
    )
    b = spark.createDataFrame(
        [(1, 10, None, "bnull-key"), (2, 10, 1, "b2")], B_SCHEMA
    )
    sa = chunked_parquet_stream(spark, a, str(tmp_path / "a"), n_chunks=2)
    sb = chunked_parquet_stream(spark, b, str(tmp_path / "b"), n_chunks=2)
    out = stream_join_versioned(sa, sb, "id", "ida", "id", "id", "ts", "ts")
    em = collect_emissions(out)

    keyed = converged(em[em["k"].notna()], ["k"])
    pairs = set()
    for r in keyed.itertuples(index=False):
        x = json.loads(r.x_payload)["tag"] if r.x_payload else None
        y = json.loads(r.y_payload)["tag"] if r.y_payload else None
        pairs.add((x, y))
    # null-key branch: last emission per (side, id)
    nulls = em[em["k"].isna()].copy()
    nulls["side"] = nulls["x_payload"].isna().astype(int)  # 0=X row, 1=Y row
    nulls["nid"] = [
        str(json.loads(r.x_payload or r.y_payload).get("id"))
        for r in nulls.itertuples(index=False)
    ]
    last = nulls.groupby(["side", "nid"])["_batch_id"].transform("max")
    for r in nulls[nulls["_batch_id"] == last].itertuples(index=False):
        x = json.loads(r.x_payload)["tag"] if isinstance(r.x_payload, str) else None
        y = json.loads(r.y_payload)["tag"] if isinstance(r.y_payload, str) else None
        pairs.add((x, y))

    # same expectation as the batch null-key test (test_versioned_properties)
    assert pairs == {("a1", "b2"), ("anull2", None), (None, "bnull-key")}


def test_stream_join_null_keys_inner_and_left(streaming_spark, tmp_path):
    """inner: null-keyed rows of both sides vanish; left_outer: only the
    X side's null-keyed rows survive (outer-padded)."""
    spark = streaming_spark
    a = spark.createDataFrame([(1, 10, "a1"), (None, 20, "anull")], A_SCHEMA)
    b = spark.createDataFrame([(1, 10, None, "bnull"), (2, 10, 1, "b2")], B_SCHEMA)

    def run(how, sub):
        sa = chunked_parquet_stream(spark, a, str(tmp_path / f"a{sub}"), n_chunks=1)
        sb = chunked_parquet_stream(spark, b, str(tmp_path / f"b{sub}"), n_chunks=1)
        em = collect_emissions(
            stream_join_versioned(sa, sb, "id", "ida", "id", "id", "ts", "ts", how=how)
        )
        pairs = set()
        for r in em.itertuples(index=False):
            x = json.loads(r.x_payload)["tag"] if isinstance(r.x_payload, str) else None
            y = json.loads(r.y_payload)["tag"] if isinstance(r.y_payload, str) else None
            pairs.add((x, y))
        return pairs

    assert run("inner", "i") == {("a1", "b2")}
    assert run("left_outer", "l") == {("a1", "b2"), ("anull", None)}


def test_stream_join_grouped_null_keys(streaming_spark, tmp_path):
    """Grouped variants: the two sides' null-key groups emit as separate
    per-side rows (matching the batch full-outer join of grouped sides,
    where null keys never meet)."""
    spark = streaming_spark
    a = spark.createDataFrame(
        [(1, 10, "a1"), (None, 20, "anull"), (None, 30, "anull2")], A_SCHEMA
    )
    b = spark.createDataFrame([(1, 10, None, "bnull"), (2, 10, 1, "b2")], B_SCHEMA)
    sa = chunked_parquet_stream(spark, a, str(tmp_path / "a"), n_chunks=2)
    sb = chunked_parquet_stream(spark, b, str(tmp_path / "b"), n_chunks=1)
    em = collect_emissions(
        stream_join_versioned(
            sa, sb, "id", "ida", "id", "id", "ts", "ts", how="full_outer_seq"
        )
    )
    def tags(arr_json):
        return tuple(sorted(json.loads(p)["tag"] for p in json.loads(arr_json)))

    nulls = em[em["k"].isna()].copy()
    nulls["side"] = (nulls["xs_json"] == "[]").astype(int)
    last = nulls.groupby("side")["_batch_id"].transform("max")
    got = {
        (tags(r.xs_json), tags(r.ys_json))
        for r in nulls[nulls["_batch_id"] == last].itertuples(index=False)
    }
    # null-key X rows dedup per id (both anull rows share id NULL → one
    # survivor, the newer), emitted separately from the null-key Y row
    assert got == {(("anull2",), ()), ((), ("bnull",))}
    keyed = converged(em[em["k"].notna()], ["k"])
    got_keyed = {
        str(r.k): (tags(r.xs_json), tags(r.ys_json))
        for r in keyed.itertuples(index=False)
    }
    assert got_keyed == {"1": (("a1",), ("b2",))}


def test_stream_dedup_null_ordering_columns(streaming_spark, tmp_path):
    """Null ts / tiebreak values must not crash the keep-latest rank
    (Python would TypeError comparing None with int) and must sort below
    any non-null, matching batch max_by semantics."""
    spark = streaming_spark
    rows = [(1, None, "nullts"), (1, 5, None), (1, 5, "tagged"), (2, None, "only")]
    df = spark.createDataFrame(rows, A_SCHEMA)
    expected = {
        (r.id, r.ts, r.tag)
        for r in dedup_latest(df, "id", "ts", tiebreak=["tag"]).collect()
    }
    s = chunked_parquet_stream(spark, df, str(tmp_path), n_chunks=2)
    em = collect_emissions(stream_dedup_latest(s, "id", "ts", tiebreak=["tag"]))
    got = converged(em, ["id"])[["id", "ts", "tag"]].astype(object)
    got = got.where(got.notna(), None)  # pandas NaN → SQL null
    assert {tuple(r) for r in got.itertuples(index=False)} == expected


def test_stream_join_changelog_reemits_on_update(streaming_spark, tmp_path):
    """A new version of an A record must re-emit its key's join result
    with the updated payload (the reference's continuous-maintenance
    property, joins.scala:18-19)."""
    spark = streaming_spark
    a = spark.createDataFrame([(1, 10, "old"), (1, 20, "new")], A_SCHEMA)
    b = spark.createDataFrame([(5, 10, 1, "b5")], B_SCHEMA)
    # chunk 0 carries (old, b5), chunk 1 carries (new): round-robin split
    sa = chunked_parquet_stream(spark, a, str(tmp_path / "a"), n_chunks=2)
    sb = chunked_parquet_stream(spark, b, str(tmp_path / "b"), n_chunks=1)
    out = stream_join_versioned(sa, sb, "id", "ida", "id", "id", "ts", "ts")
    em = collect_emissions(out)
    tags = [json.loads(p)["tag"] for p in em["x_payload"] if p]
    assert "new" in tags  # final state reflects the update
    final = converged(em, ["k"])
    assert [json.loads(p)["tag"] for p in final["x_payload"] if p] == ["new"]


def test_stream_tumbling_agg_matches_batch(streaming_spark, tmp_path):
    """Windowed streaming agg in update mode over chunked events equals
    the batch groupBy(window(...)) on the same data."""
    spark = streaming_spark
    rng = random.Random(SEED)
    rows = [
        (i, rng.randrange(0, 4 * 3600) * 1000, "t" + str(i % 2), float(i))
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts_ms long, event_type string, value double"
    ).withColumn("ets", F.timestamp_millis("ts_ms"))
    batch = (
        df.groupBy(F.window("ets", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )
    expected = {tuple(r) for r in batch.collect()}

    # round-robin chunks put near-max timestamps into batch 0, so the
    # lateness bound must cover the whole span or later batches would be
    # dropped as late — the watermark-semantics test below pins that.
    s = chunked_parquet_stream(spark, df, str(tmp_path), n_chunks=3)
    out = stream_tumbling_agg(
        s, ts_col="ets", size="1 hour", delay="10 days", keys=["event_type"]
    )
    em = collect_emissions(out, output_mode="update")
    got = converged(em, ["window_start", "event_type"])
    assert {tuple(r) for r in got.itertuples(index=False)} == expected


def test_stream_session_agg_matches_batch(streaming_spark, tmp_path):
    """Session windows (6 h gap) in append mode: sessions emit once the
    watermark passes their end, so batch 0 carries the real events and
    batch 1 a far-future sentinel that flushes them. Emitted sessions
    (minus the sentinel's own) equal the batch session_window result.
    Update mode is rejected by Spark for session aggregations — append
    is the only unbounded-safe mode here."""
    import os

    spark = streaming_spark
    rng = random.Random(SEED + 7)
    rows = [
        (i, rng.randrange(2), rng.randrange(0, 48 * 3600) * 1000)
        for i in range(50)
    ]
    schema = "event_id long, user_id long, ts_ms long"
    df = spark.createDataFrame(rows, schema).withColumn(
        "ets", F.timestamp_millis("ts_ms")
    )
    batch = (
        df.groupBy(F.session_window("ets", "6 hours").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("session_start"), "user_id", "n_events")
    )
    expected = {tuple(r) for r in batch.collect()}

    sentinel_ms = 60 * 24 * 3600 * 1000  # day 60, far past all sessions
    sent = spark.createDataFrame([(999, 0, sentinel_ms)], schema).withColumn(
        "ets", F.timestamp_millis("ts_ms")
    )
    root = str(tmp_path / "sess")
    os.makedirs(root)
    df.coalesce(1).write.parquet(root + "/chunk-000")
    sent.coalesce(1).write.parquet(root + "/chunk-001")
    s = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(root + "/chunk-*")
    )

    from flink_join_scaling_spark.streaming import stream_session_agg

    out = stream_session_agg(s, ts_col="ets", gap="6 hours", delay="10 seconds", keys=["user_id"])
    em = collect_emissions(out, output_mode="append")
    got = {
        tuple(r)
        for r in em.drop(columns=["_batch_id"]).itertuples(index=False)
        if r.session_start < pd.Timestamp("1970-02-15")  # drop sentinel session
    }
    assert got == expected


def test_stream_sliding_agg_matches_batch(streaming_spark, tmp_path):
    spark = streaming_spark
    rng = random.Random(SEED + 8)
    rows = [(i, rng.randrange(0, 4 * 3600) * 1000, float(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "event_id long, ts_ms long, value double").withColumn(
        "ets", F.timestamp_millis("ts_ms")
    )
    batch = (
        df.groupBy(F.window("ets", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )
    expected = {tuple(r) for r in batch.collect()}

    from flink_join_scaling_spark.streaming import stream_sliding_agg

    s = chunked_parquet_stream(spark, df, str(tmp_path), n_chunks=2)
    out = stream_sliding_agg(
        s, ts_col="ets", size="1 hour", slide="30 minutes", delay="10 days"
    )
    em = collect_emissions(out, output_mode="update")
    got = converged(em, ["window_start"])
    assert {tuple(r) for r in got.itertuples(index=False)} == expected


def test_stream_watermark_drops_late_rows(streaming_spark, tmp_path):
    """O2 semantics: a row older than watermark - delay is discarded.
    Batch 0 carries ts=2h, so the watermark advances to 2h - 10s; batch
    1 re-confirms it (Spark applies the late-row filter with the
    watermark finalized one batch earlier, so the drop takes effect from
    batch 2); batch 2's ts=0h row is then far below the watermark and
    hour 0 never emits."""
    spark = streaming_spark
    rows = [
        (0, 2 * 3600 * 1000, "t0", 1.0),
        (1, 2 * 3600 * 1000 + 1000, "t0", 1.0),
        (2, 0, "t0", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts_ms long, event_type string, value double"
    ).withColumn("ets", F.timestamp_millis("ts_ms"))
    s = chunked_parquet_stream(spark, df, str(tmp_path), n_chunks=3)
    out = stream_tumbling_agg(
        s, ts_col="ets", size="1 hour", delay="10 seconds", keys=["event_type"]
    )
    em = collect_emissions(out, output_mode="update")
    starts = set(em["window_start"])
    assert pd.Timestamp("1970-01-01 02:00:00") in starts
    assert pd.Timestamp("1970-01-01 00:00:00") not in starts


def test_stream_join_grouped_typed_structs(streaming_spark, tmp_path):
    """Typed façade, Seq variant: (k, xs array<struct>, ys
    array<struct>) with native field access, converged result equal to
    the batch grouped join's member sets."""
    from flink_join_scaling_spark.streaming import stream_join_versioned_typed

    spark = streaming_spark
    a = spark.createDataFrame(_gen_a(4, 2), A_SCHEMA)
    b = spark.createDataFrame(_gen_b(6, 2, ida_max=6), B_SCHEMA)
    sa = chunked_parquet_stream(spark, a, str(tmp_path / "a"), n_chunks=2)
    sb = chunked_parquet_stream(spark, b, str(tmp_path / "b"), n_chunks=2)
    out = stream_join_versioned_typed(
        sa, sb, "id", "ida", "id", "id", "ts", "ts", how="full_outer_seq"
    )
    proj = out.select(
        "k",
        F.expr("transform(xs, s -> s.tag)").alias("x_tags"),
        F.expr("transform(ys, s -> s.tag)").alias("y_tags"),
    )
    em = collect_emissions(proj)
    got = {
        str(r.k): (tuple(sorted(r.x_tags)), tuple(sorted(r.y_tags)))
        for r in converged(em, ["k"]).itertuples(index=False)
    }
    from flink_join_scaling_spark.operators.joins import join_full_outer_seq

    batch = join_full_outer_seq(a, b, "id", "ida", "id", "id", "ts", "ts")
    exp = {
        str(r.key): (
            tuple(sorted(x.tag for x in r.xs)),
            tuple(sorted(y.tag for y in r.ys)),
        )
        for r in batch.collect()
    }
    assert got == exp


def test_stream_join_null_event_time(streaming_spark, tmp_path):
    """A null event time must not kill the stateful join (regression:
    Arrow hands null longs to pandas as NaN, and int(NaN) raised
    ValueError inside the state fn). Semantics: a null-ts version loses
    to any real version; a key whose only version has null ts is still
    kept and outer-padded."""
    spark = streaming_spark
    a = spark.createDataFrame(
        [(1, None, "a1-null-ts"), (1, 10, "a1"), (2, None, "a2-null-ts")],
        A_SCHEMA,
    )
    b = spark.createDataFrame([(1, 5, 1, "b1")], B_SCHEMA)
    sa = chunked_parquet_stream(spark, a, str(tmp_path / "a"), n_chunks=2)
    sb = chunked_parquet_stream(spark, b, str(tmp_path / "b"), n_chunks=2)
    out = stream_join_versioned(sa, sb, "id", "ida", "id", "id", "ts", "ts")
    em = collect_emissions(out)
    pairs = set()
    for r in converged(em, ["k"]).itertuples(index=False):
        x = json.loads(r.x_payload)["tag"] if r.x_payload else None
        y = json.loads(r.y_payload)["tag"] if r.y_payload else None
        pairs.add((x, y))
    assert pairs == {("a1", "b1"), ("a2-null-ts", None)}


def test_stream_scd2_matches_batch(streaming_spark, tmp_path):
    """Continuous SCD2 maintenance converges to the batch operator's
    intervals under out-of-order arrival (late versions splitting and
    extending intervals across micro-batches)."""
    from flink_join_scaling_spark.operators.temporal import scd2_intervals
    from flink_join_scaling_spark.streaming.dedup import stream_scd2_intervals

    rng = random.Random(SEED)
    rows = [
        (i * 1000 + v, rng.randrange(5), rng.choice(["A", "B", "C"]),
         rng.randrange(10_000))
        for i in range(5)
        for v in range(20)
    ]
    rng.shuffle(rows)
    schema = "event_id long, k long, attr string, ts long"
    spark = streaming_spark
    df = spark.createDataFrame(rows, schema)

    batch = scd2_intervals(df, "k", "attr", "ts", tiebreak=["event_id"])
    expected = {}
    for r in batch.collect():
        expected.setdefault(r.k, []).append(
            (r.valid_from, r.attr, r.valid_to, r.n_versions, r.is_current)
        )
    for v in expected.values():
        v.sort()

    s = chunked_parquet_stream(spark, df, str(tmp_path), n_chunks=5)
    em = collect_emissions(
        stream_scd2_intervals(s, "k", "attr", "ts", "event_id")
    )
    assert len(em) >= len(expected)  # changelog: every key emits >= once
    got_rows = converged(em, ["k"])
    got = {}
    for _, r in got_rows.iterrows():
        got[r["k"]] = sorted(
            zip(r["valid_from"], r["attr"], r["valid_to"],
                r["n_versions"], r["is_current"])
        )
    # normalize numpy scalars / None vs NaN for comparison
    def norm(intervals):
        return [
            (int(a), b, None if c is None or c != c else int(c), int(d), bool(e))
            for a, b, c, d, e in intervals
        ]
    assert {k: norm(v) for k, v in got.items()} == {
        k: norm(v) for k, v in expected.items()
    }


def test_stream_scd2_late_version_splits_interval(streaming_spark, tmp_path):
    """A late-arriving version with a different attr lands INSIDE an
    already-emitted interval: the converged output shows the split —
    the case compacted-state designs cannot replay."""
    from flink_join_scaling_spark.streaming.dedup import stream_scd2_intervals

    spark = streaming_spark
    schema = "event_id long, k long, attr string, ts long"
    early = [(1, 1, "A", 100), (2, 1, "A", 300)]
    late = [(3, 1, "B", 200)]  # arrives last, belongs in the middle

    import os, uuid
    path = os.path.join(str(tmp_path), f"stream-{uuid.uuid4().hex[:6]}")
    os.makedirs(path)
    spark.createDataFrame(early, schema).coalesce(1).write.parquet(
        os.path.join(path, "chunk-000")
    )
    spark.createDataFrame(late, schema).coalesce(1).write.parquet(
        os.path.join(path, "chunk-001")
    )
    s = (
        spark.readStream.schema(spark.createDataFrame(early, schema).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(path, "chunk-*"))
    )
    em = collect_emissions(stream_scd2_intervals(s, "k", "attr", "ts", "event_id"))
    final = converged(em, ["k"]).iloc[0]
    assert list(final["attr"]) == ["A", "B", "A"]
    assert [int(x) for x in final["valid_from"]] == [100, 200, 300]
    assert list(final["is_current"]) == [False, False, True]


def test_stream_ema_matches_batch_fold(streaming_spark, tmp_path):
    """Continuous EMA converges to the batch time-ordered fold under
    out-of-order arrival — a late point re-weights every later point,
    which only the retained-series state can replay."""
    from flink_join_scaling_spark.streaming.dedup import stream_ema

    spark = streaming_spark
    rng = random.Random(SEED + 7)
    rows = [
        (i * 100 + v, i, rng.randrange(10_000), round(rng.uniform(0, 100), 3))
        for i in range(6)
        for v in range(15)
    ]
    rng.shuffle(rows)
    schema = "event_id long, k long, ts long, value double"
    df = spark.createDataFrame(rows, schema)

    # pure-Python batch oracle: sort by (ts, id), left fold seed=first
    expected = {}
    by_key = {}
    for eid, k, ts, v in rows:
        by_key.setdefault(k, []).append((ts, eid, v))
    for k, vs in by_key.items():
        vs.sort()
        ema = vs[0][2]
        for _, _, v in vs[1:]:
            ema = 0.2 * v + 0.8 * ema
        expected[k] = (len(vs), vs[-1][0], ema)

    s = chunked_parquet_stream(spark, df, str(tmp_path), n_chunks=5)
    em = collect_emissions(stream_ema(s, "k", "value", "ts", "event_id"))
    got_rows = converged(em, ["k"])
    got = {
        int(r["k"]): (int(r["n_events"]), int(r["last_ts"]), float(r["ema"]))
        for _, r in got_rows.iterrows()
    }
    assert set(got) == set(expected)
    for k in expected:
        assert got[k][0] == expected[k][0]
        assert got[k][1] == expected[k][1]
        assert abs(got[k][2] - expected[k][2]) < 1e-9


def test_stream_scd2_string_key(streaming_spark, tmp_path):
    """The streaming SCD2 output schema derives the key type from the
    input (regression: it was hardcoded long) — string-keyed streams
    work end-to-end, like the batch operator."""
    from flink_join_scaling_spark.streaming.dedup import stream_scd2_intervals

    spark = streaming_spark
    schema = "event_id long, k string, attr string, ts long"
    rows = [(1, "alpha", "A", 10), (2, "alpha", "B", 20), (3, "beta", "A", 5)]
    df = spark.createDataFrame(rows, schema)
    s = chunked_parquet_stream(spark, df, str(tmp_path), n_chunks=2)
    em = collect_emissions(stream_scd2_intervals(s, "k", "attr", "ts", "event_id"))
    got = converged(em, ["k"])
    by_key = {r["k"]: list(r["attr"]) for _, r in got.iterrows()}
    assert by_key == {"alpha": ["A", "B"], "beta": ["A"]}


def test_stream_scd2_max_versions_caps_state(streaming_spark, tmp_path):
    """The documented state bound: with max_versions=2, later versions
    beyond the cap are ignored (bounded state under adversarial keys)
    and the emitted history covers exactly the admitted versions."""
    from flink_join_scaling_spark.streaming.dedup import stream_scd2_intervals

    spark = streaming_spark
    schema = "event_id long, k long, attr string, ts long"
    rows = [(i, 1, "A" if i % 2 else "B", i * 10) for i in range(1, 5)]
    df = spark.createDataFrame(rows, schema)
    s = chunked_parquet_stream(spark, df, str(tmp_path), n_chunks=1)
    em = collect_emissions(
        stream_scd2_intervals(s, "k", "attr", "ts", "event_id", max_versions=2)
    )
    final = converged(em, ["k"]).iloc[0]
    assert sum(int(n) for n in final["n_versions"]) == 2
    # truncation is loud: the 2 refused versions are counted, so a
    # capped key is distinguishable from a complete one (n_dropped=0)
    assert int(final["n_dropped"]) == 2


def test_stream_scd2_uncapped_reports_zero_dropped(streaming_spark, tmp_path):
    from flink_join_scaling_spark.streaming.dedup import stream_scd2_intervals

    spark = streaming_spark
    schema = "event_id long, k long, attr string, ts long"
    rows = [(i, 1, "A", i * 10) for i in range(1, 5)]
    df = spark.createDataFrame(rows, schema)
    s = chunked_parquet_stream(spark, df, str(tmp_path), n_chunks=2)
    em = collect_emissions(stream_scd2_intervals(s, "k", "attr", "ts", "event_id"))
    final = converged(em, ["k"]).iloc[0]
    assert int(final["n_dropped"]) == 0


def test_stream_scd2_dropped_count_dedupes_within_batch(streaming_spark, tmp_path):
    """A version id redelivered within one micro-batch is counted as
    ONE refused arrival once the cap is hit, not two — the `seen` set
    covers the drop branch too."""
    from flink_join_scaling_spark.streaming.dedup import stream_scd2_intervals

    spark = streaming_spark
    schema = "event_id long, k long, attr string, ts long"
    rows = [
        (1, 1, "A", 10), (2, 1, "B", 20),  # fill the cap (max_versions=2)
        (3, 1, "C", 30), (3, 1, "C", 30),  # same refused id, twice
    ]
    df = spark.createDataFrame(rows, schema)
    s = chunked_parquet_stream(spark, df, str(tmp_path), n_chunks=1)
    em = collect_emissions(
        stream_scd2_intervals(s, "k", "attr", "ts", "event_id", max_versions=2)
    )
    final = converged(em, ["k"]).iloc[0]
    assert sum(int(n) for n in final["n_versions"]) == 2
    assert int(final["n_dropped"]) == 1


def test_fold_latest_last_writer_wins():
    """The per-key fold keeps the max (ts, payload) per (side, id) and
    reports whether any entry changed."""
    from flink_join_scaling_spark.streaming.joins import _fold_latest

    xs, ys = {"1": [5, "b"]}, {}
    batch = pd.DataFrame(
        {"side": [0, 0, 1, 1], "id": ["1", "1", "7", "7"], "ts": [5, 4, 3, 3],
         "payload": ["a", "z", "p", "q"]}
    )
    assert not _fold_latest(xs, dict(), iter([batch.iloc[:2]]))  # stale for xs
    assert _fold_latest(xs, ys, iter([batch.iloc[:1], batch.iloc[1:]]))
    assert xs == {"1": [5, "b"]} and ys == {"7": [3, "q"]}
