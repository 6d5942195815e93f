"""Property tests for the versioned dedup + join family (O4-O10).

The reference establishes correctness with seeded property-based data
(ScalaCheck, ``Seed(123)``, ``JoinSpec.scala:16-36``) and compares the
join's converged output against generator-side expected counts
(``countAB``/``countBC``, ``JoinSpec.scala:72-95``). Here the same
protocol is strengthened: a pure-Python omniscient oracle computes the
exact expected *rows* (not just counts), and every Spark operator must
match field-exactly over several seeded configurations, including the
edge cases the reference tripped on (duplicate left keys — its ignored
B⋈C test, ``JoinSpec.scala:289-312`` — and version-timestamp ties).
"""

from __future__ import annotations

import contextlib
import random

import pytest
from pyspark.sql import functions as F

from flink_join_scaling_spark.operators.joins import (
    join_full_outer,
    join_full_outer_seq,
    join_inner,
    join_left_outer,
    join_left_outer_seq,
)
from flink_join_scaling_spark.operators.versioned import (
    dedup_latest,
    dedup_latest_by_key,
)

A_SCHEMA = "id long, ts long, tag string"
B_SCHEMA = "id long, ts long, ida long, tag string"

# (seed, n_a_ids, n_b_ids, n_versions, ida_max) — ida_max > n_a_ids
# leaves dangling B keys (right-only); n_a_ids > ida_max coverage gives
# A-only keys; ts ranges small enough to force timestamp ties.
CONFIGS = [
    (123, 8, 12, 3, 10),
    (456, 5, 20, 4, 5),
    (789, 12, 6, 2, 20),
]


def gen_ab(seed: int, n_a: int, n_b: int, n_ver: int, ida_max: int):
    """Reference-shaped A/B with stable join keys across versions
    (``GenJoinInput.scala:89-95``) and deliberately tie-prone ts."""
    rng = random.Random(seed)
    a = [
        (i, rng.randrange(50), f"a{i}v{v}") for i in range(n_a) for v in range(n_ver)
    ]
    ida_of = {i: rng.randrange(ida_max) for i in range(n_b)}
    b = [
        (i, rng.randrange(50), ida_of[i], f"b{i}v{v}")
        for i in range(n_b)
        for v in range(n_ver)
    ]
    rng.shuffle(a)
    rng.shuffle(b)
    return a, b


def py_dedup(rows: list[tuple], id_idx: tuple[int, ...], ts_idx: int) -> list[tuple]:
    """O15 OmniscientDeduplicator (``OmnicientDeduplicator.scala:4-21``):
    per id keep the max row ordered by (ts, *all remaining columns)."""
    best: dict[tuple, tuple] = {}
    for r in rows:
        key = tuple(r[i] for i in id_idx)
        rank = (r[ts_idx], *[v for i, v in enumerate(r) if i not in id_idx and i != ts_idx])
        if key not in best or rank > best[key][0]:
            best[key] = (rank, r)
    return [r for _, r in best.values()]


@pytest.mark.parametrize("cfg", CONFIGS)
def test_dedup_latest_matches_oracle(spark, cfg):
    seed, n_a, n_b, n_ver, ida_max = cfg
    a, _ = gen_ab(seed, n_a, n_b, n_ver, ida_max)
    df = spark.createDataFrame(a, A_SCHEMA)
    got = {tuple(r) for r in dedup_latest(df, "id", "ts").collect()}
    exp = {tuple(r) for r in py_dedup(a, (0,), 1)}
    assert got == exp
    assert len(got) == n_a  # one row per entity id


@pytest.mark.parametrize("cfg", CONFIGS)
def test_dedup_latest_by_key_duplicate_keys(spark, cfg):
    """O5 on a side with colliding join keys (the reference's ignored
    B⋈C edge case): exactly one deterministic row per key survives."""
    seed, n_a, n_b, n_ver, ida_max = cfg
    _, b = gen_ab(seed, n_a, n_b, n_ver, ida_max)
    df = spark.createDataFrame(b, B_SCHEMA)
    got = {tuple(r) for r in dedup_latest_by_key(df, "ida", "ts").collect()}
    # oracle: key = ida (index 2), rank by (ts, id, tag)
    best = {}
    for r in b:
        rank = (r[1], r[0], r[3])
        if r[2] not in best or rank > best[r[2]][0]:
            best[r[2]] = (rank, r)
    exp = {r for _, r in best.values()}
    assert got == exp
    assert len(got) == len({r[2] for r in b})


def py_join(a, b, how: str):
    """Converged reference join: dedup per id both sides, per-key cross
    product with null padding (``cogroupFunctions.scala:7-87``)."""
    da = py_dedup(a, (0,), 1)
    db = py_dedup(b, (0,), 1)
    keys = {r[0] for r in da} | {r[2] for r in db}
    out = set()
    for k in keys:
        xs = [r for r in da if r[0] == k]
        ys = [r for r in db if r[2] == k]
        if xs and ys:
            out |= {(x, y) for x in xs for y in ys}
        elif xs and how != "inner":
            out |= {(x, None) for x in xs}
        elif ys and how == "full_outer":
            out |= {(None, y) for y in ys}
    return out


def _pairs(rows, a_cols=3):
    out = set()
    for r in rows:
        x = tuple(r[:a_cols])
        y = tuple(r[a_cols:])
        out.add((None if x[0] is None else x, None if y[0] is None else y))
    return out


def py_group(pairs, group_of) -> dict:
    """``py_join``'s pairs collected per group into (xs, ys) sets: the
    rows of the Seq variants (``cogroupFunctions.scala:50-73``)."""
    out: dict = {}
    for x, y in pairs:
        xs, ys = out.setdefault(group_of(x, y), (set(), set()))
        xs.update([x] if x else [])
        ys.update([y] if y else [])
    return {g: (frozenset(xs), frozenset(ys)) for g, (xs, ys) in out.items()}


#: composite key shapes, (x key names, y key names): x's key is
#: (id, id + 100) and y's (ida, ida + 100), matched by position, so the
#: oracle's id == ida match holds whatever the names
KEY_SHAPES = {
    "equal": (["k", "j"], ["k", "j"]),
    "permuted": (["k", "j"], ["j", "k"]),
    "overlap": (["k", "a"], ["k", "b"]),
    "disjoint": (["k", "a"], ["m", "b"]),
}
#: name clashes: shape -> (the ops that raise, the error they raise).
#: ``prefixed``: a key ``k`` == ida on y beside an ``x_id`` column on x,
#: the name x's ``id`` would be prefixed to (the Seq ops join grouped
#: frames, which carry no x_id); the others put an input or key column
#: beside a Seq op's list column of its name
CLASHES = {
    "prefixed": (
        {"full_outer", "left_outer", "inner"},
        r"'x_id' would come from x\.id and x\.x_id.*rename",
    ),
    "x_col_ys": ({"left_outer_seq"}, r"'ys' would occur twice.*rename"),
    "x_key_xs": ({"full_outer_seq"}, r"'xs' would occur twice.*rename"),
    "y_key_ys": ({"left_outer_seq", "full_outer_seq"}, r"'ys' would occur twice.*rename"),
}
#: CONFIGS with the single key id/ida, then the key shapes on CONFIGS[0],
#: a self-join (B to the B entities whose ida is its id) and the clashes
JOIN_CASES = CONFIGS + [
    pytest.param((*CONFIGS[0], s), id=s) for s in [*KEY_SHAPES, "self", *CLASHES]
]
A_FIELDS = ["id", "ts", "tag"]
B_FIELDS = ["id", "ts", "ida", "tag"]


def _pick(row: dict, fields: list[str]):
    """An output row's side as the oracle tuple; None when null-padded."""
    return None if row["id"] is None else tuple(row[f] for f in fields)


@pytest.mark.parametrize("cfg", JOIN_CASES)
@pytest.mark.parametrize(
    "how", ["full_outer", "left_outer", "inner", "left_outer_seq", "full_outer_seq"]
)
def test_join_family_matches_oracle(spark, cfg, how):
    seed, n_a, n_b, n_ver, ida_max, *shape = cfg
    a, b = gen_ab(seed, n_a, n_b, n_ver, ida_max)
    dfa = spark.createDataFrame(a, A_SCHEMA)
    dfb = spark.createDataFrame(b, B_SCHEMA)
    xk, yk, a_fields = "id", "ida", A_FIELDS
    if shape == ["self"]:
        a, dfa, a_fields = b, dfb, B_FIELDS
    elif shape == ["prefixed"]:
        xk, yk = "id", "k"
        dfa = dfa.withColumn("x_id", F.col("id"))
        dfb = dfb.withColumn("k", F.col("ida"))
    elif shape == ["x_col_ys"]:
        dfa = dfa.withColumn("ys", F.col("tag"))
    elif shape == ["x_key_xs"]:
        xk = "xs"
        dfa = dfa.withColumn("xs", F.col("id"))
    elif shape == ["y_key_ys"]:
        yk = "ys"
        dfb = dfb.withColumn("ys", F.col("ida"))
    elif shape:
        xk, yk = KEY_SHAPES[shape[0]]
        dfa = dfa.withColumn(xk[0], F.col("id")).withColumn(xk[1], F.col("id") + 100)
        dfb = dfb.withColumn(yk[0], F.col("ida")).withColumn(yk[1], F.col("ida") + 100)
    clash_ops, match = CLASHES.get(shape[0] if shape else "", (set(), None))
    clash = how in clash_ops
    # A ids are unique per key (id IS the key) → the left ops' per-key
    # collapse equals per-id dedup, so the oracle applies unchanged
    with pytest.raises(ValueError, match=match) if clash else contextlib.nullcontext():
        if how == "full_outer":
            res = join_full_outer(dfa, dfb, xk, yk, "id", "id", "ts", "ts")
        elif how in ("left_outer", "left_outer_seq"):
            op = join_left_outer if how == "left_outer" else join_left_outer_seq
            res = op(dfa, dfb, xk, yk, "id", "ts", "ts")
        elif how == "inner":
            res = join_inner(dfa, dfb, xk, yk, "id", "id", "ts", "ts")
        else:
            res = join_full_outer_seq(dfa, dfb, xk, yk, "id", "id", "ts", "ts")
    if clash:
        return
    rows = res.collect()

    if how == "left_outer_seq":
        assert res.columns == [*dfa.columns, "ys"]
        got = {
            _pick(r, a_fields): frozenset(_pick(s, B_FIELDS) for s in r["ys"]) for r in rows
        }
        exp = py_group(py_join(a, b, "left_outer"), lambda x, y: x)
        assert len(rows) == len(got)
        assert got == {x: ys for x, (_, ys) in exp.items()}
    elif how == "full_outer_seq":
        key_cols = ["key"] if isinstance(xk, str) else xk
        assert res.columns == [*key_cols, "xs", "ys"]
        got = {
            tuple(r[c] for c in key_cols): (
                frozenset(_pick(s, a_fields) for s in r["xs"]),
                frozenset(_pick(s, B_FIELDS) for s in r["ys"]),
            )
            for r in rows
        }
        k_of = (lambda k: (k,)) if isinstance(xk, str) else (lambda k: (k, k + 100))
        assert len(rows) == len(got)
        assert got == py_group(
            py_join(a, b, "full_outer"), lambda x, y: k_of(x[0] if x else y[2])
        )
    else:
        nx = len(dfa.columns)
        assert len(res.columns) == nx + len(dfb.columns)
        got = {
            (
                _pick(dict(zip(dfa.columns, r[:nx])), a_fields),
                _pick(dict(zip(dfb.columns, r[nx:])), B_FIELDS),
            )
            for r in rows
        }
        assert len(rows) == len(got)
        assert got == py_join(a, b, how)


def test_null_key_semantics(spark):
    """Defined null handling (the reference's ``keyFromX`` string
    coercion would NPE on nulls — ``joins.scala:11``): null join keys
    never match anything (SQL equi-join semantics), but null-keyed rows
    are PRESERVED on their outer side; null ids form one dedup group.
    """
    a = [(1, 10, "a1"), (None, 20, "anull"), (None, 30, "anull2")]
    b = [(1, 10, None, "bnull-key"), (2, 10, 1, "b2")]
    dfa = spark.createDataFrame(a, "id long, ts long, tag string")
    dfb = spark.createDataFrame(b, "id long, ts long, ida long, tag string")

    # dedup: the two null-id rows are one entity; max-ts wins
    from flink_join_scaling_spark.operators.versioned import dedup_latest

    kept = {r.tag for r in dedup_latest(dfa, "id", "ts").collect()}
    assert kept == {"a1", "anull2"}

    res = join_full_outer(dfa, dfb, "id", "ida", "id", "id", "ts", "ts")
    rows = {(r.x_tag, r.y_tag) for r in res.collect()}
    assert rows == {
        ("a1", "b2"),            # real match
        ("anull2", None),        # null-key left row preserved, unmatched
        (None, "bnull-key"),     # null-key right row preserved, unmatched
    }


@pytest.mark.parametrize("cfg", CONFIGS)
def test_grouped_variants_conserve_elements(spark, cfg):
    """The reference's count-conservation invariants for Seq variants
    (``JoinSpec.scala:218-231, 254-267``): flattening the grouped output
    returns every deduped element of each side exactly once."""
    seed, n_a, n_b, n_ver, ida_max = cfg
    a, b = gen_ab(seed, n_a, n_b, n_ver, ida_max)
    dfa = spark.createDataFrame(a, A_SCHEMA)
    dfb = spark.createDataFrame(b, B_SCHEMA)

    n_da = len(py_dedup(a, (0,), 1))
    db = py_dedup(b, (0,), 1)

    loj = join_left_outer_seq(dfa, dfb, "id", "ida", "id", "ts", "ts").collect()
    assert len(loj) == n_da  # one row per left key (A keys unique)
    matched_b = sum(len(r["ys"]) for r in loj)
    assert matched_b == sum(1 for r in db if r[2] in {x[0] for x in a})
    assert all(r["ys"] is not None for r in loj)  # empty array, never null

    foj = join_full_outer_seq(dfa, dfb, "id", "ida", "id", "id", "ts", "ts").collect()
    assert sum(len(r["xs"]) for r in foj) == n_da
    assert sum(len(r["ys"]) for r in foj) == len(db)
    keys = {r["key"] for r in foj}
    assert keys == {r[0] for r in py_dedup(a, (0,), 1)} | {r[2] for r in db}

    # both key columns named ``k``: same elements, no ambiguous reference
    fk = join_full_outer_seq(
        dfa.withColumnRenamed("id", "k"), dfb.withColumnRenamed("ida", "k"),
        "k", "k", "k", "id", "ts", "ts",
    ).collect()
    assert sum(len(r["xs"]) for r in fk) == n_da
    assert sum(len(r["ys"]) for r in fk) == len(db)
    assert {r["key"] for r in fk} == keys
