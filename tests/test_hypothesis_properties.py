"""Hypothesis property tests — the direct analogue of the reference's
ScalaCheck protocol (``JoinSpec.scala:16-36``): randomized inputs with
shrinking, tight id/ts ranges to force the nasty regimes (id
collisions, timestamp ties, empty sides, dangling keys), compared
field-exact against the pure-Python oracle of
``test_versioned_properties``.

Example counts are small (Spark jobs per example); the seeded configs
in test_versioned_properties remain the broad-coverage workhorse.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flink_join_scaling_spark.operators.joins import join_full_outer, join_inner
from flink_join_scaling_spark.operators.versioned import dedup_latest
from tests.test_versioned_properties import A_SCHEMA, B_SCHEMA, _pairs, py_dedup, py_join

# tiny domains → collisions and ties are the common case, not the edge
a_row = st.tuples(
    st.integers(0, 5), st.integers(0, 3), st.sampled_from(["p", "q", "r"])
)
b_row = st.tuples(
    st.integers(0, 5), st.integers(0, 3), st.integers(0, 7),
    st.sampled_from(["x", "y", "z"]),
)

SET = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _stable_b_keys(b_rows):
    """Enforce the reference invariant: one join key per entity id
    (GenJoinInput.scala:89-95)."""
    ida_of, out = {}, []
    for bid, ts, ida, tag in b_rows:
        ida_of.setdefault(bid, ida)
        out.append((bid, ts, ida_of[bid], tag))
    return out


@given(a=st.lists(a_row, max_size=12))
@SET
def test_dedup_latest_property(spark, a):
    df = spark.createDataFrame(a, A_SCHEMA) if a else spark.createDataFrame([], A_SCHEMA)
    got = {tuple(r) for r in dedup_latest(df, "id", "ts").collect()}
    assert got == {tuple(r) for r in py_dedup(a, (0,), 1)}


@given(a=st.lists(a_row, max_size=10), b=st.lists(b_row, max_size=10))
@SET
def test_full_outer_property(spark, a, b):
    b = _stable_b_keys(b)
    dfa = spark.createDataFrame(a, A_SCHEMA) if a else spark.createDataFrame([], A_SCHEMA)
    dfb = spark.createDataFrame(b, B_SCHEMA) if b else spark.createDataFrame([], B_SCHEMA)
    res = join_full_outer(dfa, dfb, "id", "ida", "id", "id", "ts", "ts")
    cols = ["x_id", "x_ts", "x_tag", "y_id", "y_ts", "ida", "y_tag"]
    got = _pairs([tuple(r[c] for c in cols) for r in res.collect()], a_cols=3)
    assert got == py_join(a, b, "full_outer")


@given(a=st.lists(a_row, max_size=10), b=st.lists(b_row, max_size=10))
@SET
def test_inner_property(spark, a, b):
    b = _stable_b_keys(b)
    dfa = spark.createDataFrame(a, A_SCHEMA) if a else spark.createDataFrame([], A_SCHEMA)
    dfb = spark.createDataFrame(b, B_SCHEMA) if b else spark.createDataFrame([], B_SCHEMA)
    res = join_inner(dfa, dfb, "id", "ida", "id", "id", "ts", "ts")
    cols = ["x_id", "x_ts", "x_tag", "y_id", "y_ts", "ida", "y_tag"]
    got = _pairs([tuple(r[c] for c in cols) for r in res.collect()], a_cols=3)
    assert got == py_join(a, b, "inner")


# ------------------------------------------- round-2 operator properties

edge = st.tuples(st.integers(0, 12), st.integers(0, 12))


def _py_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find oracle: node -> min node id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@given(st.lists(edge, min_size=1, max_size=25))
@SET
def test_connected_components_matches_union_find(spark, edges):
    from flink_join_scaling_spark.operators.dedup import connected_components

    # self-loops are legal input (a pair list never has them, but the
    # operator shouldn't care); drop them from the pair frame only if
    # the whole list is self-loops (empty edges -> nothing to assert)
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r.node: r.component_id
        for r in connected_components(df, driver_threshold=0).collect()
    }
    assert got == _py_components(edges)


event = st.tuples(st.integers(0, 3), st.integers(0, 100))


def _py_sessions(rows: list[tuple[int, int, int]], gap: int) -> dict[tuple, int]:
    """Fold oracle: (user, eid) -> 1-based session index."""
    out: dict[tuple, int] = {}
    by_user: dict[int, list] = {}
    for u, ts, eid in rows:
        by_user.setdefault(u, []).append((ts, eid))
    for u, evs in by_user.items():
        evs.sort()
        sid, prev = 0, None
        for ts, eid in evs:
            if prev is None or ts - prev > gap:
                sid += 1
            out[(u, eid)] = sid
            prev = ts
    return out


@given(st.lists(event, min_size=1, max_size=30), st.integers(1, 20))
@SET
def test_sessionize_matches_fold(spark, evs, gap):
    from flink_join_scaling_spark.operators.temporal import sessionize

    rows = [(u, ts, i) for i, (u, ts) in enumerate(evs)]
    df = spark.createDataFrame(rows, "user long, ts long, eid long")
    out = sessionize(df, "user", "ts", gap=gap, tiebreak=["eid"])
    got = {(r.user, r.eid): r.session_idx for r in out.collect()}
    assert got == _py_sessions(rows, gap)


# ---------------------------------------- round-5 operator properties

vec = st.lists(
    st.floats(-10, 10, allow_nan=False, allow_infinity=False, width=32),
    min_size=1,
    max_size=8,
)


@given(vs=st.lists(vec, min_size=1, max_size=6))
@SET
def test_quantization_bounds_property(spark, vs):
    """Int8 symmetric quantization (q_quantize_embeddings algebra):
    every level lands in [-127, 127] and every element reconstructs
    within half a step (amax/254) — for ANY float vector, including
    all-zero and single-element ones."""
    from pyspark.sql import functions as F

    rows = [(i, v) for i, v in enumerate(vs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = df.select(
        "vec_id", v.alias("v"), F.array_max(F.transform(v, F.abs)).alias("amax")
    ).withColumn(
        "qv",
        F.when(
            F.col("amax") == 0.0,
            F.transform(F.col("v"), lambda x: F.lit(0).cast("bigint")),
        ).otherwise(
            F.transform(
                F.col("v"),
                lambda x: F.round(x * 127 / F.col("amax")).cast("bigint"),
            )
        ),
    )
    out = base.select(
        "amax",
        F.array_max(F.transform(F.col("qv"), F.abs)).alias("qmax"),
        F.array_max(
            F.zip_with(
                F.col("v"),
                F.col("qv"),
                lambda x, q: F.abs(x - q.cast("double") * F.col("amax") / 127),
            )
        ).alias("max_resid"),
    ).collect()
    for r in out:
        assert r["qmax"] <= 127
        assert r["max_resid"] <= r["amax"] / 254 + 1e-12


word = st.sampled_from(["aa", "bb", "cc", "dd"])
doc_text = st.lists(word, min_size=0, max_size=9).map(" ".join)


@given(texts=st.lists(doc_text, min_size=1, max_size=5))
@SET
def test_line_dedup_matches_python_oracle(spark, texts):
    """q_dedup_lines algebra vs a pure-Python oracle on random tiny
    corpora over a 4-word vocabulary (segment collisions are the
    common case): per-doc removed counts and clean text match
    exactly, including empty docs and sub-3-token tails."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from flink_join_scaling_spark.functions import text as tx

    rows = [(i, t) for i, t in enumerate(texts)]

    # pure-Python oracle mirroring tokens_ws exactly: normalized text
    # splits on single spaces, so empty text yields ONE empty token
    # (split of "" is [""], same in Spark and DuckDB)
    import re

    def segs_of(t):
        norm = re.sub(r"\s+", " ", t.strip().lower())
        toks = norm.split(" ")
        return [" ".join(toks[i : i + 3]) for i in range(0, len(toks), 3)]

    df_count = defaultdict(set)
    for i, t in rows:
        for s in set(segs_of(t)):
            df_count[s].add(i)
    expected = {}
    for i, t in rows:
        segs = segs_of(t)
        kept = [s for s in segs if len(df_count[s]) < 2]
        removed = sum(1 for s in segs if len(df_count[s]) >= 2)
        expected[i] = (removed, " ".join(kept))

    d = spark.createDataFrame(rows, "doc_id long, text string")
    segs = (
        d.select("doc_id", tx.tokens_ws(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, cast(ceil(size(toks) / 3.0) as int) - 1),"
                    " i -> struct(cast(i as bigint) as seg_idx,"
                    " concat_ws(' ', slice(toks, i * 3 + 1, 3)) as seg))"
                )
            ).alias("s"),
        )
        .select("doc_id", "s.seg_idx", "s.seg")
    )
    segdf = segs.groupBy("seg").agg(F.countDistinct("doc_id").alias("seg_df"))
    got_rows = (
        segs.join(segdf, "seg")
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("seg_df") >= 2, 1).otherwise(0)).alias("n_removed"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("seg_df") < 2,
                                F.struct(F.col("seg_idx"), F.col("seg")),
                            )
                        )
                    ),
                    lambda s: s["seg"],
                ),
            ).alias("clean_text"),
        )
        .collect()
    )
    got = {r["doc_id"]: (r["n_removed"], r["clean_text"]) for r in got_rows}
    assert got == expected


# --------------------------------------------------- SCD2 intervals

# tight domains: ts ties across keys, attr runs, duplicate ids are
# impossible (unique version id is the operator's contract)
_scd2_version = st.tuples(
    st.integers(0, 2),                     # key
    st.sampled_from(["A", "B", None]),     # attr (nullable)
    st.integers(0, 6),                     # ts (ties common)
)


def _py_scd2(rows):
    """Pure-Python oracle: sort by (ts, id) per key, run-length
    compress on attr (null-safe), chain half-open bounds."""
    by_key = {}
    for key, attr, ts, vid in rows:
        by_key.setdefault(key, []).append((ts, vid, attr))
    out = []
    for key, versions in by_key.items():
        versions.sort(key=lambda v: (v[0], v[1]))
        segs = []  # (attr, valid_from, n)
        for ts, _vid, attr in versions:
            if segs and segs[-1][0] == attr:
                segs[-1][2] += 1
            else:
                segs.append([attr, ts, 1])
        for i, (attr, vf, n) in enumerate(segs):
            vt = segs[i + 1][1] if i + 1 < len(segs) else None
            out.append((key, attr, vf, vt, n, vt is None))
    return sorted(out, key=_scd2_sort_key)


def _scd2_sort_key(r):
    """TOTAL None-safe order over interval rows (k, attr, valid_from,
    valid_to, n_versions, is_current) — ties in (k, valid_from) are
    real (two segments can open at the same ts), so every field
    participates; identical full rows are also possible and compare
    equal on both sides (multiset equality)."""
    return (
        r[0],
        r[2],
        r[1] is not None,
        r[1] or "",
        r[3] is not None,
        r[3] or 0,
        r[4],
        r[5],
    )


@given(rows=st.lists(_scd2_version, max_size=14))
@SET
def test_scd2_intervals_property(spark, rows):
    from flink_join_scaling_spark.operators.temporal import scd2_intervals

    rows = [(k, a, t, i) for i, (k, a, t) in enumerate(rows)]  # unique ids
    schema = "k long, attr string, ts long, id long"
    df = (
        spark.createDataFrame(rows, schema)
        if rows
        else spark.createDataFrame([], schema)
    )
    got = sorted(
        (
            (r.k, r.attr, r.valid_from, r.valid_to, r.n_versions, r.is_current)
            for r in scd2_intervals(df, "k", "attr", "ts", tiebreak=["id"]).collect()
        ),
        key=_scd2_sort_key,
    )
    assert got == _py_scd2(rows)
    # exactly one open interval per key; the bounds chain
    # (valid_to == next valid_from) is only recoverable from sorted
    # output when valid_from values are unique within the key (ts ties
    # can open two segments at the same instant), so gate it
    by_key = {}
    for r in got:
        by_key.setdefault(r[0], []).append(r)
    for key_rows in by_key.values():
        assert sum(1 for r in key_rows if r[5]) == 1
        froms = [r[2] for r in key_rows]
        if len(set(froms)) == len(froms):
            for a, b in zip(key_rows, key_rows[1:]):
                assert a[3] == b[2]


# ------------------------------------------------ bloom bitset probe


@given(
    bits=st.sets(st.integers(0, 1023), max_size=64),
    probes=st.lists(st.integers(0, 1023), min_size=1, max_size=8),
)
@SET
def test_bloom_bit_probe_matches_python(spark, bits, probes):
    """The BinaryType bitset probe (plans/layout.py::_bit_at) reads
    exactly the bits Python set — across random set/probe positions,
    byte boundaries included. Regression armor for the encoding (the
    hex-string and CreateArray forms were silent scale-killers; a
    silent bit-order bug would be worse)."""
    from pyspark.sql import functions as F

    from flink_join_scaling_spark.plans.layout import _bit_at

    buf = bytearray(1024 // 8)
    for b in bits:
        buf[b // 8] |= 1 << (b % 8)
    blob = bytes(buf)
    df = spark.createDataFrame([(p,) for p in probes], "pos long")
    got = [
        r.hit for r in df.select(
            _bit_at(blob, F.col("pos")).alias("hit")
        ).collect()
    ]
    assert got == [1 if p in bits else 0 for p in probes]


# ------------------------------------------------ cosine ulp boundary


def test_cosine_expr_vs_numpy_agree_on_current_fixtures(spark):
    """The round-6 cosine ulp risk (functions/vectors.py): the JVM
    fold path (round(cosine_expr, 6)) and the NumPy pairwise
    path (cosine6_pandas) must produce IDENTICAL round-6 values on the
    current embeddings fixtures — all pairs at the driver's comparison
    scale (sf0.01). If a regeneration ever lands a dot product within
    an ulp of a round-6 boundary, this test localizes the flake to the
    documented boundary before the driver does."""
    from pyspark.sql import functions as F

    from flink_join_scaling_spark.functions.vectors import (
        cosine6_pandas,
        cosine_expr,
        with_l2_norm,
    )
    from flink_join_scaling_spark.sources.catalog import load_table
    from tests.conftest import SF_ORACLE

    n = with_l2_norm(
        load_table(spark, SF_ORACLE, "embeddings"), "embedding", "nrm"
    ).select("vec_id", "embedding", "nrm")
    a = n.select(
        F.col("vec_id").alias("ida"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = n.select(
        F.col("vec_id").alias("idb"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, F.col("ida") < F.col("idb"))
    diff = (
        pairs.select(
            F.round(cosine_expr("ea", "eb", "na", "nb"), 6).alias("c_expr"),
            cosine6_pandas("ea", "eb", "na", "nb").alias("c_np"),
        )
        .where(F.col("c_expr") != F.col("c_np"))
        .count()
    )
    assert diff == 0


# ------------------------------------------------ png filter inversion


@given(
    w=st.integers(1, 5),
    h=st.integers(1, 4),
    ch=st.sampled_from([1, 2, 3, 4]),
    data=st.data(),
)
@SET
def test_png_decode_inverts_every_filter_choice(spark, w, h, ch, data):
    """decode(encode(pixels)) recovers the EXACT input pixels for any
    dimensions/channel count and any per-scanline filter assignment —
    the unfiltering is a true inverse (asymmetric bugs, byte-overflow
    wraparound, and first-row/first-pixel edge cases included). The
    encoder lives in tests (test_multimodal._png_bytes) and subtracts
    predictors the decoder must add back."""
    import math

    from flink_join_scaling_spark.operators import multimodal as mm
    from tests.test_multimodal import _png_bytes

    pixels = [
        [
            [data.draw(st.integers(0, 255)) for _ in range(ch)]
            for _ in range(w)
        ]
        for _ in range(h)
    ]
    filters = [data.draw(st.integers(0, 4)) for _ in range(h)]
    png = _png_bytes(pixels, channels=ch, filters=filters)
    gw, gh, gch, mean = mm._parse_png(png)
    assert (gw, gh, gch) == (w, h, ch)
    flat = [c for row in pixels for px in row for c in px]
    expected = sum(flat) / len(flat) / 255.0
    assert mean == math.floor(expected * 10000 + 0.5) / 10000


def test_cosine_e6_jvm_vs_numpy_agree_on_current_fixtures(spark):
    """e6-int twin of the round-6 agreement test: the JVM fold path
    (round(cosine_expr * 1e6) AS BIGINT) and the NumPy pairwise path
    (cosine_e6_pandas) must produce IDENTICAL integers on the current
    embeddings fixtures at the driver's comparison scale — the
    quantized boundary the SemDeDup/ensemble family now rides."""
    from pyspark.sql import functions as F

    from flink_join_scaling_spark.functions.vectors import (
        cosine_e6_pandas,
        cosine_expr,
        with_l2_norm,
    )
    from flink_join_scaling_spark.sources.catalog import load_table
    from tests.conftest import SF_ORACLE

    n = with_l2_norm(
        load_table(spark, SF_ORACLE, "embeddings"), "embedding", "nrm"
    ).select("vec_id", "embedding", "nrm")
    a = n.select(
        F.col("vec_id").alias("ida"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = n.select(
        F.col("vec_id").alias("idb"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, F.col("ida") < F.col("idb"))
    diff = (
        pairs.select(
            F.round(cosine_expr("ea", "eb", "na", "nb") * F.lit(1_000_000.0))
            .cast("bigint")
            .alias("c_expr"),
            cosine_e6_pandas("ea", "eb", "na", "nb").alias("c_np"),
        )
        .where(F.col("c_expr") != F.col("c_np"))
        .count()
    )
    assert diff == 0


# ------------------------------------------------ Count-Min sketch laws

cms_word = st.sampled_from([f"w{i}" for i in range(12)])


@SET
@given(words=st.lists(cms_word, min_size=1, max_size=40))
def test_cms_never_undercounts_and_merges(spark, words):
    """For ANY multiset: (a) every key's estimate >= its exact count
    (the CMS guarantee under the fixed md5-slice hash family); (b) the
    sketch of the whole equals the counter-sum of any split's sketches
    (exact-integer mergeability — what the streaming sibling and
    distributed partial aggregation both rely on)."""
    from collections import Counter

    from pyspark.sql import functions as F

    from flink_join_scaling_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    df = spark.createDataFrame([(i, w) for i, w in enumerate(words)],
                               "i long, w string")
    sketch = cms_build(df, "w").localCheckpoint()
    exact = Counter(words)
    keys = spark.createDataFrame([(k,) for k in exact], "w string")
    est = {
        r.w: r.cms_est for r in cms_estimate(sketch, keys, "w").collect()
    }
    assert all(est[k] >= c for k, c in exact.items())
    half_a = cms_build(df.where(F.col("i") % 2 == 0), "w")
    half_b = cms_build(df.where(F.col("i") % 2 == 1), "w")
    merged = {
        (r.d, r.pos): r.cnt
        for r in half_a.unionByName(half_b)
        .groupBy("d", "pos")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        .collect()
    }
    whole = {(r.d, r.pos): r.cnt for r in sketch.collect()}
    assert merged == whole


# ------------------------------------- Naive Bayes prediction laws

nb_tok = st.sampled_from(["alpha", "beta", "gamma", "delta"])


@SET
@given(
    docs=st.lists(
        st.tuples(st.sampled_from(["de", "en"]), st.lists(nb_tok, min_size=1, max_size=6)),
        min_size=2,
        max_size=8,
    )
)
def test_nb_scores_match_pure_python(spark, docs):
    """The engine's NB class scores equal a pure-Python replay of the
    same smoothed algebra (ln-sum order-independent up to float assoc;
    compared at e6 after rounding) for ANY small corpus — priors,
    smoothing denominators, and out-of-vocab handling included."""
    import math

    from pyspark.sql import functions as F

    from flink_join_scaling_spark.operators import nb

    classes = ("de", "en")
    rows = [
        (i, lang, " ".join(toks)) for i, (lang, toks) in enumerate(docs)
    ]
    if len({r[1] for r in rows}) < 2:
        return  # need both priors nonzero (ln(0) undefined by design)
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    words = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    model = nb.nb_model(words, classes)
    tot = nb.nb_totals(words, classes).first()
    prior = nb.nb_priors(d, classes).first()
    per = words.join(model, "w", "left").groupBy("doc_id", "lang").agg(
        F.count("*").cast("bigint").alias("n_toks"),
        *[
            F.array_sort(F.collect_list(
                F.coalesce(F.col(f"c_{c}"), F.lit(0)).cast("double")
            )).alias(f"a_{c}")
            for c in classes
        ],
    )
    scored = per
    for c in classes:
        scored = scored.withColumn(f"n_{c}", F.lit(int(tot[f"n_{c}"])))
        scored = scored.withColumn(f"d_{c}", F.lit(int(prior[f"d_{c}"])))
    scored = scored.withColumn("v", F.lit(int(tot["v"]))).withColumn(
        "dd", F.lit(int(prior["dd"]))
    )
    for c in classes:
        scored = scored.withColumn(
            f"s_{c}", F.round(nb.nb_score_expr(c) * 1e6).cast("bigint")
        )
    got = {
        r.doc_id: (r.s_de, r.s_en) for r in scored.collect()
    }
    # pure-Python oracle
    cnt = {c: {} for c in classes}
    n_c = {c: 0 for c in classes}
    d_c = {c: 0 for c in classes}
    vocab = set()
    for _i, (lang, toks) in enumerate(docs):
        d_c[lang] += 1
        for t in toks:
            cnt[lang][t] = cnt[lang].get(t, 0) + 1
            n_c[lang] += 1
            vocab.add(t)
    V, D = len(vocab), len(docs)
    for i, (_lang, toks) in enumerate(docs):
        for j, c in enumerate(classes):
            counts = sorted(float(cnt[c].get(t, 0)) for t in toks)
            s = math.log(d_c[c]) - math.log(D)
            for x in counts:
                s += math.log(x + 1.0)
            s -= len(toks) * math.log(n_c[c] + V)
            assert got[i][j] == round(s * 1e6)


# ---------------------------------------- media fingerprint locality


@given(
    st.integers(min_value=0, max_value=10_000),
    st.integers(min_value=0, max_value=255),
    st.integers(min_value=1, max_value=255),
)
@settings(max_examples=30, deadline=None)
def test_dhash_one_pixel_edit_is_local(seed, pos_mod, delta):
    """The locality property the planted image fixtures (and the ≤3
    band-join threshold) rest on: editing ONE pixel of a 16x16 gray
    image moves the dHash by at most 2 bits (the pixel feeds one 9x8
    grid cell, which participates in at most 2 neighbor compares)."""
    import hashlib

    import numpy as np

    from flink_join_scaling_spark.operators import multimodal as mm

    px = bytearray()
    for r in range(16):
        px += hashlib.md5(f"hyp_{seed}_{r}".encode()).digest()[:16]
    base = mm._png_encode(
        np.frombuffer(bytes(px), dtype=np.uint8).astype(np.int64).reshape(16, 16),
        16, 16, 1,
    )
    pos = pos_mod % 256
    edited = bytearray(px)
    edited[pos] = (edited[pos] + delta) % 256
    other = mm._png_encode(
        np.frombuffer(bytes(edited), dtype=np.uint8).astype(np.int64).reshape(16, 16),
        16, 16, 1,
    )
    h = (mm.dhash64(base) ^ mm.dhash64(other)) & ((1 << 64) - 1)
    assert bin(h).count("1") <= 2


@given(
    st.integers(min_value=0, max_value=10_000),
    st.integers(min_value=0, max_value=64),
    st.integers(min_value=1, max_value=255),
)
@settings(max_examples=30, deadline=None)
def test_audiohash_one_window_edit_is_local(seed, window, delta):
    """Audio twin: changing one envelope window's constant level moves
    the hash by at most 2 bits (the window joins at most 2 neighbor
    comparisons)."""
    import hashlib
    import struct

    from flink_join_scaling_spark.operators import multimodal as mm

    def wav(levels):
        data = bytes(v for v in levels for _ in range(32))
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
        return (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )

    levels = [
        hashlib.md5(f"hypa_{seed}_{w}".encode()).digest()[0] for w in range(65)
    ]
    edited = list(levels)
    edited[window] = (edited[window] + delta) % 256
    h = (mm.audiohash64(wav(levels)) ^ mm.audiohash64(wav(edited))) & ((1 << 64) - 1)
    assert bin(h).count("1") <= 2


@given(st.integers(min_value=0, max_value=10_000))
@settings(max_examples=20, deadline=None)
def test_resize_preserves_mean_within_rounding(seed):
    """Area-average resize preserves the global mean to within the
    half-up rounding budget (±0.5 per output sample) — the invariant
    q_multimodal_resize self-attests."""
    import hashlib

    import numpy as np

    from flink_join_scaling_spark.operators import multimodal as mm

    px = bytearray()
    for r in range(16):
        px += hashlib.md5(f"hypr_{seed}_{r}".encode()).digest()[:16]
    arr = np.frombuffer(bytes(px), dtype=np.uint8).astype(np.int64).reshape(16, 16)
    png = mm._png_encode(arr, 16, 16, 1)
    r8 = mm.resize_png(png, 8, 8)
    _w, _h, _c, out = mm._png_pixels(r8)
    assert abs(out.mean() - arr.mean()) <= 0.5
