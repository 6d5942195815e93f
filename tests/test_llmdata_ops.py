"""Planted-ground-truth tests for the dedup / similarity family.

Oracle parity (test_oracle_parity.py) proves Spark == DuckDB on the
same formula; these tests prove the operators find what they claim to
find: planted exact copies, planted near-duplicates, planted nearest
neighbors. Also the MLlib-vs-md5 MinHash consistency check promised in
``operators/dedup.py:minhash_lsh_ml``.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from flink_join_scaling_spark.operators import dedup as dd
from flink_join_scaling_spark.operators import similarity as sim

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango"
).split()


def _doc(rng: random.Random, n=40) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _edit(rng: random.Random, text: str, n_edits=2) -> str:
    toks = text.split()
    for _ in range(n_edits):
        toks[rng.randrange(len(toks))] = rng.choice(WORDS)
    return " ".join(toks)


@pytest.fixture(scope="module")
def planted_docs(spark):
    """60 base docs + planted: exact copy of doc0, 2-edit near-dup of
    doc1, unrelated tail."""
    rng = random.Random(99)
    base = [_doc(rng) for _ in range(60)]
    docs = list(base)
    docs.append(base[0])            # id 60: exact dup of 0
    docs.append(_edit(rng, base[1]))  # id 61: near-dup of 1
    rows = [(i, t) for i, t in enumerate(docs)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact_finds_planted_copy(planted_docs):
    groups = dd.dedup_exact(planted_docs, "doc_id", "text")
    dup_groups = {r.keeper_id: r.n_dups for r in groups.collect() if r.n_dups > 1}
    assert dup_groups == {0: 2}  # only the planted copy, kept under min id


def test_minhash_finds_planted_near_dup(planted_docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.minhash_dedup_pairs(
            planted_docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert (0, 60) in pairs and pairs[(0, 60)] == 1.0  # exact copy
    assert (1, 61) in pairs and 0.5 <= pairs[(1, 61)] < 1.0  # 2-edit near-dup


def test_ngram_jaccard_agrees_with_minhash_verified(planted_docs):
    """MinHash+LSH verified pairs are a subset of the exact all-pairs
    n-gram Jaccard at the same threshold (LSH can only lose candidates,
    never invent pairs — the verify stage recomputes exact Jaccard)."""
    mh = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dd.minhash_dedup_pairs(planted_docs, "doc_id", "text", threshold=0.5).collect()
    }
    exact = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dd.shingle_jaccard_pairs(planted_docs, "doc_id", "text")
        .where(F.col("jaccard") >= 0.5)
        .collect()
    }
    assert mh <= exact


def test_minhash_ml_consistent_with_md5_pipeline(planted_docs):
    """The MLlib MinHashLSH variant must surface every high-similarity
    pair the exact pipeline verifies (hash-family differences may add
    or drop borderline pairs; jaccard >= 0.8 pairs must agree)."""
    exact_high = {
        (r.id_a, r.id_b)
        for r in dd.minhash_dedup_pairs(planted_docs, "doc_id", "text", threshold=0.5).collect()
        if r.jaccard >= 0.8
    }
    ml = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.minhash_lsh_ml(planted_docs, "doc_id", "text").collect()
    }
    assert exact_high <= set(ml)
    # HashingTF collisions can only merge shingles → ML jaccard >= exact
    for pair in exact_high:
        assert ml[pair] >= 0.8


def test_simhash_hamming_ordering(planted_docs):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dd.simhash_dedup_pairs(planted_docs, "doc_id", "text", max_hamming=16).collect()
    }
    assert pairs.get((0, 60)) == 0  # identical text → identical simhash
    near = pairs.get((1, 61))
    assert near is not None and near <= 8  # 2-edit doc stays close


@pytest.fixture(scope="module")
def planted_vecs(spark):
    """Orthogonal-ish base vectors + a planted near-neighbor of vec 0."""
    rng = random.Random(5)
    dim = 16
    rows = []
    for i in range(30):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((i, v))
    base = rows[0][1]
    near = [x + rng.gauss(0, 0.01) for x in base]
    rows.append((30, near))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk_finds_planted_neighbor(planted_vecs):
    q = planted_vecs.where(F.col("vec_id") == 0)
    top = sim.cosine_topk(planted_vecs, q, k=1).collect()
    assert len(top) == 1
    assert top[0].vec_id == 30 and top[0].cosine_e6 > 990_000


def test_cosine_topk_pandas_equals_jvm(planted_vecs):
    q = planted_vecs.where(F.col("vec_id") < 3)
    jvm = {(r.query_id, r.rank): (r.vec_id, r.cosine_e6) for r in sim.cosine_topk(planted_vecs, q, k=5).collect()}
    pnd = {(r.query_id, r.rank): (r.vec_id, r.cosine_e6) for r in sim.cosine_topk_pandas(planted_vecs, q, k=5).collect()}
    assert jvm == pnd


def test_hard_negatives_excludes_same_label(planted_vecs):
    # label = parity of vec_id; the planted near-neighbor 30 of query 0
    # is even (same label) → must NOT appear among 0's negatives, while
    # unrestricted top-1 IS 30
    lv = planted_vecs.withColumn("label", (F.col("vec_id") % 2).cast("int"))
    q = lv.where(F.col("vec_id") == 0)
    neg = sim.hard_negatives(lv, q, k=5).collect()
    assert len(neg) == 5
    assert all(r.neg_label != r.query_label for r in neg)
    assert all(r.vec_id != 30 and r.vec_id % 2 == 1 for r in neg)
    top = sim.cosine_topk(lv, q, k=1).collect()
    assert top[0].vec_id == 30
    # ranked by descending cosine with the rank column 1..k
    cosines = [r.cosine_e6 for r in sorted(neg, key=lambda r: r.rank)]
    assert cosines == sorted(cosines, reverse=True)


def test_ivf_cells_pandas_keep_cols_pass_through(planted_vecs):
    lv = planted_vecs.withColumn("label", (F.col("vec_id") % 2).cast("int"))
    out = sim.ivf_cells_pandas(
        lv, "vec_id", "embedding", num_cells=4, nprobe=2, keep_cols=("label",)
    ).collect()
    # every probe row carries its vector's own label, verbatim
    assert len(out) == 2 * lv.count()
    assert all(r.label == r.vec_id % 2 for r in out)


def test_hard_negatives_ann_filters_labels_and_recalls(planted_vecs):
    lv = planted_vecs.withColumn("label", (F.col("vec_id") % 2).cast("int"))
    q = lv.where(F.col("vec_id") < 4)
    ann = sim.hard_negatives_ann(lv, q, k=3, num_cells=4, nprobe=2).collect()
    # label mismatch enforced inside the probed cells, never the query itself
    assert ann and all(r.neg_label != r.query_label for r in ann)
    assert all(r.vec_id != r.query_id for r in ann)
    exact = {
        (r.query_id, r.vec_id)
        for r in sim.hard_negatives(lv, q, k=3).collect()
    }
    hits = sum((r.query_id, r.vec_id) in exact for r in ann)
    assert hits >= 0.5 * len(exact)


def test_embedding_dedup_finds_planted_pair(planted_vecs):
    pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in dd.embedding_dedup_pairs(planted_vecs, "vec_id", "embedding", threshold=0.9).collect()
    }
    assert (0, 30) in pairs and pairs[(0, 30)] > 0.99
    # gaussian vectors in 16-d are near-orthogonal: no false positives at 0.9
    assert set(pairs) == {(0, 30)}


def test_embedding_dedup_adaptive_matches_exact_reference(planted_vecs):
    """The size-adaptive path (full-probe IVF cogroup below threshold)
    must reproduce the crossJoin reference exactly — same pairs, same
    round-6 cosines — at a low threshold where many pairs survive."""
    ref = {
        (r.id_a, r.id_b): r.cosine
        for r in dd.embedding_dedup_pairs_exact(
            planted_vecs, "vec_id", "embedding", threshold=0.2
        ).collect()
    }
    ada = {
        (r.id_a, r.id_b): r.cosine
        for r in dd.embedding_dedup_pairs(
            planted_vecs, "vec_id", "embedding", threshold=0.2
        ).collect()
    }
    assert ref and ada == ref


def test_embedding_dedup_e6_adaptive_matches_exact_reference(planted_vecs):
    """The e6-BIGINT form (q_dedup_embedding's shipped scoring since
    the round-10 float-boundary retirement) must agree between the
    size-adaptive cogroup path and the crossJoin reference — integer
    cosines included."""
    ref = {
        (r.id_a, r.id_b): r.cosine_e6
        for r in dd.embedding_dedup_pairs_exact(
            planted_vecs, "vec_id", "embedding", threshold=0.2, emit_e6=True
        ).collect()
    }
    ada = {
        (r.id_a, r.id_b): r.cosine_e6
        for r in dd.embedding_dedup_pairs(
            planted_vecs, "vec_id", "embedding", threshold=0.2, emit_e6=True
        ).collect()
    }
    assert ref and ada == ref
    assert all(isinstance(v, int) for v in ada.values())
    # and the integer scores are exactly the round-6 doubles × 1e6
    dbl = {
        (r.id_a, r.id_b): r.cosine
        for r in dd.embedding_dedup_pairs(
            planted_vecs, "vec_id", "embedding", threshold=0.2
        ).collect()
    }
    assert set(dbl) == set(ada)
    for k, v in dbl.items():
        assert abs(ada[k] - v * 1_000_000) <= 1  # ulp at the e6 midpoint


def test_embedding_dedup_above_threshold_goes_approximate(planted_vecs):
    """Past exact_threshold the dial flips to approximate IVF: the
    planted 0.99 pair quantizes to the same cell so it's still found."""
    pairs = {
        (r.id_a, r.id_b)
        for r in dd.embedding_dedup_pairs(
            planted_vecs, "vec_id", "embedding", threshold=0.9,
            exact_threshold=10, nprobe=2,
        ).collect()
    }
    assert (0, 30) in pairs


def test_ann_ivf_recalls_planted_neighbor(planted_vecs):
    """IVF cells: a 0.99-cosine pair quantizes to the same cell, so the
    probe finds it."""
    q = planted_vecs.where(F.col("vec_id") == 0)
    top = sim.ann_ivf_topk(planted_vecs, q, k=1, num_cells=4, nprobe=2).collect()
    assert len(top) == 1 and top[0].vec_id == 30


def test_ann_lsh_recalls_planted_neighbor(planted_vecs):
    """Sign-LSH buckets: a 0.99-cosine pair lands in the same bucket
    with overwhelming probability (angle ~0.1 rad, 4 planes)."""
    q = planted_vecs.where(F.col("vec_id") == 0)
    top = sim.ann_lsh_topk(planted_vecs, q, k=1, num_planes=4, dim=16).collect()
    assert len(top) == 1 and top[0].vec_id == 30


def test_ann_lsh_requires_dim(planted_vecs):
    """No corpus-scan probe at plan-build: omitting dim raises instead
    of silently submitting a .first() job."""
    q = planted_vecs.where(F.col("vec_id") == 0)
    with pytest.raises(TypeError, match="requires dim"):
        sim.ann_lsh_topk(planted_vecs, q, k=1, num_planes=4)


def test_cosine_topk_pandas_bounds_query_collect(planted_vecs):
    """A query set past the collect bound fails loudly instead of
    OOMing the driver."""
    with pytest.raises(ValueError, match="max_queries"):
        sim.cosine_topk_pandas(planted_vecs, planted_vecs, k=1, max_queries=5)


def test_chunk_text_spans(spark):
    """Chunk edges: short doc → one truncated chunk; stride overlap
    reconstructs the prefix of each window; every token covered."""
    from flink_join_scaling_spark.functions.text import chunk_text

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, " ".join(f"t{i}" for i in range(10)))],
        "doc_id long, text string",
    )
    rows = sorted(
        (r.doc_id, r.chunk_idx, r.n_chunk_tokens, r.chunk_text)
        for r in chunk_text(docs, "doc_id", "text", size=4, stride=3).collect()
    )
    assert rows == [
        (0, 0, 3, "a b c"),
        (1, 0, 4, "t0 t1 t2 t3"),
        (1, 1, 4, "t3 t4 t5 t6"),      # 1-token overlap (stride 3 < size 4)
        (1, 2, 4, "t6 t7 t8 t9"),
        (1, 3, 1, "t9"),               # truncated tail
    ]


def test_fingerprint_position_sensitivity(spark):
    """The rolling fingerprint must distinguish token order (same bag
    of words, different sequence → different fp)."""
    from flink_join_scaling_spark.functions.text import FP_MOD, token_value, tokens_ws

    d = spark.createDataFrame(
        [(0, "alpha bravo charlie"), (1, "charlie bravo alpha")],
        "doc_id long, text string",
    )
    toks = d.select("doc_id", F.posexplode(tokens_ws(F.col("text"))).alias("pos", "tok"))
    term = ((F.col("pos") + 1) * token_value(F.col("tok"))) % FP_MOD
    fps = {
        r.doc_id: r.fp
        for r in toks.groupBy("doc_id").agg((F.sum(term) % FP_MOD).alias("fp")).collect()
    }
    assert fps[0] != fps[1]


def test_connected_components_chain(spark):
    """Min-label propagates down a 5-node chain (multiple iterations),
    disjoint components stay separate, duplicate/reversed edges are
    harmless."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (21, 20), (20, 21)],
        "id_a long, id_b long",
    )
    comp = {
        r.node: r.component_id
        for r in dd.connected_components(pairs, driver_threshold=0).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_with_bound_tuple(spark):
    """with_bound=True returns (components, node_bound) explicitly on
    BOTH size-adaptive paths — the r14 replacement for the retired
    _fjss_node_bound ad-hoc attribute (a returned value cannot be
    silently dropped by a wrapper). The bound is the symmetrized
    distinct edge count, a proven node upper bound."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 10)], "id_a long, id_b long"
    )
    expected = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    for thresh in (1_000_000, 0):  # driver union-find / distributed
        comp, bound = dd.connected_components(
            pairs, driver_threshold=thresh, with_bound=True
        )
        assert bound == 6  # 3 distinct undirected edges, symmetrized
        assert bound >= comp.count()
        assert {r.node: r.component_id for r in comp.collect()} == expected
    # default signature unchanged: a plain DataFrame
    plain = dd.connected_components(pairs)
    assert {r.node: r.component_id for r in plain.collect()} == expected


def test_dedup_keep_best_picks_highest_quality(spark):
    """Per component: highest score wins; exact ties break to the
    lowest id; n_members counts the whole group."""
    docs = spark.createDataFrame(
        [(1, 0.3), (2, 0.9), (3, 0.9), (10, 0.5), (11, 0.5), (99, 0.1)],
        "doc_id long, q double",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    got = {
        r.component_id: (r.keeper_id, r.n_members, r.best_score)
        for r in dd.dedup_keep_best(docs, pairs, "doc_id", "q").collect()
    }
    # comp 1 = {1,2,3}: 2 and 3 tie at 0.9 -> keeper 2; comp 10 = {10,11} tie -> 10
    assert got == {1: (2, 3, 0.9), 10: (10, 2, 0.5)}


def test_embedding_dedup_ivf_recalls_planted_pair(planted_vecs):
    """The IVF-bucketed dedup path finds the planted near-identical
    pair (vec 30 is a tiny perturbation of vec 0, so both land in —
    or probe — the same cell) and, like the exact baseline, reports
    no false positives at 0.9."""
    pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in dd.embedding_dedup_pairs_ivf(
            planted_vecs, "vec_id", "embedding", threshold=0.9, num_cells=4, nprobe=2
        ).collect()
    }
    assert set(pairs) == {(0, 30)} and pairs[(0, 30)] > 0.99


def test_ivf_cells_pandas_agrees_with_expression(planted_vecs):
    """The NumPy-matmul assignment (the many-cells scale path) must
    produce exactly the expression version's (id, crank, cell)
    assignment — same cosine rounding, same tie order."""
    expr = {
        (r.vec_id, r.crank, r.cell)
        for r in sim.ivf_cells(planted_vecs, num_cells=4, nprobe=2).collect()
    }
    pnd = {
        (r.vec_id, r.crank, r.cell)
        for r in sim.ivf_cells_pandas(planted_vecs, num_cells=4, nprobe=2).collect()
    }
    assert expr == pnd


def test_ann_ivf_queries_use_corpus_cell_space(planted_vecs):
    """Queries must be assigned against the CORPUS's centroids, not
    their own: a query set disjoint from the centroid seed ids (vec 30
    only) still probes the right cells and recalls its planted
    neighbor (vec 0) — regression for the version that seeded centroids
    from each input independently."""
    q = planted_vecs.where(F.col("vec_id") == 30)
    top = sim.ann_ivf_topk(planted_vecs, q, k=3, num_cells=4, nprobe=2).collect()
    assert top and top[0].query_id == 30
    assert top[0].vec_id == 0 and top[0].cosine_e6 > 990_000


def test_connected_components_long_chain_converges(spark):
    """Pointer jumping: a chain far longer than the round budget still
    converges (label chains halve per round → O(log diameter) rounds),
    where plain min-label propagation would need diameter rounds."""
    n = 120
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    comp = {
        r.node: r.component_id
        for r in dd.connected_components(pairs, max_iter=12, driver_threshold=0).collect()
    }
    assert comp == {i: 0 for i in range(n + 1)}


def test_connected_components_nonconvergence_raises(spark):
    """An exhausted round budget raises instead of silently returning
    split components (regression: unconverged labels used to fall
    through as if correct)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(pairs, max_iter=1, driver_threshold=0)


def test_dedup_keep_best_string_ids(spark):
    """Keeper election is deterministic for STRING ids too (regression:
    the max_by(struct(score, -node)) tie-break double-cast the id
    through a numeric negation, which is invalid for strings): ties
    break to the lexicographically lowest id."""
    docs = spark.createDataFrame(
        [("doc-a", 0.9), ("doc-b", 0.9), ("doc-c", 0.1), ("x", 0.5), ("y", 0.7)],
        "doc_id string, q double",
    )
    pairs = spark.createDataFrame(
        [("doc-a", "doc-b"), ("doc-b", "doc-c"), ("x", "y")],
        "id_a string, id_b string",
    )
    got = {
        r.component_id: (r.keeper_id, r.n_members, r.best_score)
        for r in dd.dedup_keep_best(docs, pairs, "doc_id", "q").collect()
    }
    assert got == {"doc-a": ("doc-a", 3, 0.9), "x": ("y", 2, 0.7)}
    kept = sorted(
        r.doc_id for r in dd.dedup_apply(docs, pairs, "doc_id", "q").collect()
    )
    assert kept == ["doc-a", "y"]


def test_dedup_apply_assume_pinned_matches_default(spark):
    """A caller whose pair set already reads from a checkpoint skips
    connected_components' own pin; the deduplicated corpus is the same."""
    # planted groups {0..4} (a chain), {10, 11, 12} (a star, each edge
    # also listed reversed) and {20, 21}; 30..34 are singletons
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 10),
             (12, 10), (20, 21)]
    q = {0: 0.5, 1: 0.9, 2: 0.9, 3: 0.1, 4: 0.2, 10: 0.3, 11: 0.3, 12: 0.1,
         20: 0.4, 21: 0.8, **{i: 0.0 for i in range(30, 35)}}
    docs = spark.createDataFrame(list(q.items()), "doc_id long, q double")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long").localCheckpoint(eager=True)
    default = sorted(r.doc_id for r in dd.dedup_apply(docs, pairs, "doc_id", "q").collect())
    pinned = sorted(
        r.doc_id
        for r in dd.dedup_apply(docs, pairs, "doc_id", "q", assume_pinned=True).collect()
    )
    # keeper = highest q, ties to the lowest id
    assert default == [1, 10, 21, *range(30, 35)]
    assert pinned == default


def test_ivf_cells_zero_norm_vector(spark):
    """Zero-norm vectors assign identically in the expression and
    pandas paths (regression: expression NULL vs NumPy NaN diverged):
    cosine to every centroid is defined as 0.0, so assignment falls
    through to ascending cell id."""
    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),  # zero CENTROID (smallest id seeds)
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),  # zero member vector
        (4, [0.5, 0.5, 0.0, 0.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    expr = {
        (r.vec_id, r.crank, r.cell)
        for r in sim.ivf_cells(vecs, num_cells=3, nprobe=2).collect()
    }
    pnd = {
        (r.vec_id, r.crank, r.cell)
        for r in sim.ivf_cells_pandas(vecs, num_cells=3, nprobe=2).collect()
    }
    assert expr == pnd
    # the all-zero vector ties every cell at 0.0 → probes cells 0,1
    assert {(c, r) for v, r, c in expr if v == 3} == {(0, 0), (1, 1)}


def test_lsh_buckets_pandas_agrees_with_expression(planted_vecs):
    """The vectorized bucket assignment (NumPy matmul, the default ANN
    path) must produce exactly the expression version's (id, bucket) —
    same sign rule on the same float64 math."""
    planes = sim.hyperplanes(4, 16)
    expr = {
        (r.vec_id, r.b)
        for r in planted_vecs.select(
            "vec_id", sim.bucket_expr("embedding", planes).alias("b")
        ).collect()
    }
    pnd = {
        (r.vec_id, r.bucket)
        for r in sim.lsh_buckets_pandas(
            planted_vecs, "vec_id", "embedding", planes
        ).collect()
    }
    assert expr == pnd


def test_ivf_kmeans_deterministic_and_improves_objective(planted_vecs):
    """Trained centroids are run-to-run deterministic (fixed sample
    order, fixed iterations) and Lloyd's iterations never worsen the
    spherical k-means objective (mean max-cosine of the sample to its
    centroid) versus the seed initialization they start from."""
    import numpy as np

    c1 = sim.ivf_centroids_kmeans(planted_vecs, num_cells=4, iters=5)
    c2 = sim.ivf_centroids_kmeans(planted_vecs, num_cells=4, iters=5)
    assert c1 == c2

    rows = planted_vecs.collect()
    X = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)

    def objective(cents):
        C = np.stack([np.asarray(c["cvec"], dtype=np.float64) for c in cents])
        C = C / np.linalg.norm(C, axis=1, keepdims=True)
        return (Xn @ C.T).max(axis=1).mean()

    seeds = sim.ivf_centroids(planted_vecs, num_cells=4)
    seed_objective = objective(
        [{"cell": r["cell"], "cvec": r["cvec"]} for r in seeds]
    )
    assert objective(c1) >= seed_objective - 1e-12


def test_ann_ivf_trained_recalls_planted_neighbor(planted_vecs):
    """The trained-centroid ANN still recalls the planted near-identical
    neighbor (vec 30 ≈ vec 0) at rank 1."""
    top = sim.ann_ivf_topk(
        planted_vecs,
        planted_vecs.where(F.col("vec_id") == 0),
        k=1,
        num_cells=4,
        nprobe=2,
        train=True,
    ).collect()
    assert [(r.query_id, r.vec_id) for r in top] == [(0, 30)]


def test_ann_ivf_trained_recall_at_k_gate(planted_vecs):
    """Quantified recall gate for the rows-only trained-IVF path:
    recall@3 over 10 queries vs exact cosine_topk must hold a fixed
    numeric bound (measured 0.967 on this seeded fixture; the k-means
    training and the fixture are both deterministic)."""
    q = planted_vecs.where(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.vec_id)
        for r in sim.cosine_topk(planted_vecs, q, k=3).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in sim.ann_ivf_topk(
            planted_vecs, q, k=3, num_cells=4, nprobe=2, train=True
        ).collect()
    }
    assert len(exact) == 30
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"trained-IVF recall@3 {recall:.3f} < 0.9"


@pytest.fixture(scope="module")
def recall_docs(spark):
    """40 base docs + a planted 1-or-2-edit near-dup of each of the
    first 12 — enough planted pairs that a 0.9 recall bound is a real
    fraction, not an all-or-nothing check."""
    rng = random.Random(7)
    base = [_doc(rng) for _ in range(40)]
    docs = list(base)
    for i in range(12):
        docs.append(_edit(rng, base[i], n_edits=1 + (i % 2)))
    rows = [(i, t) for i, t in enumerate(docs)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_ml_candidate_recall_gate(recall_docs):
    """Quantified candidate-recall gate for the rows-only MLlib
    MinHashLSH path: of the pairs the oracled md5-MinHash pipeline
    verifies at jaccard >= 0.5, the MLlib variant must surface >= 0.9."""
    exact = {
        (r.id_a, r.id_b)
        for r in dd.minhash_dedup_pairs(
            recall_docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert len(exact) >= 10  # the planted near-dups actually verify
    ml = {
        (r.id_a, r.id_b)
        for r in dd.minhash_lsh_ml(recall_docs, "doc_id", "text").collect()
    }
    recall = len(exact & ml) / len(exact)
    assert recall >= 0.9, f"MLlib MinHashLSH candidate recall {recall:.3f} < 0.9"


def test_connected_components_driver_path_matches_distributed(spark):
    """The size-adaptive driver union-find (default for small edge
    sets) and the distributed propagation produce identical labels."""
    rng = random.Random(7)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(60)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    drv = {
        r.node: r.component_id
        for r in dd.connected_components(pairs).collect()
    }
    dist = {
        r.node: r.component_id
        for r in dd.connected_components(pairs, driver_threshold=0).collect()
    }
    assert drv == dist


def test_ngram_max_df_drops_hot_shingles(spark):
    """Stop-shingle cap: a boilerplate trigram shared by every document
    must not produce pairs by itself (it is removed from the Jaccard
    universe — both intersections and sizes), while a genuine
    near-duplicate pair still scores on its remaining shingles."""
    boiler = "terms of service"
    rows = [(i, f"{boiler} unique{i}a unique{i}b unique{i}c") for i in range(8)]
    # doc 9 is identical to doc 7 apart from sharing the boilerplate
    rows.append((9, rows[-1][1]))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.shingle_jaccard_pairs(
            docs, "doc_id", "text", shingle_n=3, max_df=4
        ).collect()
    }
    # docs sharing ONLY the boilerplate trigram produce no pair;
    # the planted identical pair scores 1.0 on its non-hot shingles
    assert capped == {(7, 9): 1.0}

    uncapped = dd.shingle_jaccard_pairs(docs, "doc_id", "text", shingle_n=3)
    # without the cap the boilerplate alone pairs every document
    assert uncapped.count() == 9 * 8 / 2

    with pytest.raises(ValueError):
        dd.shingle_jaccard_pairs(
            docs, "doc_id", "text",
            candidates=docs.limit(0).selectExpr("doc_id id_a", "doc_id id_b"),
            max_df=4,
        )


def test_ngram_contamination_flags_overlap(spark):
    """A corpus doc sharing a benchmark trigram is flagged with the
    distinct-overlap count; clean docs are absent."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "we saw the quick brown fox yesterday"),  # 2 shared trigrams
            (2, "completely unrelated words entirely here"),
            (3, "quick brown fox jumps high"),  # 2 shared trigrams
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.n_hits
        for r in dd.ngram_contamination(corpus, bench, "doc_id", "text").collect()
    }
    assert got == {1: 2, 3: 2}


def test_pii_redaction_planted(spark):
    """Planted email/phone/IP are counted and replaced; clean text is
    untouched."""
    from flink_join_scaling_spark.functions.text import pii_count, redact_pii

    df = spark.createDataFrame(
        [
            (1, "contact bob@example.com or 555-123-4567 at 10.0.0.1 ok"),
            (2, "no personal data here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n, r.red)
        for r in df.select(
            "doc_id",
            pii_count(F.col("text")).alias("n"),
            redact_pii(F.col("text")).alias("red"),
        ).collect()
    }
    assert out[1] == (
        3,
        "contact <PII:email> or <PII:phone> at <PII:ipv4> ok",
    )
    assert out[2] == (0, "no personal data here")


def test_pii_redaction_idempotent(spark):
    """Redaction is idempotent: the replacement tokens contain no
    characters that re-match any PII pattern, so a second pass is a
    no-op (safe to re-run the scrub stage)."""
    from flink_join_scaling_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        [(1, "a@b.co 555-123-4567 10.0.0.1 and plain text")],
        "doc_id long, text string",
    )
    once = df.select(redact_pii(F.col("text")).alias("t"))
    twice = once.select(redact_pii(F.col("t")).alias("t"))
    assert once.collect() == twice.collect()


def test_containment_dominates_jaccard(planted_docs):
    """Mathematical invariant: containment = n_inter/min(|A|,|B|) >=
    jaccard = n_inter/|A∪B| for every pair (union >= min size), and
    both measures agree on exact copies (1.0)."""
    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.shingle_jaccard_pairs(planted_docs, "doc_id", "text").collect()
    }
    con = {
        (r.id_a, r.id_b): r.containment
        for r in dd.shingle_jaccard_pairs(
            planted_docs, "doc_id", "text", measure="containment"
        ).collect()
    }
    assert set(jac) == set(con)  # same candidate pairs, same joins
    for pair, j in jac.items():
        assert con[pair] >= j - 1e-9, pair
    assert con[(0, 60)] == 1.0 and jac[(0, 60)] == 1.0  # exact copy


def test_containment_finds_embedded_doc(spark):
    """A short doc fully embedded in a long one: Jaccard dilutes far
    below threshold while containment reads 1.0 — the case the
    asymmetric measure exists for."""
    rng = random.Random(11)
    long_doc = _doc(rng, n=120)
    short_doc = " ".join(long_doc.split()[30:45])  # 15-token excerpt
    docs = spark.createDataFrame(
        [(0, long_doc), (1, short_doc)], "doc_id long, text string"
    )
    [row] = dd.shingle_jaccard_pairs(
        docs, "doc_id", "text", measure="containment"
    ).collect()
    assert (row.id_a, row.id_b) == (0, 1) and row.containment == 1.0
    [jrow] = dd.shingle_jaccard_pairs(docs, "doc_id", "text").collect()
    assert jrow.jaccard < 0.2  # symmetric measure misses it


def test_containment_prefix_filter_is_exact(planted_docs):
    """The prefix-filter candidate join (containment_dedup_pairs) is
    output-identical to thresholding the exact shingle self-join — the
    filter is a lossless candidate generator (the guarantee binds on
    the smaller doc's rarest-shingle prefix), not an approximation."""
    for thr, max_df in [(0.8, None), (0.8, 16), (0.5, 16), (0.95, None)]:
        ref = {
            (r.id_a, r.id_b): r.containment
            for r in dd.shingle_jaccard_pairs(
                planted_docs, "doc_id", "text", max_df=max_df,
                measure="containment",
            ).collect()
            if r.containment >= thr
        }
        got = {
            (r.id_a, r.id_b): r.containment
            for r in dd.containment_dedup_pairs(
                planted_docs, "doc_id", "text", threshold=thr, max_df=max_df
            ).collect()
        }
        assert got == ref, (thr, max_df)


def test_containment_prefix_filter_keeps_embedded_doc(spark):
    """The embedded-doc pair (low Jaccard, containment 1.0) survives
    prefix filtering — exactly the pair class symmetric banding loses,
    and the reason the candidate stage binds on the small side only."""
    rng = random.Random(11)
    long_doc = _doc(rng, n=120)
    short_doc = " ".join(long_doc.split()[30:45])
    docs = spark.createDataFrame(
        [(0, long_doc), (1, short_doc)], "doc_id long, text string"
    )
    [row] = dd.containment_dedup_pairs(
        docs, "doc_id", "text", threshold=0.8
    ).collect()
    assert (row.id_a, row.id_b) == (0, 1) and row.containment == 1.0


def test_duplicated_spans_semantics(spark):
    """Cross-doc duplicated 3-gram spans: overlapping grams merge into
    one maximal span (union-counted, not double-counted); a gram
    repeated only WITHIN one doc is not duplication; short docs
    (< gram_len tokens) report zeros but stay in the output."""
    docs = spark.createDataFrame(
        [
            # docs 0/1 share the 5-token run "c d e f g" (three
            # overlapping 3-grams -> one 5-token span each)
            (0, "a b c d e f g h"),
            (1, "x y c d e f g z"),
            # doc 2 repeats its own 3-gram twice but shares nothing
            (2, "p q r p q r p q r"),
            # doc 3 is too short to hold a single 3-gram
            (3, "u v"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in dd.duplicated_spans(docs, "doc_id", "text", gram_len=3).collect()
    }
    assert len(rows) == 4
    assert (rows[0].n_dup_tokens, rows[0].n_dup_spans) == (5, 1)
    assert (rows[1].n_dup_tokens, rows[1].n_dup_spans) == (5, 1)
    assert (rows[2].n_dup_tokens, rows[2].n_dup_spans) == (0, 0)
    assert (rows[3].n_dup_tokens, rows[3].n_dup_spans) == (0, 0)
    assert rows[3].n_tokens == 2


def test_duplicated_spans_two_disjoint_spans(spark):
    """Two separated shared runs in one doc count as two spans."""
    docs = spark.createDataFrame(
        [
            (0, "a b c 1 2 3 4 5 d e f"),
            (1, "a b c 9 9 9 9 9 d e f"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in dd.duplicated_spans(docs, "doc_id", "text", gram_len=3).collect()
    }
    assert (rows[0].n_dup_tokens, rows[0].n_dup_spans) == (6, 2)
    assert (rows[1].n_dup_tokens, rows[1].n_dup_spans) == (6, 2)


def test_duplicated_spans_apply_clips_shared_runs(spark):
    """The apply variant deletes exactly the covered positions and
    rejoins survivors in order; a doc fully covered by a shared gram
    survives as an empty clean_text row."""
    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h"),
            (1, "x y c d e f g z"),
            (2, "c d e"),   # fully covered by the shared 3-gram
            (3, "c d e"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in dd.duplicated_spans_apply(
            docs, "doc_id", "text", gram_len=3
        ).collect()
    }
    assert rows[0].clean_text == "a b h" and rows[0].n_kept == 3
    assert rows[1].clean_text == "x y z" and rows[1].n_kept == 3
    assert rows[2].clean_text == "" and rows[2].n_kept == 0
    assert rows[3].clean_text == "" and rows[3].n_kept == 0


def test_pq_train_is_deterministic_and_encode_matches_argmin(spark):
    """Two pq_train runs yield byte-identical codebooks (md5-ordered
    sample, fixed iterations), and the distributed encode equals a
    direct NumPy nearest-subcentroid assignment."""
    import numpy as np

    from flink_join_scaling_spark.operators import similarity as sim
    from flink_join_scaling_spark.sources.catalog import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    cb1 = sim.pq_train(emb, m=8, nbits=4)
    cb2 = sim.pq_train(emb, m=8, nbits=4)
    assert cb1 == cb2
    C = np.asarray(cb1["codebooks"])
    dsub = cb1["dsub"]
    rows = emb.select("vec_id", "embedding").collect()
    X = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    want = {}
    for i, r in enumerate(rows):
        codes = []
        for j in range(8):
            S = Xn[i, j * dsub : (j + 1) * dsub]
            codes.append(int(((S[None, :] - C[j]) ** 2).sum(axis=1).argmin()))
        want[r.vec_id] = codes
    got = {r.vec_id: list(r.codes) for r in sim.pq_encode(emb, cb1).collect()}
    assert got == want


def test_pq_refined_topk_beats_recall_bound(spark):
    """The ADC+refine path recalls >= 0.5 of the exact top-5 on the
    fixture (measured 0.84); pure ADC (refine_factor=0) returns the
    quantized-distance schema and ranks self out."""
    from flink_join_scaling_spark.operators import similarity as sim
    from flink_join_scaling_spark.sources.catalog import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.where("vec_id < 10")
    exact = {
        (r.query_id, r.vec_id)
        for r in sim.cosine_topk(emb, q, k=5).collect()
    }
    refined = {
        (r.query_id, r.vec_id)
        for r in sim.ann_pq_topk(emb, q, k=5).collect()
    }
    assert len(exact & refined) / len(exact) >= 0.5
    pure = sim.ann_pq_topk(emb, q, k=5, refine_factor=0)
    assert set(pure.columns) == {"query_id", "vec_id", "adist_e6", "rank"}
    rows = pure.collect()
    assert len(rows) == 50  # 10 queries x top-5
    assert all(r.query_id != r.vec_id for r in rows)


def test_minhash_family_refuses_oversized_hash_family(spark):
    """num_hashes > 8 would silently duplicate _sig_slice members
    (k % 4 wrap) and weaken the LSH signature — every signature
    builder must refuse loudly instead."""
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="8 members"):
        dd.minhash_dedup_pairs(docs, "doc_id", "text", num_hashes=9)
    with pytest.raises(ValueError, match="8 members"):
        dd.fuzzy_contamination(docs, docs, "doc_id", "text", num_hashes=9)


# ------------------------------------------------- winnowing guarantee


def _rand_doc(rng, n):
    return " ".join(f"t{rng.randrange(10_000)}x{i}" for i in range(n))


def test_winnow_guarantee_shared_run_yields_shared_fingerprint(spark):
    """The Schleimer et al. guarantee, k=4 w=5: any shared token run of
    length >= k+w-1 = 8 contains at least one full w-window of shared
    grams, whose minimum is selected in BOTH documents regardless of
    surrounding context — so the pair MUST appear. Tested across
    several planted positions (start / middle / end of each doc)."""
    rng = random.Random(17)
    run = " ".join(f"shared{j}" for j in range(8))
    docs = []
    # pairs (2i, 2i+1) share the run at varying positions; vocab is
    # otherwise position-tagged so no cross-doc grams collide
    for i, (pa, pb) in enumerate([(0, 20), (10, 0), (25, 12)]):
        a_pre, a_post = _rand_doc(rng, pa) + f" a{i} ", f" za{i} " + _rand_doc(rng, 18)
        b_pre, b_post = _rand_doc(rng, pb) + f" b{i} ", f" zb{i} " + _rand_doc(rng, 9)
        docs.append((2 * i, (a_pre + run + a_post).strip()))
        docs.append((2 * i + 1, (b_pre + run + b_post).strip()))
    # plus two documents sharing NOTHING (disjoint vocab, no run)
    docs.append((100, _rand_doc(rng, 30)))
    docs.append((101, " ".join(f"only{j}q" for j in range(30))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in dd.winnow_dedup_pairs(
            df, "doc_id", "text", min_shared=1, max_df=1 << 30
        ).collect()
    }
    for i in range(3):
        assert (2 * i, 2 * i + 1) in pairs, f"planted pair {i} missed"
    assert not any(100 in p or 101 in p for p in pairs), (
        "disjoint-vocab docs must share no fingerprint"
    )


def test_winnow_fingerprints_invariant_under_duplication(spark):
    """A document's fingerprint SET is a deterministic function of its
    text: identical texts (different ids) produce identical sets, and
    every fingerprint is one of the doc's gram hashes."""
    text = _rand_doc(random.Random(3), 40)
    df = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    fp = dd.winnow_fingerprints(df, "doc_id", "text").collect()
    by_id = {}
    for r in fp:
        by_id.setdefault(r.doc_id, set()).add(r.fp)
    assert by_id[1] == by_id[2] and by_id[1]


# ------------------------------------------------- MMR / triplet props


def test_triplet_mining_planted_structure(planted_vecs):
    """Anchor 0's planted near-clone 30 shares its label (both even) —
    so 30 can never be the negative, and the hardest positive must
    score BELOW the clone's ~1.0 cosine (hardest = least similar)."""
    lv = planted_vecs.withColumn("label", (F.col("vec_id") % 2).cast("int"))
    q = lv.where(F.col("vec_id") == 0)
    t = sim.triplet_mining(lv, q).collect()
    assert len(t) == 1
    row = t[0]
    assert row.neg_id != 30 and row.neg_id % 2 == 1
    assert row.pos_cosine_e6 < 990_000  # hardest positive, not the clone
    assert row.pos_id % 2 == 0


def test_semantic_contamination_flags_planted_clone(planted_vecs):
    """vec 30 is a near-clone of vec 0: with 0 as the benchmark, 30
    must flag contaminated and carry ~1.0 max cosine; near-orthogonal
    gaussians stay below threshold."""
    bench = planted_vecs.where(F.col("vec_id") == 0)
    corp = planted_vecs.where(F.col("vec_id") != 0)
    out = {
        r.vec_id: (r.max_bench_cos_e6, r.contaminated)
        for r in sim.semantic_contamination(
            corp, bench, threshold_e6=900_000
        ).collect()
    }
    assert out[30][1] and out[30][0] > 990_000
    others = [v for k, (v, c) in out.items() if k != 30]
    assert all(v < 900_000 for v in others)


def test_components_size_adaptive_handoff_at_exact_threshold(spark, monkeypatch):
    """The size-adaptive branch hands off EXACTLY at driver_threshold
    symmetrized edges: at-or-below → driver union-find (one collect),
    above → distributed min-label propagation — and both paths return
    identical components on the same graph (the r10 verdict's
    close-the-loop evidence for the q_dedup_phash_apply components
    leg, whose planted pair set crosses the threshold only at real
    scale)."""
    # 12 pairs over two chains + singles → 24 symmetrized edges
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 12, 2)]
        + [(100 + i, 101 + i) for i in range(0, 12, 2)],
        "id_a long, id_b long",
    )
    n_edges = 24  # 12 pairs × 2 (symmetrized), all distinct

    calls: list[str] = []
    orig = dd._cc_driver

    def spy(edges_iter, template):
        calls.append("driver")
        return orig(edges_iter, template)

    monkeypatch.setattr(dd, "_cc_driver", spy)

    at = {
        (r.node, r.component_id)
        for r in dd.connected_components(
            pairs, driver_threshold=n_edges
        ).collect()
    }
    assert calls == ["driver"], "at-threshold graph must use the driver path"

    calls.clear()
    above = {
        (r.node, r.component_id)
        for r in dd.connected_components(
            pairs, driver_threshold=n_edges - 1
        ).collect()
    }
    assert calls == [], "above-threshold graph must use the distributed path"
    assert at == above

    # The gate counts RAW pairs: each pair repeated and reversed gives
    # 2·36 = 72 > n_edges, although the deduped symmetrized edges (24)
    # would fit the driver threshold.
    dup_pairs = pairs.unionAll(pairs).unionAll(pairs.select("id_b", "id_a"))
    calls.clear()
    dup = {
        (r.node, r.component_id)
        for r in dd.connected_components(
            dup_pairs, driver_threshold=n_edges
        ).collect()
    }
    assert calls == [], "raw duplicate pairs must take the distributed path"
    assert dup == at


def test_container_majority_is_symmetric_on_unequal_lengths(spark):
    """Advisor r11: with the vote gated on doc_a's frame count alone,
    a SHORT container (lower doc id → always doc_a under the band
    join's id_a < id_b) matching a small slice of a longer container
    cleared its own majority, flagged the pair, and the min-id
    election deleted the LONGER video. The symmetric rule requires
    the vote to clear max(n_frames_a, n_frames_b)."""
    import hashlib

    def h64(tag: str) -> int:
        v = int.from_bytes(hashlib.md5(tag.encode()).digest()[:8], "big")
        return v - (1 << 64) if v >= (1 << 63) else v

    rows = []
    # doc 0: short container, 2 frames; doc 1: long container, 8
    # frames whose first two ALIGNED frames match doc 0's exactly.
    for f in range(2):
        rows.append((0 * 16 + f, h64(f"shared_{f}")))
    for f in range(8):
        rows.append((1 * 16 + f, h64(f"shared_{f}") if f < 2
                     else h64(f"doc1_only_{f}")))
    # docs 2, 3: genuine duplicates — equal length, every frame aligned
    for doc in (2, 3):
        for f in range(4):
            rows.append((doc * 16 + f, h64(f"dup_{f}")))
    fh = spark.createDataFrame(rows, "node long, fhash long")
    flagged = dd.container_majority_pairs(
        fh, "node", "fhash", stride=16, max_hamming=3
    ).collect()
    pairs = {(r.doc_a, r.doc_b) for r in flagged}
    assert (2, 3) in pairs, "equal-length full-match pair must flag"
    assert (0, 1) not in pairs, (
        "2/8 aligned matches must NOT clear a symmetric majority — "
        "the asymmetric rule would delete the longer container here"
    )
    assert pairs == {(2, 3)}


def test_container_majority_exact_above_double_mantissa(spark):
    """Doc-id recovery from composite node ids must be INTEGER
    division: node = doc·16 + frame exceeds 2^53 once doc_id ≳ 2^49,
    where a double's ulp (32 at 2^57) exceeds the stride — the float
    route collapses ADJACENT doc ids to one value and the election
    deletes the wrong video. Two distinct huge-id containers with
    identical frames must come back as exactly their own pair."""
    import hashlib

    def h64(tag: str) -> int:
        v = int.from_bytes(hashlib.md5(tag.encode()).digest()[:8], "big")
        return v - (1 << 64) if v >= (1 << 63) else v

    big_a = 1 << 53
    big_b = (1 << 53) + 1
    rows = []
    for doc in (big_a, big_b):
        for f in range(4):
            rows.append((doc * 16 + f, h64(f"huge_{f}")))
    fh = spark.createDataFrame(rows, "node long, fhash long")
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dd.container_majority_pairs(
            fh, "node", "fhash", stride=16, max_hamming=3
        ).collect()
    }
    assert pairs == {(big_a, big_b)}


def test_anti_exclude_size_adaptive(spark):
    """The shared *_apply anti tail broadcasts the exclusion set only
    while it fits (an unconditional pin would collect a duplicate-
    fraction-sized id list to the driver at 100 TB); both branches
    return identical results."""
    docs = spark.range(100).select(F.col("id").alias("doc_id"))
    excl = spark.range(0, 100, 2).select(F.col("id").alias("doc_id"))
    small = dd.anti_exclude(docs, excl, "doc_id", "doc_id")
    assert {r.doc_id for r in small.collect()} == set(range(1, 100, 2))
    # the pre-AQE physical plan carries the explicit broadcast
    assert "BroadcastHashJoin" in small._jdf.queryExecution().executedPlan().toString()
    # above-threshold: same rows through the plain (non-hinted) join —
    # AQE may still choose a broadcast at runtime from OBSERVED sizes,
    # which is exactly the adaptive behavior the pin bypassed
    large = dd.anti_exclude(docs, excl, "doc_id", "doc_id", max_broadcast_rows=0)
    assert {r.doc_id for r in large.collect()} == set(range(1, 100, 2))
    # the key-mismatch form (dedup_apply's docs[id] == excl[node])
    excl2 = excl.select(F.col("doc_id").alias("node"))
    mixed = dd.anti_exclude(docs, excl2, docs["doc_id"], "node")
    assert {r.doc_id for r in mixed.collect()} == set(range(1, 100, 2))
