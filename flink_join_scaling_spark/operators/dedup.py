"""Document deduplication operators for training-data pipelines:
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.

Scale design notes (the point of each operator at 100 TB):
- **exact**: hash-groupBy on a 256-bit digest — one shuffle keyed by
  the digest, map-side partial agg collapses most duplicates early.
- **minhash_lsh**: the banding trick turns O(n²) pair comparison into
  an equi-join on (band_index, band_hash); only same-bucket pairs are
  verified. Hash functions are simulated as ``md5(k || '#' || shingle)``
  and signatures compared as hex strings — deterministic across
  engines, so the whole pipeline has an exact DuckDB oracle. The
  MLlib ``MinHashLSH`` variant (:func:`minhash_lsh_ml`) is the
  library-accelerated path with the same shape.
- **simhash**: 32-bit sign-random-projection over token md5 bits;
  candidate pairs via byte-band equi-join (pigeonhole: hamming ≤ 3 →
  at least one of 4 bytes equal), then exact hamming filter. All bit
  math is expressed through string/arithmetic ops shared with DuckDB.
- **ngram_jaccard**: exact pairwise Jaccard via a shingle equi-join —
  the shuffle is keyed by shingle, so cost is Σ bucket²  over shingle
  frequencies, not n²; stop-shingle removal (max_df) bounds the worst
  buckets.
- **embedding**: cosine over a pair join; the ANN path for scale is in
  ``operators/similarity.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_join_scaling_spark.functions.text import exploded_shingles, norm_text, tokens_ws


# canonical definition moved to flink_join_scaling_spark.partitioning
# (r17): re-exported here for the operator modules that grew up with it
from flink_join_scaling_spark.partitioning import widen_if_narrow  # noqa: F401,E402


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by sha2-256 of normalized text.

    Returns one row per distinct content hash: (text_hash, keeper_id =
    min id, n_dups). Keep only ``n_dups`` copies via a semi-join on
    keeper_id downstream.
    """
    hashed = df.select(
        F.col(id_col), F.sha2(norm_text(F.col(text_col)), 256).alias("text_hash")
    )
    return hashed.groupBy("text_hash").agg(
        F.min(id_col).alias("keeper_id"), F.count("*").alias("n_dups")
    )


# ------------------------------------------------------------- MinHash


def _sig_hash(k: int) -> F.Column:
    """Hash k of the MinHash family: an 8-hex-char (32-bit) slice of
    md5(shingle) / md5('#'+shingle). Two md5 evaluations yield 8
    independent 32-bit uniform hashes — 4× less hashing per shingle row
    than one full md5 per hash, and the dominant cost of the signature
    aggregation is exactly these per-row hashes. Fixed-width hex keeps
    lexicographic min() ≡ numeric min; 32-bit collisions are ~|doc
    shingles|²/2³² — negligible. Exactly reproducible in any engine
    with md5 + substr.

    This is the REFERENCE form of the hash family — the formula the
    DuckDB oracle SQL mirrors (plans/llmdata.py _minhash_ctes). The
    execution paths evaluate the identical value via
    :func:`_md5_pair_projected` + :func:`_sig_slice` (one digest pair
    per row instead of one md5 per aggregate expression)."""
    return sig_hash_of(F.col("shingle"), k)


def sig_hash_of(col: F.Column, k: int) -> F.Column:
    """Hash k of the MinHash family applied to an arbitrary shingle
    expression — THE single definition of the hash formula. Every path
    (batch aggregation here, the map-only streaming signature in
    ``streaming.dedup.stream_dedup_minhash``, the incremental index in
    ``operators.incremental``) derives from this, so cross-path
    candidate convergence and index interop hold by construction."""
    src = F.md5(col) if k < 4 else F.md5(F.concat(F.lit("#"), col))
    return F.substring(src, 1 + 8 * (k % 4), 8)


def band_hash_array(
    num_hashes: int, band_size: int, h=lambda k: F.col(f"h{k}")
) -> F.Column:
    """The band-bucket array: md5 of each band's '|'-joined signature
    slice — the single definition shared by the batch, streaming, and
    incremental paths (same interop argument as :func:`sig_hash_of`)."""
    num_bands = num_hashes // band_size
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[h(k) for k in range(b * band_size, (b + 1) * band_size)],
                )
            )
            for b in range(num_bands)
        ]
    )


def _md5_pair_projected(sh: DataFrame) -> DataFrame:
    """Project the two md5 digests ONCE per shingle row (columns
    ``m1``/``m2``). Catalyst does not common-subexpression-eliminate
    across separate aggregate expressions, so 8 inline
    ``min(_sig_hash(k))`` aggs evaluate 8 md5 calls per row; slicing
    pre-projected digests is 2 — measured ~20% off the corpus-sized
    signature pass."""
    return sh.select(
        "*",
        F.md5(F.col("shingle")).alias("m1"),
        F.md5(F.concat(F.lit("#"), F.col("shingle"))).alias("m2"),
    )


def _sig_slice(k: int) -> F.Column:
    """Hash k sliced from the pre-projected digests — same value as
    :func:`_sig_hash` by construction."""
    return F.substring(F.col("m1" if k < 4 else "m2"), 1 + 8 * (k % 4), 8)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature: column ``h{k}`` = lexicographic min of
    hash k (see :func:`_sig_hash`) over the doc's distinct shingles."""
    if num_hashes > 8:
        raise ValueError("hash family provides 8 members (two md5 × four slices)")
    sh = _md5_pair_projected(exploded_shingles(df, id_col, text_col, shingle_n))
    aggs = [F.min(_sig_slice(k)).alias(f"h{k}") for k in range(num_hashes)]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_bands(
    signatures: DataFrame, id_col: str, num_hashes: int = 8, band_size: int = 2
) -> DataFrame:
    """(id, band_idx, band_hash) rows: band_hash = md5 of the band's
    concatenated signature slice.

    One ``posexplode`` over an array of band hashes, not a union of
    per-band selects: a union would re-evaluate the signature
    aggregation subplan once per band (num_bands scans/shuffles of the
    corpus unless exchange reuse happens to kick in)."""
    band_arr = band_hash_array(num_hashes, band_size)
    return signatures.select(F.col(id_col), F.posexplode(band_arr)).toDF(
        id_col, "band_idx", "band_hash"
    )


def shingle_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    candidates: DataFrame | None = None,
    sizes: DataFrame | None = None,
    max_df: int | None = None,
    measure: str = "jaccard",
) -> DataFrame:
    """(id_a, id_b, jaccard) for id_a < id_b via shingle equi-join,
    optionally restricted to an LSH candidate set (columns id_a,id_b).

    ``measure="containment"`` scores n_inter / min(|A|, |B|) instead
    (output column ``containment``): the asymmetric detector for a
    small document embedded inside a larger one, which Jaccard dilutes
    toward 0 as the size ratio grows. Same joins, same max_df cap.

    With ``candidates``, intersections are computed by joining the
    candidate pairs *to* the shingle sets (candidate-first), never by
    the all-pairs shingle self-join: LSH exists precisely because the
    self-join blows up on common shingles (at sf0.1 it yields ~1.1M
    shingle-sharing pairs for ~250 real candidates; at 100 TB it's the
    difference between a feasible job and an O(Σ bucket²) shuffle).

    ``max_df`` removes stop-shingles — shingles appearing in more than
    ``max_df`` documents — from the shingle universe before any join
    (Jaccard is then exact over the reduced universe, in sizes and
    intersections alike). This bounds the self-join's worst bucket at
    max_df²: without it, one boilerplate trigram shared by 1% of a
    100 TB corpus makes Σ bucket² explode. The heavy-hitter set is tiny
    by construction, so the removal is a broadcast anti-join — no extra
    corpus shuffle.

    ``sizes`` (id_col, n_sh) can be supplied when the caller already
    aggregated per-doc shingle counts (e.g. alongside MinHash
    signatures), saving one pass over the shingle explosion; it must
    already reflect any stop-shingle policy, so it is mutually
    exclusive with ``max_df``.
    """
    if sizes is not None and max_df is not None:
        raise ValueError("pass either precomputed sizes or max_df, not both")
    if candidates is not None and max_df is not None:
        raise ValueError(
            "max_df needs corpus-wide document frequencies; the candidate "
            "path explodes candidate docs only"
        )
    # parallelize the shingle explode + digest map stage when the input
    # is a single small scan split (no-op at real scale or when the
    # caller — minhash_dedup_pairs — already widened the frame)
    df = widen_if_narrow(df.select(F.col(id_col), F.col(text_col)))
    if candidates is not None:
        # explode ONLY documents that appear in a candidate pair — the
        # verify stage's shingle volume is candidate-sized, not
        # corpus-sized (the corpus-sized pass already happened on the
        # signature side). The candidate set is referenced three times
        # below (both semi-join sides + the intersection join), so the
        # pair-sized frame is materialized once instead of re-running
        # its banded self-join subtree per reference.
        candidates = candidates.localCheckpoint(eager=True)
        cand_ids = (
            candidates.select(F.col("id_a").alias(id_col))
            .union(candidates.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        df = df.join(cand_ids, id_col, "left_semi")
    sh = exploded_shingles(df, id_col, text_col, shingle_n)
    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("__df"))
            .where(F.col("__df") > max_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    if sizes is None:
        sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    if candidates is not None:
        sa_sh = sh.select(F.col(id_col).alias("id_a"), "shingle")
        sb_sh = sh.select(F.col(id_col).alias("id_b"), "shingle")
        inter = (
            candidates.join(sa_sh, on="id_a")
            .join(sb_sh, on=["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        a = sh.select(F.col(id_col).alias("id_a"), F.col("shingle"))
        b = sh.select(F.col(id_col).alias("id_b"), F.col("shingle"))
        inter = (
            a.join(b, on=["shingle"])
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    if measure == "containment":
        score = F.col("n_inter") / F.least("n_a", "n_b")
        out_col = "containment"
    elif measure == "jaccard":
        score = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        out_col = "jaccard"
    else:
        raise ValueError(f"unknown measure {measure!r}")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(score, 6).alias(out_col))
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signatures → band buckets →
    candidate pairs (bucket equi-join) → exact Jaccard verify ≥ threshold.

    Signatures and per-doc shingle counts come out of ONE aggregation
    over the shingle explosion (the corpus-sized pass happens once for
    the signature side; the verify stage re-reads only candidate docs'
    shingles)."""
    if num_hashes > 8:
        raise ValueError("hash family provides 8 members (two md5 × four slices)")
    # widen the projected corpus ONCE: the signature pass (per-shingle
    # md5s, the dominant map cost) and the verify re-scan both derive
    # from this frame, so at bench/test scale neither serializes onto
    # the single split a small parquet file scans as (no-op at real
    # scale — see widen_if_narrow)
    base = widen_if_narrow(df.select(F.col(id_col), F.col(text_col)))
    sh = _md5_pair_projected(exploded_shingles(base, id_col, text_col, shingle_n))
    sig_aggs = [F.min(_sig_slice(k)).alias(f"h{k}") for k in range(num_hashes)]
    sigs = sh.groupBy(id_col).agg(*sig_aggs, F.count("*").alias("n_sh"))
    sizes = sigs.select(id_col, "n_sh")
    bands = minhash_bands(sigs, id_col, num_hashes, band_size)
    left = bands.select(
        F.col(id_col).alias("id_a"), "band_idx", "band_hash"
    )
    right = bands.select(
        F.col(id_col).alias("id_b"), "band_idx", "band_hash"
    )
    cand = (
        left.join(right, on=["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    pairs = shingle_jaccard_pairs(
        base, id_col, text_col, shingle_n, candidates=cand, sizes=sizes
    )
    return pairs.where(F.col("jaccard") >= threshold)


def containment_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """(id_a, id_b, containment) pairs with containment ≥ threshold via
    an EXACT prefix-filter candidate join (Chaudhuri/Bayardo
    set-similarity-join family), never the all-pairs shingle self-join.

    The naive exact path joins the full exploded shingle universe with
    itself — Σ bucket² intermediate rows keyed by shingle, the heaviest
    shuffle in the engine at sf0.1 (9.3 MB vs a 0.6 MB corpus) and the
    difference between feasible and not at 100 TB. Prefix filtering
    makes candidate generation subquadratic WITHOUT losing pairs:

    For a pair with containment ≥ t, the SMALLER doc (size m) must
    share ≥ ceil(t·m) shingles with the other doc, so under ANY fixed
    ordering of its own shingles, its first ``m - ceil(t·m) + 1``
    shingles (its *prefix*, ~(1-t)·m tokens) cannot all miss:
    prefix(small) ∩ full(other) ≠ ∅. Candidates are therefore
    prefix-tokens ⋈ full-tokens on shingle, restricted to
    prefix-side-doc ≤ other-doc in size — a join whose probe side is
    (1-t)× smaller than full × full. Because only the small side is
    pruned, no GLOBAL canonical order is required — so the prefix is
    computed entirely per-row (array_sort + slice, whole-stage
    codegen, zero shuffle) instead of the classic df-order join-back +
    per-doc ranking, which costs two extra corpus-sized shuffles
    (measured 19 MB vs 9 MB for the plain self-join at sf0.1 — the
    "better" textbook shape lost; a fixed-size bucketed-df sketch
    ordering was also measured and cut candidates only 35% on this
    corpus's flat df distribution while adding per-element map-lookup
    cost — dropped). Unlike symmetric MinHash banding this loses
    exactly nothing: low-Jaccard/high-containment pairs (a tweet
    quoted inside a book) are the pairs the measure exists for, and
    they survive because the guarantee binds on the small side only.

    Everything after stop-shingle removal runs in ``xxhash64`` LONG
    space: each doc's shingle set becomes a sorted long array, the
    candidate join keys on longs, the hash order IS the prefix order,
    and verification joins candidate pairs back to the per-doc hash
    arrays scoring with a row-local ``array_intersect`` — 3× less
    shuffle width and 3× faster verify than string arrays (measured
    4.5 s → 1.4 s at sf0.1). Same hash-projection discipline as
    ``_md5_pair_projected``: a 64-bit collision inside one doc pair
    (probability ~|A|·|B|·2⁻⁶⁴) could perturb one intersection count;
    at that rate the output is byte-identical to the self-join form.

    The threshold is relaxed by 1e-6 before computing prefix lengths so
    pairs whose round-6 score lands exactly on the threshold (true
    containment in [t - 5e-7, t)) are still generated.

    Shuffle ledger at scale: stop-shingle df counts (map-side
    combined, only when max_df is set) → prefix⋈full on shingle
    ((1-t)·Σ bucket² candidate volume vs Σ bucket²) → candidate-sized
    verify. Prefix extraction and per-doc sizes are row-local.
    """
    from flink_join_scaling_spark.functions.text import (
        shingles_from_tokens,
        tokens_ws,
    )

    t_eff = threshold - 1e-6
    # two-step select: shingles_from_tokens takes a column NAME.
    # widen_if_narrow up front: EVERY downstream map stage (shingling,
    # the per-row hash sort, the hot-set aggregation's explode)
    # inherits this partitioning, and a small single-file scan would
    # otherwise serialize them all onto one core.
    #
    # The checkpoint here is NOT (only) about reuse — it is an
    # optimizer boundary. Any later explode or size() filter over
    # __arr makes InferFiltersFromGenerate + pushdown-through-project
    # inline the whole tokenize→shingle chain into a Filter under the
    # scan, and inside `transform` lambdas there is no common-
    # subexpression elimination, so the regexp split re-runs per
    # token access — O(tokens²) per row, measured 26 s vs 1.4 s for
    # this corpus at sf0.1. Pinning the pure projection first means
    # nothing downstream can reach through it.
    raw_arr = (
        widen_if_narrow(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), tokens_ws(F.col(text_col)).alias("__toks"))
        .select(
            F.col(id_col),
            shingles_from_tokens("__toks", shingle_n).alias("__arr"),
        )
        .localCheckpoint(eager=False)
    )
    with_arr = raw_arr
    if max_df is not None:
        # one corpus aggregation yields the stop-shingle set, removed
        # from every doc's array up front so candidates AND verify see
        # the identical reduced universe (Zipf bounds its size: ≤
        # total_occurrences/max_df shingles can exceed max_df — same
        # boundedness argument as the broadcast anti-join in
        # shingle_jaccard_pairs). Derived from raw_arr's arrays (the
        # per-doc shingles are already distinct) — one tokenization,
        # not a second scan-side pipeline.
        hot_arr = (
            raw_arr.select(F.explode("__arr").alias("shingle"))
            .groupBy("shingle")
            .agg(F.count("*").alias("__df"))
            .where(F.col("__df") > max_df)
            .agg(F.collect_list("shingle").alias("__hot"))
        )
        with_arr = raw_arr.crossJoin(F.broadcast(hot_arr)).select(
            F.col(id_col), F.array_except("__arr", "__hot").alias("__arr")
        )
    # Project to SORTED xxhash64 arrays and pin: FOUR subtrees read
    # this frame (prefix explode, full explode, both verify joins) —
    # unpinned, the tokenize→shingle→stop-shingle→hash pipeline
    # re-runs per subtree. Lazy localCheckpoint materializes once on
    # first use (MEMORY_AND_DISK, spills at scale); the frame is
    # corpus-sized but so is any set-similarity join's transformed
    # input — materializing it once beats recomputing it 4×.
    with_arr = (
        with_arr.select(
            F.col(id_col),
            F.expr(
                "array_sort(transform(__arr, s -> xxhash64(s)))"
            ).alias("__h"),
        )
        .select(F.col(id_col), "__h", F.size("__h").alias("n_sh"))
        .where(F.col("n_sh") > 0)
        .localCheckpoint(eager=False)
    )
    # per-row prefix: the sorted hash array's first
    # n - ceil(t_eff*n) + 1 elements — no global order needed (see
    # docstring), so this never leaves the row.
    prefix_len = (
        F.col("n_sh") - F.ceil(F.lit(t_eff) * F.col("n_sh")) + F.lit(1)
    ).cast("int")
    pa = with_arr.select(
        F.col(id_col).alias("__pid"),
        F.col("n_sh").alias("__pn"),
        F.explode(F.slice("__h", F.lit(1), prefix_len)).alias("__sh"),
    )
    fb = with_arr.select(
        F.col(id_col).alias("__fid"),
        F.col("n_sh").alias("__fn"),
        F.explode("__h").alias("__sh"),
    )
    cand = (
        pa.join(fb, "__sh")
        # the guarantee binds when the prefix doc is the (weakly)
        # smaller one; the strictly-larger direction is covered by the
        # pair's other orientation, so emitting it would only duplicate.
        .where(
            (F.col("__pn") < F.col("__fn"))
            | ((F.col("__pn") == F.col("__fn")) & (F.col("__pid") != F.col("__fid")))
        )
        .select(
            F.least("__pid", "__fid").alias("id_a"),
            F.greatest("__pid", "__fid").alias("id_b"),
        )
        .distinct()
        # The verify joins stream over THIS frame, and its per-pair
        # array_intersect is CPU-dense far beyond its byte size — AQE's
        # byte-based coalescing shrinks the distinct's output to a
        # couple of tasks (measured: 2 tasks × ~1 s serial at sf0.1)
        # and serializes the verify. A REPARTITION_BY_NUM exchange is
        # exempt from AQE coalescing, so the verify keeps the session's
        # parallelism; the exchange itself moves only the id-pair set.
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
    )
    # Verify on the SETS already in hand: join the candidate pairs back
    # to the per-doc sorted hash arrays and score with a row-local
    # array_intersect — no re-explode, no intersection groupBy, no
    # size joins. The pair side is pair-set-sized, so AQE broadcasts it
    # and the hash frame streams join-side without an extra shuffle;
    # past broadcast size the fallback is two linear sort-merge passes
    # keyed by id. n_inter = |H_a ∩ H_b| over the post-stop-shingle
    # distinct hash sets — identical to the explode-count form (hash
    # collision caveat in the docstring).
    a = with_arr.select(
        F.col(id_col).alias("id_a"),
        F.col("__h").alias("__ha"),
        F.col("n_sh").alias("__na"),
    )
    b = with_arr.select(
        F.col(id_col).alias("id_b"),
        F.col("__h").alias("__hb"),
        F.col("n_sh").alias("__nb"),
    )
    score = F.size(F.array_intersect("__ha", "__hb")) / F.least(
        "__na", "__nb"
    )
    pairs = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", F.round(score, 6).alias("containment"))
    )
    return pairs.where(F.col("containment") >= threshold)


def minhash_lsh_ml(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hash_tables: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """MLlib-accelerated variant: HashingTF(binary) over shingles →
    MinHashLSH.approxSimilarityJoin. Not oracle-checked (MLlib's hash
    family is engine-specific); property-tested against
    :func:`minhash_dedup_pairs` for candidate recall instead."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from flink_join_scaling_spark.functions.text import shingles_from_tokens

    toks = df.select(
        F.col(id_col), tokens_ws(F.col(text_col)).alias("__shingle_toks")
    ).select(F.col(id_col), shingles_from_tokens("__shingle_toks", shingle_n).alias("sh"))
    toks = toks.where(F.size("sh") > 0)
    # 2^16 bins: collision odds stay negligible for realistic per-doc
    # shingle counts while keeping the hash domain (and MLlib's per-row
    # work) small — 2^18 measurably slowed approxSimilarityJoin for no
    # recall gain at these densities.
    tf = HashingTF(inputCol="sh", outputCol="features", binary=True, numFeatures=1 << 16)
    feats = tf.transform(toks)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42)
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(
        feats, feats, 1.0 - jaccard_threshold, distCol="jaccard_dist"
    )
    return (
        joined.where(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
        .select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.round(1.0 - F.col("jaccard_dist"), 6).alias("jaccard"),
        )
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing at
    least one word ``shingle_n``-gram with a benchmark/eval set —
    the overlap check every serious training pipeline runs before
    training (GPT-3/Pile-style n-gram decontamination). Returns
    (id, n_hits = number of distinct contaminated shingles); anti-join
    the corpus against these ids to materialize the clean set.

    Scale shape: the benchmark shingle set is benchmark-sized (eval
    suites are MBs against a multi-TB corpus), so it broadcasts and
    the corpus-sized side streams through a broadcast hash join with no
    shuffle; the only exchange is the per-doc hit count, output-sized.
    Set ``broadcast_benchmark=False`` for an oversized benchmark to
    fall back to a shuffle equi-join on the shingle.
    """
    # benchmark side: eval-suite-sized and headed for a broadcast —
    # widening it would stall the broadcast build behind a shuffle
    # of a tiny frame (r17 measurement in exploded_shingles)
    bsh = (
        exploded_shingles(
            benchmark, id_col, text_col, shingle_n,
            widen=not broadcast_benchmark,
        )
        .select("shingle")
        .distinct()
    )
    if broadcast_benchmark:
        bsh = F.broadcast(bsh)
    csh = exploded_shingles(corpus, id_col, text_col, shingle_n)
    # shingles are distinct per doc, so count(*) after the join counts
    # distinct contaminated shingles
    return (
        csh.join(bsh, "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )


def fuzzy_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """NEAR-duplicate benchmark decontamination: corpus documents
    whose shingle-Jaccard against SOME benchmark document reaches
    ``threshold`` — the fuzzy sibling of :func:`ngram_contamination`
    (exact n-gram overlap misses paraphrased/lightly-edited benchmark
    leaks; Llama/GPT-4-style contamination reports run both).

    Bipartite MinHash+LSH: signatures on both sides (same md5 hash
    family as :func:`minhash_dedup_pairs`), candidates from a
    corpus-bands × benchmark-bands equi-join — the benchmark side is
    eval-suite-sized, so its band table broadcasts and the corpus
    streams once map-side — then exact Jaccard verified candidate-
    first (the intersection join touches only candidate docs'
    shingles, never the corpus shingle self-join). Returns one row per
    contaminated corpus doc: (id, bench_id, jaccard) for its
    HIGHEST-Jaccard benchmark match (bench_id tiebreak).
    """
    if num_hashes > 8:
        # same bound minhash_signatures enforces: _sig_slice wraps at
        # k % 4 per digest, so hash 9+ would silently DUPLICATE a
        # slice and weaken the LSH signature with no error
        raise ValueError("hash family provides 8 members (two md5 × four slices)")
    sig_aggs = [F.min(_sig_slice(k)).alias(f"h{k}") for k in range(num_hashes)]
    sh_a = exploded_shingles(corpus, id_col, text_col, shingle_n)
    # benchmark side: its band table broadcasts below, so skip the
    # widening shuffle (eval-suite-sized; see exploded_shingles)
    sh_b = exploded_shingles(
        benchmark, id_col, text_col, shingle_n, widen=False
    ).select(
        F.col(id_col).alias("bench_id"), "shingle"
    )
    sigc = _md5_pair_projected(sh_a).groupBy(id_col).agg(
        *sig_aggs, F.count("*").alias("n_a")
    )
    sigb = _md5_pair_projected(sh_b).groupBy("bench_id").agg(
        *sig_aggs, F.count("*").alias("n_b")
    )
    bands_c = minhash_bands(sigc, id_col, num_hashes, band_size)
    bands_b = minhash_bands(sigb, "bench_id", num_hashes, band_size)
    cand = (
        bands_c.join(F.broadcast(bands_b), ["band_idx", "band_hash"])
        .select(id_col, "bench_id")
        .distinct()
    )
    inter = (
        cand.join(sh_a, id_col)
        .join(sh_b, ["bench_id", "shingle"])
        .groupBy(id_col, "bench_id")
        .agg(F.count("*").alias("n_inter"))
    )
    scored = (
        inter.join(sigc.select(id_col, "n_a"), id_col)
        .join(sigb.select("bench_id", "n_b"), "bench_id")
        .select(
            id_col,
            "bench_id",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("jaccard"), F.asc("bench_id")
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .drop("__rk")
    )


def _duplicated_cover(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_len: int,
    min_docs: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared core of the duplicated-span family: (toks, covered).

    ``toks`` is (id, __t tokens, n_tokens); ``dup`` the (id, pos)
    START positions of every ``gram_len``-gram that occurs in
    ≥ ``min_docs`` distinct documents (one row per position — a
    position yields one gram, so no dedup is needed). Positional grams
    are keyed by a 60-bit digest (first 15 hex chars of md5 as BIGINT
    — 8 shuffled bytes instead of a 32-char hex string, identical in
    DuckDB via ``CAST(concat('0x', substr(md5(g),1,15)) AS BIGINT)``;
    collision odds across 10^6 grams ~1e-7, and both engines hash the
    same way so a collision cannot flip oracle parity), so the
    cross-doc frequency agg and the join-back never ship gram text."""
    # the positional-gram explode runs one md5 per token position — the
    # heaviest map stage of the family; widen a single-split scan so it
    # uses every core (no-op at real scale)
    df = widen_if_narrow(df.select(F.col(id_col), F.col(text_col)))
    toks = df.select(
        F.col(id_col), tokens_ws(F.col(text_col)).alias("__t")
    ).withColumn("n_tokens", F.size("__t").cast("bigint"))
    gram = f"concat_ws(' ', slice(__t, i + 1, {gram_len}))"
    grams = toks.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"CASE WHEN size(__t) >= {gram_len} THEN "
                f"transform(sequence(0, size(__t) - {gram_len}), "
                f"i -> cast(conv(substring(md5({gram}), 1, 15), 16, 10) as bigint)) "
                f"ELSE array() END"
            )
        ).alias("pos", "g"),
    )
    if min_docs == 2:
        # "appears in ≥2 distinct docs" ⟺ min(id) ≠ max(id): a
        # single-phase agg with 2-long state, where count_distinct
        # plans an Expand + two aggregate phases (an extra exchange
        # over the corpus-sized gram set — measured 44.9 s → 27.0 s at
        # the 100x prod-shape probe, 21.1x → 13.2x vs 1x)
        dfreq = (
            grams.groupBy("g")
            .agg(F.min(id_col).alias("__lo"), F.max(id_col).alias("__hi"))
            .where(F.col("__lo") != F.col("__hi"))
            .select("g")
        )
    else:
        dfreq = (
            grams.groupBy("g")
            .agg(F.count_distinct(F.col(id_col)).alias("__ndocs"))
            .where(F.col("__ndocs") >= min_docs)
            .select("g")
        )
    dup = grams.join(dfreq, "g").select(id_col, "pos")
    return toks, dup


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_len: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicated-SPAN detection: for every document, measure how
    much of it is covered by token ``gram_len``-grams that also occur
    in at least ``min_docs - 1`` OTHER documents — the substring-level
    dedup signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), where boilerplate/license blocks recur
    across otherwise-distinct pages that no whole-document or
    near-duplicate detector flags. Within-document repetition is
    deliberately NOT counted (that is ``q_repetition``'s signal);
    a duplicated gram here must span ≥ ``min_docs`` distinct ids.

    Returns one row per input document:
    (id, n_tokens, n_dup_tokens, n_dup_spans) — n_dup_tokens is the
    size of the UNION of covered token positions (overlapping grams
    are not double-counted), n_dup_spans the number of MAXIMAL
    contiguous covered runs (gaps-and-islands over positions).
    Downstream policy is the caller's: clip the spans, drop documents
    above a duplicated fraction, or weight them down.

    Scale shape — a suffix-array corpus pass re-expressed as three
    linear keyed shuffles (the same discipline as C4 line dedup):
    positional grams explode to n_tokens rows per doc (linear, NOT
    distinct — positions matter); the cross-doc frequency agg and the
    join-back are keyed by an 8-byte gram digest (never the gram text,
    so shuffle bytes are flat per token regardless of gram_len); then
    ONE doc-keyed agg collects the duplicated gram START positions and
    derives both measures arithmetically from the sorted-starts gap
    list (consecutive starts d = s_{i+1} − s_i apart: a new maximal
    run opens iff d > gram_len, coverage adds min(d, gram_len) per
    step plus gram_len for the last gram) — no per-position coverage
    explode, no distinct, no window sort. No stage is ever pairwise —
    corpus² appears nowhere, and a gram shared by k docs costs k rows,
    not k². Per-doc state is bounded by document length.
    """
    toks, dup = _duplicated_cover(df, id_col, text_col, gram_len, min_docs)
    diffs = (
        "zip_with(slice(__s, 2, size(__s) - 1), "
        "slice(__s, 1, size(__s) - 1), (a, b) -> a - b)"
    )
    agg = (
        dup.groupBy(id_col)
        .agg(F.array_sort(F.collect_list("pos")).alias("__s"))
        .select(
            F.col(id_col),
            F.expr(
                f"aggregate({diffs}, cast({gram_len} as bigint), "
                f"(acc, d) -> acc + least(d, {gram_len}))"
            ).alias("n_dup_tokens"),
            (1 + F.expr(f"size(filter({diffs}, d -> d > {gram_len}))"))
            .cast("bigint")
            .alias("n_dup_spans"),
        )
    )
    return (
        toks.select(id_col, "n_tokens")
        .join(agg, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("n_dup_tokens", F.lit(0)).cast("bigint").alias("n_dup_tokens"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
        )
    )


def duplicated_spans_apply(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_len: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """CLIP the duplicated spans out of every document — the removal
    step of Lee et al. 2022's substring dedup (they delete the
    duplicated substring itself, not the document): tokens inside a
    cross-document duplicated ``gram_len``-gram are dropped, the rest
    are rejoined in order. Returns (id, n_tokens, n_kept, clean_text);
    a fully-covered document survives as an empty clean_text row so
    downstream length filters, not this operator, decide its fate.

    Scale shape: :func:`_duplicated_cover`'s linear keyed shuffles,
    a gram_len-bounded coverage explode of the duplicated starts
    (needed here, unlike the census — reconstruction is inherently
    token-level), then one LEFT ANTI join of the positional tokens
    against the covered set (both keyed (id, position) —
    co-partitioned) and a doc-keyed reassembly whose state is bounded
    by document length, exactly the C4 line-dedup tail."""
    toks, dup = _duplicated_cover(df, id_col, text_col, gram_len, min_docs)
    covered = dup.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(gram_len - 1))
        ).alias("p"),
    ).distinct()
    words = toks.select(
        F.col(id_col),
        "n_tokens",
        F.posexplode("__t").alias("p", "w"),
    )
    kept = words.join(covered, [id_col, "p"], "left_anti")
    clean = kept.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "w"))),
                lambda s: s["w"],
            ),
        ).alias("clean_text"),
    )
    return (
        toks.select(id_col, "n_tokens")
        .join(clean, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


# ------------------------------------------------------------- SimHash

def simhash32(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash over whitespace tokens. Token hash = the first
    8 hex chars of md5 as a 32-bit integer (``conv(..., 16, 10)``;
    reproducible in any engine via nibble arithmetic).

    Plan shape: explode tokens → ONE aggregation carrying 32 bit-count
    sums (``sum((v >> j) & 1)``) plus the token count, then the
    majority vote and weighted bit sum as a single projection. No
    per-bit row explosion: the earlier tokens×32 formulation pushed
    32× the token count through the first aggregation with per-row
    hex-string ops — this shape's shuffle is |docs| rows of 33 longs,
    and every expression is integer arithmetic inside whole-stage
    codegen.
    """
    # per-token md5 is the map cost; widen a single-split scan so the
    # explode+hash stage parallelizes (no-op at real scale)
    df = widen_if_narrow(df.select(F.col(id_col), F.col(text_col)))
    toks = df.select(
        F.col(id_col), F.explode(tokens_ws(F.col(text_col))).alias("tok")
    )
    tokv = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
    t = toks.select(F.col(id_col), tokv.alias("v"))
    # expressions built as parsed SQL strings, one Py4J call each — the
    # Column-algebra form cost ~4 driver↔JVM round trips per bit and
    # plan construction dominated the whole query at bench scale
    cnts = [F.expr(f"sum(shiftright(v, {j}) % 2) AS c{j}") for j in range(32)]
    agg = t.groupBy(id_col).agg(F.count("*").alias("n"), *cnts)
    total = " + ".join(
        f"(CASE WHEN c{j} * 2 > n THEN CAST({1 << j} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)"
        for j in range(32)
    )
    return agg.select(F.col(id_col), F.expr(f"({total}) AS simhash"))


def simhash_band_array(col: str = "simhash") -> F.Column:
    """The 4 byte-bands of a 32-bit simhash — THE single definition
    shared by the batch pair join below and the streaming detector
    (``streaming.dedup.stream_dedup_simhash``), so both land in
    identical buckets by construction (same interop argument as
    :func:`sig_hash_of`). Pigeonhole: hamming ≤ 3 ⇒ ≥ 1 shared byte."""
    return F.array(
        *[((F.col(col) / (1 << (8 * b))).cast("bigint") % 256) for b in range(4)]
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003, the
    MOSS local fingerprinting algorithm): hash every k-token gram
    (first 8 md5 nibbles as an exact 32-bit integer — the engine's
    established cross-engine hash arithmetic), slide a w-window over
    the gram-hash sequence, keep each window's MINIMUM, and emit the
    document's DISTINCT selected values as its fingerprint set.
    Guarantees any shared token run of length ≥ k+w−1 contributes at
    least one shared fingerprint — position-robust local dedup, the
    niche MinHash (global similarity) doesn't cover.

    Documents with fewer than k tokens have no grams and no
    fingerprints; with fewer than k+w−1 the single clamped window
    selects the global minimum (the standard short-document choice).

    Returns exploded (id, fp) rows.

    Execution is ROW-based on purpose: tokens explode once, gram
    hashes form with ``lead()`` and window minima with a ROWS frame —
    pure codegen window functions over ONE doc-keyed exchange (which
    the downstream fingerprint equi-join would need anyway). The
    natural-looking nested-array form (transform over sequence with
    array slices) was measured at ~56 ms/doc: any outer-scope
    expression inside a higher-order lambda is re-evaluated PER
    ELEMENT in Spark's interpreted HOF path, so the sliced token
    array and gram-hash array each re-derived per gram/window —
    O(m²) tokenizations per document. The window form is ~100×
    cheaper and identical value-for-value.
    """
    sep = "\x1f"
    wd = Window.partitionBy(id_col).orderBy("__pos")
    # widen a single-split scan so the tokenize+explode stage (and the
    # doc-keyed exchange write it feeds) parallelizes (no-op at scale)
    df = widen_if_narrow(df.select(F.col(id_col), F.col(text_col)))
    tok = df.select(
        F.col(id_col),
        F.posexplode(tokens_ws(F.col(text_col))).alias("__pos", "__w"),
    )
    gram = F.concat_ws(
        sep, F.col("__w"), *[F.lead("__w", j).over(wd) for j in range(1, k)]
    )
    grams = (
        tok.withColumn("__last", F.lead("__w", k - 1).over(wd))
        .withColumn("__h", F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long"))
        .where(F.col("__last").isNotNull())
    )
    gd = Window.partitionBy(id_col).orderBy("__pos")
    fps = (
        grams.withColumn(
            "__wmin", F.min("__h").over(gd.rowsBetween(0, w - 1))
        )
        .withColumn("__j", F.row_number().over(gd))
        .withColumn("__n", F.count("*").over(Window.partitionBy(id_col)))
        .where(F.col("__j") <= F.greatest(F.col("__n") - (w - 1), F.lit(1)))
    )
    return fps.select(F.col(id_col), F.col("__wmin").alias("fp")).distinct()


def winnow_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 5,
    min_shared: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints: candidate
    pairs meet on an EQUI-JOIN over fingerprint values (never
    all-pairs — the minhash-band scale discipline), with fingerprints
    occurring in more than ``max_df`` documents dropped first (the
    stop-shingle cap, bounding the worst join bucket at max_df²) and
    pairs sharing fewer than ``min_shared`` fingerprints discarded.
    Returns (id_a, id_b, n_shared), id_a < id_b."""
    # pin the fingerprint set: the hot-fp cap, the anti-join, and BOTH
    # sides of the pair equi-join consume it — unpinned, Catalyst
    # re-derives the whole tokenize/window/md5 subtree per consumer
    # (the r17 plan showed FOUR copies of the fingerprint pipeline;
    # the pinned frame is (id, fp) rows, pair-census-sized). Guarded
    # like widen_if_narrow (r17 advisor): localCheckpoint raises on a
    # streaming frame, and the pin trades lineage recovery on executor
    # loss for the 4x recompute — the standard localCheckpoint trade
    # taken everywhere in this repo.
    fp = winnow_fingerprints(df, id_col, text_col, k, w)
    if not fp.isStreaming:
        fp = fp.localCheckpoint(eager=False)
    hot = (
        fp.groupBy("fp")
        .agg(F.countDistinct(id_col).alias("__df"))
        .where(F.col("__df") > max_df)
        .select("fp")
    )
    cold = fp.join(F.broadcast(hot), "fp", "left_anti")
    a = cold.select(F.col("fp"), F.col(id_col).alias("id_a"))
    b = cold.select(F.col("fp"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def simhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share ≥1 of 4 byte-bands
    (pigeonhole-complete for hamming ≤ 3), then exact hamming filter.

    The band equi-join is what makes this scale: no all-pairs product,
    just 4 hash-partitioned self-joins on one byte each. Bands come from
    ONE ``posexplode`` over an array of the 4 byte values (like
    :func:`minhash_bands`) — a union of per-band selects would
    re-evaluate the simhash aggregation subplan once per band.
    """
    sims = simhash32(df, id_col, text_col)
    band_arr = simhash_band_array()
    bands = sims.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(band_arr).alias("band_idx", "band_val"),
    )
    left = bands.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "band_idx", "band_val"
    )
    right = bands.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "band_idx", "band_val"
    )
    # hamming filter BEFORE the dedup exchange: hamming is a function
    # of the pair, so filtering first shrinks what distinct() shuffles
    # without changing the result
    return (
        left.join(right, on=["band_idx", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.expr("sim_a ^ sim_b")).cast("bigint").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def hash64_band_array(hash_col: str):
    """THE 4×16-bit band decomposition of a 64-bit fingerprint, as an
    array Column — the hash64 family's single band-layout definition,
    shared by the batch pair generator, the incremental index (screen
    AND ensemble commit), and the streaming detectors. Index
    interoperability requires every face to split identically; a
    drifted copy would make cross-run band joins silently stop
    matching (no error — just no collisions), which is why this is
    one function and not six inlined expressions (r13 review)."""
    return F.array(
        *[
            F.shiftright(F.col(hash_col), 16 * j).bitwiseAND(F.lit(0xFFFF))
            for j in range(4)
        ]
    )


def hash64_band_pairs(
    hashes: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs over a precomputed 64-bit fingerprint column:
    candidates from 4 sixteen-bit band equi-joins
    (pigeonhole-complete for hamming ≤ 3 — :func:`simhash_dedup_pairs`'
    argument), exact hamming verify in-band, dedup exchange last. The
    shared tail of every 64-bit perceptual family (image dHash, audio
    energy-envelope hash); callers materialize the hash table before
    passing it so their expensive decode stage runs once.

    The band join is 4 hash-partitioned self-joins on a 16-bit value;
    the hamming filter runs BEFORE the pair-dedup exchange so
    distinct() shuffles only surviving pairs. At 100 TB of media the
    hash table is ~16 bytes/row — the join input is 6-7 orders of
    magnitude smaller than the corpus."""
    if max_hamming > 3:
        raise ValueError(
            "hash64_band_pairs: 4 sixteen-bit bands are pigeonhole-"
            f"complete only for max_hamming <= 3 (got {max_hamming}); "
            "a larger radius would silently drop candidate pairs — use "
            "more/narrower bands or an exact pass instead"
        )
    bands = hashes.select(
        F.col(id_col),
        F.col(hash_col).alias("__h64"),
        F.posexplode(hash64_band_array(hash_col)).alias(
            "band_idx", "band_val"
        ),
    )
    left = bands.select(
        F.col(id_col).alias("id_a"), F.col("__h64").alias("h_a"), "band_idx", "band_val"
    )
    right = bands.select(
        F.col(id_col).alias("id_b"), F.col("__h64").alias("h_b"), "band_idx", "band_val"
    )
    return (
        left.join(right, on=["band_idx", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.expr("h_a ^ h_b")).cast("bigint").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def container_majority_pairs(
    frame_hashes: DataFrame,
    node_col: str = "node",
    hash_col: str = "fhash",
    stride: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """CONTAINER-level near-dup pairs decided by FRAME-level evidence:
    band-join the per-frame 64-bit fingerprints
    (:func:`hash64_band_pairs` over composite node ids
    ``doc·stride + frame``), count frame-ALIGNED matching votes per
    container pair, and flag ``(doc_a, doc_b)`` where the vote clears
    a SYMMETRIC majority — ``2·n_match ≥ max(n_frames_a, n_frames_b)``.

    The max() is load-bearing (advisor r11): band pairs guarantee
    ``id_a < id_b``, so a majority gated on doc_a's frame count alone
    would let a short container matching a small slice of a longer one
    flag the pair — and the min-id election downstream would then
    delete the longer video. Requiring the vote to clear BOTH
    containers' counts makes the rule orientation-independent.

    Scale shape: votes are a pair-sized aggregation over the 16-byte
    band-join output; the two frame-count joins touch only voting
    pairs. Nothing here is corpus-sized."""
    fpairs = hash64_band_pairs(
        frame_hashes.select(node_col, hash_col),
        node_col,
        hash_col,
        max_hamming=max_hamming,
    )
    votes = (
        fpairs.where(F.col("id_a") % stride == F.col("id_b") % stride)
        .groupBy(
            (F.col("id_a") - F.col("id_a") % stride).alias("node_a"),
            (F.col("id_b") - F.col("id_b") % stride).alias("node_b"),
        )
        .agg(F.count("*").alias("n_match"))
        # integer DIV, not `/`: Spark's `/` on longs routes through
        # DOUBLE, whose 53-bit mantissa rounds node ids above 2^53
        # (doc_id ≳ 2^49 at stride 16) — distinct containers would
        # collapse to one doc id and the election would delete the
        # wrong video
        .select(
            F.expr(f"node_a DIV {int(stride)}").alias("doc_a"),
            F.expr(f"node_b DIV {int(stride)}").alias("doc_b"),
            "n_match",
        )
    )
    nframes = frame_hashes.groupBy(
        (F.col(node_col) - F.col(node_col) % stride).alias("__doc_node")
    ).agg(F.count("*").alias("n_frames")).select(
        F.expr(f"__doc_node DIV {int(stride)}").alias("doc_id"),
        "n_frames",
    )
    return (
        votes.join(
            nframes.select(
                F.col("doc_id").alias("doc_a"),
                F.col("n_frames").alias("n_frames_a"),
            ),
            "doc_a",
        )
        .join(
            nframes.select(
                F.col("doc_id").alias("doc_b"),
                F.col("n_frames").alias("n_frames_b"),
            ),
            "doc_b",
        )
        .where(
            F.col("n_match") * 2
            >= F.greatest(F.col("n_frames_a"), F.col("n_frames_b"))
        )
        .select("doc_a", "doc_b")
    )


def phash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    max_hamming: int = 3,
) -> DataFrame:
    """Image near-dup pairs by perceptual hash: 64-bit dHash over the
    REAL PNG decoder's pixels (``multimodal.dhash64``), then the
    shared :func:`hash64_band_pairs` tail. Closes the multimodal→dedup
    loop: binary image columns are first-class dedup inputs, not just
    metadata.

    Scale shape: the expensive stage (decode + hash) is ONE map-only
    Arrow pass — payload bytes never shuffle; everything after carries
    (id, 64-bit hash) rows only.
    """
    from flink_join_scaling_spark.operators.multimodal import phash_hashes

    # materialize the hash table ONCE before the self-join: both band
    # sides read the same (id, phash) rows, and without the checkpoint
    # Catalyst evaluates the decode+hash MapInPandas subtree once PER
    # SIDE — re-decoding the whole image corpus is exactly the cost
    # this operator exists to pay once (the embedding_dedup_pairs_ivf
    # assignment-pass lesson; a production build persists the hash
    # table to storage here)
    hashes = phash_hashes(df, id_col, payload_col).localCheckpoint(eager=True)
    return hash64_band_pairs(hashes, id_col, "phash", max_hamming)


def audiohash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    max_hamming: int = 3,
) -> DataFrame:
    """AUDIO near-dup pairs by energy-envelope fingerprint: 64-bit
    hash over the REAL WAV decoder's PCM samples
    (``multimodal.audiohash64`` — per-window mean |amplitude| deltas,
    the dHash idea on the time axis), then the shared
    :func:`hash64_band_pairs` tail. Extends the multimodal→dedup loop
    to audio columns; same scale shape as the image family (decode +
    hash is one materialized map pass, the join carries 16-byte
    rows)."""
    from flink_join_scaling_spark.operators.multimodal import audiohash_hashes

    hashes = audiohash_hashes(df, id_col, payload_col).localCheckpoint(
        eager=True
    )
    return hash64_band_pairs(hashes, id_col, "audiohash", max_hamming)


# --------------------------------------------------- embedding cosine


def embedding_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.45,
    exact_threshold: int = 65_536,
    nprobe: int = 2,
    emit_e6: bool = False,
) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold — size-adaptive,
    the same runtime dial as :func:`connected_components`.

    At or below ``exact_threshold`` rows the answer is EXACT: the
    corpus is routed through :func:`embedding_dedup_pairs_ivf` with
    ``nprobe = num_cells`` (every vector probes every cell), so every
    pair is scored exactly once via the cell cogroup — an equi-join on
    the cell id with bounded k-way parallelism, never a cartesian plan
    node. The Σ-work is necessarily n² (that is what "exact all-pairs"
    means) but it is distributed across cells and only above-threshold
    pairs are materialized; at the 65_536-row limit that is ~2×10⁹
    NumPy-batched dot products, seconds of BLAS across 32 tasks.

    Above ``exact_threshold`` the call delegates to the APPROXIMATE
    IVF path (``num_cells`` scaled to corpus size, ``nprobe`` probes):
    recall is bounded by the probe set — a pair is missed only when
    neither member probes the other's home cell. Callers needing the
    exact answer at scale don't exist (that is the quadratic wall the
    IVF family exists to avoid); the property-test reference path is
    :func:`embedding_dedup_pairs_exact`.

    Cosine is rounded to 6 decimals *before* the threshold compare so
    accumulation-order noise can't flip boundary pairs across engines;
    ``emit_e6=True`` strengthens this to the e6-BIGINT form (integer
    scoring + integer threshold compare, column ``cosine_e6``) — the
    oracle-parity recipe that retired the float-boundary manifest.
    """
    n = df.count()
    if n <= exact_threshold:
        # exact: full-probe cogroup; cells sized for parallelism only
        k = max(1, min(32, n // 256))
        return embedding_dedup_pairs_ivf(
            df, id_col, vec_col, threshold, num_cells=k, nprobe=k,
            emit_e6=emit_e6,
        )
    num_cells = max(32, -(-n // 4096))  # ceil: ~4k rows/cell at scale
    return embedding_dedup_pairs_ivf(
        df, id_col, vec_col, threshold, num_cells=num_cells, nprobe=nprobe,
        emit_e6=emit_e6,
    )


def embedding_dedup_pairs_exact(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.45,
    emit_e6: bool = False,
) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold (exact pair join).

    Property-test REFERENCE path only: the quadratic crossJoin is the
    simplest possible statement of the semantics, kept to check the
    size-adaptive :func:`embedding_dedup_pairs` against. Production
    calls go through the size-adaptive entry point, whose plan is an
    equi-join on the IVF cell id (no cartesian node).
    Cosine is rounded to 6 decimals *before* the threshold compare so
    accumulation-order noise can't flip boundary pairs across engines
    (``emit_e6=True`` uses the stronger e6-BIGINT integer form, column
    ``cosine_e6`` — mirroring the size-adaptive path's flag); the
    per-pair dot product runs through the Arrow-vectorized
    ``cosine6_pandas``/``cosine_e6_pandas`` (value-identical to the
    expression form, but a NumPy multiply-sum per batch instead of an
    interpreted HOF fold per pair — on n² pairs that's the whole
    runtime).
    """
    from flink_join_scaling_spark.functions.vectors import (
        cosine6_pandas,
        cosine_e6_pandas,
        with_l2_norm,
    )

    a = with_l2_norm(df, vec_col).select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), F.col("l2_norm").alias("na")
    )
    b = with_l2_norm(df, vec_col).select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), F.col("l2_norm").alias("nb")
    )
    if emit_e6:
        score = cosine_e6_pandas("va", "vb", "na", "nb").alias("cosine_e6")
        keep = F.col("cosine_e6") >= int(round(threshold * 1_000_000))
    else:
        score = cosine6_pandas("va", "vb", "na", "nb").alias("cosine")
        keep = F.col("cosine") >= threshold
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", score)
        .where(keep)
    )


# ------------------------------------------- duplicate-group formation


def _cc_driver(edges_iter, template: DataFrame) -> DataFrame:
    """Driver-side union-find over a small (already collected) edge
    iterable: zero further jobs. Produces exactly the distributed
    path's answer — (node, component_id = min member id); the result
    is independent of edge iteration order (union by label order keeps
    every root the minimum member id). ``template`` supplies the id
    type and session."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edges_iter:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by label order keeps the root the min id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    out = [(n, find(n)) for n in parent]
    id_type = template.schema[0].dataType
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("node", id_type), StructField("component_id", id_type)]
    )
    return template.sparkSession.createDataFrame(out, schema)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    driver_threshold: int = 1_000_000,
    with_bound: bool = False,
    assume_pinned: bool = False,
) -> DataFrame | tuple[DataFrame, int]:
    """Connected components over a near-duplicate pair list:
    (node, component_id) with component_id = min node id in the
    component. This is the grouping stage every production dedup
    pipeline runs after pair generation — near-dup similarity is not
    transitive, so A~B and B~C must collapse into one group {A,B,C}
    before a representative can be chosen.

    ``with_bound=True`` returns ``(components, node_bound)`` instead:
    the symmetrized edge count — a PROVEN upper bound on the number
    of nodes (every component member touches an edge) — which apply
    tails pass to :func:`anti_exclude` as ``known_rows_bound`` to
    skip its pin-and-count job. Both the driver and distributed
    paths always produce the bound (the count is free in both: the
    driver path has the pairs in hand, the distributed path needs
    the symmetrized frame anyway). The explicit tuple replaces the r12
    ``_fjss_node_bound`` ad-hoc DataFrame attribute (retired r14 per
    the r13 verdict: any wrapper returned a new object silently
    dropping the attribute, so every caller had to re-remember the
    convention; a returned value cannot be lost).

    Distributed min-label propagation with pointer jumping: each round
    a node takes the min over its own label, its neighbours' labels,
    and its label's label (the jump — label chains halve every round,
    so convergence is O(log diameter), not O(diameter)); converged when
    no label changed. Each round shuffles the PAIR set only, which is
    orders of magnitude smaller than the corpus at 100 TB.
    Each round's node-sized label frame is pinned to scratch parquet
    (the lineage cut — see the in-loop comment for the measured
    localCheckpoint degradation that motivated it). If labels still
    change after ``max_iter`` rounds the result would be silently
    split components, so it raises instead — with jumping, max_iter=50
    covers diameters up to ~2^50.

    Size-adaptive: the PAIR set is pinned first (its generation
    lineage — the MinHash/cosine pipeline — runs once for every
    consumer), and when twice the pair count fits ``driver_threshold``
    the components come from a driver-side union-find — one small
    collect instead of several iterative jobs, the same runtime
    size-based call AQE makes for broadcast joins. The threshold still
    counts SYMMETRIZED edges (2 per input pair, so 1M ≈ 500k pairs);
    the driver path collects the raw pairs (half the rows of the old
    symmetrized-edges collect) and symmetrizes + dedups in a Python
    set, so the union+distinct exchange is never paid on the common
    path — at the limit that is ~500k Row objects, a few hundred MB of
    Python heap and seconds of work, still cheaper and far more
    predictable than the ~30 iterative rounds the same graph needed
    distributed. Size the threshold down on a memory-constrained
    driver. Near-dup pair sets are pair-sized, not corpus-sized, so
    this is the common case; the distributed propagation handles the
    truly large one (force it with ``driver_threshold=0``) at the cost
    of one extra pair-sized materialization before the edge build.
    """
    # The pair set is pinned FIRST (pair-generation lineage runs once
    # for every consumer below), then gated on the RAW pair count:
    # 2·pairs is an upper bound on the symmetrized deduped edge count,
    # so the driver path (r18 shape) collects the pair rows directly —
    # half the rows of the old symmetrized-edges collect — and builds
    # the symmetrized, DEDUPED edge set in Python, skipping the
    # union+distinct exchange the old shape paid before the gate was
    # even decided. The gate is marginally more conservative (duplicate
    # input pairs could dedup below the threshold); such borderline
    # graphs take the distributed path, which is always correct.
    pairs_p = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    if not assume_pinned:
        # callers that already hold the pair set in a checkpoint (the
        # canonical-rank / SemDeDup / ensemble composes pin it for
        # their other consumers) pass assume_pinned=True and skip this
        # block-copy materialization — the actions below then run over
        # a narrow projection of the caller's pinned blocks
        pairs_p = pairs_p.localCheckpoint(eager=True)
    n_pairs = pairs_p.count()
    if 2 * n_pairs <= driver_threshold:
        eset: set = set()
        for r in pairs_p.collect():
            a, b = r[0], r[1]
            eset.add((a, b))
            eset.add((b, a))
        comp = _cc_driver(eset, pairs_p)
        # the deduped symmetrized edge count is a PROVEN node bound
        # (every component member touches an edge; nodes ≤ symmetrized
        # edges) — apply tails can broadcast loser sets derived from
        # this frame without re-counting (anti_exclude's
        # known_rows_bound). len(eset) equals the old distinct().count()
        # exactly.
        return (comp, len(eset)) if with_bound else comp
    edges = (
        pairs_p.union(
            pairs_p.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = edges.count()
    # Long iterations pin their per-round state to SCRATCH PARQUET,
    # not localCheckpoint: the cached-block checkpoint degrades on
    # graphs needing many rounds (measured on a fused 740k-edge graph
    # converging in 31 rounds: constant-size rounds went 0.5 s → 88 s,
    # ~2.8× per round from round 16 — with parquet pinning the same
    # graph runs flat ~1 s rounds). A disk round-trip per round on the
    # NODE-sized label frame is the standard lineage cut for iterative
    # Spark jobs (GraphX-style periodic checkpointing), deterministic
    # and O(nodes) per round.
    import os
    import shutil
    import tempfile
    import uuid

    spark = pairs.sparkSession
    # Scratch location must be visible to EVERY executor AND the
    # driver: on a cluster, set spark.sparkContext.setCheckpointDir to
    # shared storage (HDFS/object store) and the rounds pin there; a
    # driver-local tempdir is only correct in local mode, where
    # executors share the driver's filesystem.
    ckpt_base = spark.sparkContext.getCheckpointDir()
    if ckpt_base:
        scratch = ckpt_base.rstrip("/") + f"/fjss_cc_{uuid.uuid4().hex[:12]}"

        def _cleanup() -> None:
            jvm = spark._jvm
            p = jvm.org.apache.hadoop.fs.Path(scratch)
            p.getFileSystem(spark._jsc.hadoopConfiguration()).delete(p, True)

    else:
        if not spark.sparkContext.master.startswith("local"):
            raise RuntimeError(
                "connected_components' distributed path needs a shared "
                "scratch dir on a cluster: call "
                "spark.sparkContext.setCheckpointDir(<shared path>) first "
                "(a driver-local tempdir is only visible to co-located "
                "executors)"
            )
        scratch = tempfile.mkdtemp(prefix="fjss_cc_")

        def _cleanup() -> None:
            shutil.rmtree(scratch, ignore_errors=True)

    def pin(df: DataFrame, name: str) -> DataFrame:
        path = scratch + "/" + name if "://" in scratch else os.path.join(
            scratch, name
        )
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    try:
        # round 0 for free: label(v) = min(v, neighbours(v)) is exactly
        # the first propagation round, computable by aggregation alone
        # (initial labels are the identity, so no label join is needed
        # yet). A two-node component — the overwhelmingly common
        # near-dup case — is already converged here.
        labels = pin(
            edges.select(F.col("src").alias("v"), F.col("dst").alias("label"))
            .union(
                edges.select(F.col("src").alias("v"), F.col("src").alias("label"))
            )
            .groupBy("v")
            .agg(F.min("label").alias("label")),
            "labels_init",
        )
        for it in range(max_iter):
            msgs = edges.join(labels, edges.src == labels.v).select(
                F.col("dst").alias("v"), "label"
            )
            # pointer jump: v adopts label(label(v)) — every label value
            # is itself a node key (labels are min-of-member ids), so
            # the inner self-join is total
            lref = labels.select(
                F.col("v").alias("mid"), F.col("label").alias("jlabel")
            )
            jumps = labels.join(lref, labels.label == lref.mid).select(
                "v", F.col("jlabel").alias("label")
            )
            new_labels = pin(
                msgs.union(jumps)
                .union(labels)
                .groupBy("v")
                .agg(F.min("label").alias("label")),
                f"labels_{it % 2}",  # ping-pong: never overwrite the input
            )
            changed = (
                new_labels.join(labels.withColumnRenamed("label", "old"), "v")
                .where(F.col("label") != F.col("old"))
                .limit(1)
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds; "
                "returning would silently split components"
            )
        out = labels.select(
            F.col("v").alias("node"), F.col("label").alias("component_id")
        )
        # the scratch dir is deleted on return — materialize first.
        # localCheckpoint blocks are lost with their executor (the
        # standard localCheckpoint trade, same as every other use in
        # this repo); a consumer needing executor-loss durability
        # should write the result to a table immediately.
        out = out.localCheckpoint(eager=True)
        # same proven bound as the driver path
        return (out, n_edges) if with_bound else out
    finally:
        _cleanup()


def dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Representative selection over duplicate groups: per connected
    component of ``pairs``, keep the member with the highest
    ``score_col`` (ties → lowest id). Returns one row per component:
    (component_id, keeper_id, n_members, best_score). ``best_score``
    is the UNROUNDED max — ordering and the exposed value both use the
    bit-identical raw double; callers wanting a display form quantize
    it themselves (e4 integers per the engine-stable discipline —
    decimal round() of a double is the one step the engines disagree
    on at midpoints).

    ``score_col`` is a column name or expression evaluated against
    ``docs``. The component set is pair-sized, so the score join
    touches only documents that have at least one near-duplicate; the
    rest of the corpus never shuffles."""
    from pyspark.sql import Window

    comp = connected_components(pairs, id_a, id_b)
    score = F.col(score_col) if isinstance(score_col, str) else score_col
    members = comp.join(
        docs.select(F.col(id_col).alias("node"), score.alias("__score")), "node"
    )
    # row_number over (score desc, node asc) — valid for any orderable
    # id type (the earlier max_by(-node) trick required numeric ids);
    # the rank and the unbounded aggregates share one component_id
    # exchange + sort
    wcomp = Window.partitionBy("component_id")
    worder = wcomp.orderBy(F.col("__score").desc(), F.col("node").asc())
    return (
        members.select(
            "component_id",
            F.row_number().over(worder).alias("__rn"),
            F.col("node").alias("keeper_id"),
            F.count("*").over(wcomp).alias("n_members"),
            F.max("__score").over(wcomp).alias("best_score"),
        )
        .where(F.col("__rn") == 1)
        .select("component_id", "keeper_id", "n_members", "best_score")
    )


def embedding_dedup_pairs_ivf(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.45,
    num_cells: int = 8,
    nprobe: int = 2,
    assign: str = "pandas",
    emit_e6: bool = False,
) -> DataFrame:
    """IVF-bucketed embedding near-dup pairs — the scale path next to
    the quadratic :func:`embedding_dedup_pairs` baseline.

    Every vector is indexed to its single nearest cell and probes its
    ``nprobe`` nearest cells; candidates are (probe, index) meetings in
    a cell, so the pair product is Σ_cell |probers| × |members| instead
    of n². A pair split across neighbouring cells is still found when
    either member probes the other's home cell (probe set ⊇ home cell).

    Scoring is a per-cell COGROUP matmul (``applyInPandas`` over the
    cell id): each task receives one cell's probe and member matrices
    and emits only the above-threshold pairs. The earlier equi-join +
    per-pair pandas UDF materialized every candidate row WITH both
    embeddings — Arrow traffic ∝ candidates × dim (gigabytes at n=2k,
    dim 64); the cogroup ships each vector once per probed cell
    (∝ corpus × nprobe × dim) and the exchange after it carries only
    the output-sized thresholded pair list. Parallelism = cells, which
    scales with the corpus (bounded cell occupancy — same argument as
    ``ivf_cells_pandas``). The (least, greatest) canonicalization +
    distinct collapses the two orientations of each surviving pair.
    """
    import numpy as np
    import pandas as pd

    from flink_join_scaling_spark.functions.vectors import np_round_half_away
    from flink_join_scaling_spark.operators.similarity import (
        ivf_cells,
        ivf_cells_pandas,
    )

    cells_fn = ivf_cells_pandas if assign == "pandas" else ivf_cells
    # ONE assignment pass serves both sides (crank 0 = home cell); the
    # index is materialized before the self-join — exactly what a
    # production build does by writing the IVF index to storage — so
    # the centroid-scoring subtree isn't evaluated once per join side.
    assigned = cells_fn(
        df, id_col, vec_col, num_cells, nprobe=nprobe
    ).localCheckpoint(eager=True)
    idx = assigned.where(F.col("crank") == 0).select(
        F.col(id_col).alias("idx_id"),
        F.col(vec_col).alias("vb"),
        F.col("l2_norm").alias("nb"),
        "cell",
    )
    probes = assigned.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("va"),
        F.col("l2_norm").alias("na"),
        "cell",
    )
    id_t = df.schema[id_col].dataType.simpleString()
    # ``emit_e6``: score/threshold on e6-BIGINT quantized cosines
    # (CAST(round(cos * 1e6) AS BIGINT), half-away). An integer
    # compare only disagrees with the oracle at an exact .5e-6 midpoint
    # of the UNROUNDED value; the legacy round-6 DOUBLE compare also
    # carries a 1-ulp risk at every threshold-adjacent value because
    # each engine's decimal rounding may land one ulp apart.
    score_t = "cosine_e6 bigint" if emit_e6 else "cosine double"
    score_col = "cosine_e6" if emit_e6 else "cosine"
    thr_e6 = int(round(threshold * 1_000_000))
    out_schema = f"id_a {id_t}, id_b {id_t}, {score_t}"
    empty = pd.DataFrame({"id_a": [], "id_b": [], score_col: []})

    def score_cell(
        _key: tuple, ppdf: pd.DataFrame, ipdf: pd.DataFrame
    ) -> pd.DataFrame:
        if not len(ppdf) or not len(ipdf):
            return empty
        A = np.stack([np.asarray(v, dtype=np.float64) for v in ppdf["va"]])
        B = np.stack([np.asarray(v, dtype=np.float64) for v in ipdf["vb"]])
        # same float64 math + zero-norm guard + rounding as
        # functions.vectors.cosine6_pandas / the DuckDB oracle
        denom = np.outer(ppdf["na"].to_numpy(), ipdf["nb"].to_numpy())
        with np.errstate(divide="ignore", invalid="ignore"):
            raw = np.where(denom == 0.0, 0.0, (A @ B.T) / denom)
        if emit_e6:
            cos = np_round_half_away(raw * 1_000_000.0, 0).astype(np.int64)
            pi, ii = np.nonzero(cos >= thr_e6)
        else:
            cos = np_round_half_away(raw, 6)
            pi, ii = np.nonzero(cos >= threshold)
        if not len(pi):
            return empty
        pid = ppdf["probe_id"].to_numpy()[pi]
        iid = ipdf["idx_id"].to_numpy()[ii]
        keep = pid != iid
        return pd.DataFrame(
            {
                "id_a": np.minimum(pid[keep], iid[keep]),
                "id_b": np.maximum(pid[keep], iid[keep]),
                score_col: cos[pi[keep], ii[keep]],
            }
        )

    return (
        probes.groupby("cell")
        .cogroup(idx.groupby("cell"))
        .applyInPandas(score_cell, schema=out_schema)
        .distinct()
    )


def dedup_apply(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col,
    id_a: str = "id_a",
    id_b: str = "id_b",
    assume_pinned: bool = False,
) -> DataFrame:
    """Materialize the deduplicated corpus: every document except the
    non-keeper members of duplicate groups (keeper = highest
    ``score_col``, ties → lowest id — :func:`dedup_keep_best`'s
    election). This is the operator a user actually ends a dedup
    pipeline with.

    The component labels are computed once (checkpointed inside
    :func:`connected_components`) and reused for both the election and
    the loser list; the final step is a LEFT ANTI join of the corpus
    against the (pair-sized) loser set — the corpus shuffles once, and
    only on its id. ``assume_pinned`` is forwarded to
    :func:`connected_components`: pass True when ``pairs`` already
    reads from a checkpoint."""
    from pyspark.sql import Window

    comp, node_bound = connected_components(
        pairs, id_a, id_b, with_bound=True, assume_pinned=assume_pinned
    )
    score = F.col(score_col) if isinstance(score_col, str) else score_col
    members = comp.join(
        docs.select(F.col(id_col).alias("node"), score.alias("__score")), "node"
    )
    # losers = everything ranked past 1 per component; row_number over
    # (score desc, node asc) is deterministic for string ids too
    worder = Window.partitionBy("component_id").orderBy(
        F.col("__score").desc(), F.col("node").asc()
    )
    losers = (
        members.withColumn("__rn", F.row_number().over(worder))
        .where(F.col("__rn") > 1)
        .select("node")
    )
    return anti_exclude(
        docs, losers, docs[id_col], "node", known_rows_bound=node_bound
    )


#: anti_exclude's broadcast cutoff, in EXCLUSION-SET ROWS: 5M ids ≈
#: 40 MB broadcast — far under Spark's 8 GB broadcast hard limit and
#: any sane driver heap, far above every planted fixture. Exposed for
#: memory-constrained deployments to dial down.
ANTI_BROADCAST_MAX_ROWS = 5_000_000


def anti_exclude(
    docs: DataFrame,
    excl: DataFrame,
    doc_key,
    excl_key: str,
    max_broadcast_rows: int = ANTI_BROADCAST_MAX_ROWS,
    known_rows_bound: int | None = None,
) -> DataFrame:
    """LEFT ANTI of the corpus against an exclusion-id set, with a
    SIZE-ADAPTIVE broadcast — the shared tail of every ``*_apply``
    builder.

    Why not always broadcast: the exclusion set scales with the
    DUPLICATE FRACTION of the corpus, not with component count — at a
    realistic 20-50% near-dup rate on 100 TB it is billions of ids,
    and an unconditional ``F.broadcast`` pin would collect them to the
    driver and die on Spark's 8 GB broadcast limit. Why not never: the
    probe side is often a stats-less ExistingRDD (re-encoded payloads
    from an Arrow stage), where AQE cannot see that the anti side is
    tiny and keeps a SortMergeJoin — payload bytes crossing an
    exchange just to be filtered (the r11 hygiene item). So the set is
    pinned (it feeds the join either way) and COUNTED: small → explicit
    broadcast; large → plain join, where shuffling the corpus on its
    id is the honest cost of subtracting a corpus-scale set.

    Fast paths that skip the pin-and-count jobs (~1 s of scheduling
    per query at sf0.1, measured on q_pipeline_media):

    * ``known_rows_bound`` — the caller has a PROVEN upper bound on
      the exclusion rows, e.g. ``connected_components(...,
      with_bound=True)`` returns its symmetrized edge count and every
      loser is a node of that pair graph;
    * a DRIVER-LOCAL exclusion relation (``isLocal()``) is small by
      construction."""
    if (known_rows_bound is not None and known_rows_bound <= max_broadcast_rows) or excl.isLocal():
        excl = F.broadcast(excl)
    else:
        excl = excl.localCheckpoint(eager=True)
        if excl.count() <= max_broadcast_rows:
            excl = F.broadcast(excl)
    if isinstance(doc_key, str):
        if doc_key == excl_key:
            return docs.join(excl, doc_key, "left_anti")
        doc_key = docs[doc_key]
    return docs.join(excl, doc_key == excl[excl_key], "left_anti")


def _pagerank_driver(
    pairs: DataFrame, id_a: str, id_b: str, iters: int, damping: float
) -> DataFrame:
    """Driver-side replay of :func:`pagerank`'s exact recurrence for
    pair graphs under the size gate. Symmetrizes WITHOUT dedup (the
    distributed path keeps duplicate edges too), folds each node's
    contributions sorted by src with a left fold from 0.0, and applies
    the same ``(1-d) + d*acc`` arithmetic — IEEE-double-identical to
    the join+agg rounds, hence hash-identical downstream."""
    import numpy as np
    from pyspark.sql import types as T

    rows = pairs.collect()
    edges: list[tuple] = []
    for r in rows:
        a, b = r[0], r[1]
        edges.append((a, b))
        edges.append((b, a))
    deg: dict = {}
    inn: dict = {}
    for s, d in edges:
        deg[s] = deg.get(s, 0) + 1
        inn.setdefault(d, []).append(s)
    # The graph is STATIC across iterations, so all ordering work —
    # the per-destination sorted-by-src fold order and the node
    # indexing — happens ONCE here instead of once per iteration (the
    # r17 form re-ran sorted() on every in-neighbor list every
    # iteration: O(iters · E log deg) of pure-Python sort). On the
    # symmetrized graph inn's key set equals deg's (every edge appears
    # in both directions), so indexing over deg covers every node.
    nodes = list(deg)
    idx = {n: i for i, n in enumerate(nodes)}
    dst_idx = np.fromiter(
        (idx[d] for d in inn), dtype=np.int64, count=len(inn)
    )
    src_flat = np.fromiter(
        (idx[s] for srcs in inn.values() for s in sorted(srcs)),
        dtype=np.int64,
        count=len(edges),
    )
    seg_len = np.fromiter(
        (len(srcs) for srcs in inn.values()), dtype=np.int64, count=len(inn)
    )
    seg_end = np.cumsum(seg_len).tolist()
    deg_arr = np.fromiter(
        (deg[n] for n in nodes), dtype=np.float64, count=len(nodes)
    )
    deg_src = deg_arr[src_flat]
    ranks_arr = np.ones(len(nodes), dtype=np.float64)
    one_minus_d = 1.0 - damping
    # Exactness: the fold below MUST stay a strict left fold from 0.0
    # in sorted-by-src order — that is the distributed path's pinned
    # accumulation order. NumPy's own segment reductions
    # (add.reduceat / sum) use pairwise/unrolled accumulation for
    # segments of ≥8 elements, which is NOT bit-identical, so only the
    # elementwise division is vectorized (a vectorized double divide
    # is IEEE-identical to the scalar divide) and the fold itself runs
    # over a plain-float list. Enforced by the exact-equality
    # differential test (test_sketches.py::
    # test_pagerank_driver_path_bit_identical_to_distributed).
    for _ in range(iters):
        contrib = (ranks_arr[src_flat] / deg_src).tolist()
        nxt = np.empty(len(nodes), dtype=np.float64)
        pos = 0
        for i, end in enumerate(seg_end):
            acc = 0.0
            while pos < end:
                acc += contrib[pos]
                pos += 1
            nxt[dst_idx[i]] = one_minus_d + damping * acc
        ranks_arr = nxt
    schema = T.StructType(
        [
            T.StructField("node", pairs.schema[0].dataType),
            T.StructField("r", T.DoubleType()),
        ]
    )
    return pairs.sparkSession.createDataFrame(
        [(n, float(ranks_arr[idx[n]])) for n in nodes], schema
    )


def pagerank(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iters: int = 3,
    damping: float = 0.85,
    driver_threshold: int = 1_000_000,
    assume_pinned: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over the undirected near-dup pair
    graph: (node, rank). Ranks start at 1.0 and follow
    ``r' = (1-d) + d * Σ_in r/deg`` — on the symmetrized graph every
    node has deg ≥ 1, so no dangling-mass term is needed.

    Scale shape: every iteration shuffles the PAIR SET only (one
    edge-keyed join + one dst-keyed agg), never a corpus-sized table —
    the same discipline as :func:`connected_components`. The pair set
    is pinned with ``localCheckpoint`` so the expensive pair-generation
    lineage (the MinHash pipeline) runs exactly once, not once per
    iteration. A fixed small ``iters`` keeps the plan bounded; for
    survivor selection the ordering converges in very few iterations
    because near-dup components are small and dense.

    Determinism: each node's incoming contributions are folded in
    sorted-by-src order (collect_list → array_sort → left fold), not
    ``F.sum`` — partition-order-dependent double accumulation would
    make the ranks wobble by an ulp across runs/engines, which can
    flip a round-6 hash. The fold is the q_ema/q_lm_score discipline:
    bit-identical by construction wherever the oracle folds the same
    sorted chain. Per-node state is its in-neighbor list (degree-
    bounded, pair-set total) — same exchange volume as the sum.

    Size-adaptive like :func:`connected_components`: when the
    symmetrized edge count is at most ``driver_threshold`` the ranks
    come from a driver-side replay of the IDENTICAL recurrence — one
    collect instead of ``iters`` join+agg rounds (r17: the distributed
    loop's ~15 tiny jobs plus their planning gaps cost ~1 s at bench
    scale on pair graphs of a few thousand edges). Bit-identical by
    construction: both paths fold each node's contributions in
    sorted-by-src order with an IEEE-double left fold seeded at 0.0
    (Python ``sorted`` on str matches Spark's UTF8 binary sort because
    UTF-8 byte order preserves code-point order; on ints trivially),
    both compute ``r/d`` as a double division, and both apply
    ``(1-d) + d*acc`` with the same literals — so round-6 consumers
    (q_dedup_canonical_rank's argmax) see the same values either way.
    The distributed propagation remains for real-scale graphs (force
    it with ``driver_threshold=0``)."""
    from pyspark.sql import functions as F

    pairs = pairs.select(id_a, id_b)
    if not assume_pinned:
        # same contract as connected_components' assume_pinned: a
        # caller that pre-pinned the pair set skips this copy
        pairs = pairs.localCheckpoint(eager=True)
    if 2 * pairs.count() <= driver_threshold:
        return _pagerank_driver(pairs, id_a, id_b, iters, damping)
    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).unionByName(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    ranks = deg.select(F.col("src").alias("node"), F.lit(1.0).alias("r"))
    # pin (src, dst, d) once: every iteration joins against it, and
    # without the pin each one replays the union+degree-agg subtree
    contrib = edges.join(deg, "src").localCheckpoint(eager=True)
    for _ in range(iters):
        ranks = (
            contrib.join(ranks, contrib["src"] == ranks["node"])
            .groupBy(F.col("dst").alias("nxt"))
            .agg(
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping)
                    * F.aggregate(
                        F.transform(
                            F.sort_array(
                                F.collect_list(
                                    F.struct(
                                        F.col("src").alias("s"),
                                        (F.col("r") / F.col("d")).alias("c"),
                                    )
                                )
                            ),
                            lambda s: s["c"],
                        ),
                        F.lit(0.0),
                        lambda a, x: a + x,
                    )
                ).alias("r")
            )
            .select(F.col("nxt").alias("node"), "r")
        )
    return ranks
