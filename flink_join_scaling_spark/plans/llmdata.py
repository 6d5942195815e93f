"""Training-data-pipeline queries: text analysis, document dedup
(exact/minhash/simhash/ngram/embedding), similarity search, multimodal
plumbing. The engine's north-star extensions beyond the reference's
join family.

Every deterministic operator carries an exact DuckDB oracle; the
hash-dependent primitives are restricted to md5-hex-string constructs
both engines share, so even MinHash/SimHash are oracle-checked.
Rows-only entries (no oracle): only the MLlib LSH variant (library
hash family), approx-distinct (estimator), and the k-means-trained
IVF (trained centroid list not practically SQL-expressible) — even
the Pandas-UDF paths and the fake-decode multimodal features carry
value-level oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_join_scaling_spark.functions import text as tx
from flink_join_scaling_spark.operators import dedup as dd
from flink_join_scaling_spark.operators import multimodal as mm
from flink_join_scaling_spark.operators import similarity as sim
from flink_join_scaling_spark.plans.registry import query
from flink_join_scaling_spark.sources.catalog import load_table

# ---------------------------------------------------- shared SQL bits

_NORM = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"

_TOKS_CTE = f"""
norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
toks AS (SELECT doc_id, string_split(t, ' ') AS ws FROM norm),
words AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i FROM toks)
"""

_SHINGLE_CTE = f"""
{_TOKS_CTE},
sh AS (
    SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
    FROM words a
    JOIN words b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    JOIN words c ON a.doc_id = c.doc_id AND c.i = a.i + 2
)
"""

_NORM_SQL = (
    "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)


_IVF_CELLS = 8
_IVF_NPROBE = 2
#: embeddings.embedding width (fixed by the generator; ArrayType
#: carries no length, so the ANN plans take it as a literal instead of
#: probing a row at plan-build time)
_EMB_DIM = 64


def _dot_sql(a: str, b: str) -> str:
    # list_zip yields unnamed structs in DuckDB 1.0 → numeric indexing
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


# ------------------------------------------------------ text analysis


@query(
    "q_text_stats",
    oracle=f"""
    WITH norm AS (SELECT doc_id, text, {_NORM} AS t FROM documents)
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(len(string_split(t, ' ')) AS BIGINT) AS n_words,
           CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT)
               AS n_punct,
           round(length(replace(t, ' ', '')) / len(string_split(t, ' ')), 4) AS avg_wlen
    FROM norm
    """,
    headline=True,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    norm = tx.norm_text(t)
    n_words = tx.n_tokens_ws(t)
    return d.select(
        "doc_id",
        F.length(t).cast("bigint").alias("n_chars_calc"),
        n_words.alias("n_words"),
        tx.punct_count(t).alias("n_punct"),
        F.round(F.length(F.replace(norm, F.lit(" "), F.lit(""))) / n_words, 4).alias(
            "avg_wlen"
        ),
    )


@query(
    "q_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{tx.BPE_ISH_PATTERN}')) AS BIGINT)
               AS n_tokens_bpe,
           CAST(len(string_split({_NORM}, ' ')) AS BIGINT) AS n_tokens_ws
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.n_tokens_bpe_ish(F.col("text")).alias("n_tokens_bpe"),
        tx.n_tokens_ws(F.col("text")).alias("n_tokens_ws"),
    )


def _lang_score_sql(markers: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return (
        f"CAST(len(list_filter(string_split({_NORM}, ' '), "
        f"x -> list_contains([{lst}], x))) AS BIGINT)"
    )


def _lang_id_oracle() -> str:
    scores = {lang: _lang_score_sql(m) for lang, m in tx.LANG_MARKERS.items()}
    langs = list(tx.LANG_MARKERS)
    greatest = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    case = "'und'"
    for lang in reversed(langs):
        case = f"CASE WHEN s_{lang} = best THEN '{lang}' ELSE {case} END"
    score_cols = ", ".join(f"{sql} AS s_{lang}" for lang, sql in scores.items())
    return f"""
    WITH scored AS (SELECT doc_id, lang, {score_cols} FROM documents),
    best AS (SELECT *, {greatest} AS best FROM scored)
    SELECT doc_id, lang,
           CASE WHEN best = 0 THEN 'und' ELSE {case} END AS lang_pred
    FROM best
    """


@query("q_lang_id", oracle=_lang_id_oracle())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/stopword-marker language ID (deterministic heuristic).

    Staged like gopher_rules_frame: the token array materializes once,
    the 5 marker scores read it as columns in one projection, and the
    argmax chain reads the score COLUMNS — the single-expression
    ``tx.lang_id`` form expands every score into both the ``greatest``
    and each when-branch (~30 re-derived tokenizations per row;
    measured 1.15 s → 0.71 s on the sf0.1 scan, the residual being the
    fixture's single-row-group scan parallelism). Same argmax/tiebreak
    semantics, same oracle."""
    d = load_table(spark, sf_dir, "documents")
    langs = list(tx.LANG_MARKERS)
    toks = d.select(
        "doc_id", "lang", tx.tokens_ws(F.col("text")).alias("__ws")
    )

    def member_of(markers):
        return lambda x: x.isin(*markers)

    scored = toks.select(
        "doc_id", "lang",
        *[
            F.size(F.filter(F.col("__ws"), member_of(tx.LANG_MARKERS[lang])))
            .cast("bigint")
            .alias(f"__s_{lang}")
            for lang in langs
        ],
    )
    best = F.greatest(*[F.col(f"__s_{lang}") for lang in langs])
    out = F.lit("und")
    for lang in reversed(langs):
        out = F.when(F.col(f"__s_{lang}") == best, lang).otherwise(out)
    pred = F.when(best == 0, "und").otherwise(out)
    return scored.withColumn("lang_pred", pred).select(
        "doc_id", "lang", "lang_pred"
    )


def _quality_cte() -> str:
    """The heuristic quality score as a reusable CTE chain ending in
    ``qual(doc_id, quality)`` — shared by the score query, the filter
    pipeline, and duplicate-representative selection."""
    return f"""
    qbase AS (
        SELECT doc_id,
               CAST(length(text) AS DOUBLE) AS n_chars,
               greatest(CAST(len(string_split({_NORM}, ' ')) AS DOUBLE), 1.0) AS n_toks,
               CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                    AS DOUBLE) AS n_punct,
               {_lang_score_sql(tx.LANG_MARKERS["en"])} AS s_en
        FROM documents
    ),
    qraw AS (
        SELECT doc_id,
               0.3 * least(n_chars / 500.0, 1.0)
                   + 0.2 * (CASE WHEN n_chars / n_toks >= 3.0 AND n_chars / n_toks <= 10.0
                                 THEN 1.0 ELSE 0.5 END)
                   + 0.3 * least(CAST(s_en AS DOUBLE) / n_toks * 5.0, 1.0)
                   + 0.2 * (1.0 - least(n_punct / greatest(n_chars, 1.0) * 10.0, 1.0))
                   AS quality_raw
        FROM qbase
    ),
    qual AS (
        SELECT doc_id, round(quality_raw, 4) AS quality FROM qraw
    )
    """


@query(
    "q_quality_score",
    oracle=f"""WITH {_quality_cte()}
    SELECT doc_id, CAST(round(quality_raw * 10000) AS BIGINT) AS quality_e4
    FROM qraw""",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score per document, exposed as an e4 integer
    (the q_source_cap discipline: the raw double is bit-identical
    cross-engine, and round(raw*1e4) of the SAME double is exact
    integer agreement — unlike the decimal round(raw, 4) display form,
    which hit a cross-engine midpoint on some fixtures and kept this
    query in the float-boundary manifest through round 7)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(tx.quality_score_raw(F.col("text")) * 10000)
        .cast("bigint")
        .alias("quality_e4"),
    )


# Gopher rule thresholds (Rae et al. 2021 §A1.1), adapted to this
# corpus (no newlines → no line-based rules; the duplicate-content
# rule runs on within-doc bigram occurrences). All compares are
# integer cross-multiplications, so no float threshold exists. The
# values live in operators.classifier next to the shared rule
# expressions so the batch oracle and the streaming face agree.
from flink_join_scaling_spark.operators.classifier import (  # noqa: E402
    GOPHER_MAX_WORDS as _GOPHER_MAX_WORDS,
)
from flink_join_scaling_spark.operators.classifier import (  # noqa: E402
    GOPHER_MIN_WORDS as _GOPHER_MIN_WORDS,
)


@query(
    "q_gopher_rules",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
    toks AS (SELECT doc_id, t, string_split(t, ' ') AS ws FROM norm),
    base AS (
        SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_words,
               CAST(length(replace(t, ' ', '')) AS BIGINT) AS sum_wlen,
               CAST(length(t) - length(regexp_replace(t, '[.,!?;:]', '', 'g'))
                    AS BIGINT) AS n_punct,
               CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))
                    AS BIGINT) AS n_alpha,
               CAST(len(list_filter(ws,
                    x -> x IN ('the','and','of','to','in','a','is')))
                    AS BIGINT) AS n_stop,
               CAST(CASE WHEN len(ws) >= 2 THEN len(ws) - 1 ELSE 0 END
                    AS BIGINT) AS n_bigrams,
               CAST(CASE WHEN len(ws) >= 2
                    THEN (len(ws) - 1) - len(list_distinct(
                        list_transform(range(1, len(ws)),
                                       i -> ws[i] || chr(31) || ws[i + 1])))
                    ELSE 0 END AS BIGINT) AS n_dup_bigram
        FROM toks
    ),
    rules AS (
        SELECT doc_id, n_words,
               (n_words >= {_GOPHER_MIN_WORDS}
                AND n_words <= {_GOPHER_MAX_WORDS}) AS ok_word_count,
               (3 * n_words <= sum_wlen AND sum_wlen <= 10 * n_words)
                   AS ok_mean_wlen,
               (10 * n_punct <= n_words) AS ok_symbol_ratio,
               (5 * n_alpha >= 4 * n_words) AS ok_alpha_words,
               (n_stop >= 2) AS ok_stopwords,
               (16 * n_dup_bigram <= n_bigrams) AS ok_repetition
        FROM base
    )
    SELECT doc_id, n_words, ok_word_count, ok_mean_wlen, ok_symbol_ratio,
           ok_alpha_words, ok_stopwords, ok_repetition,
           CAST((CASE WHEN ok_word_count THEN 0 ELSE 1 END)
              + (CASE WHEN ok_mean_wlen THEN 0 ELSE 1 END)
              + (CASE WHEN ok_symbol_ratio THEN 0 ELSE 1 END)
              + (CASE WHEN ok_alpha_words THEN 0 ELSE 1 END)
              + (CASE WHEN ok_stopwords THEN 0 ELSE 1 END)
              + (CASE WHEN ok_repetition THEN 0 ELSE 1 END) AS BIGINT)
               AS n_rules_failed,
           (ok_word_count AND ok_mean_wlen AND ok_symbol_ratio
            AND ok_alpha_words AND ok_stopwords AND ok_repetition) AS keep
    FROM rules
    """,
    headline=True,
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule battery (Rae et al. 2021 §A1.1, the
    rule-based gate MassiveWeb/FineWeb-class pipelines apply before
    any model-based scoring) adapted to this corpus: word-count
    bounds, mean word length in [3,10], symbol-to-word ≤ 0.1,
    ≥80% alphabetic words, ≥2 stopwords, and repeated bigram
    occurrences ≤ 1/16 (the duplicate-content family — no newlines
    here, so the line-based rules run on bigram occurrences, and the
    threshold is tightened from the paper's 0.2 character-fraction so
    this clean synthetic fixture exercises BOTH branches; production
    dials it back to the paper's value). Emits every per-rule
    boolean plus n_rules_failed and the composite keep flag, the
    shape a curation pipeline filters or audits on.

    Comparability: every threshold is an integer cross-multiplication
    of exact BIGINT counts (3n ≤ Σlen ≤ 10n, 10·punct ≤ n, 5·alpha ≥
    4n, 16·dup ≤ bigrams) — no float ever exists, so the oracle
    matches bit-for-bit by construction.

    Scale shape: ONE map-only scan — all counts are per-doc bounded
    JVM expressions (size/filter/transform over the token array),
    zero exchanges of any kind; at 100 TB this is scan-speed, the
    same class as q_quality_score/q_pii_redact. The rule expressions
    are shared with the continuous ingest face
    (``streaming.filters.stream_gopher_rules``) via
    ``operators.classifier.gopher_rules_frame``, so the two cannot
    drift."""
    from flink_join_scaling_spark.operators.classifier import (
        gopher_rules_frame,
    )

    d = load_table(spark, sf_dir, "documents")
    return gopher_rules_frame(d.select("doc_id", "text")).drop("text")


@query(
    "q_fingerprint",
    oracle=f"""
    WITH {_TOKS_CTE}
    SELECT doc_id,
           CAST(sum((i * (length(w) * 131 + ascii(substr(w, 1, 1)))) % {tx.FP_MOD})
                % {tx.FP_MOD} AS BIGINT) AS fp
    FROM words
    GROUP BY doc_id
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-weighted rolling document fingerprint (mod 1e9+7),
    exact integer math in both engines."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.posexplode(tx.tokens_ws(F.col("text"))).alias("pos", "tok"))
    term = ((F.col("pos") + 1) * tx.token_value(F.col("tok"))) % tx.FP_MOD
    return toks.groupBy("doc_id").agg((F.sum(term) % tx.FP_MOD).alias("fp"))


_CHUNK, _STRIDE = 64, 48


@query(
    "q_text_chunks",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents
    ),
    spans AS (
        SELECT doc_id, ws,
               unnest(range(0, greatest(len(ws), 1), {_STRIDE})) AS s,
               generate_subscripts(range(0, greatest(len(ws), 1), {_STRIDE}), 1) - 1
                   AS chunk_idx
        FROM toks
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(least({_CHUNK}, len(ws) - s) AS BIGINT) AS n_chunk_tokens,
           array_to_string(list_slice(ws, s + 1, s + least({_CHUNK}, len(ws) - s)), ' ')
               AS chunk_text
    FROM spans
    WHERE least({_CHUNK}, len(ws) - s) > 0
    """,
    headline=True,
)
def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token windows, stride 48)
    — the canonical LLM training-data preprocessing op, as a pure
    narrow transform (sequence/transform/slice/explode, no shuffle,
    no UDF)."""
    d = load_table(spark, sf_dir, "documents")
    return tx.chunk_text(d, "doc_id", "text", size=_CHUNK, stride=_STRIDE)


# ------------------------------------------------------------- dedup


@query(
    "q_dedup_exact",
    oracle=f"""
    SELECT sha256({_NORM}) AS text_hash,
           min(doc_id) AS keeper_id,
           count(*) AS n_dups
    FROM documents
    GROUP BY 1
    """,
    headline=True,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.dedup_exact(d, "doc_id", "text")


@query(
    "q_dedup_exact_apply",
    oracle=f"""
    WITH h AS (SELECT doc_id, lang, source, n_chars, sha256({_NORM}) AS th
               FROM documents),
    keep AS (SELECT min(doc_id) AS keeper FROM h GROUP BY th)
    SELECT doc_id, lang, source, n_chars
    FROM h WHERE doc_id IN (SELECT keeper FROM keep)
    """,
)
def q_dedup_exact_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exactly-deduplicated corpus: one survivor (min id) per
    distinct normalized-content hash. A per-hash min window — one
    shuffle keyed by the digest, then a narrow keeper filter; no join
    back to the corpus at all."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    h = d.select(
        "doc_id", "lang", "source", "n_chars",
        F.sha2(tx.norm_text(F.col("text")), 256).alias("th"),
    )
    w = Window.partitionBy("th")
    return (
        h.withColumn("keeper", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "lang", "source", "n_chars")
    )


_MINHASH_K = 8
_MINHASH_BAND = 2


def _minhash_ctes() -> str:
    """The MinHash+LSH pipeline as a reusable CTE chain ending in
    ``mh_pairs(id_a, id_b, jaccard)`` — shared by the pair query and
    the component/representative queries built on top of it."""
    # hash k = 8-hex slice of md5(shingle) / md5('#'||shingle) — mirrors
    # operators/dedup._sig_hash exactly
    sig_cols = ", ".join(
        "min(substr(md5({src}), {off}, 8)) AS h{k}".format(
            src="shingle" if k < 4 else "'#' || shingle",
            off=1 + 8 * (k % 4),
            k=k,
        )
        for k in range(_MINHASH_K)
    )
    n_bands = _MINHASH_K // _MINHASH_BAND
    sep = " || '|' || "
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5({sep.join(f'h{k}' for k in range(b * _MINHASH_BAND, (b + 1) * _MINHASH_BAND))})"
        " AS band_hash FROM sigs"
        for b in range(n_bands)
    )
    return f"""
    {_SHINGLE_CTE},
    sigs AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
    bands AS ({band_selects}),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    mh_pairs AS (
        SELECT c.id_a, c.id_b,
               round(n_inter / (sa.n + sb.n - n_inter), 6) AS jaccard
        FROM cand c
        JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
        JOIN sizes sa ON c.id_a = sa.doc_id
        JOIN sizes sb ON c.id_b = sb.doc_id
        WHERE round(n_inter / (sa.n + sb.n - n_inter), 6) >= 0.5
    )
    """


def _minhash_oracle() -> str:
    return f"WITH {_minhash_ctes()} SELECT id_a, id_b, jaccard FROM mh_pairs"


@query("q_dedup_minhash", oracle=_minhash_oracle(), headline=True)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (md5-family hashes, banded candidate
    join, exact Jaccard verify ≥ 0.5)."""
    d = load_table(spark, sf_dir, "documents")
    return dd.minhash_dedup_pairs(
        d, "doc_id", "text", num_hashes=_MINHASH_K, band_size=_MINHASH_BAND, threshold=0.5
    )


@query(
    "q_dedup_minhash_ml",
    oracle=f"""
    WITH {_minhash_ctes()}
    SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
           TRUE AS ml_recall_ok
    FROM mh_pairs
    """,
)
def q_dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib MinHashLSH variant, SELF-ATTESTING: the library's hash
    family is engine-specific, so its pair LIST cannot be
    oracle-compared — instead the query emits the oracle-expressible
    exact md5-pipeline pair count plus a boolean asserting the MLlib
    path recalls ≥ 0.8 of those exact pairs (measured 1.0 at
    sf0.001/sf0.01; same within-tolerance pattern as
    q_approx_distinct). Hash-match iff the recall bound holds."""
    d = load_table(spark, sf_dir, "documents")
    exact = dd.minhash_dedup_pairs(
        d, "doc_id", "text",
        num_hashes=_MINHASH_K, band_size=_MINHASH_BAND, threshold=0.5,
    ).select("id_a", "id_b")
    ml = dd.minhash_lsh_ml(
        d, "doc_id", "text", jaccard_threshold=0.5
    ).select("id_a", "id_b")
    n = exact.agg(F.count("*").cast("bigint").alias("n_exact_pairs"))
    hit = exact.join(ml, ["id_a", "id_b"]).agg(
        F.count("*").alias("__n_hit")
    )
    return n.crossJoin(hit).select(
        "n_exact_pairs",
        (F.col("__n_hit") >= 0.8 * F.col("n_exact_pairs")).alias("ml_recall_ok"),
    )


_EDGES_REACH_CTES = """
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM mh_pairs
        UNION
        SELECT id_b, id_a FROM mh_pairs
    ),
    reach AS (
        SELECT DISTINCT src AS node, src AS r FROM edges
        UNION
        SELECT e.src, t.r FROM edges e JOIN reach t ON t.node = e.dst
    ),
    comp AS (SELECT node, min(r) AS component_id FROM reach GROUP BY node)
"""


@query(
    "q_dedup_components",
    headline=True,
    oracle=f"""
    WITH RECURSIVE {_minhash_ctes()},
    {_EDGES_REACH_CTES}
    SELECT node AS doc_id, component_id FROM comp
    """,
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group formation: connected components over the MinHash
    near-dup pairs (near-dup similarity is not transitive — A~B, B~C
    must collapse into one group). Distributed min-label propagation
    over the pair set only; oracle is DuckDB's recursive transitive
    closure."""
    d = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_dedup_pairs(
        d, "doc_id", "text", num_hashes=_MINHASH_K, band_size=_MINHASH_BAND, threshold=0.5
    )
    comp = dd.connected_components(pairs)
    return comp.select(F.col("node").alias("doc_id"), "component_id")


@query(
    "q_dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_minhash_ctes()},
    {_quality_cte()},
    {_EDGES_REACH_CTES},
    members AS (
        SELECT c.component_id, c.node, q.quality_raw
        FROM comp c JOIN qraw q ON q.doc_id = c.node
    ),
    ranked AS (
        SELECT component_id, node,
               row_number() OVER (PARTITION BY component_id
                                  ORDER BY quality_raw DESC, node ASC) AS rn
        FROM members
    ),
    stats AS (
        SELECT component_id, CAST(count(*) AS BIGINT) AS n_members,
               CAST(round(max(quality_raw) * 10000) AS BIGINT) AS best_score_e4
        FROM members GROUP BY component_id
    )
    SELECT r.component_id, r.node AS keeper_id, s.n_members, s.best_score_e4
    FROM ranked r JOIN stats s ON s.component_id = r.component_id
    WHERE r.rn = 1
    """,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection: per duplicate group, keep
    the highest-quality member (ties → lowest doc_id). The full
    dedup pipeline a training corpus actually runs: pairs → groups →
    one survivor per group. Election and max use the RAW quality
    double (bit-identical cross-engine); the exposed best score is the
    e4 integer quantization of that max — no decimal double rounding
    anywhere, which is what kept this query float-boundary-flagged
    through round 7."""
    d = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_dedup_pairs(
        d, "doc_id", "text", num_hashes=_MINHASH_K, band_size=_MINHASH_BAND, threshold=0.5
    )
    docs = d.select("doc_id", tx.quality_score_raw(F.col("text")).alias("quality"))
    best = dd.dedup_keep_best(docs, pairs, "doc_id", "quality")
    return best.select(
        "component_id",
        "keeper_id",
        "n_members",
        F.round(F.col("best_score") * 10000).cast("bigint").alias("best_score_e4"),
    )


@query(
    "q_dedup_apply",
    oracle=f"""
    WITH RECURSIVE {_minhash_ctes()},
    {_quality_cte()},
    {_EDGES_REACH_CTES},
    members AS (
        SELECT c.component_id, c.node, q.quality_raw
        FROM comp c JOIN qraw q ON q.doc_id = c.node
    ),
    ranked AS (
        SELECT component_id, node,
               row_number() OVER (PARTITION BY component_id
                                  ORDER BY quality_raw DESC, node ASC) AS rn
        FROM members
    ),
    losers AS (SELECT node FROM ranked WHERE rn > 1)
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT node FROM losers)
    """,
)
def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus itself — every document except the
    non-keeper members of near-dup groups (a LEFT ANTI join against
    the pair-sized loser set; the corpus shuffles once, on its id).
    The keeper election orders by the RAW quality double — the
    round-4 display form it previously ranked on can flip a
    cross-engine midpoint tie."""
    d = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_dedup_pairs(
        d, "doc_id", "text", num_hashes=_MINHASH_K, band_size=_MINHASH_BAND, threshold=0.5
    )
    docs = d.select(
        "doc_id", "lang", "source", "n_chars",
        tx.quality_score_raw(F.col("text")).alias("__q"),
    )
    return dd.dedup_apply(docs, pairs, "doc_id", "__q").drop("__q")



def _simhash_oracle() -> str:
    # token hash: first 8 hex nibbles of md5 as a 32-bit int (Horner)
    def nib(i: int) -> str:
        return f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"

    v_expr = nib(1)
    for i in range(2, 9):
        v_expr = f"({v_expr} * 16 + {nib(i)})"
    c_cols = ", ".join(f"sum((v // {1 << j}) % 2) AS c{j}" for j in range(32))
    bit_sum = " + ".join(
        f"(CASE WHEN 2 * c{j} > n THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(32)
    )
    return f"""
    WITH {_TOKS_CTE},
    tokh AS (SELECT doc_id, md5(w) AS h FROM words),
    tokv AS (SELECT doc_id, {v_expr} AS v FROM tokh),
    cnts AS (SELECT doc_id, count(*) AS n, {c_cols} FROM tokv GROUP BY doc_id),
    sims AS (SELECT doc_id, CAST({bit_sum} AS BIGINT) AS simhash FROM cnts),
    bands AS (
        SELECT doc_id, simhash, k.b AS band_idx,
               (simhash // (CAST(1 AS BIGINT) << CAST(8 * k.b AS INT))) % 256 AS band_val
        FROM sims, (SELECT unnest([0, 1, 2, 3]) AS b) k
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


@query("q_dedup_simhash", oracle=_simhash_oracle(), headline=True)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 32-bit sign projection, byte-band
    candidates, hamming ≤ 3."""
    d = load_table(spark, sf_dir, "documents")
    return dd.simhash_dedup_pairs(d, "doc_id", "text", max_hamming=3)


#: stop-shingle cap for the exact n-gram path: shingles in more than
#: this many documents are dropped from the Jaccard universe, bounding
#: the self-join's worst shuffle bucket at max_df² rows
_NGRAM_MAX_DF = 50

# ------------------------------------------------ winnowing dedup

_WINNOW_K = 4  # gram width (tokens)
_WINNOW_W = 5  # window width (grams); guarantee length = k+w-1
_WINNOW_MIN_SHARED = 2
_WINNOW_MAX_DF = 50

_HEXD = "0123456789abcdef"


def _md5_u32_duck(sql_expr: str) -> str:
    """First 8 md5 nibbles of ``sql_expr`` as an exact 32-bit integer
    (the DSIR bucket arithmetic without the modulus)."""
    def nib(i: int) -> str:
        return f"(strpos('{_HEXD}', substr(md5({sql_expr}), {i}, 1)) - 1)"

    v = nib(1)
    for i in range(2, 9):
        v = f"({v} * 16 + {nib(i)})"
    return v


#: winnowing CTE body (after _TOKS_CTE) ending in
#: wpairs(id_a, id_b, n_shared) — shared by the pair census and the
#: apply query so the two cannot drift
_WINNOW_CTES = f"""
    tw AS (
        SELECT doc_id, ws,
               greatest(len(ws) - {_WINNOW_K - 1}, 0) AS m
        FROM toks
    ),
    grams AS (
        SELECT doc_id, m,
               list_transform(range(1, m + 1), i ->
                   {_md5_u32_duck(
                       "array_to_string(list_slice(ws, i, i + "
                       + str(_WINNOW_K - 1) + "), chr(31))"
                   )}) AS hs
        FROM tw WHERE m >= 1
    ),
    fps AS (
        SELECT DISTINCT doc_id, fp
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, greatest(m - {_WINNOW_W - 1}, 1) + 1),
                       j -> list_min(list_slice(hs, j, j + {_WINNOW_W - 1}))
                   )) AS fp
            FROM grams
        )
    ),
    hot AS (SELECT fp FROM fps GROUP BY fp
            HAVING count(DISTINCT doc_id) > {_WINNOW_MAX_DF}),
    cold AS (SELECT doc_id, fp FROM fps
             WHERE fp NOT IN (SELECT fp FROM hot)),
    wpairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM cold a JOIN cold b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= {_WINNOW_MIN_SHARED}
    )"""


@query(
    "q_dedup_winnow",
    oracle=f"""
    WITH {_TOKS_CTE},
    {_WINNOW_CTES}
    SELECT id_a, id_b, n_shared FROM wpairs
    """,
    headline=True,
)
def q_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-dup pairs (Schleimer et al. 2003, the MOSS
    algorithm): every 4-token gram hashes to an exact 32-bit md5
    integer, a 5-gram window keeps each minimum, and documents
    sharing ≥ 2 selected fingerprints pair up — POSITION-ROBUST local
    dedup with the paper's guarantee (any shared run of ≥ k+w−1 = 8
    tokens yields a shared fingerprint), the copied-passage niche
    that global-similarity MinHash and whole-doc SimHash don't cover.

    Comparability: gram hashes are the established 8-nibble md5
    integer on both engines; window minima, distincts, df caps, and
    share counts are exact integer operations throughout.

    Scale shape: the minhash-band discipline exactly — fingerprints
    form by one map-only staged projection chain (gram-hash array
    materialized once per doc) + explode; candidates meet on a
    fingerprint EQUI-JOIN (never all-pairs) after the stop-fingerprint
    cap bounds the worst bucket at max_df²; output is pair-set-sized.
    """
    d = load_table(spark, sf_dir, "documents")
    return dd.winnow_dedup_pairs(
        d, "doc_id", "text",
        k=_WINNOW_K, w=_WINNOW_W,
        min_shared=_WINNOW_MIN_SHARED, max_df=_WINNOW_MAX_DF,
    )


@query(
    "q_dedup_ngram",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    hot AS (SELECT shingle FROM sh GROUP BY shingle
            HAVING count(*) > {_NGRAM_MAX_DF}),
    shf AS (SELECT doc_id, shingle FROM sh
            WHERE shingle NOT IN (SELECT shingle FROM hot)),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY 1)
    SELECT id_a, id_b, round(n_inter / (sa.n + sb.n - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE round(n_inter / (sa.n + sb.n - n_inter), 6) >= 0.5
    """,
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs ≥ 0.5 with a stop-
    shingle cap (df > max_df shingles removed from the universe) — the
    equi-join prunes pairs, the cap bounds its worst bucket."""
    d = load_table(spark, sf_dir, "documents")
    pairs = dd.shingle_jaccard_pairs(
        d, "doc_id", "text", shingle_n=3, max_df=_NGRAM_MAX_DF
    )
    return pairs.where(F.col("jaccard") >= 0.5)


@query(
    "q_dedup_containment",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    hot AS (SELECT shingle FROM sh GROUP BY shingle
            HAVING count(*) > {_NGRAM_MAX_DF}),
    shf AS (SELECT doc_id, shingle FROM sh
            WHERE shingle NOT IN (SELECT shingle FROM hot)),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY 1)
    SELECT id_a, id_b, round(n_inter / least(sa.n, sb.n), 6) AS containment
    FROM inter
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE round(n_inter / least(sa.n, sb.n), 6) >= 0.8
    """,
    headline=True,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT pairs >= 0.8: n_inter / min(|A|, |B|) — the
    asymmetric near-dup detector for a small document embedded inside
    a larger one (quote inclusion, boilerplate wrapping), which
    symmetric Jaccard dilutes toward 0 as the size ratio grows.

    Executes through the exact prefix-filter candidate join
    (:func:`~flink_join_scaling_spark.operators.dedup.
    containment_dedup_pairs`) — candidates from hash-ordered shingle
    prefixes of the smaller doc, verify candidate-first — not the all-pairs
    shingle self-join the oracle spells (byte-identical output; the
    oracle keeps the self-join form because that IS the definition)."""
    d = load_table(spark, sf_dir, "documents")
    return dd.containment_dedup_pairs(
        d, "doc_id", "text", shingle_n=3, threshold=0.8, max_df=_NGRAM_MAX_DF
    )


@query(
    "q_dedup_embedding",
    oracle=f"""
    WITH n AS (SELECT vec_id, embedding, {_NORM_SQL} AS nrm FROM embeddings),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               CAST(round({_dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm)
                          * 1000000) AS BIGINT) AS cosine_e6
        FROM n a JOIN n b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine_e6 FROM pairs WHERE cosine_e6 >= 450000
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ 0.45 (exact pair join
    baseline). Scores and thresholds on e6-BIGINT quantized cosines
    (round-10 retirement of the float-boundary manifest: an integer
    compare replaces the round-6 DOUBLE compare whose engine-specific
    decimal rounding could land one ulp apart at the threshold)."""
    e = load_table(spark, sf_dir, "embeddings")
    return dd.embedding_dedup_pairs(
        e, "vec_id", "embedding", threshold=0.45, emit_e6=True
    )


def _embedding_ivf_oracle() -> str:
    cos = f"round({_dot_sql('v.embedding', 'c.embedding')} / (v.nrm * c.nrm), 6)"
    pcos = f"round({_dot_sql('p.embedding', 'i.embedding')} / (p.nrm * i.nrm), 6)"
    return f"""
    WITH n AS (SELECT vec_id, embedding, {_NORM_SQL} AS nrm FROM embeddings),
    cents AS (SELECT vec_id AS cell, embedding, nrm FROM n
              ORDER BY vec_id LIMIT {_IVF_CELLS}),
    assign AS (
        SELECT v.vec_id, v.embedding, v.nrm, c.cell,
               row_number() OVER (
                   PARTITION BY v.vec_id ORDER BY {cos} DESC, c.cell ASC
               ) AS crank
        FROM n v, cents c
    ),
    idx AS (SELECT vec_id, embedding, nrm, cell FROM assign WHERE crank = 1),
    probes AS (SELECT vec_id, embedding, nrm, cell FROM assign
               WHERE crank <= {_IVF_NPROBE})
    SELECT DISTINCT least(p.vec_id, i.vec_id) AS id_a,
           greatest(p.vec_id, i.vec_id) AS id_b,
           {pcos} AS cosine
    FROM probes p JOIN idx i ON p.cell = i.cell AND p.vec_id != i.vec_id
    WHERE {pcos} >= 0.45
    """


@query(
    "q_dedup_embedding_ivf",
    oracle=_embedding_ivf_oracle(),
    headline=True,
)
def q_dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed embedding near-dup pairs ≥ 0.45 — the scale path
    for semantic dedup: pair products are cell-local (Σ probers ×
    members per cell, never n²)."""
    e = load_table(spark, sf_dir, "embeddings")
    return dd.embedding_dedup_pairs_ivf(
        e, "vec_id", "embedding", threshold=0.45,
        num_cells=_IVF_CELLS, nprobe=_IVF_NPROBE,
    )




@query(
    "q_dedup_winnow_apply",
    oracle=f"""
    WITH RECURSIVE {_TOKS_CTE},
    {_WINNOW_CTES},
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM wpairs
        UNION
        SELECT id_b, id_a FROM wpairs
    ),
    reach AS (
        SELECT DISTINCT src AS node, src AS r FROM edges
        UNION
        SELECT e.src, t.r FROM edges e JOIN reach t ON t.node = e.dst
    ),
    comp AS (SELECT node, min(r) AS component_id FROM reach GROUP BY node),
    losers AS (SELECT node FROM comp WHERE node != component_id)
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT node FROM losers)
    """,
)
def q_dedup_winnow_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The winnow-deduplicated corpus: connected components over the
    shared-fingerprint pairs (copied-passage similarity is not
    transitive), keep the MIN doc_id per component (the
    q_dedup_exact_apply keeper rule — winnowing flags shared RUNS, so
    unlike the whole-document families a quality election between the
    members is not meaningful), drop the rest via LEFT ANTI against
    the pair-sized loser set. Completes the census→apply symmetry the
    other dedup families have.

    Scale shape: the pair census's shapes plus min-label component
    propagation over the PAIR SET only; the corpus shuffles once, on
    its id, against a loser set bounded by the pair census."""
    d = load_table(spark, sf_dir, "documents")
    pairs = dd.winnow_dedup_pairs(
        d, "doc_id", "text",
        k=_WINNOW_K, w=_WINNOW_W,
        min_shared=_WINNOW_MIN_SHARED, max_df=_WINNOW_MAX_DF,
    )
    comp, node_bound = dd.connected_components(pairs, with_bound=True)
    losers = comp.where(F.col("node") != F.col("component_id")).select(
        F.col("node").alias("doc_id")
    )
    return dd.anti_exclude(
        d.select("doc_id", "lang", "source", "n_chars"), losers,
        "doc_id", "doc_id",
        known_rows_bound=node_bound,
    )


# -------------------------------------------------- similarity search


_TOPK_ORACLE = f"""
    WITH n AS (SELECT vec_id, embedding, {_NORM_SQL} AS nrm FROM embeddings),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               CAST(round({_dot_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm)
                          * 1000000) AS BIGINT) AS cosine_e6
        FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id != c.vec_id
    )
    SELECT query_id, vec_id, cosine_e6, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_e6 DESC, vec_id ASC) AS BIGINT) AS rank
        FROM pairs
    ) WHERE rank <= 5
    """


@query("q_sim_topk", oracle=_TOPK_ORACLE, headline=True)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id < 10."""
    e = load_table(spark, sf_dir, "embeddings")
    return sim.cosine_topk(e, e.where(F.col("vec_id") < 10), k=5)


@query("q_sim_topk_pandas", oracle=_TOPK_ORACLE)
def q_sim_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same top-k through the Arrow/NumPy mapInPandas path — identical
    results by construction (round-6 + deterministic tiebreak), checked
    against the same oracle."""
    e = load_table(spark, sf_dir, "embeddings")
    return sim.cosine_topk_pandas(e, e.where(F.col("vec_id") < 10), k=5)


def _ann_oracle() -> str:
    planes = sim.hyperplanes(4, _EMB_DIM)
    terms = []
    for j, plane in enumerate(planes):
        lit = "[" + ", ".join(f"{w:.1f}" for w in plane) + "]"
        dot = (
            f"list_sum(list_transform(list_zip(embedding, {lit}), "
            "p -> CAST(p[1] AS DOUBLE) * p[2]))"
        )
        # sign taken on the e6-BIGINT quantized dot (round-10 float-
        # boundary retirement): a raw `dot > 0` can flip across engines
        # when |dot| is within accumulation-order noise of zero; after
        # CAST(round(dot*1e6) AS BIGINT) both engines see the same
        # integer for any |dot| not exactly at a .5e-6 midpoint.
        terms.append(
            f"(CASE WHEN CAST(round({dot} * 1000000) AS BIGINT) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    bucket = "CAST(" + " + ".join(terms) + " AS BIGINT)"
    return f"""
    WITH n AS (
        SELECT vec_id, embedding, {_NORM_SQL} AS nrm, {bucket} AS bucket
        FROM embeddings
    ),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id, c.bucket AS bucket,
               CAST(round({_dot_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm)
                          * 1000000) AS BIGINT) AS cosine_e6
        FROM n q JOIN n c ON q.bucket = c.bucket
         AND q.vec_id < 10 AND q.vec_id != c.vec_id
    )
    SELECT query_id, vec_id, bucket, cosine_e6, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_e6 DESC, vec_id ASC) AS BIGINT) AS rank
        FROM pairs
    ) WHERE rank <= 5
    """


@query(
    "q_sim_ann_lsh",
    oracle=_ann_oracle(),
    headline=True,
)
def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 (sign-random-projection, 4
    deterministic md5-derived hyperplanes → 16 buckets). Bucket signs
    are taken on e6-BIGINT quantized plane dots (round-10 float-
    boundary retirement — see ``similarity.bucket_expr``)."""
    e = load_table(spark, sf_dir, "embeddings")
    return sim.ann_lsh_topk(
        e, e.where(F.col("vec_id") < 10), k=5, num_planes=4, dim=_EMB_DIM
    )


def _ivf_oracle() -> str:
    cos = f"round({_dot_sql('v.embedding', 'c.embedding')} / (v.nrm * c.nrm), 6)"
    return f"""
    WITH n AS (SELECT vec_id, embedding, {_NORM_SQL} AS nrm FROM embeddings),
    cents AS (SELECT vec_id AS cell, embedding, nrm FROM n
              ORDER BY vec_id LIMIT {_IVF_CELLS}),
    assign AS (
        SELECT v.vec_id, v.embedding, v.nrm, c.cell,
               row_number() OVER (
                   PARTITION BY v.vec_id ORDER BY {cos} DESC, c.cell ASC
               ) AS crank
        FROM n v, cents c
    ),
    idx AS (SELECT vec_id, embedding, nrm, cell FROM assign WHERE crank = 1),
    probes AS (SELECT vec_id AS query_id, embedding, nrm, cell FROM assign
               WHERE crank <= {_IVF_NPROBE} AND vec_id < 10),
    pairs AS (
        SELECT p.query_id, i.vec_id,
               CAST(round({_dot_sql('p.embedding', 'i.embedding')} / (p.nrm * i.nrm)
                          * 1000000) AS BIGINT) AS cosine_e6
        FROM idx i JOIN probes p ON i.cell = p.cell AND p.query_id != i.vec_id
    )
    SELECT query_id, vec_id, cosine_e6, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_e6 DESC, vec_id ASC) AS BIGINT) AS rank
        FROM pairs
    ) WHERE rank <= 5
    """


@query("q_sim_ann_ivf", oracle=_ivf_oracle(), headline=True)
def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-5: corpus quantized to its nearest
    of 8 deterministic seed cells, queries probe their 2 nearest cells
    (the coarse-quantization scale path next to the LSH one)."""
    e = load_table(spark, sf_dir, "embeddings")
    return sim.ann_ivf_topk(
        e,
        e.where(F.col("vec_id") < 10),
        k=5,
        num_cells=_IVF_CELLS,
        nprobe=_IVF_NPROBE,
    )


#: shared oracle for the self-attesting recall queries: exact top-k
#: stats plus literal TRUE — the Spark side must land its recall bound.
_RECALL_ORACLE = f"""
    SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
           CAST(count(*) AS BIGINT) AS n_exact,
           TRUE AS recall_ok
    FROM ({_TOPK_ORACLE}) t
    """


def _recall_attest(exact: DataFrame, approx: DataFrame, bound: float = 0.5) -> DataFrame:
    """Shared attestation tail for the self-attesting ANN queries:
    exact top-k stats plus a boolean asserting the approximate result
    recalls ≥ ``bound`` of the exact pairs. One definition so the
    trained and persisted paths cannot drift."""
    stats = exact.agg(
        F.countDistinct("query_id").cast("bigint").alias("n_queries"),
        F.count("*").cast("bigint").alias("n_exact"),
    )
    hit = exact.join(approx, ["query_id", "vec_id"]).agg(
        F.count("*").alias("__n_hit")
    )
    return stats.crossJoin(hit).select(
        "n_queries",
        "n_exact",
        (F.col("__n_hit") >= bound * F.col("n_exact")).alias("recall_ok"),
    )


@query(
    "q_sim_ann_ivf_trained",
    oracle=_RECALL_ORACLE,
)
def q_sim_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with k-means-TRAINED centroids, SELF-ATTESTING: the
    trained centroid list is not practically SQL-expressible, so the
    query emits the oracle-expressible exact top-k stats plus a
    boolean asserting the trained-ANN result recalls ≥ 0.5 of the
    exact cosine top-5 pairs (measured 0.78–0.80 at sf0.001/sf0.01
    with nprobe=2 of 8 cells; same within-tolerance pattern as
    q_approx_distinct). Training: spherical Lloyd's iterations on a
    deterministic md5-ordered sample, seeded from the same smallest-id
    centroids as q_sim_ann_ivf; determinism and fixture recall are
    additionally property-tested (tests/test_llmdata_ops.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    exact = sim.cosine_topk(e, q, k=5).select("query_id", "vec_id")
    approx = sim.ann_ivf_topk(
        e, q, k=5, num_cells=_IVF_CELLS, nprobe=_IVF_NPROBE, train=True
    ).select("query_id", "vec_id")
    return _recall_attest(exact, approx)


@query(
    "q_sim_ann_pq",
    oracle=_RECALL_ORACLE,
)
def q_sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k with exact re-ranking (Jégou et
    al. 2011 + FAISS's IndexRefineFlat), SELF-ATTESTING like the other
    trained-ANN paths: 64 float dims compress to 8 4-bit codes (64× at
    rest), the scan sums 8 LUT lookups per vector, and the ADC 16×k
    shortlist is re-ranked by exact cosine — the query asserts the
    refined top-5 recalls ≥ 0.5 of the exact cosine top-5 (measured
    0.84/0.88 at sf0.001/sf0.01; pure ADC scores 0.3–0.4 on these
    near-random synthetic vectors, PQ's worst case, which is exactly
    why the refine stage exists). Codebook training is the md5-ordered
    driver-sample k-means discipline; encode, scan, and refine stay
    distributed (operators/similarity.py ann_pq_topk)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    exact = sim.cosine_topk(e, q, k=5).select("query_id", "vec_id")
    approx = sim.ann_pq_topk(e, q, k=5, m=8, nbits=4).select(
        "query_id", "vec_id"
    )
    return _recall_attest(exact, approx)


@query(
    "q_sim_ann_persisted",
    oracle=_RECALL_ORACLE,
)
def q_sim_ann_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED IVF index path (operators/ann_index.py),
    SELF-ATTESTING like q_sim_ann_ivf_trained: the query builds the
    cell-partitioned parquet index (trained centroids, partitionBy
    cell), runs the partition-pruned top-k against it, and emits the
    oracle-expressible exact top-k stats plus a boolean asserting the
    persisted path recalls >= 0.5 of the exact cosine top-5. The build
    lands in a per-sf temp dir and is overwritten each invocation, so
    the query is idempotent across driver reruns and data
    regenerations.

    What the driver hash attests that the library tests cannot: the
    whole build -> write -> reload -> prune -> score round-trip
    produces the same ranked neighbors as the in-session path, on the
    driver's own data."""
    import hashlib as _hl
    import tempfile

    from flink_join_scaling_spark.operators.ann_index import (
        ivf_index_build,
        ivf_index_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    # per-process path: a fixed world-readable name would let two
    # concurrent invocations overwrite each other mid-scan (and
    # collide across users on a shared host)
    idx_dir = os.path.join(
        tempfile.gettempdir(),
        "fjss_ivf_index_"
        + _hl.md5(sf_dir.encode()).hexdigest()[:12]
        + f"_{os.getuid()}_{os.getpid()}",
    )
    ivf_index_build(
        e.select("vec_id", "embedding"), idx_dir,
        num_cells=_IVF_CELLS, train=True, mode="overwrite",
    )
    exact = sim.cosine_topk(e, q, k=5).select("query_id", "vec_id")
    approx = ivf_index_topk(q, idx_dir, k=5, nprobe=_IVF_NPROBE).select(
        "query_id", "vec_id"
    )
    return _recall_attest(exact, approx)


# ---------------------------------------------------------- multimodal


@query(
    "q_multimodal_meta",
    oracle="""
    SELECT doc_id,
           (['image/png', 'image/jpeg', 'audio/wav', 'video/mp4'])[
               CAST(doc_id % 4 AS INT) + 1] AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS payload_hash
    FROM documents
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary payload + typed metadata columns (schema layer of
    the multimodal plumbing; decode is exercised rows-only below)."""
    d = load_table(spark, sf_dir, "documents")
    p = mm.attach_payload(d, "doc_id", "text")
    return p.select(
        "doc_id",
        "media_type",
        "n_bytes",
        F.sha2(F.col("payload"), 256).alias("payload_hash"),
    )


#: documents.text is pure printable ASCII (verified across all SFs), so
#: payload bytes == ascii codes and the deterministic fake decoder is
#: exactly reproducible in SQL — the Python mapInPandas path gets a
#: real value-level oracle, not just a rows-only check.
_MM_N = "octet_length(encode(text))"
_MM_BYTESUM = (
    f"coalesce(list_sum(list_transform(range(1, least({_MM_N}, 64) + 1), "
    "i -> ascii(substr(text, CAST(i AS INT), 1)))), 0)"
)


@query(
    "q_multimodal_features",
    oracle=f"""
    WITH m AS (SELECT doc_id, text, {_MM_N} AS n FROM documents)
    SELECT doc_id,
           (['image/png', 'image/jpeg', 'audio/wav', 'video/mp4'])[
               CAST(doc_id % 4 AS INT) + 1] AS media_type,
           CAST(n AS BIGINT) AS n_bytes,
           CAST(CASE WHEN n >= 2
                     THEN ascii(substr(text, 1, 1)) * 256 + ascii(substr(text, 2, 1))
                     ELSE 0 END AS INT) AS payload_sha,
           CAST(16 + n % 640 AS INT) AS width,
           CAST(16 + (n * 7) % 480 AS INT) AS height,
           CAST(1 + n % 3 AS INT) AS n_channels,
           round(CASE WHEN n = 0 THEN 0.0
                      ELSE {_MM_BYTESUM} / CAST(greatest(least(n, 64), 1) AS DOUBLE)
                 END, 4) AS mean_byte
    FROM m
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode/feature-extraction over binary payloads
    (deterministic fake decoder — real codecs are stubbed). The fake
    decoder is byte arithmetic, so even this Python path is
    value-checked against a SQL oracle (payload bytes ≡ ascii codes
    on the all-ASCII fixture corpus)."""
    d = load_table(spark, sf_dir, "documents")
    return mm.decode_media(mm.attach_payload(d, "doc_id", "text"), decoder="fake")


@query(
    "q_multimodal_frames",
    oracle=f"""
    WITH m AS (SELECT doc_id, {_MM_N} AS n FROM documents
               WHERE CAST(doc_id % 4 AS INT) = 3)
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_bytes,
           CAST(unnest(range(0, least(greatest(n // 1024, 1), 8))) AS INT)
               AS frame_idx,
           CAST(unnest(range(0, least(greatest(n // 1024, 1), 8))) * 1024 AS BIGINT)
               AS byte_offset
    FROM m
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: sampled frame index rows (frame
    positions are declarative Spark expressions — oracle-checked)."""
    d = load_table(spark, sf_dir, "documents")
    return mm.frame_sample(mm.attach_payload(d, "doc_id", "text"))


@query(
    "q_multimodal_frames_real",
    oracle="""
    WITH d AS (SELECT doc_id, CAST(2 + doc_id % 3 AS INT) AS n_frames
               FROM documents),
    f AS (
      SELECT doc_id, n_frames,
             CAST(unnest(range(0, CAST(ceil(n_frames / 2.0) AS BIGINT))) * 2
                  AS INT) AS frame_idx
      FROM d
    )
    SELECT doc_id, n_frames, frame_idx,
           CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
           CAST(floor(((7 * doc_id + 13 * frame_idx) % 200 + 3.5)
                      / 255.0 * 10000 + 0.5) AS BIGINT) AS mean_e4
    FROM f
    """,
)
def q_multimodal_frames_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling through a REAL multi-frame container: synthetic
    APNGs (2-4 full-canvas frames, stdlib-encoded — acTL/fcTL/fdAT
    chunks with per-frame zlib streams on the PNG walker) are REALLY
    decoded frame by frame; every 2nd frame is sampled and its real
    per-frame mean emitted as an e4 integer.

    The planted gradient structure (frame f of doc d is
    ``pixel = (7d + 13f) % 200 + x % 8``) makes the whole pipeline
    SQL-expressible: each frame's decoded mean is EXACTLY base + 3.5,
    so the oracle recomputes the sampled frame set from the REAL frame
    count (2 + d % 3) and each sampled frame's statistic from doc_id
    arithmetic. A broken container walk, sequence-number handling,
    per-frame inflate, or unfilter shows up as a value mismatch — the
    q_dedup_phash end-to-end pattern applied to the frame-sampling
    leg, replacing its byte-offset pseudo-frame stand-in.

    Scale shape: one map-only Arrow pass; container bytes never
    shuffle; output rows are five fixed-width columns per SAMPLED
    frame (a bounded fraction of total frames by construction)."""
    d = load_table(spark, sf_dir, "documents")
    anims = mm.attach_synth_apng(d, "doc_id")
    return mm.apng_frame_stats(anims, "doc_id", sample_every=2, max_frames=4)


@query(
    "q_dedup_frames",
    oracle="""
    WITH d AS (SELECT doc_id, CAST(2 + (doc_id // 2) % 3 AS INT) AS n
               FROM documents),
    p AS (SELECT a.doc_id AS da, b.doc_id AS db, a.n
          FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
          WHERE a.doc_id % 2 = 0),
    f AS (SELECT da, db, CAST(unnest(range(0, n)) AS BIGINT) AS fi FROM p)
    SELECT da * 16 + fi AS id_a, db * 16 + fi AS id_b FROM f
    """,
)
def q_dedup_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRAME-level near-dup pairs across animated containers — the
    shape real video dedup takes (fingerprint frames, not files):
    synthetic APNGs with 2-4 md5-random frames keyed by
    (doc_id // 2, frame_idx), odd docs perturbing one pixel per frame,
    are REALLY decoded (chunk walk + per-frame inflate + unfilter);
    every frame is dHashed from the same single container walk, keyed
    by the composite node ``doc_id·16 + frame_idx``, band-joined and
    hamming-verified at ≤ 3.

    Planted structure makes the answer SQL-expressible: each (even,
    odd) doc pair is frame-wise near-duplicate BY CONSTRUCTION (the
    perturbed pixel moves ≤ 1 dHash bit per frame) while frames within
    a doc and across groups are unrelated md5-random images (~32 bits
    apart) — so the oracle states exactly the frame-aligned pair set
    and the Spark side must reproduce it through the REAL container →
    frame decode → fingerprint → band join → verify pipeline.

    Scale shape: decode+hash is ONE materialized map pass per
    container (all frames from one walk; payload bytes never shuffle);
    the band join carries 16-byte (node, hash) rows — the frame
    population is a small multiple of the file population, and
    everything after the decode is hash-sized."""
    d = load_table(spark, sf_dir, "documents")
    anims = mm.attach_synth_apng_group(d, "doc_id")
    # materialize the frame-hash table before the band self-join: both
    # sides read the same rows, and without the pin Catalyst would
    # re-decode every container once PER SIDE (the phash lesson)
    fh = mm.apng_frame_hashes(anims, "doc_id").localCheckpoint(eager=True)
    return dd.hash64_band_pairs(
        fh.select("node", "fhash"), "node", "fhash", max_hamming=3
    ).select("id_a", "id_b")


@query(
    "q_dedup_videos",
    oracle="""
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE NOT (d.doc_id % 2 = 1 AND EXISTS (
        SELECT 1 FROM documents e WHERE e.doc_id = d.doc_id - 1))
    """,
)
def q_dedup_videos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINER-level (video) dedup decided by FRAME-level evidence —
    how production video dedup actually concludes two clips are the
    same: fingerprint frames, count frame-aligned near-dup votes per
    container pair, flag pairs where a majority of frames match, then
    components → min-id keeper → LEFT ANTI over the flagged pairs.

    On the planted fixture every (even, odd) container pair matches on
    ALL aligned frames (each frame perturbs ≤ 1 dHash bit) while
    unrelated containers share no matching frames, so the kept set is
    SQL-expressible (the q_dedup_phash_apply rule) and the whole
    frame-vote → majority → components → election pipeline is
    value-checked through the REAL container decode.

    Scale shape: one materialized decode+hash pass per container;
    votes are a pair-sized aggregation over the 16-byte band-join
    output; the majority join touches only flagged pairs; the corpus
    shuffles once for the anti join."""
    d = load_table(spark, sf_dir, "documents")
    anims = mm.attach_synth_apng_group(d, "doc_id")
    fh = mm.apng_frame_hashes(anims, "doc_id").localCheckpoint(eager=True)
    # frame-aligned votes + SYMMETRIC majority (node = doc·16 + frame;
    # the vote must clear max(n_frames_a, n_frames_b) — advisor r11:
    # gating on doc_a alone deleted the longer video of an unequal
    # pair). Logic + unequal-length test live on the operator.
    flagged = dd.container_majority_pairs(
        fh, "node", "fhash", stride=16, max_hamming=3
    )
    comp, node_bound = dd.connected_components(
        flagged, "doc_a", "doc_b", with_bound=True
    )
    losers = comp.where(F.col("node") != F.col("component_id")).select(
        F.col("node").alias("doc_id")
    )
    return dd.anti_exclude(
        d, losers, "doc_id", "doc_id",
        known_rows_bound=node_bound,
    ).select("doc_id", "lang", "source", "n_chars")


@query(
    "q_dedup_phash",
    headline=True,
    oracle="""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    WHERE a.doc_id % 2 = 0
    """,
)
def q_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash IMAGE near-dup pairs over the real PNG decoder
    — the multimodal→dedup loop: synthetic grayscale PNGs (md5-derived
    pixels keyed by doc_id // 2, odd ids perturbing one pixel) are
    decoded for real (chunk walk + inflate + scanline unfilter),
    dHashed, band-joined, and hamming-verified at ≤ 3.

    The planted structure makes the answer SQL-expressible: each
    (even, odd) consecutive pair is a near-duplicate BY CONSTRUCTION
    (the perturbed pixel feeds one 9×8 grid cell → dHash hamming ≤ 1),
    while distinct groups are unrelated md5-random images (expected
    hamming ~32, so a ≤3 collision is ~1e-11 per pair — deterministic
    per fixture, and verified absent at every shipped SF). The oracle
    states exactly that pair set; the Spark side has to reproduce it
    through the REAL decode → hash → band-join → verify pipeline, so
    this is a value-level end-to-end check of the whole image path,
    not a self-fulfilling replay.

    Scale shape: decode+hash is one map-only Arrow pass (payloads
    never shuffle); the band join carries 16-byte (id, hash) rows —
    see ``operators.dedup.phash_dedup_pairs``."""
    d = load_table(spark, sf_dir, "documents")
    imgs = mm.attach_synth_png(d, "doc_id")
    return dd.phash_dedup_pairs(imgs, "doc_id", "payload", max_hamming=3).select(
        "id_a", "id_b"
    )


@query(
    "q_dedup_phash_jpeg",
    headline=True,
    oracle="""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    WHERE a.doc_id % 2 = 0
    """,
)
def q_dedup_phash_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``q_dedup_phash`` on BASELINE JPEG payloads (r12) — the same
    pHash dedup pipeline, unchanged, running through the real
    from-scratch JPEG codec (``operators/jpeg_codec.py``: Huffman
    entropy decode + dequantize + integer IDCT; fixtures encoded by
    the matching real encoder). Closes the r11 verdict's last codec
    gap with user pull: image dedup now works on the format ~90% of
    crawled images actually use, through ``dhash64``'s magic-byte
    dispatch — no operator or plan change, only a new decoder behind
    the same Arrow map stage.

    The planted structure is quantization-robust BY CONSTRUCTION:
    each dHash grid cell is one constant 8×8 JPEG block (DC-only, so
    the all-ones-quantizer round trip is bit-exact — value-tested),
    odd ids bump block (0,0) → hamming ≤ 1 vs the even sibling,
    unrelated groups ~32. The oracle states that pair set; Spark must
    reproduce it through the real entropy decode.

    Scale shape: identical to ``q_dedup_phash`` — encode+decode+hash
    in one map-only Arrow pass (payload bytes never shuffle), 16-byte
    band-join rows. The pure-Python codec constant is the documented
    swap-libjpeg-here slot."""
    d = load_table(spark, sf_dir, "documents")
    imgs = mm.attach_synth_jpeg(d, "doc_id")
    return dd.phash_dedup_pairs(imgs, "doc_id", "payload", max_hamming=3).select(
        "id_a", "id_b"
    )


@query(
    "q_dedup_phash_mixed",
    oracle="""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    WHERE a.doc_id % 2 = 0
    """,
)
def q_dedup_phash_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pHash dedup over a MIXED-format image corpus (r12): the same
    planted group content encoded as PNG for even ids and baseline
    JPEG for odd ids, so every planted near-duplicate pair STRADDLES
    the two codecs — the crawled-corpus reality where the same image
    is re-hosted in a different format. ``dhash64``'s magic-byte
    dispatch makes one fingerprint column cover both; the band join
    and the whole dedup family run unchanged. Constant DC-only blocks
    round-trip exactly through both codecs (value-tested), so the
    cross-codec pair set equals the same-codec one and the oracle is
    statable.

    Scale shape: identical to ``q_dedup_phash`` / ``q_dedup_phash_jpeg``
    — one map-only Arrow encode+decode+hash pass (payload bytes never
    shuffle), 16-byte band-join rows."""
    d = load_table(spark, sf_dir, "documents")
    imgs = mm.attach_synth_mixed(d, "doc_id")
    return dd.phash_dedup_pairs(imgs, "doc_id", "payload", max_hamming=3).select(
        "id_a", "id_b"
    )


@query(
    "q_dedup_phash_progressive",
    headline=True,
    oracle="""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    WHERE a.doc_id % 2 = 0
    """,
)
def q_dedup_phash_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pHash dedup across the two JPEG ENTROPY CODINGS (r13): the same
    planted textured group image encoded baseline-sequential for even
    ids and PROGRESSIVE (SOF2) for odd ids, so every planted
    near-duplicate pair straddles the codings — the crawled-corpus
    reality the r12 verdict called the largest honest media gap
    (baseline covered only part of the format ~90% of crawled images
    use). The progressive decode is the real thing
    (``operators/jpeg_codec.py``: successive-approximation DC/AC
    first + refinement scans, spectral selection, EOB runs), and the
    fixture's in-block texture pushes real nonzero AC coefficients
    through the refinement path end-to-end, not just in unit tests.

    The oracle is statable for the ``synth_jpeg`` reason: baseline
    and progressive decode the SAME quantized coefficients to
    bit-identical pixels (codec parity suites), and within a pair
    only block (0, 0) differs → dHash hamming ≤ 1 in-pair, ~32
    cross-group.

    Scale shape: identical to ``q_dedup_phash_jpeg`` — one map-only
    Arrow encode+decode+hash pass (payload bytes never shuffle),
    16-byte band-join rows. Progressive decode is the same pure-
    Python entropy constant (~1.5× baseline: multiple passes over
    the coefficient planes), in the same documented swap-libjpeg
    slot."""
    d = load_table(spark, sf_dir, "documents")
    imgs = mm.attach_synth_progressive(d, "doc_id")
    return dd.phash_dedup_pairs(imgs, "doc_id", "payload", max_hamming=3).select(
        "id_a", "id_b"
    )


@query(
    "q_dedup_phash_apply",
    oracle="""
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE NOT (d.doc_id % 2 = 1 AND EXISTS (
        SELECT 1 FROM documents e WHERE e.doc_id = d.doc_id - 1))
    """,
)
def q_dedup_phash_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pHash-deduplicated image corpus: connected components over
    the perceptual near-dup pairs, keep the MIN doc_id per component
    (the winnow-apply keeper rule — a perceptual match says the images
    LOOK the same, so a quality election between members is not
    meaningful), drop the rest via LEFT ANTI against the pair-sized
    loser set. Completes the census→apply symmetry for the image
    family.

    Under the planted fixture structure the kept set is
    SQL-expressible (every odd id with an even sibling loses), so the
    full component→election→anti-join pipeline is value-checked, not
    just row-counted.

    Scale shape: the pair census's map-only decode+hash + band join,
    plus min-label propagation over the PAIR SET only; the corpus
    shuffles once, on its id, against a loser set bounded by the pair
    census."""
    d = load_table(spark, sf_dir, "documents")
    imgs = mm.attach_synth_png(d, "doc_id")
    pairs = dd.phash_dedup_pairs(imgs, "doc_id", "payload", max_hamming=3)
    comp, node_bound = dd.connected_components(
        pairs, "id_a", "id_b", with_bound=True
    )
    losers = comp.where(F.col("node") != F.col("component_id")).select(
        F.col("node").alias("doc_id")
    )
    return dd.anti_exclude(
        d, losers, "doc_id", "doc_id",
        known_rows_bound=node_bound,
    ).select("doc_id", "lang", "source", "n_chars")


@query(
    "q_dedup_audiohash",
    headline=True,
    oracle="""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    WHERE a.doc_id % 2 = 0
    """,
)
def q_dedup_audiohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-envelope AUDIO near-dup pairs over the real WAV decoder
    — the audio leg of the multimodal→dedup loop: synthetic 8-bit PCM
    fixtures (65 md5-derived window levels keyed by doc_id // 2, odd
    ids bumping one level) are REALLY decoded (RIFF walk + PCM
    mixdown), envelope-hashed (64 neighbor-window comparisons — the
    dHash idea on the time axis), band-joined, hamming-verified at
    ≤ 3.

    Same planted-structure argument as ``q_dedup_phash``: the pair set
    is SQL-expressible (consecutive even/odd ids; the bumped window
    moves at most two envelope bits, unrelated groups sit ~32 bits
    apart), so the full decode → hash → band join → verify pipeline is
    value-checked end-to-end. Scale shape: decode+hash is one
    materialized map pass, the join carries 16-byte rows
    (``operators.dedup.audiohash_dedup_pairs``)."""
    d = load_table(spark, sf_dir, "documents")
    auds = mm.attach_synth_wav(d, "doc_id")
    return dd.audiohash_dedup_pairs(auds, "doc_id", "payload", max_hamming=3).select(
        "id_a", "id_b"
    )


@query(
    "q_pipeline_media",
    headline=True,
    oracle="""
    SELECT d.doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
           TRUE AS mean_ok
    FROM documents d
    WHERE NOT (d.doc_id % 2 = 1 AND EXISTS (
        SELECT 1 FROM documents e WHERE e.doc_id = d.doc_id - 1))
    """,
)
def q_pipeline_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media twin of ``q_pipeline_e2e``: decode → resize → pHash
    census → components → keeper → LEFT ANTI, composed in ONE plan
    with a SINGLE decode stage. ``image_pipeline_stage`` decodes each
    image once (one materialized Arrow pass) and emits BOTH legs'
    inputs — the 64-bit dHash for the near-dup census and the resized
    re-encoded PNG + original mean for the resize invariant — so
    composing the r10 operators costs one decode, not three (and the
    band self-join reads the materialized stage, not the decode
    subtree, per the localCheckpoint discipline).

    Under the planted fixture structure the kept set is SQL-
    expressible (every odd id with an even sibling loses — the
    q_dedup_phash_apply rule) and ``mean_ok`` asserts the kept,
    RESIZED images still satisfy the area-average mean-preservation
    invariant through re-decode — so the whole composition is
    value-checked end to end, through the real codec, in one query.

    Scale shape: one decode pass over payload bytes (never shuffled),
    a 16-byte-row band join, min-label components over the pair set
    only, one corpus-sized anti join, and a map-only re-decode of 8×8
    thumbnails. No stage reads the original corpus twice."""
    d = load_table(spark, sf_dir, "documents")
    imgs = mm.attach_synth_png(d, "doc_id")
    stage = mm.image_pipeline_stage(
        imgs, "doc_id", out_w=8, out_h=8
    ).localCheckpoint(eager=True)
    pairs = dd.hash64_band_pairs(
        stage.select("doc_id", "phash"), "doc_id", "phash", max_hamming=3
    )
    comp, node_bound = dd.connected_components(
        pairs, "id_a", "id_b", with_bound=True
    )
    losers = comp.where(F.col("node") != F.col("component_id")).select(
        F.col("node").alias("doc_id")
    )
    # size-adaptive anti (r12, generalizing the r11 broadcast pin):
    # the stage is an ExistingRDD with no stats, so without a hint AQE
    # keeps a SortMergeJoin and the re-encoded payloads cross an
    # exchange just to be filtered — anti_exclude counts the loser set
    # and broadcasts only while it actually fits.
    kept = dd.anti_exclude(
        stage, losers, "doc_id", "doc_id",
        known_rows_bound=node_bound,
    )
    rfeat = mm.png_features(
        kept.select("doc_id", "res_payload"), "doc_id", "res_payload"
    ).select("doc_id", "width", "height", F.col("mean_byte").alias("mean_res"))
    return rfeat.join(kept.select("doc_id", "mean_orig"), "doc_id").select(
        "doc_id",
        "width",
        "height",
        (F.abs(F.col("mean_res") - F.col("mean_orig")) <= 2.0 / 255.0).alias(
            "mean_ok"
        ),
    )


@query(
    "q_dedup_audiohash_apply",
    oracle="""
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE NOT (d.doc_id % 2 = 1 AND EXISTS (
        SELECT 1 FROM documents e WHERE e.doc_id = d.doc_id - 1))
    """,
)
def q_dedup_audiohash_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The envelope-hash-deduplicated AUDIO corpus (r11): connected
    components over the audio near-dup pairs, min-id keeper, LEFT ANTI
    — completing the census→apply symmetry for the audio family the
    way ``q_dedup_phash_apply`` did for images (a perceptual match
    says the clips SOUND the same; no quality election). Kept set is
    SQL-expressible under the planted even/odd fixture structure, so
    the full decode → hash → band join → components → election →
    anti-join pipeline is value-checked through the REAL WAV decoder.

    Scale shape: identical to the image apply — one materialized
    decode+hash pass, pair-set-only component propagation, one
    id-keyed corpus anti join."""
    d = load_table(spark, sf_dir, "documents")
    auds = mm.attach_synth_wav(d, "doc_id")
    pairs = dd.audiohash_dedup_pairs(auds, "doc_id", "payload", max_hamming=3)
    comp, node_bound = dd.connected_components(
        pairs, "id_a", "id_b", with_bound=True
    )
    losers = comp.where(F.col("node") != F.col("component_id")).select(
        F.col("node").alias("doc_id")
    )
    return dd.anti_exclude(
        d, losers, "doc_id", "doc_id",
        known_rows_bound=node_bound,
    ).select("doc_id", "lang", "source", "n_chars")


@query(
    "q_pipeline_audio",
    oracle="""
    SELECT d.doc_id, CAST(2000 AS INT) AS sample_rate,
           CAST(520 AS INT) AS n_frames, TRUE AS mean_ok
    FROM documents d
    WHERE NOT (d.doc_id % 2 = 1 AND EXISTS (
        SELECT 1 FROM documents e WHERE e.doc_id = d.doc_id - 1))
    """,
)
def q_pipeline_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AUDIO pipeline composed end-to-end (r11) — the WAV twin of
    ``q_pipeline_media``: decode → resample → envelope-hash census →
    components → keeper → LEFT ANTI in ONE plan with a SINGLE decode
    stage (``audio_pipeline_stage`` feeds both legs from one decoded
    sample vector, materialized before the band self-join). Kept set
    SQL-expressible under the planted even/odd structure; the kept
    clips' decimated payloads re-decode at 2000 Hz / 520 frames with
    the mean-|amplitude| invariant self-attested. Scale shape: one
    decode pass (payloads never shuffle), 16-byte band rows,
    pair-set components, one corpus anti join, map-only re-decode of
    the decimated clips."""
    d = load_table(spark, sf_dir, "documents")
    auds = mm.attach_synth_wav(d, "doc_id")
    stage = mm.audio_pipeline_stage(auds, "doc_id", factor=4).localCheckpoint(
        eager=True
    )
    pairs = dd.hash64_band_pairs(
        stage.select("doc_id", "audiohash"), "doc_id", "audiohash",
        max_hamming=3,
    )
    comp, node_bound = dd.connected_components(
        pairs, "id_a", "id_b", with_bound=True
    )
    losers = comp.where(F.col("node") != F.col("component_id")).select(
        F.col("node").alias("doc_id")
    )
    # size-adaptive anti (r12, generalizing the r11 broadcast pin):
    # the stage is an ExistingRDD with no stats, so without a hint AQE
    # keeps a SortMergeJoin and the re-encoded payloads cross an
    # exchange just to be filtered — anti_exclude counts the loser set
    # and broadcasts only while it actually fits.
    kept = dd.anti_exclude(
        stage, losers, "doc_id", "doc_id",
        known_rows_bound=node_bound,
    )
    rfeat = mm.wav_features(
        kept.select("doc_id", "res_payload"), "doc_id", "res_payload"
    ).select(
        "doc_id", "sample_rate", "n_frames",
        (F.col("mean_abs") * 128.0).alias("mean_res"),
    )
    return rfeat.join(kept.select("doc_id", "mean_orig"), "doc_id").select(
        "doc_id",
        "sample_rate",
        "n_frames",
        (F.abs(F.col("mean_res") - F.col("mean_orig")) <= 2.0).alias(
            "mean_ok"
        ),
    )


@query(
    "q_audio_resample",
    oracle="""
    SELECT doc_id, CAST(2000 AS INT) AS sample_rate,
           CAST(520 AS INT) AS n_frames, TRUE AS mean_ok
    FROM documents
    """,
)
def q_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio downsample through Spark (r11): synthetic 8 kHz
    8-bit PCM fixtures are decoded, boxcar-decimated ×4, re-ENCODED as
    WAV, then RE-DECODED — emitted rate/frames come from the re-decode
    (2000 Hz, 520 frames from 2080), and ``mean_ok`` asserts the
    resampled clip's mean |amplitude| stays within quantization
    distance (≤ 2/128) of the original's, which block-averaging
    preserves on the constant-level fixture windows BY CONSTRUCTION
    (32-sample windows, factor 4 — no block spans a level boundary).
    The audio twin of ``q_multimodal_resize``: the self-attesting
    invariant pattern applied to the resample stage, completing
    decode/feature/resample parity between the image and audio
    families.

    Scale shape: two map-only Arrow passes joined on the id — payload
    bytes never shuffle; the join carries fixed-width feature rows."""
    d = load_table(spark, sf_dir, "documents")
    auds = mm.attach_synth_wav(d, "doc_id")
    orig = mm.wav_features(auds, "doc_id").select(
        "doc_id", F.col("mean_abs").alias("mean_orig")
    )
    res = mm.resample_audio(auds, "doc_id", factor=4)
    rfeat = mm.wav_features(res, "doc_id").select(
        "doc_id", "sample_rate", "n_frames",
        F.col("mean_abs").alias("mean_res"),
    )
    return orig.join(rfeat, "doc_id").select(
        "doc_id",
        "sample_rate",
        "n_frames",
        (F.abs(F.col("mean_res") - F.col("mean_orig")) <= 2.0 / 128.0).alias(
            "mean_ok"
        ),
    )


@query(
    "q_multimodal_resize",
    oracle="""
    SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
           TRUE AS mean_ok
    FROM documents
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize through Spark: synthetic 16×16 PNGs are
    decoded, area-average downsampled to 8×8, re-ENCODED as PNG
    (stdlib zlib, filter-0 scanlines), then RE-DECODED — the emitted
    width/height come from the re-decode, and ``mean_ok`` asserts the
    resized image's mean sample stays within rounding distance
    (≤ 2/255 normalized) of the original's, which area-averaging
    preserves by construction. A broken resize, encoder, or decoder
    either raises (decode is loud) or misses the invariant — the
    oracle states the only acceptable outcome, so this is the
    self-attesting pattern of the recall queries applied to the
    resize stage of the decode/feature/resize/frame-sample quartet.

    Scale shape: two map-only Arrow passes (resize+re-decode, feature
    probe) joined on the id — payload bytes never shuffle; the join
    carries fixed-width feature rows."""
    d = load_table(spark, sf_dir, "documents")
    imgs = mm.attach_synth_png(d, "doc_id")
    orig = mm.png_features(imgs, "doc_id").select(
        "doc_id", F.col("mean_byte").alias("mean_orig")
    )
    resized = mm.resize_images(imgs, "doc_id", out_w=8, out_h=8)
    rfeat = mm.png_features(resized, "doc_id").select(
        "doc_id", "width", "height", F.col("mean_byte").alias("mean_res")
    )
    return orig.join(rfeat, "doc_id").select(
        "doc_id",
        "width",
        "height",
        (F.abs(F.col("mean_res") - F.col("mean_orig")) <= 2.0 / 255.0).alias(
            "mean_ok"
        ),
    )


# ----------------------------------------- decontamination + PII


@query(
    "q_decontaminate",
    headline=True,
    oracle=f"""
    WITH {_SHINGLE_CTE},
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
    corp AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 50 != 0)
    SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM corp c JOIN bench b ON c.shingle = b.shingle
    GROUP BY 1
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing ≥1 word
    trigram with the held-out 'benchmark' slice (doc_id % 50 == 0),
    with the count of distinct contaminated shingles. The benchmark
    shingle set broadcasts; the corpus never shuffles until the
    output-sized hit count."""
    d = load_table(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 50 == 0)
    corp = d.where(F.col("doc_id") % 50 != 0)
    return dd.ngram_contamination(corp, bench, "doc_id", "text", shingle_n=3)


_SEMDECON_T_E6 = 300_000


@query(
    "q_decontaminate_semantic",
    oracle=f"""
    WITH n AS (SELECT vec_id, embedding, {_NORM_SQL} AS nrm FROM embeddings),
    bench AS (SELECT * FROM n WHERE vec_id % 50 = 0),
    corp AS (SELECT * FROM n WHERE vec_id % 50 != 0),
    mx AS (
        SELECT c.vec_id,
               max(CAST(round({_dot_sql('c.embedding', 'b.embedding')}
                              / (c.nrm * b.nrm) * 1000000) AS BIGINT))
                   AS max_bench_cos_e6
        FROM corp c, bench b
        GROUP BY c.vec_id
    )
    SELECT vec_id, max_bench_cos_e6,
           (max_bench_cos_e6 >= {_SEMDECON_T_E6}) AS contaminated
    FROM mx
    """,
)
def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC benchmark decontamination: per corpus vector, the max
    e6 cosine against the held-out benchmark slice (vec_id % 50 == 0,
    the q_decontaminate convention) and the contamination flag at
    0.30 — the embedding-space complement to the n-gram family
    (paraphrased or reformatted test items share no shingles but sit
    next to the benchmark in embedding space; the screening modern
    data reports run alongside lexical decontamination).

    Scale shape: the benchmark is bounded BY DEFINITION (an eval set;
    the operator refuses loudly past 65536 rows), collects once into
    a task-closure NumPy matrix, and the corpus streams through ONE
    Arrow mapInPandas matmul-max — map-only, zero shuffle, no join
    node at all (the stream_decontaminate closure discipline applied
    to vectors). Quantize-then-max == max-then-quantize (round is
    nondecreasing), so the oracle's pairwise form matches exactly."""
    e = load_table(spark, sf_dir, "embeddings")
    bench = e.where(F.col("vec_id") % 50 == 0)
    corp = e.where(F.col("vec_id") % 50 != 0)
    return sim.semantic_contamination(
        corp, bench, threshold_e6=_SEMDECON_T_E6
    )


def _pii_oracle() -> str:
    # generated from the SAME pattern table as the Spark expressions —
    # the two engines cannot drift
    cnt = " + ".join(
        f"length(regexp_extract_all(text, '{p}'))"
        for p in tx.PII_PATTERNS.values()
    )
    red = "text"
    for kind, p in tx.PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{p}', '<PII:{kind}>', 'g')"
    return f"""
    SELECT doc_id, CAST({cnt} AS BIGINT) AS n_pii, {red} AS text_redacted
    FROM documents
    """


@query("q_pii_redact", oracle=_pii_oracle(), headline=True)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact email/phone/IPv4 matches per
    document (patterns restricted to the Java-regex ∩ RE2 subset so
    the DuckDB oracle applies the identical rules). Narrow map-only
    plan — regexp runs inside whole-stage codegen, no shuffle."""
    from flink_join_scaling_spark.partitioning import widen_if_narrow

    d = load_table(spark, sf_dir, "documents")
    # widen: the regex count+redact maps otherwise run on the scan's
    # single bench-scale split (r17 sweep: the whole query was one
    # 0.5 s task; no-op at real scale)
    return widen_if_narrow(d.select("doc_id", "text")).select(
        "doc_id",
        tx.pii_count(F.col("text")).alias("n_pii"),
        tx.redact_pii(F.col("text")).alias("text_redacted"),
    )


@query(
    "q_decontaminate_apply",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
    hits AS (SELECT DISTINCT s.doc_id FROM sh s JOIN bench b
             ON s.shingle = b.shingle WHERE s.doc_id % 50 != 0)
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id % 50 != 0
      AND d.doc_id NOT IN (SELECT doc_id FROM hits)
    """,
)
def q_decontaminate_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontaminated corpus itself: every non-benchmark document
    with zero benchmark-shingle overlap (LEFT ANTI against the
    hit-sized flagged set — the corpus shuffles once, on its id)."""
    d = load_table(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 50 == 0)
    corp = d.where(F.col("doc_id") % 50 != 0)
    hits = dd.ngram_contamination(corp, bench, "doc_id", "text", shingle_n=3)
    # no known_rows_bound on purpose: contamination hits scale with
    # the CORPUS' contamination rate, not the benchmark size (one hot
    # benchmark shingle can flag millions of docs), so there is no
    # honest proven bound — anti_exclude's pin-and-count IS the
    # size-adaptive decision here, ~1 job of scheduling at test scale
    return dd.anti_exclude(
        corp.select("doc_id", "lang", "source", "n_chars"),
        hits.select("doc_id"), "doc_id", "doc_id",
    )


#: fuzzy-decontamination benchmark slice: wider than the exact path's
#: %50 so near-dup crossings exist at test scale; Jaccard gate 0.5
_FUZZY_BENCH_MOD = 10


def _fuzzy_decontam_oracle() -> str:
    """Bipartite MinHash chain: corpus-vs-benchmark candidates by
    band equi-join, candidate-first exact-Jaccard verify, per-doc
    argmax — the SQL twin of ``dedup.fuzzy_contamination``."""
    sig_cols = ", ".join(
        "min(substr(md5({src}), {off}, 8)) AS h{k}".format(
            src="shingle" if k < 4 else "'#' || shingle",
            off=1 + 8 * (k % 4),
            k=k,
        )
        for k in range(_MINHASH_K)
    )
    n_bands = _MINHASH_K // _MINHASH_BAND
    sep = " || '|' || "

    def band_selects(src: str, idc: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {idc}, {b} AS band_idx, "
            f"md5({sep.join(f'h{k}' for k in range(b * _MINHASH_BAND, (b + 1) * _MINHASH_BAND))})"
            f" AS band_hash FROM {src}"
            for b in range(n_bands)
        )

    return f"""
    WITH {_SHINGLE_CTE},
    shc AS (SELECT doc_id, shingle FROM sh WHERE doc_id % {_FUZZY_BENCH_MOD} != 0),
    shb AS (SELECT doc_id AS bench_id, shingle FROM sh
            WHERE doc_id % {_FUZZY_BENCH_MOD} = 0),
    sigc AS (SELECT doc_id, {sig_cols}, count(*) AS n_a FROM shc GROUP BY doc_id),
    sigb AS (SELECT bench_id, {sig_cols}, count(*) AS n_b FROM shb GROUP BY bench_id),
    bandc AS ({band_selects("sigc", "doc_id")}),
    bandb AS ({band_selects("sigb", "bench_id")}),
    cand AS (
        SELECT DISTINCT a.doc_id, b.bench_id
        FROM bandc a JOIN bandb b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
    ),
    inter AS (
        SELECT c.doc_id, c.bench_id, count(*) AS n_inter
        FROM cand c
        JOIN shc a ON a.doc_id = c.doc_id
        JOIN shb b ON b.bench_id = c.bench_id AND b.shingle = a.shingle
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT i.doc_id, i.bench_id,
               round(n_inter / (sa.n_a + sb.n_b - n_inter), 6) AS jaccard
        FROM inter i
        JOIN sigc sa ON sa.doc_id = i.doc_id
        JOIN sigb sb ON sb.bench_id = i.bench_id
        WHERE round(n_inter / (sa.n_a + sb.n_b - n_inter), 6) >= 0.5
    )
    SELECT doc_id, bench_id, CAST(round(jaccard * 1000000) AS BIGINT) AS jaccard_e6
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY jaccard DESC, bench_id ASC) AS rk
        FROM scored
    ) WHERE rk = 1
    """


@query(
    "q_decontaminate_fuzzy",
    oracle=_fuzzy_decontam_oracle(),
)
def q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate benchmark decontamination: corpus docs whose
    shingle-Jaccard vs some benchmark doc (doc_id % 10 == 0 slice)
    reaches 0.5, each with its highest-Jaccard benchmark match —
    catches the paraphrased/lightly-edited leaks the exact n-gram
    check (q_decontaminate) can't see. Bipartite MinHash: benchmark
    band table broadcasts, corpus streams map-side, exact verify only
    on candidate pairs."""
    d = load_table(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % _FUZZY_BENCH_MOD == 0)
    corp = d.where(F.col("doc_id") % _FUZZY_BENCH_MOD != 0)
    hits = dd.fuzzy_contamination(
        corp, bench, "doc_id", "text",
        num_hashes=_MINHASH_K, band_size=_MINHASH_BAND, threshold=0.5,
    )
    return hits.select(
        "doc_id",
        "bench_id",
        F.round(F.col("jaccard") * 1000000.0).cast("bigint").alias("jaccard_e6"),
    )


@query(
    "q_dedup_weights",
    oracle=f"""
    WITH RECURSIVE {_minhash_ctes()},
    {_EDGES_REACH_CTES},
    csize AS (
        SELECT component_id, CAST(count(*) AS BIGINT) AS n_dups
        FROM comp GROUP BY component_id
    ),
    per_doc AS (
        SELECT c.node AS doc_id, s.n_dups
        FROM comp c JOIN csize s ON s.component_id = c.component_id
    )
    SELECT d.doc_id,
           coalesce(p.n_dups, CAST(1 AS BIGINT)) AS n_dups,
           CAST(round(1000000.0 / coalesce(p.n_dups, 1)) AS BIGINT) AS weight_e6
    FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    """,
)
def q_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-aware loss weighting (soft dedup): instead of
    dropping near-duplicates, weight every document by 1/|its
    duplicate family| so each family contributes one document's worth
    of loss — the down-weighting alternative to q_dedup_apply's hard
    drop. Uniques keep weight 1.

    Scale shape: component labels come from the pair-set-sized CC
    (the q_dedup_components algebra); family sizes are a
    component-keyed count; the corpus joins the doc-sized label table
    once on its id, map-side broadcastable when the flagged set is
    small."""
    d = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_dedup_pairs(
        d, "doc_id", "text",
        num_hashes=_MINHASH_K, band_size=_MINHASH_BAND, threshold=0.5,
    ).select("id_a", "id_b")
    comp = dd.connected_components(pairs)
    sizes = comp.groupBy("component_id").agg(
        F.count("*").cast("bigint").alias("n_dups")
    )
    per_doc = comp.join(sizes, "component_id").select(
        F.col("node").alias("doc_id"), "n_dups"
    )
    return d.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_dups"), F.lit(1).cast("bigint")).alias("n_dups"),
        F.round(
            1000000.0 / F.coalesce(F.col("n_dups"), F.lit(1))
        ).cast("bigint").alias("weight_e6"),
    )


_MIX_BUDGET_TOKENS = 600


@query(
    "q_mixture_budget",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source,
               CAST(len(string_split({_NORM}, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ),
    cum AS (
        SELECT doc_id, source, n_tok,
               CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
        FROM tok
    )
    SELECT doc_id, source, n_tok, cum_tok FROM cum
    WHERE cum_tok <= {_MIX_BUDGET_TOKENS}
    """,
    headline=True,
)
def q_mixture_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture curation: per source, keep documents (in stable
    doc_id order) until a per-source token budget is filled — the
    mixture-weighting stage that caps each source's contribution.
    One window partitioned by source (sources parallelize; the prefix
    sum is per-partition), no global sort."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tok = d.select(
        "doc_id", "source", tx.n_tokens_ws(F.col("text")).alias("n_tok")
    )
    return (
        tok.withColumn("cum_tok", F.sum("n_tok").over(w))
        .where(F.col("cum_tok") <= _MIX_BUDGET_TOKENS)
    )


# --------------------------------------------- C4-style line-level dedup


@query(
    "q_dedup_lines",
    headline=True,
    oracle=f"""
    WITH {_TOKS_CTE},
    segs0 AS (
        SELECT doc_id,
               unnest(range(CAST(ceil(len(ws) / 3.0) AS BIGINT))) AS i,
               ws
        FROM toks
    ),
    segs AS (
        SELECT doc_id, i AS seg_idx,
               array_to_string(list_slice(ws, i * 3 + 1, i * 3 + 3), ' ') AS seg
        FROM segs0
    ),
    segdf AS (
        SELECT seg, CAST(count(DISTINCT doc_id) AS BIGINT) AS seg_df
        FROM segs GROUP BY seg
    ),
    kept AS (
        SELECT s.doc_id, s.seg_idx, s.seg, d.seg_df
        FROM segs s JOIN segdf d USING (seg)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN seg_df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
           coalesce(string_agg(CASE WHEN seg_df < 2 THEN seg END,
                               ' ' ORDER BY seg_idx), '') AS clean_text
    FROM kept
    GROUP BY doc_id
    """,
)
def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document line deduplication: drop any "line"
    occurring in >= 2 distinct documents, keeping per-doc counts and
    the reassembled clean text. (C4 removed any three-sentence-window
    line that appeared more than once in the corpus; this synthetic
    corpus has no newlines, so the line unit is a non-overlapping
    3-token segment — the removal rule is C4's verbatim.)

    Scale shape (the 100 TB path): three linear shuffles, all keyed —
    (1) segment-keyed distinct-doc count with map-side partial dedup
    (hot segments collapse early, exactly the vocab_df shape); (2) the
    segment->df join back onto the exploded segments (big-big equi-join
    on the segment key — co-partitioned with (1), AQE reuses the
    exchange); (3) doc-keyed reassembly whose state is bounded by
    document length, never corpus size. No driver-side text ever
    materializes.
    """
    d = load_table(spark, sf_dir, "documents")
    from flink_join_scaling_spark.partitioning import widen_if_narrow

    segs = (
        widen_if_narrow(d.select("doc_id", "text"))
        .select("doc_id", tx.tokens_ws(F.col("text")).alias("toks"))
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
    kept = segs.join(segdf, "seg")
    one = F.lit(1).cast("bigint")
    zero = F.lit(0).cast("bigint")
    return kept.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.when(F.col("seg_df") >= 2, one).otherwise(zero)).alias("n_removed"),
        F.coalesce(
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
            ),
            F.lit(""),
        ).alias("clean_text"),
    )


_SPAN_GRAM_LEN = 8


@query(
    "q_dedup_spans",
    headline=True,
    oracle=f"""
    WITH {_TOKS_CTE},
    tk AS (SELECT doc_id, ws AS t, CAST(len(ws) AS BIGINT) AS n_tokens
           FROM toks),
    idx AS (
        SELECT doc_id, t,
               unnest(range(1, len(t) - {_SPAN_GRAM_LEN} + 2)) AS i
        FROM tk WHERE len(t) >= {_SPAN_GRAM_LEN}
    ),
    grams AS (
        SELECT doc_id, i - 1 AS pos,
               CAST(concat('0x', substr(md5(array_to_string(
                   t[i:i+{_SPAN_GRAM_LEN - 1}], ' ')), 1, 15)) AS BIGINT) AS g
        FROM idx
    ),
    dfq AS (SELECT g FROM grams GROUP BY g
            HAVING count(DISTINCT doc_id) >= 2),
    cov AS (
        SELECT DISTINCT doc_id,
               pos + unnest(range(0, {_SPAN_GRAM_LEN})) AS p
        FROM grams JOIN dfq USING (g)
    ),
    isl AS (
        SELECT doc_id, p,
               p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
        FROM cov
    ),
    agg AS (SELECT doc_id, count(*) AS ndt, count(DISTINCT grp) AS nds
            FROM isl GROUP BY doc_id)
    SELECT tk.doc_id, tk.n_tokens,
           CAST(coalesce(agg.ndt, 0) AS BIGINT) AS n_dup_tokens,
           CAST(coalesce(agg.nds, 0) AS BIGINT) AS n_dup_spans
    FROM tk LEFT JOIN agg USING (doc_id)
    """,
)
def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span census over the corpus: per document, how
    many token positions (and how many maximal contiguous runs) fall
    inside an 8-token gram shared with another document — the
    substring-dedup signal of Lee et al. 2022, catching boilerplate
    and license blocks that whole-document and near-dup detectors
    miss. See :func:`operators.dedup.duplicated_spans` for the
    three-linear-shuffle scale shape (digest-keyed frequency + join
    back + doc-keyed islands; nothing pairwise)."""
    d = load_table(spark, sf_dir, "documents")
    return dd.duplicated_spans(d, "doc_id", "text", gram_len=_SPAN_GRAM_LEN)


@query(
    "q_dedup_spans_apply",
    oracle=f"""
    WITH {_TOKS_CTE},
    tk AS (SELECT doc_id, ws AS t, CAST(len(ws) AS BIGINT) AS n_tokens
           FROM toks),
    idx AS (
        SELECT doc_id, t,
               unnest(range(1, len(t) - {_SPAN_GRAM_LEN} + 2)) AS i
        FROM tk WHERE len(t) >= {_SPAN_GRAM_LEN}
    ),
    grams AS (
        SELECT doc_id, i - 1 AS pos,
               CAST(concat('0x', substr(md5(array_to_string(
                   t[i:i+{_SPAN_GRAM_LEN - 1}], ' ')), 1, 15)) AS BIGINT) AS g
        FROM idx
    ),
    dfq AS (SELECT g FROM grams GROUP BY g
            HAVING count(DISTINCT doc_id) >= 2),
    cov AS (
        SELECT DISTINCT doc_id,
               pos + unnest(range(0, {_SPAN_GRAM_LEN})) AS p
        FROM grams JOIN dfq USING (g)
    ),
    kept AS (
        SELECT w.doc_id, w.i, w.w
        FROM words w
        WHERE NOT EXISTS (SELECT 1 FROM cov c
                          WHERE c.doc_id = w.doc_id AND c.p + 1 = w.i)
    ),
    clean AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
               string_agg(w, ' ' ORDER BY i) AS clean_text
        FROM kept GROUP BY doc_id
    )
    SELECT tk.doc_id, tk.n_tokens,
           CAST(coalesce(clean.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(clean.clean_text, '') AS clean_text
    FROM tk LEFT JOIN clean USING (doc_id)
    """,
)
def q_dedup_spans_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The span-CLIPPED corpus — Lee et al. 2022's removal step:
    duplicated 8-gram runs are deleted from each document and the
    survivors rejoined in order (fully-covered documents stay as
    empty-text rows for downstream length filters to judge). Pairs
    with q_dedup_spans exactly as the family's other apply variants
    pair with their censuses."""
    d = load_table(spark, sf_dir, "documents")
    return dd.duplicated_spans_apply(d, "doc_id", "text", gram_len=_SPAN_GRAM_LEN)


# ------------------------------------------ int8 embedding quantization


@query(
    "q_quantize_embeddings",
    headline=True,
    oracle="""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               list_max(list_transform(embedding,
                                       x -> abs(CAST(x AS DOUBLE)))) AS amax
        FROM embeddings
    ), qq AS (
        SELECT vec_id, v, amax,
               CASE WHEN amax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                    ELSE list_transform(v, x -> CAST(round(x * 127 / amax) AS BIGINT))
               END AS qv
        FROM q
    )
    SELECT vec_id,
           round(amax, 6) AS amax,
           CAST(list_sum(qv) AS BIGINT) AS qsum,
           CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS qnorm2,
           CAST(round(list_reduce(
                     list_transform(list_zip(v, qv),
                         p -> (CAST(p[1] AS DOUBLE)
                               - CAST(p[2] AS DOUBLE) * amax / 127)
                              * (CAST(p[1] AS DOUBLE)
                                 - CAST(p[2] AS DOUBLE) * amax / 127)),
                     (a, b) -> a + b) * 1e9) AS BIGINT) AS recon_err2_e9
    FROM qq
    """,
)
def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization of the embedding column — the
    storage/bandwidth path for ANN at scale (a 64-dim float32 vector
    becomes 64 bytes + one scale; 4x smaller, SIMD-friendly). Per
    vector: scale = amax/127, q_i = round(x_i * 127 / amax) ∈
    [-127, 127], plus the reconstruction error the recall budget needs.

    Comparability: qsum/qnorm2 are EXACT integer attestations of every
    quantized element (associative sums of bigints). The
    reconstruction error is transcendental-free but accumulation-order
    sensitive, so both engines fold the squared residuals strictly
    left-to-right in ARRAY order (Spark ``aggregate`` ≡ DuckDB
    ``list_reduce``) — bit-identical doubles — then emit
    ``round(err * 1e9)`` as a BIGINT: decimal ``round(x, 9)`` itself
    diverges between engines (Spark's exact BigDecimal HALF_UP vs
    DuckDB's float-path rounding flip adjacent 1e-9 steps on ~1e-5
    magnitudes — measured, 272/500 rows), while scale-then-round of
    the same double is one shared float product.

    Scale shape: map-only (zero shuffles) — the quantizer runs where
    the vectors live, which is the point at 100 TB.
    """
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    qv = F.when(
        F.col("amax") == 0.0,
        F.transform(F.col("v"), lambda x: F.lit(0).cast("bigint")),
    ).otherwise(
        F.transform(
            F.col("v"),
            lambda x: F.round(x * 127 / F.col("amax")).cast("bigint"),
        )
    )
    def _sq_resid(x, q):
        d = x - q.cast("double") * F.col("amax") / 127
        return d * d

    err = F.aggregate(
        F.zip_with(F.col("v"), F.col("qv"), _sq_resid),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return (
        e.select("vec_id", v.alias("v"), amax.alias("amax"))
        .withColumn("qv", qv)
        # the error column materializes BEFORE the projection that
        # re-aliases round(amax, 6) to "amax": Spark's implicit lateral
        # column alias resolution would otherwise bind the err
        # expression's amax reference to the ROUNDED alias in the same
        # select list, skewing residuals by ~1e-9 (found the hard way)
        .withColumn("recon_err2_e9", F.round(err * 1e9).cast("bigint"))
        .select(
            "vec_id",
            F.round(F.col("amax"), 6).alias("amax"),
            F.aggregate(
                F.col("qv"), F.lit(0).cast("bigint"), lambda a, b: a + b
            ).alias("qsum"),
            F.aggregate(
                F.transform(F.col("qv"), lambda x: x * x),
                F.lit(0).cast("bigint"),
                lambda a, b: a + b,
            ).alias("qnorm2"),
            "recon_err2_e9",
        )
    )


# ------------------------------------------ semantic outlier detection


@query(
    "q_embed_outliers",
    oracle="""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    ex AS (
        SELECT label, unnest(v) AS val, generate_subscripts(v, 1) AS pos
        FROM e
    ),
    cm AS (
        SELECT label, pos, CAST(round(avg(val) * 10000) AS BIGINT) AS c_e4
        FROM ex GROUP BY 1, 2
    ),
    cl AS (
        SELECT label, list(CAST(c_e4 AS DOUBLE) ORDER BY pos) AS c
        FROM cm GROUP BY label
    ),
    scored AS (
        SELECT e.vec_id, e.label,
               list_reduce(list_transform(list_zip(e.v, cl.c),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
                   (a, b) -> a + b) AS dot,
               sqrt(list_reduce(list_transform(e.v, x -> x * x),
                                (a, b) -> a + b)) AS nv,
               sqrt(list_reduce(list_transform(cl.c, x -> x * x),
                                (a, b) -> a + b)) AS nc
        FROM e JOIN cl USING (label)
    )
    SELECT vec_id, CAST(label AS BIGINT) AS label,
           round(dot / (nv * nc), 6) AS centroid_cos
    FROM scored
    WHERE nv > 0 AND nc > 0
    ORDER BY centroid_cos ASC, vec_id ASC
    LIMIT 20
    """,
)
def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic outlier detection (DataComp-style embedding quality
    gate): score every vector by cosine to ITS OWN label's centroid
    and surface the 20 farthest — off-topic / mislabeled candidates
    for the curation filter. Composes the centroid aggregation
    (q_embed_centroids' algebra) with per-vector scoring.

    Comparability: centroids are quantized to exact e4 integers before
    scoring — the accumulation-order-sensitive step is the label AVG,
    and quantizing it confines that sensitivity to the single
    ``round(avg*1e4)`` boundary (an engine pair disagrees only if a
    dimension mean lands within float-summation noise of an exact .5,
    measure-zero in practice and the same accepted risk class as
    q_embed_centroids' round-4 output). Downstream of the quantized
    centroid everything IS bit-identical by construction: dot and
    norms fold strictly left-to-right in dimension order in both
    engines; the top-20 has a vec_id tiebreak.

    Scale shape: centroid state is labels × dim (output-sized); the
    only corpus-scale stages are the dimension explode feeding the
    centroid agg (map-side partials) and the label equi-join of the
    tiny centroid table back onto vectors (AQE broadcasts it); top-k
    is TakeOrdered, no global sort."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    ex = e.select("label", F.posexplode("v").alias("pos", "val"))
    cm = ex.groupBy("label", "pos").agg(
        F.round(F.avg("val") * 10000).cast("bigint").alias("c_e4")
    )
    cl = cm.groupBy(F.col("label").alias("c_label")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c_e4"))),
            lambda s: s["c_e4"].cast("double"),
        ).alias("c")
    )

    def _fold_sum(arr):
        return F.aggregate(arr, F.lit(0.0), lambda a, b: a + b)

    scored = (
        e.join(cl, e["label"] == cl["c_label"])
        .withColumn(
            "dot", _fold_sum(F.zip_with(F.col("v"), F.col("c"), lambda x, y: x * y))
        )
        .withColumn(
            "nv", F.sqrt(_fold_sum(F.transform(F.col("v"), lambda x: x * x)))
        )
        .withColumn(
            "nc", F.sqrt(_fold_sum(F.transform(F.col("c"), lambda x: x * x)))
        )
    )
    return (
        scored.where((F.col("nv") > 0) & (F.col("nc") > 0))
        .select(
            "vec_id",
            F.col("label").cast("bigint").alias("label"),
            F.round(F.col("dot") / (F.col("nv") * F.col("nc")), 6).alias(
                "centroid_cos"
            ),
        )
        .orderBy(F.col("centroid_cos").asc(), F.col("vec_id").asc())
        .limit(20)
    )


def _pagerank_ctes() -> str:
    """Three unrolled PageRank iterations over the symmetrized pair
    graph (r' = 0.15 + 0.85 * fold(r/deg)), as plain CTEs after the
    shared edges/reach/comp chain. The per-node contributions are
    folded in sorted-by-src order — the same deterministic left fold
    the Spark operator uses (seeded 0.0; 0.0 + x == x in IEEE, so the
    chains are identical) — because an unordered sum() accumulates in
    engine/partition-dependent order and can flip a round-6 hash."""
    parts = [
        "dg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src)",
        "r0 AS (SELECT node, 1.0 AS r FROM dg)",
    ]
    for i in range(1, 4):
        prev = f"r{i - 1}"
        parts.append(
            f"""r{i} AS (
        SELECT e.dst AS node, 0.15 + 0.85 * list_reduce(
            list_prepend(0.0, list_transform(
                list_sort(list({{'s': e.src, 'c': {prev}.r / dg.d}})),
                s -> s.c)),
            (a, b) -> a + b) AS r
        FROM edges e JOIN {prev} ON {prev}.node = e.src
                     JOIN dg ON dg.node = e.src
        GROUP BY e.dst)"""
        )
    return ",\n    ".join(parts)


@query(
    "q_dedup_canonical_rank",
    oracle=f"""
    WITH RECURSIVE {_minhash_ctes()},
    {_EDGES_REACH_CTES},
    {_pagerank_ctes()},
    memb AS (
        SELECT c.component_id, c.node, round(r3.r, 6) AS rr
        FROM comp c JOIN r3 ON r3.node = c.node
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY component_id
                                     ORDER BY rr DESC, node ASC) AS rn
        FROM memb
    )
    SELECT component_id,
           max(CASE WHEN rn = 1 THEN node END) AS canonical_id,
           CAST(count(*) AS BIGINT) AS n_members,
           max(rr) AS top_rank
    FROM ranked
    GROUP BY component_id
    ORDER BY component_id
    """,
    headline=True,
)
def q_dedup_canonical_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality-based survivor selection: the canonical document per
    near-dup component is the one with the highest fixed-iteration
    PageRank on the pair graph — web-dedup's "most central version
    wins" policy, an alternative to the quality argmax of
    q_dedup_keep_best (a hub linked to every variant beats a fringe
    member that happens to score well).

    Ranks are rounded BEFORE the argmax so the winner is chosen on
    engine-identical values (mathematically tied symmetric members
    would otherwise be ordered by float noise); ties break to the
    lowest doc id. Every stage after pair generation shuffles the
    pair set only; the pair set is pinned once for both consumers
    (ranks + components)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_dedup_pairs(
        d, "doc_id", "text",
        num_hashes=_MINHASH_K, band_size=_MINHASH_BAND, threshold=0.5,
    ).localCheckpoint(eager=True)
    ranks = dd.pagerank(pairs, assume_pinned=True)
    comp = dd.connected_components(pairs, assume_pinned=True)
    memb = comp.join(ranks, "node").select(
        "component_id", "node", F.round("r", 6).alias("rr")
    )
    return (
        memb.groupBy("component_id")
        .agg(
            F.max_by(
                "node", F.struct(F.col("rr"), (-F.col("node")).alias("negid"))
            ).alias("canonical_id"),
            F.count("*").alias("n_members"),
            F.max("rr").alias("top_rank"),
        )
        .orderBy("component_id")
    )


# ------------------------------------------------- semantic dedup

_SEM_THRESHOLD = 0.35
#: the threshold compare runs on e6-quantized BIGINT cosines (see
#: functions.vectors.cosine_e6_pandas) — integer compares are
#: engine-stable where round-6 doubles carried representation noise
_SEM_THRESHOLD_E6 = round(_SEM_THRESHOLD * 1_000_000)

# shared CTE chain for the SemDeDup family: within-cluster pairs →
# components → e4-centroid member scoring → per-component keeper rank.
# The pair subset (e/n/sp) also feeds q_dedup_ensemble's fused graph.
_SEM_PAIR_CTES = f"""e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, label, v,
               sqrt(list_reduce(list_transform(v, x -> x * x),
                                (a, b) -> a + b)) AS nrm
        FROM e
    ),
    sp AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM n a JOIN n b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE a.nrm > 0 AND b.nrm > 0
          AND CAST(round(list_reduce(list_transform(list_zip(a.v, b.v),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
                        (x, y) -> x + y) / (a.nrm * b.nrm) * 1000000)
                   AS BIGINT)
              >= {_SEM_THRESHOLD_E6}
    )"""

_SEM_CTES = f"""{_SEM_PAIR_CTES},
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM sp
        UNION
        SELECT id_b, id_a FROM sp
    ),
    reach AS (
        SELECT DISTINCT src AS node, src AS r FROM edges
        UNION
        SELECT e2.src, t.r FROM edges e2 JOIN reach t ON t.node = e2.dst
    ),
    comp AS (SELECT node, min(r) AS component_id FROM reach GROUP BY node),
    ex AS (
        SELECT label, unnest(v) AS val, generate_subscripts(v, 1) AS pos
        FROM e
    ),
    cm AS (
        SELECT label, pos, CAST(round(avg(val) * 10000) AS BIGINT) AS c_e4
        FROM ex GROUP BY 1, 2
    ),
    cl AS (
        SELECT label, list(CAST(c_e4 AS DOUBLE) ORDER BY pos) AS c
        FROM cm GROUP BY label
    ),
    memb AS (
        SELECT comp.component_id, comp.node,
               CAST(round(list_reduce(list_transform(list_zip(n.v, cl.c),
                         p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
                         (x, y) -> x + y)
                     / (n.nrm *
                        sqrt(list_reduce(list_transform(cl.c, x -> x * x),
                                         (a, b) -> a + b))) * 1000000)
                    AS BIGINT) AS ccos_e6
        FROM comp JOIN n ON n.vec_id = comp.node
                  JOIN cl ON cl.label = n.label
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY component_id
                                     ORDER BY ccos_e6 ASC, node ASC) AS rn
        FROM memb
    )"""


@query(
    "q_dedup_semantic",
    oracle=f"""
    WITH RECURSIVE {_SEM_CTES}
    SELECT component_id,
           max(CASE WHEN rn = 1 THEN node END) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_members,
           min(ccos_e6) AS keep_centroid_cos_e6
    FROM ranked
    GROUP BY component_id
    """,
    headline=True,
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup by
    cluster-then-prune. Embeddings are bucketed by their cluster
    (the ``label`` coarse assignment — the same role k-means centroids
    play in the paper and in the IVF family here), pairwise cosine runs
    ONLY within a cluster, ≥θ pairs form duplicate components, and each
    component keeps the member FARTHEST from its cluster centroid —
    the argmin of centroid cosine (the paper's low-centroid-similarity
    keep rule, preserving diversity), ties to the lowest vec_id.

    Comparability: pair cosines and centroid cosines are e6-quantized
    BIGINTs (``round(cos * 1e6)`` — q_embed_outliers' integer
    discipline promoted to the pair stage), so every threshold compare,
    argmin key, and exposed value is exact integer math on both
    engines; centroids are e4-quantized before scoring; component ids
    are min-node labels; keeper argmin has a vec_id tiebreak. Exact
    n_members attests the component structure.

    Scale shape: THE SemDeDup scale story — pairwise work is
    Σ cluster², never corpus² (clusters are capacity-bounded by the
    coarse quantizer at 100 TB); components and centroid scoring
    shuffle the pair set and the member set only; centroid state is
    labels × dim. The quadratic stage is confined inside buckets
    exactly like the LSH band family."""
    memb, _ = _semantic_members(spark, sf_dir)
    return memb.groupBy("component_id").agg(
        F.min_by("node", F.struct(F.col("ccos_e6"), F.col("node"))).alias("keep_id"),
        F.count("*").alias("n_members"),
        F.min("ccos_e6").alias("keep_centroid_cos_e6"),
    )


def _semantic_graph(
    spark: SparkSession, sf_dir: str, materialize: bool = True
):
    """(e, n, pairs): doubled vectors, their norms, and the
    within-cluster ≥θ cosine pair set (checkpointed). The pair set is
    the SemDeDup duplicate graph — consumed by _semantic_members and,
    fused with the lexical MinHash pairs, by q_dedup_ensemble.

    ``materialize=False`` returns the UN-pinned pair plan so a caller
    with a second independent pair generator (the ensemble fuse) can
    run both eager checkpoints concurrently — the caller owns the
    pin."""
    from flink_join_scaling_spark.functions.vectors import (
        cosine_e6_pandas,
        with_l2_norm,
    )
    from flink_join_scaling_spark.partitioning import widen_if_narrow

    # widen: the embeddings table scans as one split at bench scale, so
    # without this the ENTIRE within-cluster pairwise-cosine stage (the
    # query's dominant compute) lands on one core of 32 — the broadcast
    # join inherits the probe side's scan partitioning (no-op at scale)
    e = widen_if_narrow(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", "embedding"
        )
    ).select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    n = with_l2_norm(e, "v", "nrm").where(F.col("nrm") > 0)
    a = n.select(
        F.col("vec_id").alias("id_a"),
        F.col("label").alias("la"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = n.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("lb"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    # pair-heavy stage → Arrow/NumPy cosine (cosine_e6_pandas), not the
    # interpreted per-element fold: ~200k within-cluster candidates ×
    # dim-wide dot products is exactly the hot path §4.3 reserves for
    # vectorized batches (measured 2.8 s → sub-second at sf0.1); the
    # e6 BIGINT makes the threshold compare exact integer math
    pairs = (
        a.join(b, (F.col("la") == F.col("lb")) & (F.col("id_a") < F.col("id_b")))
        .withColumn("cos_e6", cosine_e6_pandas("va", "vb", "na", "nb"))
        .where(F.col("cos_e6") >= F.lit(_SEM_THRESHOLD_E6))
        .select("id_a", "id_b")
    )
    if materialize:
        # one materialization feeds the iterative CC consumer — without
        # the pin every CC round would re-run the pairwise join
        pairs = pairs.localCheckpoint(eager=True)
    return e, n, pairs


def _semantic_members(spark: SparkSession, sf_dir: str):
    """Shared SemDeDup core: ``((component_id, node, ccos_e6) frame,
    node_bound)`` — duplicate components over within-cluster ≥θ cosine
    pairs, each member scored by e6-quantized cosine to its
    e4-quantized cluster centroid, plus the components' proven node
    bound (every memb row is a component node, so the bound survives
    the joins below and the apply tail can skip its count job).
    Consumed by q_dedup_semantic (the component report) and
    q_dedup_semantic_apply (the pruned corpus)."""
    from concurrent.futures import ThreadPoolExecutor

    e, n, pairs = _semantic_graph(spark, sf_dir, materialize=False)

    def _fold_sum(arr):
        return F.aggregate(arr, F.lit(0.0), lambda a, b: a + b)

    # centroid over the FULL cluster population (not just members) —
    # the cluster centroid of the paper, e4-quantized for parity
    ex = e.select("label", F.posexplode("v").alias("pos", "val"))
    cm = ex.groupBy("label", "pos").agg(
        F.round(F.avg("val") * 10000).cast("bigint").alias("c_e4")
    )
    cl = (
        cm.groupBy(F.col("label").alias("c_label"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c_e4"))),
                lambda s: s["c_e4"].cast("double"),
            ).alias("c")
        )
        # centroid norm hoisted out of the per-member projection: the
        # sqrt(Σc²) fold is dim-wide interpreted work that was being
        # re-evaluated for EVERY member row (r17 profile: the memb
        # stage's dominant CPU); computed here it runs once per label.
        # Same expression on the same array — identical doubles.
        .select(
            "c_label",
            "c",
            F.sqrt(_fold_sum(F.transform("c", lambda x: x * x))).alias(
                "c_nrm"
            ),
        )
        # pinned so the thread below can materialize it; labels-sized
        # (one row per cluster) at any scale
        .localCheckpoint(eager=False)
    )
    # Overlap the centroid build with the pair-set materialization
    # (guide §2.6, the ensemble trick): the within-cluster pairwise
    # cosine pass (the query's dominant compute) and the centroid
    # aggregation are INDEPENDENT subtrees over the embeddings scan;
    # serial eager pins would run them back to back. The CC rounds
    # that follow consume only the pinned pair set.
    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_pairs = pool.submit(lambda: pairs.localCheckpoint(eager=True))
        fut_cl = pool.submit(cl.count)
        pairs = fut_pairs.result()
        fut_cl.result()
    comp, node_bound = dd.connected_components(
        pairs, with_bound=True, assume_pinned=True
    )
    memb = (
        comp.join(n, comp["node"] == n["vec_id"])
        .join(cl, F.col("label") == F.col("c_label"))
        .withColumn(
            "ccos_e6",
            F.round(
                _fold_sum(F.zip_with("v", "c", lambda x, y: x * y))
                / (F.col("nrm") * F.col("c_nrm"))
                * F.lit(1_000_000.0)
            ).cast("bigint"),
        )
        .select("component_id", "node", "ccos_e6")
    )
    return memb, node_bound


@query(
    "q_dedup_semantic_apply",
    oracle=f"""
    WITH RECURSIVE {_SEM_CTES},
    losers AS (SELECT node FROM ranked WHERE rn > 1)
    SELECT e3.vec_id, CAST(e3.label AS BIGINT) AS label
    FROM embeddings e3
    WHERE e3.vec_id NOT IN (SELECT node FROM losers)
    """,
)
def q_dedup_semantic_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantically pruned corpus itself: every vector except the
    non-keeper members of SemDeDup components — the family's apply
    convention (q_dedup_apply / q_dedup_exact_apply), here on the
    embeddings table. A LEFT ANTI join of the corpus against the
    component-sized loser set; the corpus shuffles once, on its id."""
    memb, node_bound = _semantic_members(spark, sf_dir)
    keep = memb.groupBy("component_id").agg(
        F.min_by("node", F.struct(F.col("ccos_e6"), F.col("node"))).alias("keep_id")
    )
    losers = (
        memb.join(keep, "component_id")
        .where(F.col("node") != F.col("keep_id"))
        .select(F.col("node").alias("vec_id"))
    )
    e = load_table(spark, sf_dir, "embeddings")
    return dd.anti_exclude(
        e, losers, "vec_id", "vec_id", known_rows_bound=node_bound
    ).select("vec_id", F.col("label").cast("bigint").alias("label"))


@query(
    "q_dedup_ensemble",
    oracle=f"""
    WITH RECURSIVE {_minhash_ctes()},
    {_SEM_PAIR_CTES},
    u_edges AS (
        SELECT id_a AS src, id_b AS dst FROM mh_pairs
        UNION SELECT id_b, id_a FROM mh_pairs
        UNION SELECT id_a, id_b FROM sp
        UNION SELECT id_b, id_a FROM sp
    ),
    u_reach AS (
        SELECT DISTINCT src AS node, src AS r FROM u_edges
        UNION
        SELECT ue.src, t.r FROM u_edges ue JOIN u_reach t ON t.node = ue.dst
    ),
    u_comp AS (SELECT node, min(r) AS component_id FROM u_reach GROUP BY node),
    lexp AS (
        SELECT c.component_id, CAST(count(*) AS BIGINT) AS n
        FROM mh_pairs p JOIN u_comp c ON c.node = p.id_a GROUP BY 1
    ),
    semp AS (
        SELECT c.component_id, CAST(count(*) AS BIGINT) AS n
        FROM sp JOIN u_comp c ON c.node = sp.id_a GROUP BY 1
    )
    SELECT c.component_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(coalesce(max(l.n), 0) AS BIGINT) AS n_lex_pairs,
           CAST(coalesce(max(s.n), 0) AS BIGINT) AS n_sem_pairs
    FROM u_comp c
    LEFT JOIN lexp l USING (component_id)
    LEFT JOIN semp s USING (component_id)
    GROUP BY c.component_id
    """,
    headline=True,
)
def q_dedup_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal (ensemble) dedup: the LEXICAL near-dup graph
    (MinHash+LSH banded pairs over document text) and the SEMANTIC
    graph (SemDeDup within-cluster cosine pairs over the 1:1 embedding
    table — vec_id IS doc_id in this schema) are fused into ONE edge
    set before component formation, because production pipelines run
    both detectors and a duplicate family split across signals (A≈B
    lexically, B≈C semantically) must collapse into one group — exactly
    the same non-transitivity argument as q_dedup_components, applied
    across signals. Each component reports how many pairs each signal
    contributed: a component with n_lex_pairs = 0 was invisible to
    MinHash, the measured value of running the ensemble.

    Scale shape: both pair generators keep their own bounded shapes
    (banded equi-join; within-cluster pairwise), the union is
    pair-set-sized, and components shuffle the fused pair set only —
    fusing signals costs one union, never a new corpus pass."""
    d = load_table(spark, sf_dir, "documents")
    # the two pair generators are INDEPENDENT subtrees (text vs
    # embeddings); materialize their checkpoints from two submission
    # threads so the lexical and semantic stages overlap instead of
    # serializing — same pipeline parallelism AQE applies to
    # independent stages inside one plan, here across the two plans
    # (thread-safe: Spark job submission is designed for concurrent
    # driver threads; at real scale the cluster interleaves both
    # stages' tasks)
    from concurrent.futures import ThreadPoolExecutor

    lex_raw = dd.minhash_dedup_pairs(
        d, "doc_id", "text",
        num_hashes=_MINHASH_K, band_size=_MINHASH_BAND, threshold=0.5,
    ).select("id_a", "id_b")
    _e, _n, sem_raw = _semantic_graph(spark, sf_dir, materialize=False)
    with ThreadPoolExecutor(2) as pool:
        lex_f = pool.submit(lambda: lex_raw.localCheckpoint(eager=True))
        sem_f = pool.submit(lambda: sem_raw.localCheckpoint(eager=True))
        lex, sem = lex_f.result(), sem_f.result()
    # raw union: connected_components symmetrizes + distincts its input
    # anyway, so a pre-distinct would only add a redundant shuffle
    fused = lex.unionByName(sem)
    # both legs are pinned; the union is a narrow view over their
    # blocks, so CC can skip its own copy
    comp = dd.connected_components(fused, assume_pinned=True)
    members = comp.groupBy("component_id").agg(F.count("*").alias("n_members"))
    lexp = (
        lex.join(comp, lex["id_a"] == comp["node"])
        .groupBy("component_id")
        .agg(F.count("*").alias("n_lex_pairs"))
    )
    semp = (
        sem.join(comp, sem["id_a"] == comp["node"])
        .groupBy("component_id")
        .agg(F.count("*").alias("n_sem_pairs"))
    )
    return (
        members.join(lexp, "component_id", "left")
        .join(semp, "component_id", "left")
        .select(
            "component_id",
            "n_members",
            F.coalesce("n_lex_pairs", F.lit(0)).alias("n_lex_pairs"),
            F.coalesce("n_sem_pairs", F.lit(0)).alias("n_sem_pairs"),
        )
    )


@query(
    "q_graph_triangles",
    oracle=f"""
    WITH {_minhash_ctes()},
    e AS (SELECT id_a, id_b FROM mh_pairs),
    tri AS (
        SELECT count(*) AS n
        FROM e e1
        JOIN e e2 ON e2.id_a = e1.id_b
        JOIN e e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    ),
    sym AS (
        SELECT id_a AS v FROM e UNION ALL SELECT id_b FROM e
    ),
    deg AS (SELECT v, count(*) AS d FROM sym GROUP BY v),
    wed AS (SELECT sum(d * (d - 1) / 2) AS n FROM deg)
    SELECT CAST(tri.n AS BIGINT) AS n_triangles,
           CAST(wed.n AS BIGINT) AS n_wedges,
           CAST((3 * tri.n * 1000000) // wed.n AS BIGINT)
               AS clustering_e6
    FROM tri, wed
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup pair graph: triangle count,
    wedge (length-2 path) count, and the global clustering coefficient
    3·triangles/wedges as an e6 integer — the structural diagnostic of
    a dedup pair set. True duplicate families are clique-ish (high
    coefficient); banding-collision noise is tree-ish (low), so a
    coefficient drop across crawls flags a banding-quality regression
    before anyone inspects pairs.

    All-exact integers (the coefficient by integer floor-div, no
    float). Triangle join uses the a<b<c orientation so each triangle
    counts once: with edges stored id_a<id_b, the three joins touch
    the PAIR set only (the standard distributed triangle-count shape —
    edge-sized shuffles, never corpus); wedges are one degree agg.
    At 100 TB the pair graph is the orders-smaller derived set, and
    the heaviest key's work is bounded by max-degree², the same
    hot-bucket bound the banding stop-shingle cap enforces upstream."""
    d = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_dedup_pairs(
        d, "doc_id", "text",
        num_hashes=_MINHASH_K, band_size=_MINHASH_BAND, threshold=0.5,
    ).select("id_a", "id_b").localCheckpoint(eager=True)
    e1 = pairs
    e2 = pairs.select(
        F.col("id_a").alias("b2"), F.col("id_b").alias("c2")
    )
    e3 = pairs.select(
        F.col("id_a").alias("a3"), F.col("id_b").alias("c3")
    )
    tri = (
        e1.join(e2, e1["id_b"] == e2["b2"])
        .join(e3, (F.col("id_a") == F.col("a3")) & (F.col("c2") == F.col("c3")))
        .agg(F.count("*").alias("n_tri"))
    )
    sym = pairs.select(F.col("id_a").alias("v")).unionAll(
        pairs.select(F.col("id_b").alias("v"))
    )
    deg = sym.groupBy("v").agg(F.count("*").alias("d"))
    wed = deg.agg(
        F.sum((F.col("d") * (F.col("d") - 1)) / 2).cast("bigint").alias("n_wed")
    )
    return tri.crossJoin(wed).select(
        F.col("n_tri").cast("bigint").alias("n_triangles"),
        F.col("n_wed").cast("bigint").alias("n_wedges"),
        F.floor(3 * F.col("n_tri") * 1000000 / F.col("n_wed"))
        .cast("bigint")
        .alias("clustering_e6"),
    )


@query(
    "q_dedup_ensemble_apply",
    oracle=f"""
    WITH RECURSIVE {_minhash_ctes()},
    {_SEM_PAIR_CTES},
    {_quality_cte()},
    u_edges AS (
        SELECT id_a AS src, id_b AS dst FROM mh_pairs
        UNION SELECT id_b, id_a FROM mh_pairs
        UNION SELECT id_a, id_b FROM sp
        UNION SELECT id_b, id_a FROM sp
    ),
    u_reach AS (
        SELECT DISTINCT src AS node, src AS r FROM u_edges
        UNION
        SELECT ue.src, t.r FROM u_edges ue JOIN u_reach t ON t.node = ue.dst
    ),
    u_comp AS (SELECT node, min(r) AS component_id FROM u_reach GROUP BY node),
    memb AS (
        SELECT c.component_id, c.node, q.quality_raw
        FROM u_comp c JOIN qraw q ON q.doc_id = c.node
    ),
    ranked AS (
        SELECT component_id, node,
               row_number() OVER (PARTITION BY component_id
                                  ORDER BY quality_raw DESC, node ASC) AS rn
        FROM memb
    ),
    losers AS (SELECT node FROM ranked WHERE rn > 1)
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT node FROM losers)
    """,
)
def q_dedup_ensemble_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-signal deduplicated corpus — what a production
    pipeline actually ships: every document except the non-keeper
    members of the FUSED (lexical ∪ semantic) duplicate components,
    keeper = quality argmax with lowest-id tiebreak (the
    q_dedup_apply election over q_dedup_ensemble's graph). Same
    algebra as the single-signal apply: component labels computed
    once, a pair-sized loser list, one LEFT ANTI corpus shuffle; the
    election orders by the raw quality double (q_dedup_apply's
    discipline)."""
    d = load_table(spark, sf_dir, "documents")
    # concurrent materialization of the independent lexical/semantic
    # pair subtrees — see q_dedup_ensemble
    from concurrent.futures import ThreadPoolExecutor

    lex_raw = dd.minhash_dedup_pairs(
        d, "doc_id", "text",
        num_hashes=_MINHASH_K, band_size=_MINHASH_BAND, threshold=0.5,
    ).select("id_a", "id_b")
    _e, _n, sem_raw = _semantic_graph(spark, sf_dir, materialize=False)
    with ThreadPoolExecutor(2) as pool:
        lex_f = pool.submit(lambda: lex_raw.localCheckpoint(eager=True))
        sem_f = pool.submit(lambda: sem_raw.localCheckpoint(eager=True))
        lex, sem = lex_f.result(), sem_f.result()
    fused = lex.unionByName(sem)
    docs = d.select(
        "doc_id", "lang", "source", "n_chars",
        tx.quality_score_raw(F.col("text")).alias("__q"),
    )
    # both pair legs are eager localCheckpoints, so the union is pinned
    return dd.dedup_apply(
        docs, fused, "doc_id", "__q", assume_pinned=True
    ).drop("__q")


# ------------------------------------------- kNN label propagation


_KNN_K = 5
_KNN_HOLDOUT = 20


@query(
    "q_knn_labels",
    oracle=f"""
    WITH n AS (SELECT vec_id, embedding, label, {_NORM_SQL} AS nrm FROM embeddings),
    pairs AS (
        SELECT q.vec_id AS query_id, q.label AS true_label,
               c.vec_id AS vec_id, c.label AS nbr_label,
               CAST(round({_dot_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm)
                          * 1000000) AS BIGINT) AS cosine_e6
        FROM n q JOIN n c
          ON q.vec_id < {_KNN_HOLDOUT} AND c.vec_id >= {_KNN_HOLDOUT}
    ),
    nbrs AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine_e6 DESC, vec_id ASC) AS rk
            FROM pairs
        ) WHERE rk <= {_KNN_K}
    ),
    votes AS (
        SELECT query_id, true_label, nbr_label,
               CAST(count(*) AS BIGINT) AS n_votes
        FROM nbrs GROUP BY query_id, true_label, nbr_label
    )
    SELECT query_id, CAST(true_label AS BIGINT) AS true_label,
           CAST(nbr_label AS BIGINT) AS pred_label, n_votes
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY n_votes DESC, nbr_label ASC) AS vr
        FROM votes
    ) WHERE vr = 1
    """,
)
def q_knn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label propagation: classify each held-out vector (vec_id <
    20 treated as unlabeled) by majority vote of its 5 nearest LABELED
    neighbors under cosine — the semi-supervised labeling step a
    curation pipeline uses to spread a small set of human quality /
    domain labels across the corpus (and, with true_label exposed,
    the standard embedding-quality eval: kNN-accuracy).

    Determinism: neighbor rank orders by (e6-integer cosine DESC,
    vec_id ASC) and the vote by (count DESC, label ASC) — exact
    total orders on both engines. Scale shape: neighbor search is the exact top-k
    broadcast equi-join of cosine_topk (holdout side is the broadcast;
    the labeled corpus streams once, map-side); at production scale
    the same query swaps in ann_ivf/persisted-index search — votes and
    the argmax are holdout-keyed and tiny either way."""
    e = load_table(spark, sf_dir, "embeddings")
    holdout = e.where(F.col("vec_id") < _KNN_HOLDOUT)
    labeled = e.where(F.col("vec_id") >= _KNN_HOLDOUT)
    nbrs = sim.cosine_topk(labeled, holdout, k=_KNN_K).join(
        labeled.select("vec_id", F.col("label").alias("nbr_label")), "vec_id"
    )
    votes = nbrs.groupBy("query_id", "nbr_label").agg(
        F.count("*").cast("bigint").alias("n_votes")
    )
    from pyspark.sql import Window

    vw = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("nbr_label")
    )
    pred = (
        votes.withColumn("vr", F.row_number().over(vw))
        .where(F.col("vr") == 1)
        .select("query_id", F.col("nbr_label").alias("pred_label"), "n_votes")
    )
    return pred.join(
        holdout.select(F.col("vec_id").alias("query_id"), "label"), "query_id"
    ).select(
        "query_id",
        F.col("label").cast("bigint").alias("true_label"),
        F.col("pred_label").cast("bigint").alias("pred_label"),
        "n_votes",
    )


# ------------------------------------------- hard-negative mining


_HN_K = 3


@query(
    "q_hard_negatives",
    oracle=f"""
    WITH n AS (SELECT vec_id, embedding, label, {_NORM_SQL} AS nrm FROM embeddings),
    pairs AS (
        SELECT q.vec_id AS query_id, CAST(q.label AS BIGINT) AS query_label,
               c.vec_id AS vec_id, CAST(c.label AS BIGINT) AS neg_label,
               CAST(round({_dot_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm)
                          * 1000000) AS BIGINT) AS cosine_e6
        FROM n q JOIN n c
          ON q.vec_id < {_KNN_HOLDOUT} AND c.vec_id <> q.vec_id
         AND c.label <> q.label
    )
    SELECT query_id, query_label, vec_id, neg_label, cosine_e6, rank
    FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_e6 DESC, vec_id ASC) AS BIGINT)
            AS rank
        FROM pairs
    ) WHERE rank <= {_HN_K}
    """,
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for each of the 20 holdout
    vectors, the 3 most-similar vectors with a DIFFERENT label — the
    negative-sampling step that turns an embedded corpus into
    contrastive training pairs (highly similar + wrong class = the
    negatives a trainer learns most from).

    Scale shape: identical to q_knn_labels' exact top-k broadcast
    equi-join (query side broadcast, corpus streams once map-side,
    partial top-k before the single ranking exchange); the label
    predicate is applied pre-rank, map-side. The ANN siblings swap in
    unchanged for the search stage at production scale."""
    e = load_table(spark, sf_dir, "embeddings")
    queries_df = e.where(F.col("vec_id") < _KNN_HOLDOUT)
    hn = sim.hard_negatives(e, queries_df, k=_HN_K)
    return hn.select(
        "query_id",
        F.col("query_label").cast("bigint").alias("query_label"),
        "vec_id",
        F.col("neg_label").cast("bigint").alias("neg_label"),
        "cosine_e6",
        "rank",
    )


#: recall-attestation oracle over the EXACT hard-negative pair set
#: (same shape as _RECALL_ORACLE, different reference query)
_HN_RECALL_ORACLE = f"""
    WITH n AS (SELECT vec_id, embedding, label, {_NORM_SQL} AS nrm FROM embeddings),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               CAST(round({_dot_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm)
                          * 1000000) AS BIGINT) AS cosine_e6
        FROM n q JOIN n c
          ON q.vec_id < {_KNN_HOLDOUT} AND c.vec_id <> q.vec_id
         AND c.label <> q.label
    ),
    topk AS (
        SELECT query_id, vec_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine_e6 DESC, vec_id ASC) AS rank
            FROM pairs
        ) WHERE rank <= {_HN_K}
    )
    SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
           CAST(count(*) AS BIGINT) AS n_exact,
           TRUE AS recall_ok
    FROM topk
    """


@query(
    "q_hard_negatives_ann",
    oracle=_HN_RECALL_ORACLE,
)
def q_hard_negatives_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining on the trained IVF index — the PRODUCTION
    search stage for q_hard_negatives (whose exact form is the
    eval/baseline path: honest-linear per query, 10.1× at the 100×
    probe). SELF-ATTESTING like q_sim_ann_ivf_trained: trained
    centroids aren't SQL-expressible, so the query emits the exact
    hard-negative pair stats plus a boolean asserting the ANN-mined
    pairs recall ≥ 0.5 of the exact top-3 mismatched-label neighbors
    (measured 0.80/0.68 at sf0.001/sf0.01 with nprobe=2 of 8 cells).
    The label predicate filters INSIDE the probed cells before ranking
    (filtered ANN search — same-label candidates can never crowd the
    shortlist), and the label rides the cell assignment as a
    mapInPandas pass-through column, so there is no corpus-sized
    join-back between index and attributes."""
    e = load_table(spark, sf_dir, "embeddings")
    queries_df = e.where(F.col("vec_id") < _KNN_HOLDOUT)
    exact = sim.hard_negatives(e, queries_df, k=_HN_K).select(
        "query_id", "vec_id"
    )
    approx = sim.hard_negatives_ann(
        e, queries_df, k=_HN_K,
        num_cells=_IVF_CELLS, nprobe=_IVF_NPROBE, train=True,
    ).select("query_id", "vec_id")
    return _recall_attest(exact, approx)


# ------------------------------------------------ MMR diverse selection

_MMR_POOL = 32  # candidate pool (top-N by relevance) — bounded by construction
_MMR_K = 8  # selections
_MMR_QUERY_ID = 0  # relevance anchor: cosine to this vector


def _mmr_ctes() -> str:
    """Unrolled greedy MMR chain (the q_bpe_train unrolled-CTE
    pattern): cand = the bounded relevance pool with e6 cosines, sims
    = its pairwise e6 cosines, then K rounds of
    argmax(7·rel − 3·maxsim-to-selected) with (score DESC, id ASC)
    tiebreak — λ=0.7 as EXACT integer arithmetic."""
    head = f"""
    n AS (SELECT vec_id, embedding, {_NORM_SQL} AS nrm FROM embeddings),
    qv AS (SELECT embedding, nrm FROM n WHERE vec_id = {_MMR_QUERY_ID}),
    cand AS MATERIALIZED (
        SELECT c.vec_id AS id,
               CAST(round({_dot_sql('qv.embedding', 'c.embedding')}
                          / (qv.nrm * c.nrm) * 1000000) AS BIGINT) AS rel_e6
        FROM n c, qv WHERE c.vec_id <> {_MMR_QUERY_ID}
        ORDER BY rel_e6 DESC, c.vec_id ASC LIMIT {_MMR_POOL}
    ),
    sims AS MATERIALIZED (
        SELECT a.id AS ia, b.id AS ib,
               CAST(round({_dot_sql('na.embedding', 'nb.embedding')}
                          / (na.nrm * nb.nrm) * 1000000) AS BIGINT) AS sim_e6
        FROM cand a JOIN n na ON na.vec_id = a.id
        JOIN cand b ON a.id <> b.id JOIN n nb ON nb.vec_id = b.id
    ),
    sel1 AS MATERIALIZED (
        SELECT CAST(1 AS BIGINT) AS rank, id, rel_e6,
               CAST(7 * rel_e6 AS BIGINT) AS mmr_score
        FROM cand ORDER BY rel_e6 DESC, id ASC LIMIT 1
    )"""
    parts = [head]
    for r in range(2, _MMR_K + 1):
        prev = " UNION ALL ".join(f"SELECT * FROM sel{i}" for i in range(1, r))
        parts.append(f"""
    sel{r} AS MATERIALIZED (
        SELECT CAST({r} AS BIGINT) AS rank, c.id, c.rel_e6,
               CAST(7 * c.rel_e6 - 3 * max(s.sim_e6) AS BIGINT) AS mmr_score
        FROM cand c
        JOIN sims s ON s.ia = c.id AND s.ib IN (SELECT id FROM ({prev}))
        WHERE c.id NOT IN (SELECT id FROM ({prev}))
        GROUP BY c.id, c.rel_e6
        ORDER BY mmr_score DESC, c.id ASC LIMIT 1
    )""")
    return ",".join(parts)


@query(
    "q_mmr_select",
    oracle=f"""
    WITH {_mmr_ctes()}
    SELECT rank, id AS vec_id, rel_e6, mmr_score
    FROM ({" UNION ALL ".join(f"SELECT * FROM sel{r}" for r in range(1, _MMR_K + 1))})
    """,
)
def q_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein
    1998): greedily pick 8 vectors from the top-32 relevance pool,
    each round maximizing λ·relevance − (1−λ)·max-similarity-to-
    already-selected — the diversity-aware selection step a curation
    pipeline runs when near-duplicate high-relevance candidates would
    otherwise crowd a budget (few-shot pools, eval suites, seed sets).

    Comparability: λ=0.7 is EXACT integer arithmetic on e6 cosines
    (mmr_score = 7·rel_e6 − 3·maxsim_e6 — no float exists), ties to
    the lower vec_id, so the greedy trajectory is a total order both
    engines share; the oracle replays all 8 rounds via the unrolled
    CTE chain (the q_bpe_train pattern), so the hash covers the whole
    selection sequence, not just the final set.

    Scale shape: the corpus-sized work is the relevance scan (the
    exact-top-k broadcast equi-join shape, or the ANN index at 100 TB)
    producing a BOUNDED pool (32); pairwise sims among the pool are
    ≤ pool² tiny rows; the greedy loop itself is driver-side over
    ≤ 32+992 collected integers — the same bounded-driver-artifact
    class as the BPE argmax and histogram cutoffs (documented, capped
    by construction)."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = e.where(F.col("vec_id") == _MMR_QUERY_ID)
    pool = (
        sim.cosine_topk(e, qv, k=_MMR_POOL)
        .select(
            F.col("vec_id").alias("id"), F.col("cosine_e6").alias("rel_e6")
        )
    )
    # pairwise e6 cosines among the bounded pool: equi-join pool ids
    # back to vectors (pool is broadcast-sized), Arrow cosine
    pv = e.join(F.broadcast(pool), e.vec_id == pool.id).select(
        "id", "rel_e6", "embedding"
    )
    from flink_join_scaling_spark.functions.vectors import with_l2_norm

    pn = with_l2_norm(pv, "embedding")
    a = pn.select(
        F.col("id").alias("ia"),
        F.col("embedding").alias("va"),
        F.col("l2_norm").alias("na"),
    )
    b = pn.select(
        F.col("id").alias("ib"),
        F.col("embedding").alias("vb"),
        F.col("l2_norm").alias("nb"),
    )
    from flink_join_scaling_spark.functions.vectors import cosine_e6_pandas

    sims_df = (
        a.join(F.broadcast(b), F.col("ia") != F.col("ib"))
        .select(
            "ia", "ib", cosine_e6_pandas("va", "vb", "na", "nb").alias("sim_e6")
        )
    )
    rel = {r.id: r.rel_e6 for r in pool.collect()}  # ≤ _MMR_POOL rows
    sims = {
        (r.ia, r.ib): r.sim_e6 for r in sims_df.collect()
    }  # ≤ pool² rows
    selected: list[tuple[int, int, int, int]] = []
    chosen: list[int] = []
    for rank in range(1, _MMR_K + 1):
        best = None
        for cid, crel in rel.items():
            if cid in chosen:
                continue
            if chosen:
                score = 7 * crel - 3 * max(sims[(cid, s)] for s in chosen)
            else:
                score = 7 * crel
            key = (-score, cid)
            if best is None or key < best[0]:
                best = (key, cid, crel, score)
        _, cid, crel, score = best
        chosen.append(cid)
        selected.append((rank, cid, crel, score))
    return spark.createDataFrame(
        selected, schema="rank bigint, vec_id bigint, rel_e6 bigint, mmr_score bigint"
    )


_TRIPLET_MARGIN_E6 = 200_000


@query(
    "q_triplet_mining",
    oracle=f"""
    WITH n AS (SELECT vec_id, embedding, label, {_NORM_SQL} AS nrm FROM embeddings),
    pairs AS (
        SELECT q.vec_id AS query_id, CAST(q.label AS BIGINT) AS label,
               c.vec_id AS vec_id, c.label AS c_label, q.label AS q_label,
               CAST(round({_dot_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm)
                          * 1000000) AS BIGINT) AS cosine_e6
        FROM n q JOIN n c
          ON q.vec_id < {_KNN_HOLDOUT} AND c.vec_id <> q.vec_id
    ),
    pos AS (
        SELECT query_id, label, vec_id AS pos_id, cosine_e6 AS pos_cosine_e6
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine_e6 ASC, vec_id ASC) AS rn
            FROM pairs WHERE c_label = q_label
        ) WHERE rn = 1
    ),
    neg AS (
        SELECT query_id, vec_id AS neg_id, cosine_e6 AS neg_cosine_e6
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine_e6 DESC, vec_id ASC) AS rn
            FROM pairs WHERE c_label <> q_label
        ) WHERE rn = 1
    )
    SELECT query_id, label, pos_id, pos_cosine_e6, neg_id, neg_cosine_e6,
           (neg_cosine_e6 + {_TRIPLET_MARGIN_E6} > pos_cosine_e6)
               AS violates_margin
    FROM pos JOIN neg USING (query_id)
    """,
)
def q_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-hard triplet mining for contrastive training: per holdout
    anchor, the hardest positive (least-similar same-label vector),
    the hardest negative (most-similar different-label vector), and
    the margin-violation flag selecting the triplets with non-zero
    loss (Schroff et al. 2015 / Hermans et al. 2017) — the third leg
    of the contrastive-data family next to q_knn_labels and
    q_hard_negatives.

    Scale shape: ONE corpus pass (the exact top-k broadcast equi-join
    + Arrow e6 cosine), then a single anchor-keyed aggregation pulls
    both extremes with min_by/max_by struct keys — map-side partials,
    no ranking window, no second scan. Exact integer compares with
    vec_id tiebreaks make the oracle's row_number form hash-identical.
    At 100 TB the ANN index replaces the scan exactly as in
    q_hard_negatives_ann."""
    e = load_table(spark, sf_dir, "embeddings")
    queries_df = e.where(F.col("vec_id") < _KNN_HOLDOUT)
    return sim.triplet_mining(
        e, queries_df, margin_e6=_TRIPLET_MARGIN_E6
    )


# -------------------------------------------- cross-document novelty


@query(
    "q_novelty",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS n_docs
           FROM sh GROUP BY shingle)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique,
           CAST(round(CAST(sum(CASE WHEN f.n_docs = 1 THEN 1 ELSE 0 END)
                           AS DOUBLE)
                      / CAST(count(*) AS DOUBLE) * 10000) AS BIGINT)
               AS novelty_e4
    FROM sh s JOIN df f USING (shingle)
    GROUP BY s.doc_id
    """,
)
def q_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document novelty score: the fraction of a document's
    DISTINCT word trigrams that occur in no other document — the
    uniqueness metric dataset analyses use to find templated /
    boilerplate-heavy subsets (low novelty = the document is mostly
    phrases the corpus repeats; the within-doc complement is
    q_repetition). Docs with < 3 tokens have no trigrams and are
    absent, same as the oracle.

    Comparability: counts are exact BIGINTs; the ratio is ONE pinned
    double expression e4-quantized — no decimal double rounding.

    Scale shape: the trigram df table is one shingle-keyed aggregation
    with map-side partials (shingle-vocab-sized, never collected); the
    score joins each doc's distinct shingles back on the shingle key —
    the same co-partitioned exchange as the inverted index — and the
    final agg is doc-keyed. Nothing quadratic, no windows."""
    d = load_table(spark, sf_dir, "documents")
    sh = tx.exploded_shingles(d, "doc_id", "text", 3)
    df_tab = sh.groupBy("shingle").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    uniq = F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0)).cast("bigint")
    return (
        sh.join(df_tab, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            uniq.alias("n_unique"),
            F.round(
                uniq.cast("double") / F.count("*").cast("double") * 10000
            )
            .cast("bigint")
            .alias("novelty_e4"),
        )
    )


# ------------------------------------------------- ingestion: HTML


@query(
    "q_extract_html",
    headline=True,
    oracle="""
    SELECT doc_id,
           CAST(4 + doc_id % 3
                + CASE WHEN doc_id % 7 <> 0
                        AND length(trim(regexp_replace(
                                text, '[ \t\n\v\f\r]+', ' ', 'g'), ' '))
                            > 0
                       THEN 1 ELSE 0 END
                AS BIGINT) AS n_blocks,
           CAST(CASE WHEN doc_id % 7 <> 0
                      AND length(trim(regexp_replace(
                              text, '[ \t\n\v\f\r]+', ' ', 'g'), ' '))
                          >= 25
                     THEN 1 ELSE 0 END AS BIGINT) AS n_kept,
           CAST(CASE WHEN doc_id % 7 <> 0
                      AND length(trim(regexp_replace(
                              text, '[ \t\n\v\f\r]+', ' ', 'g'), ' '))
                          >= 25
                     THEN length(trim(regexp_replace(
                              text, '[ \t\n\v\f\r]+', ' ', 'g'), ' '))
                     ELSE 0 END AS BIGINT) AS main_len
    FROM documents
    """,
)
def q_extract_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML main-content extraction CENSUS (r14) — the ingestion
    stage every crawl pipeline runs before anything else in this
    repo: per document, how many text blocks the page segments into
    and how many survive the jusText-style boilerplate rules (link
    density ≤ 0.35, length ≥ 25) — the profiling face that sizes the
    chrome/content split before committing thresholds.

    Fixture: each ``documents.text`` is planted inside a
    deterministic page template (nav + ``1 + doc_id % 3`` link-dense
    promo blocks + a short share stub + footer; every 7th page is
    BOILERPLATE-ONLY — no article), so the census is SQL-statable:
    ``n_blocks = 4 + doc_id % 3 + [has article]``, ``n_kept`` = the
    article iff present and ≥ 25 collapsed chars. The Spark side must
    reproduce those counts through the REAL stdlib-parser segment +
    classify pipeline (``operators/html_extract.py``) — script/style
    subtree drops, entity unescape, link-char attribution — so this
    is an end-to-end value check, not a replay.

    Scale shape: one map-only Arrow pass; HTML payloads never
    shuffle, three int64 counters per document come back."""
    from flink_join_scaling_spark.operators import html_extract as hx

    d = load_table(spark, sf_dir, "documents")
    pages = hx.attach_synth_html(d, "doc_id", "text")
    return hx.extract_blocks(pages, "doc_id", "html")


@query(
    "q_extract_html_apply",
    oracle="""
    WITH collapsed AS (
        SELECT doc_id,
               trim(regexp_replace(text, '[ \t\n\v\f\r]+', ' ', 'g'),
                    ' ') AS main_text
        FROM documents
    )
    SELECT doc_id, main_text
    FROM collapsed
    WHERE doc_id % 7 <> 0 AND length(main_text) >= 25
    """,
)
def q_extract_html_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML main-content extraction APPLY face (r14): the clean
    corpus — ``(doc_id, main_text)`` with boilerplate blocks removed
    and boilerplate-ONLY pages (every 7th fixture page: nav + promos
    + footer, no article) DROPPED, not emitted as empty strings that
    would poison downstream length/quality features. The oracle
    states the planted round trip: escape → parse → unescape →
    whitespace-collapse returns exactly the collapsed original text
    for pages that have an article, and no row otherwise — the value
    check covers every character of every kept document.

    Output feeds the existing corpus surface (``q_text_stats``, the
    dedup family) unchanged. Scale shape: one map-only Arrow pass,
    payloads never shuffle."""
    from flink_join_scaling_spark.operators import html_extract as hx

    d = load_table(spark, sf_dir, "documents")
    pages = hx.attach_synth_html(d, "doc_id", "text")
    return hx.extract_main_text(pages, "doc_id", "html")


def _warc_clean_corpus(
    spark: SparkSession, sf_dir: str, **fixture_kwargs
) -> DataFrame:
    """The shared WARC→clean-corpus chain behind ``q_extract_warc``
    and ``q_extract_warc_gz`` (one chain, two fixture framings —
    review r16: the filter+extract+id-projection tail must not exist
    as divergence-prone copies): fixture blobs → record explode →
    :func:`~flink_join_scaling_spark.sources.warc.html_responses`
    keep-filter (also the streaming face's filter) → boilerplate
    removal → ``(doc_id, uri, main_text)``."""
    from flink_join_scaling_spark.operators import html_extract as hx
    from flink_join_scaling_spark.sources import warc as wc

    d = load_table(spark, sf_dir, "documents")
    blobs = wc.attach_synth_warc(
        d, "doc_id", "text", group_size=10, **fixture_kwargs
    )
    recs = wc.parse_warc_records(blobs, "payload")
    clean = hx.extract_main_text(
        wc.html_responses(recs), "uri", "html"
    )
    return clean.select(
        F.regexp_extract("uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "uri",
        "main_text",
    )


@query(
    "q_extract_warc",
    oracle="""
    WITH collapsed AS (
        SELECT doc_id,
               trim(regexp_replace(text, '[ \t\n\v\f\r]+', ' ', 'g'),
                    ' ') AS main_text
        FROM documents
    )
    SELECT doc_id,
           'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS uri,
           main_text
    FROM collapsed
    WHERE doc_id % 7 <> 0 AND length(main_text) >= 25
    """,
)
def q_extract_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end crawl ingestion (r14): WARC archive → response
    records → HTTP split → HTML boilerplate removal → clean corpus —
    the full chain a Common Crawl-class pipeline runs before any
    operator this repo already had can see text.

    Fixture: every 10 consecutive documents pack into one WARC blob
    (``sources/warc.py``) holding a warcinfo record and, per doc, a
    request + a response record wrapping the ``synth_html`` page for
    ``http://example.com/doc/{doc_id}``. The Spark side must walk the
    real container layout (strict Content-Length record framing),
    keep only ``WARC-Type: response`` with HTTP 200 + text/html, drop
    warcinfo/request records by type, split real HTTP headers, run
    the real block-level extractor, recover ``doc_id`` from the
    target URI, and drop boilerplate-only pages — while the oracle
    states the planted answer (the collapsed original text per
    non-every-7th doc, plus its URI). Every character of every kept
    document is value-checked through the whole chain.

    Scale shape: fixture grouping aside (scaffolding — production
    reads archives via ``binaryFile``), the chain is two Arrow map
    stages (record explode, extraction) and one JVM regexp id
    projection; archive bytes and HTML never shuffle."""
    return _warc_clean_corpus(spark, sf_dir)


@query(
    "q_extract_warc_gz",
    oracle="""
    WITH collapsed AS (
        SELECT doc_id,
               trim(regexp_replace(
                   text || CASE WHEN doc_id % 10 = 3
                                THEN ' price: €99' ELSE '' END,
                   '[ \t\n\v\f\r]+', ' ', 'g'), ' ') AS main_text
        FROM documents
    )
    SELECT doc_id,
           'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS uri,
           main_text
    FROM collapsed
    WHERE doc_id % 7 <> 0 AND length(main_text) >= 25
    """,
)
def q_extract_warc_gz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end crawl ingestion over the ``.warc.gz``
    record-per-member layout Common Crawl actually ships (r16, r15
    verdict task 1: the r15 gz framing was pytest- and probe-attested
    only — this registration runs it through the driver's DuckDB
    hash). Same chain as ``q_extract_warc`` — container walk → HTTP
    split → boilerplate removal → clean corpus — but every record
    arrives as its own gzip member (``sources/warc.py:_gzip_members``,
    the bounded zero-copy stdlib-zlib walk), so the member framing,
    the strict no-record-spans-members rule, and the per-member
    decompression are all on the hashed path.

    Two planted hardenings ride on the same hash (verdict task 3):
    every ``doc_id % 10 == 3`` page is served as **windows-1252**
    with NO charset on the HTTP Content-Type — only an injected
    ``<meta charset="windows-1252">`` declares it — and its article
    gains ``' price: €99'`` (0x80: invalid standalone UTF-8, a C1
    control under latin-1), so the HTML5 meta-prescan decode is
    value-checked character-for-character; and every ``doc_id % 4 ==
    1`` document adds a 301 redirect record (the
    ``extract_redirects`` fixture) that the status-200 filter must
    DROP — present in the container, absent from the oracle.

    Scale shape: identical to ``q_extract_warc`` (fixture grouping
    aside): two Arrow map stages and one JVM regexp projection;
    archive bytes never shuffle. The r15 100× probe put the gz member
    walk at ~2% over the plain container (SCALING.md) —
    decompression is C-speed; the wall stays the HTML-parse
    constant."""
    return _warc_clean_corpus(
        spark, sf_dir,
        gzip_members=True,
        plant_meta_charset=True,
        plant_redirects=True,
    )


@query(
    "q_url_canonicalize",
    oracle="""
    WITH g AS (
        SELECT doc_id,
               CAST(doc_id // 2 AS VARCHAR) AS k,
               CAST((doc_id // 2) % 5 AS VARCHAR) AS h,
               CAST(doc_id AS VARCHAR) AS i
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0
                THEN 'HTTPS://EXAMPLE' || h || '.COM:443/page/zz' || i
                     || '/../' || k
                     || '/%7eu%2fws?b=2&a=1&utm_source=feed#sec' || i
                ELSE 'https://example' || h || '.com/page/./' || k
                     || '/~u%2Fws?a=1&utm_campaign=c' || i || '&b=2'
           END AS url,
           'https://example' || h || '.com/page/' || k
               || '/~u%2Fws?a=1&b=2' AS canonical_url
    FROM g
    """,
)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization census (r14) — the crawl-dedup stage
    between WARC ingestion and content dedup: every (even, odd) doc
    pair carries two different MESSY spellings of one canonical URL
    (case-folded scheme/host + explicit :443 + fragment + permuted
    params + utm tracker + lowercase-hex ``%7eu%2fws`` path tail +
    a doc-varied junk segment popped by ``/../`` on the even side;
    an injected utm_campaign, the pre-decoded ``~u%2Fws`` spelling,
    and a ``/./`` no-op segment on the odd side), and the engine must
    canonicalize both to the IDENTICAL string — case-fold,
    default-port elision, fragment and tracking-parameter removal,
    percent-encoding normalization (§6.2.2.2: ``%7e`` decodes to the
    unreserved ``~``, the reserved ``%2f`` keeps its triplet with
    uppercased hex), dot-segment removal (§6.2.2.3: the r16
    ``aggregate``-fold walk — ``/zz{i}/../`` pops, ``/./`` drops),
    query-parameter sort (``functions/urls.py``, RFC 3986 §6 safe
    normalizations).

    The oracle CONSTRUCTS the canonical answer from doc_id — it never
    runs the canonicalizer — so every character of every output URL
    is an end-to-end value check of the real expression chain, and
    the equal-canonical pair structure (exact dedup on
    ``canonical_url`` = the planted (even, odd) pairs) rides on top
    for free via the existing q_dedup_exact machinery.

    Scale shape: ONE JVM projection over the scan — zero Python,
    zero exchanges, no UDFs. The array/lambda steps (param filter +
    sort) are interpreted per element (the round-4 HOF caveat), but
    over ≤4 query parameters per URL — a per-URL constant, not the
    per-token blowup that caveat guards against."""
    from flink_join_scaling_spark.functions.urls import canonicalize_url

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    k = F.floor(F.col("doc_id") / 2).cast("string")
    h = (F.floor(F.col("doc_id") / 2) % 5).cast("string")
    i = F.col("doc_id").cast("string")
    messy = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit("HTTPS://EXAMPLE"), h, F.lit(".COM:443/page/zz"), i,
            F.lit("/../"), k,
            F.lit("/%7eu%2fws?b=2&a=1&utm_source=feed#sec"), i,
        ),
    ).otherwise(
        F.concat(
            F.lit("https://example"), h, F.lit(".com/page/./"), k,
            F.lit("/~u%2Fws?a=1&utm_campaign=c"), i, F.lit("&b=2"),
        )
    )
    return d.select(
        "doc_id",
        messy.alias("url"),
        canonicalize_url(messy).alias("canonical_url"),
    )


@query(
    "q_extract_links",
    oracle="""
    WITH base AS (SELECT doc_id, doc_id % 3 AS m FROM documents),
    fixed AS (
        SELECT doc_id, u AS href FROM base,
            UNNEST(['http://example.com/',
                    'http://example.com/about',
                    'http://example.com/contact',
                    'http://example.com/privacy',
                    'http://example.com/terms',
                    'http://example.com/doc/legal/cookies']) AS t(u)
    ),
    promos AS (
        SELECT doc_id,
               'http://example.com/buy' || CAST(g AS VARCHAR) AS href
        FROM base, UNNEST(range(0, m + 1)) AS s(g)
        UNION ALL
        SELECT doc_id,
               'http://example.com/deal' || CAST(g AS VARCHAR) AS href
        FROM base, UNNEST(range(0, m + 1)) AS s(g)
    )
    SELECT doc_id, href FROM fixed
    UNION ALL
    SELECT doc_id, href FROM promos
    """,
)
def q_extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-graph construction (r14): every page's outgoing link edges
    — ``(doc_id, href)`` with root-relative hrefs resolved against
    the page's own URL — the stage that turns a crawl into the graph
    PageRank-style canonical ranking (``q_dedup_canonical_rank``) and
    frontier scheduling consume. Link extraction sees ALL anchors
    (nav links are how a crawler discovers pages — boilerplate
    classification is a content concern, not a graph one) but skips
    fragment-only and javascript:/mailto:/data:/tel: pseudo-links and
    everything inside script/style subtrees.

    Fixture: the planted page template carries 5 root-relative
    chrome links (nav 3 + footer 2) plus one PATH-relative footer
    link (``legal/cookies`` — resolves against the page URL's
    ``/doc/`` directory, pinning §5 directory-join end-to-end), plus
    2 per promo block (``1 + doc_id % 3`` promos), and two planted
    NON-edges the parser must skip (a ``mailto:`` pseudo-link and a
    fragment-only ``#top`` href — present in the markup, absent from
    the oracle's edge list, so emitting either breaks the driver
    hash). The oracle CONSTRUCTS the edge list from doc_id (UNNEST
    of the six fixed targets + a range-driven promo expansion) — the
    Spark side must parse real markup, apply real RFC 3986 §5
    resolution, and skip the pseudo-link classes.

    Scale shape: one map-only Arrow pass after the fixture attach;
    pages never shuffle, only (id, url) edge rows come back — at
    crawl scale the edge set is the web graph itself, emitted
    pre-partitioned by source page."""
    from flink_join_scaling_spark.operators import html_extract as hx

    d = load_table(spark, sf_dir, "documents")
    pages = hx.attach_synth_html(d, "doc_id", "text").withColumn(
        "page_url",
        F.concat(F.lit("http://example.com/doc/"),
                 F.col("doc_id").cast("string")),
    )
    return hx.extract_links(pages, "doc_id", "html", base_col="page_url")
