"""Corpus-management queries: vocabulary statistics, inverted index,
deterministic sampling, quality filtering, per-source profiling, and
embedding centroids — the bookkeeping operations a training-data
pipeline runs around the dedup/similarity core in ``llmdata.py``.

Scale notes (per-operator, for the 100 TB target):
- vocabulary / inverted index: one shuffle keyed by token with
  map-side partial aggregation; the distinct-(doc, token) reduction
  happens before the global agg so hot tokens collapse early.
- hash sampling: a narrow per-row predicate — no shuffle, fully
  pushdown-friendly, and deterministic across runs/engines (md5-based,
  no RNG state), so samples are reproducible and joinable.
- quality filter: narrow projection + filter; at scale this is the
  map-only stage in front of every downstream shuffle.
- centroids: dimension explosion shuffles (label, dim) — num_labels ×
  dim grouped rows regardless of corpus size, i.e. output-sized, tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_join_scaling_spark.functions import text as tx
from flink_join_scaling_spark.plans.llmdata import (
    _NORM,
    _SHINGLE_CTE,
    _TOKS_CTE,
    _quality_cte,
)
from flink_join_scaling_spark.plans.registry import query
from flink_join_scaling_spark.sources.catalog import load_table

# --------------------------------------------------------- vocabulary


@query(
    "q_vocab_df",
    oracle=f"""
    WITH {_TOKS_CTE}
    SELECT w AS token,
           CAST(count(*) AS BIGINT) AS tf,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS df
    FROM words
    GROUP BY w
    ORDER BY df DESC, token ASC
    LIMIT 100
    """,
)
def q_vocab_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary statistics: term frequency + document frequency per
    whitespace token, top 100 by df (token as tiebreak → total order).
    One token-keyed shuffle; exact distinct-doc counts via partial
    (doc, token) dedup that collapses hot tokens map-side."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tx.tokens_ws(F.col("text"))).alias("token"))
    return (
        toks.groupBy("token")
        .agg(
            F.count("*").alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(100)
    )


@query(
    "q_inverted_index",
    oracle=f"""
    WITH {_SHINGLE_CTE}
    SELECT shingle,
           CAST(count(*) AS BIGINT) AS df,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
    FROM sh
    GROUP BY shingle
    HAVING count(*) BETWEEN 2 AND 20
    ORDER BY df DESC, shingle ASC
    LIMIT 100
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase (3-gram shingle) inverted index for mid-frequency
    shingles (2 ≤ df ≤ 20): posting lists for exact-phrase retrieval
    and duplicate forensics. The df ceiling bounds posting-list
    length, so no reducer ever materializes a stop phrase's full
    posting list — the guard that keeps this shape viable at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    sh = tx.exploded_shingles(d, "doc_id", "text", 3)
    return (
        sh.groupBy("shingle")
        .agg(
            F.count("*").alias("df"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("doc_id")), lambda x: x.cast("string")
                ),
            ).alias("postings"),
        )
        .where(F.col("df").between(2, 20))
        .orderBy(F.desc("df"), F.asc("shingle"))
        .limit(100)
    )


# ----------------------------------------------------------- sampling

def _bucket_spark() -> F.Column:
    """First 4 hex nibbles of md5(doc_id) → integer in [0, 65536).
    (Built lazily: Column construction needs an active session.)"""
    return F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("bigint")

_HEX = "0123456789abcdef"
_BUCKET_DUCK = (
    "((instr('{hx}', substr(h, 1, 1)) - 1) * 4096"
    " + (instr('{hx}', substr(h, 2, 1)) - 1) * 256"
    " + (instr('{hx}', substr(h, 3, 1)) - 1) * 16"
    " + (instr('{hx}', substr(h, 4, 1)) - 1))"
).format(hx=_HEX)


@query(
    "q_sample_hash",
    oracle=f"""
    WITH h AS (SELECT doc_id, lang, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h
               FROM documents)
    SELECT doc_id, lang, n_chars,
           CAST({_BUCKET_DUCK} % 20 AS BIGINT) AS sample_bucket
    FROM h
    WHERE {_BUCKET_DUCK} % 20 = 0
    """,
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~5% sample: md5(doc_id) bucket ≡ 0 (mod 20).
    Hash sampling (vs ``rand()``) is reproducible across runs and
    engines, stable under repartitioning, and consistent per key — the
    only sampling discipline that composes with incremental reruns of
    a 100 TB pipeline. Narrow per-row predicate, zero shuffle."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (_bucket_spark() % 20).alias("sample_bucket")
    return d.select("doc_id", "lang", "n_chars", bucket).where(
        F.col("sample_bucket") == 0
    )


# ---------------------------------------------------- quality filter


@query(
    "q_quality_filter",
    oracle=f"""
    WITH {_quality_cte()}
    SELECT d.doc_id,
           CAST(round(q.quality_raw * 10000) AS BIGINT) AS quality_e4,
           d.n_chars
    FROM documents d JOIN qraw q ON q.doc_id = d.doc_id
    WHERE q.quality_raw >= 0.55 AND d.n_chars BETWEEN 100 AND 5000
    """,
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selection stage of a corpus pipeline: quality ≥ 0.55 and
    length in [100, 5000]. Pure narrow projection + filter (the
    quality score is a built-in-expression composite) — map-only, no
    shuffle, sits in front of every downstream stage. The predicate
    compares the RAW score (bit-identical IEEE double on both
    engines) and the display column is the e4 integer quantization —
    no decimal double rounding, which is what kept this query
    float-boundary-flagged through round 7."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", tx.quality_score_raw(F.col("text")).alias("__qraw"), "n_chars"
    ).where((F.col("__qraw") >= 0.55) & F.col("n_chars").between(100, 5000)).select(
        "doc_id",
        F.round(F.col("__qraw") * 10000).cast("bigint").alias("quality_e4"),
        "n_chars",
    )


@query(
    "q_source_stats",
    oracle=f"""
    WITH {_quality_cte()}
    SELECT source, n_docs, total_chars,
           CAST(round(CAST(q_sum_e6 AS DOUBLE) / 1000000.0
                      / CAST(n_docs AS DOUBLE) * 10000) AS BIGINT)
               AS avg_quality_e4,
           n_langs
    FROM (
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
               CAST(sum(CAST(round(q.quality_raw * 1000000) AS BIGINT))
                    AS BIGINT) AS q_sum_e6,
               CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs
        FROM documents d JOIN qraw q ON q.doc_id = d.doc_id
        GROUP BY d.source
    )
    """,
)
def q_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile (doc count, volume, mean quality,
    language spread) — the monitoring/reporting aggregate over the
    crawl. One shuffle keyed by source with map-side partials.

    The mean quality uses the classifier-gradient discipline: per-row
    scores are e6-quantized to BIGINT BEFORE summation (exact integer
    reduce — immune to accumulation order, partitioning, and engine),
    and the display value is one pinned double expression of that
    exact sum — replacing the float avg + decimal round that kept this
    query in the float-boundary manifest through round 7."""
    d = load_table(spark, sf_dir, "documents")
    withq = d.select(
        "source", "n_chars", "lang",
        F.round(tx.quality_score_raw(F.col("text")) * 1_000_000.0)
        .cast("bigint")
        .alias("__q_e6"),
    )
    return withq.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.round(
            F.sum("__q_e6").cast("double")
            / F.lit(1_000_000.0)
            / F.count("*").cast("double")
            * F.lit(10_000.0)
        )
        .cast("bigint")
        .alias("avg_quality_e4"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    ).select("source", "n_docs", "total_chars", "avg_quality_e4", "n_langs")


# --------------------------------------------------------- embeddings


@query(
    "q_embed_centroids",
    oracle="""
    WITH ex AS (
        SELECT label,
               generate_subscripts(embedding, 1) AS pos,
               unnest(embedding) AS v
        FROM embeddings
    ),
    dims AS (
        SELECT label, pos, avg(CAST(v AS DOUBLE)) AS c, CAST(count(*) AS BIGINT) AS n
        FROM ex GROUP BY label, pos
    )
    SELECT label,
           max(n) AS n_vecs,
           string_agg(CAST(CAST(round(c * 10000) AS BIGINT) AS VARCHAR),
                      ',' ORDER BY pos) AS centroid_csv
    FROM dims GROUP BY label
    """,
)
def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (the training step of IVF coarse
    quantization / per-cluster semantics). Dimension explosion keyed
    by (label, dim): the grouped row count is labels × dim — output-
    sized, independent of corpus size. Centroid serialized as
    fixed-point (×10⁴) integer CSV so float-formatting differences
    can't break the cross-engine hash."""
    e = load_table(spark, sf_dir, "embeddings")
    dims = (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("c"), F.count("*").alias("n"))
    )
    return dims.groupBy("label").agg(
        F.max("n").alias("n_vecs"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: F.round(s.c * 10000).cast("bigint").cast("string"),
            ),
        ).alias("centroid_csv"),
    )


# ---------------------------------------------------- sequence packing

_PACK_BUDGET = 1024  # tokens per training sequence


@query(
    "q_pack_sequences",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(len(string_split({{norm}}, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ),
    cum AS (
        SELECT *, sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum_tok
        FROM toks
    )
    SELECT source,
           CAST((cum_tok - n_tok) // {_PACK_BUDGET} AS BIGINT) AS bin_idx,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM cum
    GROUP BY source, bin_idx
    """.replace("{norm}", "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing for training: within each source shard,
    documents (in doc_id order) are packed into ~1024-token bins by
    prefix-sum bucketing — a document starts the bin its starting
    offset falls in. One shuffle keyed by source + an in-partition
    sort; per-source packing (not a global order) is what keeps the
    window parallel at 100 TB — a global pack would serialize on one
    partition."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", tx.n_tokens_ws(F.col("text")).alias("n_tok"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = toks.withColumn("cum_tok", F.sum("n_tok").over(w))
    return (
        cum.withColumn(
            "bin_idx",
            F.floor((F.col("cum_tok") - F.col("n_tok")) / _PACK_BUDGET).cast("bigint"),
        )
        .groupBy("source", "bin_idx")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
        )
    )


# ------------------------------------------------- stratified sampling


@query(
    "q_sample_stratified",
    oracle=f"""
    WITH h AS (SELECT doc_id, lang, source, md5(CAST(doc_id AS VARCHAR)) AS h
               FROM documents)
    SELECT doc_id, lang, source
    FROM h
    WHERE {_BUCKET_DUCK} % 100 <
          (CASE WHEN lang = 'en' THEN 50 ELSE 10 END)
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-language keep rates
    (en 50%, others 10%) via the same md5 bucket as q_sample_hash —
    up/down-weighting strata is how training mixes are actually built.
    Still a narrow per-row predicate: rate lookup is a CASE expression,
    no shuffle, reproducible across engines and reruns."""
    d = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", F.lit(50)).otherwise(F.lit(10))
    return d.select("doc_id", "lang", "source").where(
        (_bucket_spark() % 100) < rate
    )


# ----------------------------------------------------- repetition score


@query(
    "q_repetition",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
        FROM documents
    ),
    big AS (
        SELECT doc_id, ws,
               list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bg
        FROM toks WHERE len(ws) >= 2
    )
    SELECT doc_id,
           CAST(len(bg) AS BIGINT) AS n_bigrams,
           round(1.0 - len(list_distinct(ws)) / CAST(len(ws) AS DOUBLE), 4)
               AS rep_unigram,
           round(1.0 - len(list_distinct(bg)) / CAST(len(bg) AS DOUBLE), 4)
               AS rep_bigram
    FROM big
    """,
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (the Gopher-style quality
    gate against looping/boilerplate text): duplicate-unigram and
    duplicate-bigram fractions. Entirely array expressions on the
    token list — a narrow map-only stage, no explosion, no shuffle;
    composes with q_quality_filter as another per-row predicate."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tx.tokens_ws(F.col("text")).alias("ws")).where(
        F.size("ws") >= 2
    )
    bg = F.expr("transform(sequence(1, size(ws) - 1), i -> concat(ws[i-1], ' ', ws[i]))")
    t = t.withColumn("bg", bg)
    return t.select(
        "doc_id",
        F.size("bg").cast("bigint").alias("n_bigrams"),
        F.round(
            1.0 - F.size(F.array_distinct("ws")) / F.size("ws").cast("double"), 4
        ).alias("rep_unigram"),
        F.round(
            1.0 - F.size(F.array_distinct("bg")) / F.size("bg").cast("double"), 4
        ).alias("rep_bigram"),
    )


# ----------------------------------------------------- retrieval scores


@query(
    "q_tfidf",
    oracle=f"""
    WITH {_TOKS_CTE},
    tf AS (SELECT doc_id, w AS token, count(*) AS tf FROM words GROUP BY 1, 2),
    df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
    FROM (
        SELECT t.doc_id, t.token, t.tf, d.df, n.n_docs,
               row_number() OVER (PARTITION BY t.doc_id
                                  ORDER BY t.tf DESC, d.df ASC, t.token ASC
                                 ) AS rn
        FROM tf t JOIN df d USING (token) CROSS JOIN n
    ) WHERE rn <= 5
    """,
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most distinctive tokens per document by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1). Ranking uses only INTEGER keys
    (tf desc, df asc, token asc), so the order is engine-exact; the
    transcendental tfidf value rides along rounded to 6 (ln of a
    rational never lands on a decimal boundary, so the rounding can't
    flip between engines). Shape: one (doc, token) shuffle for tf, a
    token-keyed agg for df joined back on token, and the corpus size
    broadcast as a 1-row aggregate — every stage input shrinks."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tx.tokens_ws(F.col("text"))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token").asc()
    )
    return (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select(
            "doc_id",
            "token",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )


#: Fixed retrieval query for q_bm25 — tokens chosen from the synthetic
#: vocabulary at different frequencies.
_BM25_QUERY = ("join", "stream", "vector")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_term_sql(tok: str) -> str:
    idf = f"ln((c.n_docs - c.df_{tok} + 0.5) / (c.df_{tok} + 0.5) + 1.0)"
    denom = f"(t.tf_{tok} + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * l.dl / c.avgdl))"
    return f"{idf} * t.tf_{tok} * {1 + _BM25_K1} / {denom}"


@query(
    "q_bm25",
    oracle=f"""
    WITH {_TOKS_CTE},
    dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY 1),
    tfs AS (
        SELECT doc_id,
               count(*) FILTER (WHERE w = 'join') AS tf_join,
               count(*) FILTER (WHERE w = 'stream') AS tf_stream,
               count(*) FILTER (WHERE w = 'vector') AS tf_vector
        FROM words WHERE w IN ('join', 'stream', 'vector') GROUP BY 1
    ),
    c AS (
        SELECT (SELECT count(*) FROM documents) AS n_docs,
               (SELECT avg(dl) FROM dl) AS avgdl,
               (SELECT count(*) FILTER (WHERE tf_join > 0) FROM tfs) AS df_join,
               (SELECT count(*) FILTER (WHERE tf_stream > 0) FROM tfs) AS df_stream,
               (SELECT count(*) FILTER (WHERE tf_vector > 0) FROM tfs) AS df_vector
    )
    SELECT doc_id,
           CAST(tf_join AS BIGINT) AS tf_join,
           CAST(tf_stream AS BIGINT) AS tf_stream,
           CAST(tf_vector AS BIGINT) AS tf_vector,
           score, rank
    FROM (
        SELECT t.doc_id, t.tf_join, t.tf_stream, t.tf_vector,
               round({_bm25_term_sql('join')}
                     + {_bm25_term_sql('stream')}
                     + {_bm25_term_sql('vector')}, 6) AS score,
               CAST(row_number() OVER (
                   ORDER BY round({_bm25_term_sql('join')}
                                  + {_bm25_term_sql('stream')}
                                  + {_bm25_term_sql('vector')}, 6) DESC,
                            t.doc_id ASC) AS BIGINT) AS rank
        FROM tfs t JOIN dl l USING (doc_id) CROSS JOIN c
    ) WHERE rank <= 20
    """,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 retrieval for a fixed query ("join stream vector"):
    Okapi scoring (k1=1.2, b=0.75) over per-doc term frequencies,
    document length, and corpus stats — the relevance-scoring stage a
    training-data curation pipeline uses for targeted subset selection.

    Determinism across engines: per-token tfs are pivoted to COLUMNS
    (conditional counts), so the score is one fixed-order arithmetic
    expression — no float sum over an unordered group — and ranking
    compares the round-6 score (ties broken by doc_id). Shape: the
    (doc, token) explode is filtered to the 3 query tokens before its
    only shuffle; corpus stats ride a broadcast 1-row aggregate; only
    docs containing ≥1 query token survive to the top-k sort."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tx.tokens_ws(F.col("text"))).alias("token"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tfs = (
        toks.where(F.col("token").isin(*_BM25_QUERY))
        .groupBy("doc_id")
        .agg(
            *[
                F.count(F.when(F.col("token") == t, 1)).alias(f"tf_{t}")
                for t in _BM25_QUERY
            ]
        )
    )
    consts = (
        tfs.agg(
            *[
                F.count(F.when(F.col(f"tf_{t}") > 0, 1)).alias(f"df_{t}")
                for t in _BM25_QUERY
            ]
        )
        .crossJoin(F.broadcast(d.agg(F.count("*").alias("n_docs"))))
        .crossJoin(F.broadcast(dl.agg(F.avg("dl").alias("avgdl"))))
    )

    def term(t: str) -> F.Column:
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5)
            + 1.0
        )
        denom = F.col(f"tf_{t}") + _BM25_K1 * (
            1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
        )
        return idf * F.col(f"tf_{t}") * (1 + _BM25_K1) / denom

    scored = (
        tfs.join(dl, "doc_id")
        .crossJoin(F.broadcast(consts))
        .withColumn(
            "score",
            F.round(term("join") + term("stream") + term("vector"), 6),
        )
    )
    # top-k FIRST (TakeOrdered — no single-partition global sort of the
    # match set), then rank the 20 survivors with a window
    # constant partition key (doc_id*0 — non-foldable, so the
    # optimizer RETAINS it; a bare literal is constant-folded out of
    # the spec): the rank input is the LIMIT-bounded top-k
    # (TakeOrdered), and a DEFINED partition spec keeps the plan off
    # WindowExec's no-partition warning path (zero-warning bench
    # tails are a round gate) — execution is identical on <=k rows
    w = Window.partitionBy(F.col("doc_id") * F.lit(0)).orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(20)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select(
            "doc_id",
            *[F.col(f"tf_{t}").cast("bigint").alias(f"tf_{t}") for t in _BM25_QUERY],
            "score",
            "rank",
        )
    )


# ------------------------------------------- unigram LM quality score


@query(
    "q_lm_score",
    oracle=f"""
    WITH {_TOKS_CTE},
    tf AS (
        SELECT w, CAST(count(*) AS BIGINT) AS tf FROM words GROUP BY w
    ),
    tot AS (SELECT CAST(sum(tf) AS BIGINT) AS t FROM tf),
    j AS (
        SELECT d.doc_id, f.tf
        FROM words d JOIN tf f USING (w)
    ),
    per AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(tf) AS BIGINT) AS tf_sum,
               list_sort(list(CAST(tf AS DOUBLE))) AS tfs
        FROM j GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, tf_sum,
           round((list_reduce(list_transform(tfs, x -> ln(x)),
                              (a, b) -> a + b)
                  - n_tokens * ln(t)) / n_tokens, 6) AS lm_logprob
    FROM per, tot
    """,
)
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram language-model quality score: the corpus IS
    the model (token frequencies over the whole corpus), each document
    scored by its mean token log-probability — low scorers are
    gibberish / boilerplate candidates for the quality gate.

    Comparability: the two exact-integer columns (n_tokens, tf_sum)
    attest the tokenization and model join; the transcendental score
    rides along with a FIXED summation order — per-doc tf values are
    sorted ascending, ln applied, then folded strictly left-to-right
    (Spark ``aggregate`` and DuckDB ``list_reduce`` are both
    sequential folds), so the round-6 double is bit-identical by
    construction, not by luck (same discipline as q_tfidf/q_bm25).

    Scale shape: the tf model is ONE vocabulary-keyed aggregation with
    map-side partials (never collected — it joins back by token key);
    the corpus-total rides a broadcast 1-row aggregate; the per-doc
    fold state is bounded by document length. At 100 TB the tf join is
    the only big-big exchange, co-partitioned with the tf build.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(tx.tokens_ws(F.col("text"))).alias("w"))
    tf = words.groupBy("w").agg(F.count("*").alias("tf"))
    tot = tf.agg(F.sum("tf").alias("t"))
    # pinned per-doc exchange: the downstream ln-fold over the sorted
    # tf arrays is CPU-dense beyond its bytes and AQE coalesced it to
    # one task (r17 sweep); collect_list dominates the shuffle either
    # way, so the pinned exchange is byte-neutral
    from flink_join_scaling_spark.partitioning import pin_partitioning

    per = (
        pin_partitioning(words.join(tf, "w"), "doc_id")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("tf").alias("tf_sum"),
            F.array_sort(F.collect_list(F.col("tf").cast("double"))).alias("tfs"),
        )
    )
    return per.join(F.broadcast(tot)).select(
        "doc_id",
        "n_tokens",
        "tf_sum",
        F.round(
            (
                F.aggregate(
                    F.transform(F.col("tfs"), lambda x: F.log(x)),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
                - F.col("n_tokens") * F.log(F.col("t"))
            )
            / F.col("n_tokens"),
            6,
        ).alias("lm_logprob"),
    )


# ----------------------------------------- interpolated bigram LM score

#: Jelinek-Mercer interpolation weight on the bigram term; the
#: repr of the literal must match the SQL text exactly
_LM2_LAMBDA = 0.7

#: minimum bigram count retained in the model — the KenLM singleton
#: prune. Bigram TYPES grow with corpus volume (Heaps-law regime; the
#: prod-shape 100× probe measured the unpruned model join at 28.9×),
#: and singletons are typically the majority of types while carrying
#: the least signal; a pruned bigram backs off to the unigram term
#: (the interpolation's (1−λ) leg) via LEFT join + count 0.
_LM2_MIN_COUNT = 2


@query(
    "q_lm_bigram",
    oracle=f"""
    WITH {_TOKS_CTE},
    uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cu FROM words GROUP BY w),
    tot AS (SELECT CAST(sum(cu) AS BIGINT) AS t FROM uni),
    big AS (
        SELECT a.w AS prev, b.w AS cur, CAST(count(*) AS BIGINT) AS cb
        FROM words a JOIN words b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        GROUP BY a.w, b.w
        HAVING count(*) >= {_LM2_MIN_COUNT}
    ),
    occ AS (
        SELECT a.doc_id,
               {_LM2_LAMBDA} * (CAST(COALESCE(g.cb, 0) AS DOUBLE)
                                / CAST(up.cu AS DOUBLE))
               + (1.0 - {_LM2_LAMBDA})
                 * (CAST(uc.cu AS DOUBLE) / CAST(tot.t AS DOUBLE)) AS term
        FROM words a
        JOIN words b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        LEFT JOIN big g ON g.prev = a.w AND g.cur = b.w
        JOIN uni up ON up.w = a.w
        JOIN uni uc ON uc.w = b.w, tot
    ),
    per AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               list_sort(list(term)) AS terms
        FROM occ GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams,
           round(list_reduce(list_transform(terms, x -> ln(x)), (a, b) -> a + b)
                 / CAST(n_bigrams AS DOUBLE), 6) AS lm2_logprob
    FROM per
    """,
)
def q_lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram language-model score — the next rung above
    q_lm_score's unigram model on the KenLM ladder CCNet actually
    climbs: per bigram position, p = λ·(c(prev,cur)/c(prev)) +
    (1−λ)·(c(cur)/N) (Jelinek-Mercer smoothing, λ=0.7), and the
    document score is the mean log-probability over its bigram
    positions. Low scorers are word-salad candidates that unigram
    frequency alone cannot see (every token common, transitions
    nonsense).

    Comparability: the q_lm_score transcendental rule — each doc's
    interpolated terms are IEEE rationals of exact BIGINT counts
    (identical doubles cross-engine), SORTED ascending, ln-folded
    strictly left-to-right, mean rounded to 6.

    Scale shape: the bigram model is one (prev,cur)-keyed aggregation
    with map-side partials, PRUNED to count ≥ 2 before anything joins
    it — singleton bigram types are the majority of the model in the
    Heaps-law regime where types grow with volume (prod-shape 100×
    probe: 28.9× unpruned) and carry the least signal; a pruned (or
    genuinely unseen) bigram LEFT-joins to count 0 and the
    interpolation's (1−λ)·unigram leg carries it, which is exactly
    Jelinek-Mercer backoff. The corpus's bigram occurrences come from
    a NARROW array zip (slice + arrays_zip + explode — no positional
    self-join on the Spark side), then join the models on their keys —
    the same co-partitioned big-big exchanges as TF-IDF/LM-score.
    Per-doc fold state is bounded by document length. Docs with <2
    tokens have no bigram positions and are absent, same as the
    oracle."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tx.tokens_ws(F.col("text")).alias("ws"))
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("ws"), 1, F.greatest(F.size("ws") - 1, F.lit(0))).alias("prev"),
                F.slice(F.col("ws"), 2, F.greatest(F.size("ws") - 1, F.lit(0))).alias("cur"),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
    words = d.select("doc_id", F.explode(tx.tokens_ws(F.col("text"))).alias("w"))
    uni = words.groupBy("w").agg(F.count("*").cast("bigint").alias("cu"))
    tot = uni.agg(F.sum("cu").cast("bigint").alias("t"))
    big = (
        pairs.groupBy("prev", "cur")
        .agg(F.count("*").cast("bigint").alias("cb"))
        .where(F.col("cb") >= _LM2_MIN_COUNT)
    )
    lam = F.lit(_LM2_LAMBDA)
    occ = (
        pairs.join(big, ["prev", "cur"], "left")
        .join(uni.select(F.col("w").alias("prev"), F.col("cu").alias("cup")), "prev")
        .join(uni.select(F.col("w").alias("cur"), F.col("cu").alias("cuc")), "cur")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            (
                lam
                * (
                    F.coalesce(F.col("cb"), F.lit(0)).cast("double")
                    / F.col("cup").cast("double")
                )
                + (F.lit(1.0) - lam)
                * (F.col("cuc").cast("double") / F.col("t").cast("double"))
            ).alias("term"),
        )
    )
    per = occ.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.array_sort(F.collect_list("term")).alias("terms"),
    )
    return per.select(
        "doc_id",
        "n_bigrams",
        F.round(
            F.aggregate(
                F.transform(F.col("terms"), lambda x: F.log(x)),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            / F.col("n_bigrams").cast("double"),
            6,
        ).alias("lm2_logprob"),
    )


# ------------------------------------------- hashed-feature bigram LM

#: fixed bucket widths: the WHOLE model is ≤ (16384 + 4096 + 1) rows
#: at ANY corpus size — the DSIR hashed-feature treatment applied to
#: the bigram LM, retiring q_lm_bigram's Heaps-law model growth (its
#: prod-shape 100× probe read 14.0× even singleton-pruned; a
#: fixed-width table cannot grow with volume at all)
_LM2H_B2 = 16_384  # bigram (prev,cur) buckets
_LM2H_U = 4_096  # unigram buckets (context denominators + backoff leg)

_LM2H_HEX = "0123456789abcdef"


def _lm2h_bucket_spark(expr: F.Column, width: int) -> F.Column:
    """First 8 md5 nibbles as an integer, mod ``width`` — identical
    arithmetic to select_q's DSIR bucketer, parameterized on width."""
    return (
        F.conv(F.substring(F.md5(expr), 1, 8), 16, 10).cast("bigint")
        % width
    )


def _lm2h_bucket_duck(sql_expr: str, width: int) -> str:
    def nib(i: int) -> str:
        return f"(strpos('{_LM2H_HEX}', substr(md5({sql_expr}), {i}, 1)) - 1)"

    v = nib(1)
    for i in range(2, 9):
        v = f"({v} * 16 + {nib(i)})"
    return f"({v} % {width})"


@query(
    "q_lm_bigram_hashed",
    oracle=f"""
    WITH {_TOKS_CTE},
    wu AS (SELECT doc_id, w, i,
                  {_lm2h_bucket_duck('w', _LM2H_U)} AS u
           FROM words),
    ucnt AS (SELECT u, CAST(count(*) AS BIGINT) AS cu FROM wu GROUP BY u),
    tot AS (SELECT CAST(sum(cu) AS BIGINT) AS t FROM ucnt),
    occ0 AS (
        SELECT a.doc_id, a.u AS up, b.u AS uc,
               {_lm2h_bucket_duck("a.w || chr(31) || b.w", _LM2H_B2)} AS b2
        FROM wu a JOIN wu b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ),
    bcnt AS (SELECT b2, CAST(count(*) AS BIGINT) AS cb
             FROM occ0 GROUP BY b2),
    occ AS (
        SELECT o.doc_id,
               {_LM2_LAMBDA} * (CAST(g.cb AS DOUBLE) / CAST(up.cu AS DOUBLE))
               + (1.0 - {_LM2_LAMBDA})
                 * (CAST(uc.cu AS DOUBLE) / CAST(tot.t AS DOUBLE)) AS term
        FROM occ0 o
        JOIN bcnt g ON g.b2 = o.b2
        JOIN ucnt up ON up.u = o.up
        JOIN ucnt uc ON uc.u = o.uc, tot
    ),
    per AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               list_sort(list(term)) AS terms
        FROM occ GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams,
           round(list_reduce(list_transform(terms, x -> ln(x)), (a, b) -> a + b)
                 / CAST(n_bigrams AS DOUBLE), 6) AS lm2h_logprob
    FROM per
    """,
)
def q_lm_bigram_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature interpolated bigram LM — q_lm_bigram's scoring
    semantics over a VOLUME-INDEPENDENT model: (prev,cur) hashes into
    one of 16384 md5 buckets and each unigram into one of 4096 (the
    DSIR hashed-n-gram construction, Xie et al. 2023, applied to the
    Jelinek-Mercer bigram score). p = λ·(c[b2(prev,cur)]/c[u(prev)]) +
    (1−λ)·(c[u(cur)]/N); the document score is the mean log-prob over
    its bigram positions. Collisions trade a bounded score bias for a
    model that CANNOT grow with the corpus — no singleton prune
    needed, and no unseen-key path either: every scored position
    contributed to its own buckets, so all model joins are inner.

    Comparability: bucket ids are exact integer md5-nibble arithmetic
    on both engines; terms are IEEE rationals of exact BIGINT counts,
    SORTED ascending, ln-folded left-to-right, mean rounded to 6 (the
    q_lm_score transcendental rule).

    Scale shape: THE fix for q_lm_bigram's one named scale constant
    (model types grow with volume — 14.0× at the prod-shape 100×
    probe even after singleton pruning). Here the three model tables
    are ≤ 16384 + 4096 + 1 rows at ANY corpus size, so they BROADCAST
    and the entire scoring pass is map-only over the narrow
    array-zipped bigram stream — zero corpus-sized exchanges after
    the two bounded model aggregations (which are themselves map-side
    partial counts into ≤16k cells). The exact-count q_lm_bigram
    stays registered as the oracle-documented reference path.
    """
    from flink_join_scaling_spark.partitioning import widen_if_narrow

    d = widen_if_narrow(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    # per-token unigram bucket computed ONCE as an array (ub), then
    # sliced for the prev/cur legs — one md5 per token instead of one
    # per bigram endpoint (2 per position); identical arithmetic.
    # The frame is pinned (lazy localCheckpoint): THREE subtrees read
    # it (bigram-count build, unigram-count build, the scoring pass) —
    # unpinned, each re-runs tokenize + per-token md5 from the scan,
    # and at bench scale each re-pays the widening shuffle's serial
    # map side. Same shared-subtree materialization call as
    # containment_dedup_pairs.
    toks = (
        d.select(
            "doc_id",
            tx.tokens_ws(F.col("text")).alias("ws"),
        )
        .select(
            "doc_id",
            "ws",
            F.transform(
                F.col("ws"), lambda w: _lm2h_bucket_spark(w, _LM2H_U)
            ).alias("ub"),
        )
        .localCheckpoint(eager=False)
    )
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(
                    F.col("ws"), 1, F.greatest(F.size("ws") - 1, F.lit(0))
                ).alias("prev"),
                F.slice(
                    F.col("ws"), 2, F.greatest(F.size("ws") - 1, F.lit(0))
                ).alias("cur"),
                F.slice(
                    F.col("ub"), 1, F.greatest(F.size("ub") - 1, F.lit(0))
                ).alias("up"),
                F.slice(
                    F.col("ub"), 2, F.greatest(F.size("ub") - 1, F.lit(0))
                ).alias("uc"),
            )
        ).alias("p"),
    ).select(
        "doc_id",
        _lm2h_bucket_spark(
            F.concat(F.col("p.prev"), F.lit("\x1f"), F.col("p.cur")),
            _LM2H_B2,
        ).alias("b2"),
        F.col("p.up").alias("up"),
        F.col("p.uc").alias("uc"),
    ).localCheckpoint(eager=False)
    # pairs pinned too: the bigram-bucket md5 feeds BOTH the bigram
    # model count and the scoring join — one evaluation, int-only rows.
    # The unigram stream re-slices toks' precomputed bucket array:
    # zero additional md5 work.
    words = toks.select(F.explode("ub").alias("u"))
    ucnt = words.groupBy("u").agg(F.count("*").cast("bigint").alias("cu"))
    tot = ucnt.agg(F.sum("cu").cast("bigint").alias("t"))
    bcnt = pairs.groupBy("b2").agg(F.count("*").cast("bigint").alias("cb"))
    lam = F.lit(_LM2_LAMBDA)
    occ = (
        pairs.join(F.broadcast(bcnt), "b2")
        .join(F.broadcast(ucnt.withColumnsRenamed({"u": "up", "cu": "cup"})), "up")
        .join(F.broadcast(ucnt.withColumnsRenamed({"u": "uc", "cu": "cuc"})), "uc")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            (
                lam * (F.col("cb").cast("double") / F.col("cup").cast("double"))
                + (F.lit(1.0) - lam)
                * (F.col("cuc").cast("double") / F.col("t").cast("double"))
            ).alias("term"),
        )
    )
    per = occ.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.array_sort(F.collect_list("term")).alias("terms"),
    )
    return per.select(
        "doc_id",
        "n_bigrams",
        F.round(
            F.aggregate(
                F.transform(F.col("terms"), lambda x: F.log(x)),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            / F.col("n_bigrams").cast("double"),
            6,
        ).alias("lm2h_logprob"),
    )


# --------------------------------------- mixture reweighting (DoReMi-lite)


@query(
    "q_mixture_weights",
    oracle=f"""
    WITH {_TOKS_CTE},
    doc_tok AS (
        SELECT d.doc_id, d.source, count(*) AS n_tok
        FROM words w JOIN documents d USING (doc_id)
        GROUP BY d.doc_id, d.source
    ),
    per_source AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS tok
        FROM doc_tok GROUP BY source
    ),
    tot AS (
        SELECT CAST(sum(tok) AS BIGINT) AS t,
               CAST(count(*) AS BIGINT) AS n_sources
        FROM per_source
    )
    SELECT source, n_docs, tok,
           round(CAST(t AS DOUBLE)
                 / (CAST(n_sources AS BIGINT) * CAST(tok AS DOUBLE)), 6)
               AS weight
    FROM per_source, tot
    """,
)
def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture reweighting (DoReMi-lite): per-source sampling weight
    that equalizes each source's EFFECTIVE token contribution against
    a uniform target — weight = target_share / actual_share where
    actual_share = tok_source / tok_total. A weight > 1 means the
    source is under-represented and should be upsampled; the
    downstream sampler (q_sample_stratified) consumes exactly this
    shape. Complements q_mixture_budget (hard per-source caps) with
    the soft-reweighting alternative.

    Comparability: token counts are exact integers; the weight divides
    the same exact integers in both engines (one shared float
    division), so round-6 is identical by construction.

    Scale shape: per-doc token counts are a doc-keyed aggregation of
    the exploded words (map-side partials); per-source rollup is
    output-sized (sources); the 1-row total broadcasts back. At 100 TB
    nothing but the word explode touches corpus-scale data.
    """
    d = load_table(spark, sf_dir, "documents")
    doc_tok = d.select(
        "doc_id", "source", F.size(tx.tokens_ws(F.col("text"))).alias("n_tok")
    )
    per_source = doc_tok.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("tok"),
    )
    tot = per_source.agg(
        F.sum("tok").alias("t"), F.count("*").alias("n_sources")
    )
    return per_source.join(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "tok",
        F.round(
            F.col("t").cast("double")
            / (F.col("n_sources") * F.col("tok").cast("double")),
            6,
        ).alias("weight"),
    )


# ------------------------------------------- end-to-end curation pipeline


@query(
    "q_pipeline_e2e",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    {_quality_cte()},
    corpq AS (
        SELECT d.doc_id, d.source, q.quality
        FROM documents d JOIN qual q USING (doc_id)
        WHERE d.doc_id % 50 != 0 AND q.quality >= 0.55
    ),
    keeper AS (
        SELECT c.doc_id, c.source
        FROM corpq c JOIN norm n USING (doc_id)
        QUALIFY row_number() OVER (PARTITION BY n.t ORDER BY c.doc_id) = 1
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
    contaminated AS (
        SELECT DISTINCT s.doc_id FROM sh s JOIN bench b USING (shingle)
    ),
    clean AS (
        SELECT k.doc_id, k.source FROM keeper k
        WHERE k.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    toks2 AS (
        SELECT c.doc_id, c.source,
               CAST(len(string_split(n.t, ' ')) AS BIGINT) AS n_tok
        FROM clean c JOIN norm n USING (doc_id)
    ),
    cum AS (
        SELECT *, sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum_tok
        FROM toks2
    )
    SELECT source,
           CAST((cum_tok - n_tok) // 1024 AS BIGINT) AS bin_idx,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM cum
    GROUP BY 1, 2
    """,
)
def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline, end to end in ONE plan: quality
    gate (score >= 0.55) → exact dedup (min-id keeper per normalized
    text) → benchmark decontamination (drop any doc sharing a trigram
    with the held-out doc_id%50 slice) → greedy 1024-token sequence
    packing of the survivors, reported as per-(source, bin) stats.
    This is the proof the operator library COMPOSES: each stage is the
    registered operator's exact algebra, chained without
    materialization, and Catalyst plans the whole chain together
    (filters reach the scan once; the benchmark shingle set still
    broadcasts; the only corpus-sized shuffles are the dedup hash and
    the per-source packing window).

    Stage order matters and is pinned by the oracle: dedup before
    decontamination (a contaminated duplicate must not resurrect via
    its keeper), packing over the final survivor set in stable doc_id
    order."""
    from pyspark.sql import Window

    from flink_join_scaling_spark.operators import dedup as dd
    from flink_join_scaling_spark.partitioning import widen_if_narrow

    d = load_table(spark, sf_dir, "documents")
    # widen the corpus projection ONCE before the regex-heavy quality
    # score and norm_text maps: they run BEFORE the first shuffle, so
    # at bench scale they inherit the scan's single split (no-op at
    # real scale). Both the gate branch and the bench (held-out) branch
    # derive from the same widened frame — one reused exchange.
    dw = widen_if_narrow(d.select("doc_id", "source", "text"))
    corpq = (
        dw.where(F.col("doc_id") % 50 != 0)
        .withColumn("quality", tx.quality_score(F.col("text")))
        .where(F.col("quality") >= 0.55)
    )
    from flink_join_scaling_spark.partitioning import pin_partitioning

    wdup = Window.partitionBy("t").orderBy("doc_id")
    # pinned window exchange: the dedup window's sort+rank carries the
    # full text through a shuffle AQE coalesced to one task (r17
    # sweep); windows have no partial phase, so the pin is free
    # pinned (lazy): the keeper survivors feed BOTH the contamination
    # census (shingle explode) and the anti-join/packing tail, and the
    # subtrees are asymmetric enough that runtime exchange reuse does
    # not collapse them — the r17 stage profile showed the whole
    # quality-regex + norm + dedup-window pipeline computed twice
    # (plus a third widen exchange for the bench branch). One
    # materialization of the survivor frame removes the duplicate.
    keeper = (
        pin_partitioning(
            corpq.withColumn("t", tx.norm_text(F.col("text"))), "t"
        )
        .withColumn("rn", F.row_number().over(wdup))
        .where(F.col("rn") == 1)
        .select("doc_id", "source", "text")
        .localCheckpoint(eager=False)
    )
    bench = dw.where(F.col("doc_id") % 50 == 0)
    hits = dd.ngram_contamination(keeper, bench, "doc_id", "text", shingle_n=3)
    clean = dd.anti_exclude(keeper, hits.select("doc_id"), "doc_id", "doc_id")
    wpack = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = clean.select(
        "doc_id", "source", tx.n_tokens_ws(F.col("text")).alias("n_tok")
    )
    return (
        toks.withColumn("cum_tok", F.sum("n_tok").over(wpack))
        .groupBy(
            "source",
            ((F.col("cum_tok") - F.col("n_tok")) / 1024)
            .cast("bigint")
            .alias("bin_idx"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
        )
    )


# ----------------------------------------------- snapshot diff (CDC)


@query(
    "q_snapshot_diff",
    oracle="""
    WITH cur AS (
        SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
        FROM documents
    ),
    old AS (
        -- deterministic previous generation derived from the current
        -- one: docs id%7=0 did not exist yet (-> added), id%5=0 had
        -- older text (-> changed), and 10 ids past the current max
        -- existed then but not now (-> removed)
        SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN t || ' legacy' ELSE t END AS t
        FROM cur WHERE doc_id % 7 != 0
        UNION ALL
        SELECT m.mx + 1 + u.i AS doc_id, 'retired document' AS t
        FROM (SELECT max(doc_id) AS mx FROM cur) m,
             (SELECT unnest(range(10)) AS i) u
    ),
    j AS (
        SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN o.t = n.t THEN 'unchanged'
                    ELSE 'changed' END AS change_type
        FROM old o FULL JOIN cur n ON o.doc_id = n.doc_id
    )
    SELECT change_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM j GROUP BY 1
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (the CDC view of a re-crawled /
    re-generated corpus): FULL OUTER join of the previous snapshot
    against the current one on doc_id, classifying added / removed /
    changed / unchanged by normalized content, reduced to per-class
    counts with an exact id-sum attestation. The previous snapshot is
    derived deterministically from the current table (so the oracle is
    self-contained and all four classes occur): id%7=0 docs are new,
    id%5=0 docs carry older text, and 10 retired ids only exist in the
    old generation. The operational primitive behind incremental
    reprocessing: downstream stages re-run only on added+changed.

    Scale shape: one doc_id-keyed full-outer shuffle of the two
    snapshots (content compare rides the join row — no second pass);
    output is 4 rows. At 100 TB both sides prune to (doc_id, text)
    at the scan, and the id-keyed exchange is the only data movement."""
    cur = load_table(spark, sf_dir, "documents").select(
        "doc_id", tx.norm_text(F.col("text")).alias("t")
    )
    mx = cur.agg(F.max("doc_id").alias("mx"))
    retired = (
        mx.select(F.explode(F.sequence(F.lit(0), F.lit(9))).alias("i"), "mx")
        .select(
            (F.col("mx") + 1 + F.col("i")).alias("doc_id"),
            F.lit("retired document").alias("t"),
        )
    )
    old = (
        cur.where(F.col("doc_id") % 7 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.col("t"), F.lit(" legacy"))
            )
            .otherwise(F.col("t"))
            .alias("t"),
        )
        .unionByName(retired)
        .select(F.col("doc_id").alias("o_id"), F.col("t").alias("o_t"))
    )
    new = cur.select(F.col("doc_id").alias("n_id"), F.col("t").alias("n_t"))
    j = old.join(new, old["o_id"] == new["n_id"], "full_outer").select(
        F.coalesce(F.col("o_id"), F.col("n_id")).alias("doc_id"),
        F.when(F.col("o_id").isNull(), "added")
        .when(F.col("n_id").isNull(), "removed")
        .when(F.col("o_t") == F.col("n_t"), "unchanged")
        .otherwise("changed")
        .alias("change_type"),
    )
    return j.groupBy("change_type").agg(
        F.count("*").alias("n"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
    )


# ------------------------------------------- collocation mining (PMI)


@query(
    "q_collocations",
    oracle=f"""
    WITH {_TOKS_CTE},
    bi AS (
        SELECT a.w AS x, b.w AS y
        FROM words a JOIN words b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ),
    uni AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM words GROUP BY w),
    bic AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n_xy FROM bi GROUP BY x, y),
    tot AS (SELECT CAST((SELECT sum(n) FROM uni) AS DOUBLE) AS nu,
                   CAST((SELECT sum(n_xy) FROM bic) AS DOUBLE) AS nb)
    SELECT x || ' ' || y AS bigram, n_xy, ux.n AS n_x, uy.n AS n_y,
           CAST(round(1e6 * ((CAST(n_xy AS DOUBLE) / nb) /
                ((CAST(ux.n AS DOUBLE) / nu) * (CAST(uy.n AS DOUBLE) / nu))))
                AS BIGINT) AS lift_e6
    FROM bic JOIN uni ux ON bic.x = ux.w JOIN uni uy ON bic.y = uy.w, tot
    WHERE n_xy >= 5
    ORDER BY lift_e6 DESC, bigram ASC
    LIMIT 20
    """,
)
def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram collocation mining: top-20 adjacent token pairs by lift
    (observed/expected co-occurrence ratio, the exp of PMI) with
    support ≥ 5 — the phrase-mining step behind tokenizer vocab
    extension and boilerplate discovery.

    Bigrams come from the token ARRAY map-side (transform over
    sequence), never a positional self-join; the corpus totals are
    sums over the already-grouped count tables (identical subtrees →
    exchange reuse, no extra corpus scans), then two vocab-sized
    token-keyed joins (AQE broadcasts the smaller sides) and the 1-row
    totals ride a broadcast cross join. Output is top-k sized.

    Cross-engine exactness: counts are exact integers; lift is a fixed
    parenthesized chain of IEEE double divisions/multiplications
    (correctly rounded, so bit-identical given identical inputs and
    order — no transcendentals), scaled to an e6 integer. Deterministic
    top-k via (lift_e6, bigram) total order.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tx.tokens_ws(F.col("text")).alias("ws"))
    words = toks.select(F.explode("ws").alias("w"))
    uni = words.groupBy("w").agg(F.count("*").alias("n"))
    bi = toks.select(
        F.explode(
            F.expr(
                "CASE WHEN size(ws) >= 2 THEN transform(sequence(0, size(ws) - 2),"
                " i -> struct(ws[i] AS x, ws[i + 1] AS y)) ELSE array() END"
            )
        ).alias("p")
    ).select("p.x", "p.y")
    bic = bi.groupBy("x", "y").agg(F.count("*").alias("n_xy"))
    # totals derived from the ALREADY-GROUPED tables (nu = Σ uni.n,
    # nb = Σ bic.n_xy before the support filter): identical subtrees →
    # Catalyst exchange reuse, instead of re-tokenizing the corpus for
    # two extra count(*) scans
    tot = uni.agg(F.sum("n").cast("double").alias("nu")).crossJoin(
        bic.agg(F.sum("n_xy").cast("double").alias("nb"))
    )
    ux = uni.select(F.col("w").alias("x"), F.col("n").alias("n_x"))
    uy = uni.select(F.col("w").alias("y"), F.col("n").alias("n_y"))
    joined = (
        bic.where(F.col("n_xy") >= 5)
        .join(ux, "x")
        .join(uy, "y")
        .crossJoin(F.broadcast(tot))
    )
    lift = (F.col("n_xy").cast("double") / F.col("nb")) / (
        (F.col("n_x").cast("double") / F.col("nu"))
        * (F.col("n_y").cast("double") / F.col("nu"))
    )
    return (
        joined.select(
            F.concat_ws(" ", "x", "y").alias("bigram"),
            "n_xy",
            "n_x",
            "n_y",
            F.round(F.lit(1e6) * lift).cast("bigint").alias("lift_e6"),
        )
        .orderBy(F.desc("lift_e6"), F.asc("bigram"))
        .limit(20)
    )


# --------------------------------------- cross-source overlap matrix


@query(
    "q_source_overlap",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    ssh AS (
        SELECT DISTINCT d.source, s.shingle
        FROM sh s JOIN documents d USING (doc_id)
    ),
    sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM ssh GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(count(*) AS BIGINT) AS n_inter
        FROM ssh a JOIN ssh b
          ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT src_a, src_b, n_inter, sa.n AS n_a, sb.n AS n_b,
           round(n_inter / (sa.n + sb.n - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON src_a = sa.source
    JOIN sizes sb ON src_b = sb.source
    """,
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication diagnostic: shingle-set Jaccard between
    every pair of sources that share at least one 3-gram — the
    curation report that tells you two crawls overlap before you pay
    for document-level dedup between them.

    ONE shingle-keyed corpus shuffle total: each shingle aggregates to
    its sorted SOURCE SET (|set| ≤ |sources|, not documents — hot
    shingles collapse inside collect_set's map-side partials), and the
    source pairs expand map-side from that set (x < y combinations via
    a nested transform — Σ |set|² ≤ |sources|² × |distinct shingles|,
    linear in the corpus for the O(100) source counts real pipelines
    have). The previous distinct + shingle self-join form computed the
    same thing with a SECOND corpus-sized exchange; the oracle SQL
    keeps that relational form — identical results, different physical
    plan. Per-source sizes fall out of the same grouped rows. Output
    is |sources|²-bounded (tiny); jaccard is the same round-6
    integer-ratio form the MinHash oracle hash-matches with.
    """
    d = load_table(spark, sf_dir, "documents")
    sh = tx.exploded_shingles(d, "doc_id", "text", 3)
    grouped = (
        sh.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
    )
    sizes = (
        grouped.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count("*").alias("n"))
    )
    inter = (
        grouped.where(F.size("srcs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(srcs, (x, i) -> transform("
                    "slice(srcs, i + 2, size(srcs)), "
                    "y -> struct(x AS src_a, y AS src_b))))"
                )
            ).alias("p")
        )
        .select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_inter",
            "n_a",
            "n_b",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
    )


# ------------------------------------- mergeable cardinality sketches


@query(
    "q_hll_rollup",
    oracle=f"""
    WITH norm AS (
        SELECT source, {_NORM} AS t FROM documents
    ),
    toks AS (SELECT source, unnest(string_split(t, ' ')) AS w FROM norm),
    per AS (
        SELECT source, CAST(count(DISTINCT w) AS BIGINT) AS n_exact
        FROM toks GROUP BY source
    ),
    allsrc AS (
        SELECT '(all)' AS source, CAST(count(DISTINCT w) AS BIGINT) AS n_exact
        FROM toks
    )
    SELECT source, n_exact, TRUE AS within_tol FROM per
    UNION ALL
    SELECT source, n_exact, TRUE AS within_tol FROM allsrc
    """,
)
def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable cardinality sketch rollup (Apache DataSketches HLL):
    per-source distinct-token sketches whose UNION yields the global
    estimate without re-scanning the corpus — the partial-aggregate
    pattern that lets 100 TB pipelines maintain per-day/per-source
    sketches and roll them up in output-sized work (exactly what a
    second exact countDistinct pass cannot do).

    SELF-ATTESTING (the q_approx_distinct pattern): the sketch binary
    is engine-specific, so the query emits the exact distinct counts
    plus booleans asserting every estimate — including the MERGED
    global one — lands within 5% of exact (HLL lgConfigK=12 gives
    ~1.6% rsd, so the band is ~3σ); the oracle computes the same exact
    counts with literal TRUE. Hash-match iff every bound holds. The
    exact countDistinct column exists only as the attestation; the
    sketch path alone is the scale artifact."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(tx.tokens_ws(F.col("text"))).alias("w"))
    per_sk = toks.groupBy("source").agg(
        F.expr("hll_sketch_agg(w)").alias("sk"),
        F.countDistinct("w").alias("n_exact"),
    )
    tol = lambda est, exact: (  # noqa: E731
        F.abs(est - exact) <= 0.05 * exact
    )
    per = per_sk.select(
        "source",
        "n_exact",
        tol(F.expr("hll_sketch_estimate(sk)"), F.col("n_exact")).alias("within_tol"),
    )
    glob = (
        per_sk.agg(F.expr("hll_union_agg(sk)").alias("u"))
        .crossJoin(F.broadcast(toks.agg(F.countDistinct("w").alias("n_exact"))))
        .select(
            F.lit("(all)").alias("source"),
            "n_exact",
            tol(F.expr("hll_sketch_estimate(u)"), F.col("n_exact")).alias(
                "within_tol"
            ),
        )
    )
    return per.unionByName(glob)


# ------------------------------------------------------ heavy hitters

_HH_THETA = 200  # report tokens with count > total/200


@query(
    "q_heavy_hitters",
    oracle=f"""
    WITH {{toks}},
    tot AS (SELECT count(*) AS n FROM words),
    cnt AS (SELECT w AS token, CAST(count(*) AS BIGINT) AS n_occurrences
            FROM words GROUP BY w)
    SELECT token, n_occurrences
    FROM cnt, tot
    WHERE {_HH_THETA} * n_occurrences > n
    ORDER BY n_occurrences DESC, token ASC
    """.format(toks=_TOKS_CTE),
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (tokens with count > total/200) WITHOUT a
    corpus-keyed groupBy: per-partition Misra-Gries summaries bound the
    candidate set (sound by the W/(k+1) merge guarantee), then only the
    candidates are recounted exactly — the sketch-then-verify shape
    that replaces a billions-of-keys shuffle with a candidates-sized
    one at 100 TB. The oracle is the plain GROUP BY ... HAVING the
    two-phase plan provably equals."""
    from flink_join_scaling_spark.operators.sketches import heavy_hitters

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tx.tokens_ws(F.col("text"))).alias("w"))
    return heavy_hitters(toks, "w", theta=_HH_THETA)


# ------------------------------------------------ Count-Min sketch

_CMS_TOP = 20


def _cms_oracle() -> str:
    from flink_join_scaling_spark.operators.sketches import CMS_D, CMS_W

    def horner(off: int) -> str:
        def nib(i: int) -> str:
            return f"(strpos('0123456789abcdef', substr(h, {off + i}, 1)) - 1)"

        v = nib(1)
        for i in range(2, 9):
            v = f"({v} * 16 + {nib(i)})"
        return f"({v} % {CMS_W})"

    pos_cols = ", ".join(f"{horner(8 * j)} AS p{j}" for j in range(CMS_D))
    cms_union = " UNION ALL ".join(
        f"SELECT {j} AS d, p{j} AS pos FROM wpos" for j in range(CMS_D)
    )
    epos_union = " UNION ALL ".join(
        f"SELECT token, exact_cnt, {j} AS d, p{j} AS pos FROM expos"
        for j in range(CMS_D)
    )
    return f"""
    WITH {_TOKS_CTE},
    wpos AS (SELECT {pos_cols} FROM (SELECT md5(w) AS h FROM words)),
    cms AS (
        SELECT d, pos, CAST(count(*) AS BIGINT) AS cnt
        FROM ({cms_union}) GROUP BY d, pos
    ),
    ex AS (
        SELECT w AS token, CAST(count(*) AS BIGINT) AS exact_cnt
        FROM words GROUP BY w
        ORDER BY exact_cnt DESC, token ASC LIMIT {_CMS_TOP}
    ),
    expos AS (SELECT token, exact_cnt, {pos_cols}
              FROM (SELECT token, exact_cnt, md5(token) AS h FROM ex)),
    est AS (
        -- LEFT JOIN + COALESCE 0 mirrors cms_estimate: an untouched
        -- counter is 0 and participates in the min (identity here,
        -- where probe keys come from the sketched corpus itself)
        SELECT token, exact_cnt,
               CAST(min(COALESCE(c.cnt, 0)) AS BIGINT) AS cms_est
        FROM ({epos_union}) e LEFT JOIN cms c USING (d, pos)
        GROUP BY token, exact_cnt
    )
    SELECT token, exact_cnt, cms_est,
           cms_est >= exact_cnt AS overestimates
    FROM est
    """


@query(
    "q_cms_freq",
    oracle=_cms_oracle(),
)
def q_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency estimates, FULLY oracle-checked: the
    sketch build is pure integer GROUP BYs over deterministic md5-slice
    positions, so DuckDB rebuilds the identical D×W counter table and
    the driver hash covers the sketch itself, the estimates, AND the
    never-undercounts guarantee (the ``overestimates`` flags). Probed
    keys = the exact top-20 tokens, so the output pairs every
    estimate with its exact truth.

    Why CMS next to Misra-Gries and HLL: MG answers "which items are
    heavy" (exact after reverify), HLL answers "how many distinct" —
    CMS answers point frequency for ANY key after one pass, in D×W
    integers regardless of cardinality, and its mergeability is plain
    counter addition (partial aggs ARE sketch merges, and the same
    shape runs continuously — ``streaming.sketches.stream_cms``).

    Scale shape: one map-only explode to D positions per token, one
    (d, pos)-keyed shuffle collapsing map-side to ≤ partitions×D×W
    rows; estimation broadcasts the ≤D×W sketch into the probe set.
    The exact-count side exists only because the probe keys here are
    top-k (TakeOrdered, no global sort)."""
    from flink_join_scaling_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(tx.tokens_ws(F.col("text"))).alias("w"))
    sketch = cms_build(words, "w")
    top = (
        words.groupBy(F.col("w").alias("token"))
        .agg(F.count("*").cast("bigint").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("token"))
        .limit(_CMS_TOP)
    )
    est = cms_estimate(sketch, top, "token")
    return est.select(
        "token",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_cnt")).alias("overestimates"),
    )


# ------------------------------------------------- distribution drift

_DRIFT_BINS = 6  # n_chars // 100, capped → bins 0..5


@query(
    "q_source_drift",
    oracle=f"""
    WITH b AS (SELECT source, CAST(LEAST(n_chars // 100, {_DRIFT_BINS - 1}) AS INT) AS bin
               FROM documents),
    sb AS (SELECT source, bin, count(*) AS c FROM b GROUP BY 1, 2),
    srcs AS (SELECT source, sum(c) AS ns FROM sb GROUP BY source),
    grid AS (SELECT source, ns, CAST(t.bin AS INT) AS bin
             FROM srcs, unnest([0, 1, 2, 3, 4, 5]) AS t(bin)),
    sbf AS (SELECT g.source, g.bin, g.ns,
                   (COALESCE(sb.c, 0) + 1.0) / (g.ns + {_DRIFT_BINS}) AS p
            FROM grid g LEFT JOIN sb ON sb.source = g.source AND sb.bin = g.bin),
    tot AS (SELECT sum(c) AS n FROM sb),
    gball AS (SELECT CAST(t.bin AS INT) AS bin, n
              FROM tot, unnest([0, 1, 2, 3, 4, 5]) AS t(bin)),
    gb AS (SELECT bin, sum(c) AS cg FROM sb GROUP BY bin),
    gbf AS (SELECT g.bin, (COALESCE(gb.cg, 0) + 1.0) / (g.n + {_DRIFT_BINS}) AS q
            FROM gball g LEFT JOIN gb ON gb.bin = g.bin)
    SELECT s.source,
           round(sum((s.p - q.q) * ln(s.p / q.q)), 4) AS psi,
           CAST(max(s.ns) AS BIGINT) AS n_docs
    FROM sbf s JOIN gbf q ON q.bin = s.bin
    GROUP BY s.source
    ORDER BY s.source
    """,
)
def q_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability index per source vs the whole corpus, over
    Laplace-smoothed document-length bins — the drift gate a pipeline
    runs when a source's crawl shifts under it (PSI > 0.2 is the
    conventional 'investigate' line).

    One corpus scan into a (source, bin)-keyed count (output-sized,
    pinned with localCheckpoint so the four consumers — per-source
    totals, global totals, bin marginals, the smoothed join — reuse it
    instead of re-scanning the corpus). Zero-count bins are densified
    with an exploded literal range, NOT a cross join, so the plan stays
    nested-loop-free; everything after the first agg is sources x bins
    sized."""
    d = load_table(spark, sf_dir, "documents")
    b = d.select(
        "source",
        F.least(F.floor(F.col("n_chars") / 100), F.lit(_DRIFT_BINS - 1))
        .cast("int")
        .alias("bin"),
    )
    sb = (
        b.groupBy("source", "bin")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    bins_lit = F.array(*[F.lit(i) for i in range(_DRIFT_BINS)])
    srcs = sb.groupBy("source").agg(F.sum("c").alias("ns"))
    grid = srcs.select("source", "ns", F.explode(bins_lit).alias("bin"))
    sbf = grid.join(sb, ["source", "bin"], "left").select(
        "source",
        "bin",
        "ns",
        (
            (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
            / (F.col("ns") + _DRIFT_BINS)
        ).alias("p"),
    )
    gb = sb.groupBy("bin").agg(F.sum("c").alias("cg"))
    gbf = (
        sb.agg(F.sum("c").alias("n"))
        .select(F.explode(bins_lit).alias("bin"), "n")
        .join(gb, "bin", "left")
        .select(
            "bin",
            (
                (F.coalesce(F.col("cg"), F.lit(0)) + 1.0)
                / (F.col("n") + _DRIFT_BINS)
            ).alias("q"),
        )
    )
    return (
        sbf.join(gbf, "bin")
        .groupBy("source")
        .agg(
            F.round(
                F.sum(
                    (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))
                ),
                4,
            ).alias("psi"),
            F.max("ns").cast("bigint").alias("n_docs"),
        )
        .orderBy("source")
    )


# --------------------------------------------- reciprocal rank fusion

_RRF_K = 60  # the standard RRF dampening constant
_RRF_TOP = 50  # per-ranker retrieved-list depth
_RRF_TERMS = ("join", "stream", "vector")  # shared with q_bm25's query


@query(
    "q_retrieval_rrf",
    oracle=f"""
    WITH {{toks}},
    {{qual}},
    lex_top AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS tf
        FROM words WHERE w IN ('join', 'stream', 'vector')
        GROUP BY doc_id
        ORDER BY tf DESC, doc_id ASC
        LIMIT {_RRF_TOP}
    ),
    lex AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY tf DESC, doc_id ASC) AS r
        FROM lex_top
    ),
    qual_top AS (
        SELECT doc_id, round(quality, 4) AS q
        FROM qual
        ORDER BY round(quality, 4) DESC, doc_id ASC
        LIMIT {_RRF_TOP}
    ),
    qrank AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY q DESC, doc_id ASC) AS r
        FROM qual_top
    ),
    fused AS (
        SELECT COALESCE(l.doc_id, qr.doc_id) AS doc_id,
               COALESCE(1.0 / ({_RRF_K} + l.r), 0.0)
                 + COALESCE(1.0 / ({_RRF_K} + qr.r), 0.0) AS rrf,
               l.r AS lex_rank, qr.r AS quality_rank
        FROM lex l FULL OUTER JOIN qrank qr ON qr.doc_id = l.doc_id
    )
    SELECT doc_id, round(rrf, 6) AS rrf_score,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(quality_rank AS BIGINT) AS quality_rank
    FROM fused
    ORDER BY round(rrf, 6) DESC, doc_id ASC
    LIMIT 20
    """.format(toks=_TOKS_CTE, qual=_quality_cte()),
)
def q_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank fusion of two retrieval signals — a lexical
    ranker (query-term frequency) and a quality prior — the standard
    hybrid-retrieval combiner for training-data selection
    (rrf = Σ 1/(60 + rank), ranker-agnostic, scoreless).

    Scale discipline for GLOBAL rank numbers: each ranker takes its
    top-50 via orderBy+limit (Spark's distributed TakeOrdered — a
    partial top-k per partition, NO single-partition sort of the
    corpus), and row_number runs over the 50-row bounded result. The
    quality ranking orders by the ROUNDED score so rank positions are
    engine-identical wherever the oracle's quality hash-matches; the
    fusion itself divides identical integers, so rrf is bit-equal
    across engines."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    toks = d.select("doc_id", F.explode(tx.tokens_ws(F.col("text"))).alias("w"))
    lex_top = (
        toks.where(F.col("w").isin(*_RRF_TERMS))
        .groupBy("doc_id")
        .agg(F.count("*").alias("tf"))
        .orderBy(F.desc("tf"), F.asc("doc_id"))
        .limit(_RRF_TOP)
    )
    w_lex = Window.partitionBy(F.col("doc_id") * F.lit(0)).orderBy(
        F.desc("tf"), F.asc("doc_id")
    )
    lex = lex_top.select("doc_id", F.row_number().over(w_lex).alias("lr"))
    qual_top = (
        d.select(
            "doc_id", F.round(tx.quality_score(F.col("text")), 4).alias("q")
        )
        .orderBy(F.desc("q"), F.asc("doc_id"))
        .limit(_RRF_TOP)
    )
    w_q = Window.partitionBy(F.col("doc_id") * F.lit(0)).orderBy(
        F.desc("q"), F.asc("doc_id")
    )
    qrank = qual_top.select("doc_id", F.row_number().over(w_q).alias("qr"))
    fused = lex.join(qrank, "doc_id", "full").select(
        "doc_id",
        (
            F.coalesce(1.0 / (_RRF_K + F.col("lr")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("qr")), F.lit(0.0))
        ).alias("rrf"),
        F.col("lr").cast("bigint").alias("lex_rank"),
        F.col("qr").cast("bigint").alias("quality_rank"),
    )
    return (
        fused.select(
            "doc_id",
            F.round("rrf", 6).alias("rrf_score"),
            "lex_rank",
            "quality_rank",
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(20)
    )


# -------------------------------------- shard manifest + ppl buckets

_N_SHARDS = 16


@query(
    "q_shard_assignment",
    oracle=f"""
    WITH h AS (SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h
               FROM documents),
    s AS (SELECT doc_id, n_chars,
                 CAST({_BUCKET_DUCK} % {_N_SHARDS} AS BIGINT) AS shard
          FROM h)
    SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM s GROUP BY shard
    """,
)
def q_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard manifest: every document lands in
    md5(doc_id) mod N — reproducible across runs, engines, and input
    order (the same hash discipline as q_sample_hash), so a 100 TB
    corpus rewrite and an incremental top-up agree on placement
    without coordination. The manifest (per-shard doc count, byte
    volume, id range) is what a training job's data loader consumes.

    Scale shape: the shard column is map-only arithmetic; the manifest
    agg has map-side partials and N_SHARDS groups. At 100 TB the same
    column is the ``repartition(shard)`` key for the physical write —
    balance is guaranteed by the hash, visible in the manifest."""
    d = load_table(spark, sf_dir, "documents")
    s = d.select(
        "doc_id", "n_chars", (_bucket_spark() % _N_SHARDS).alias("shard")
    )
    return s.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@query(
    "q_ppl_buckets",
    oracle=f"""
    WITH {_TOKS_CTE},
    tf AS (SELECT w, CAST(count(*) AS BIGINT) AS tf FROM words GROUP BY w),
    tot AS (SELECT CAST(sum(tf) AS BIGINT) AS t FROM tf),
    j AS (SELECT d.doc_id, f.tf FROM words d JOIN tf f USING (w)),
    per AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               list_sort(list(CAST(tf AS DOUBLE))) AS tfs
        FROM j GROUP BY doc_id
    ),
    lm AS (
        SELECT doc_id, n_tokens,
               round((list_reduce(list_transform(tfs, x -> ln(x)),
                                  (a, b) -> a + b)
                      - n_tokens * ln(t)) / n_tokens, 6) AS lm_logprob
        FROM per, tot
    ),
    b AS (
        SELECT d.lang, lm.n_tokens, lm.lm_logprob,
               ntile(3) OVER (PARTITION BY d.lang
                              ORDER BY lm.lm_logprob DESC, lm.doc_id ASC
                             ) AS bucket
        FROM lm JOIN documents d USING (doc_id)
    )
    SELECT lang, CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(lm_logprob) AS min_logprob,
           max(lm_logprob) AS max_logprob
    FROM b GROUP BY lang, bucket
    """,
)
def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: per language, documents are
    ranked by unigram-LM log-probability (q_lm_score's model — the
    corpus IS the model) and split into head/middle/tail terciles;
    the curation decision CCNet makes (keep head, maybe middle, drop
    tail) falls out of the manifest this emits per (lang, bucket).

    Comparability: the per-doc score is the q_lm_score sorted-fold
    chain (bit-identical round-6 by construction), the tercile
    assignment is ntile over (score DESC, doc_id) — a total order, so
    both engines cut identical buckets; the bucket aggregates are
    exact integers plus order-free round-6 min/max.

    Scale shape: identical to q_lm_score through the per-doc score
    (one vocab-keyed tf exchange co-partitioned with its join, 1-row
    broadcast total), then one lang-keyed window (the only sort,
    per-lang parallel) and a (lang × 3)-group agg. Nothing after the
    score is corpus-wide."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(tx.tokens_ws(F.col("text"))).alias("w"))
    tf = words.groupBy("w").agg(F.count("*").alias("tf"))
    tot = tf.agg(F.sum("tf").alias("t"))
    per = (
        words.join(tf, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.array_sort(F.collect_list(F.col("tf").cast("double"))).alias("tfs"),
        )
    )
    lm = per.join(F.broadcast(tot)).select(
        "doc_id",
        "n_tokens",
        F.round(
            (
                F.aggregate(
                    F.transform(F.col("tfs"), lambda x: F.log(x)),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
                - F.col("n_tokens") * F.log(F.col("t"))
            )
            / F.col("n_tokens"),
            6,
        ).alias("lm_logprob"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("lm_logprob"), F.asc("doc_id")
    )
    b = lm.join(d.select("doc_id", "lang"), "doc_id").select(
        "lang", "n_tokens", "lm_logprob", F.ntile(3).over(w).alias("bucket")
    )
    return b.groupBy("lang", F.col("bucket").cast("bigint").alias("bucket")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("lm_logprob").alias("min_logprob"),
        F.max("lm_logprob").alias("max_logprob"),
    )


# ------------------------------- temperature mixture + per-source caps


@query(
    "q_mixture_temperature",
    oracle=f"""
    WITH {_TOKS_CTE},
    doc_tok AS (
        SELECT d.doc_id, d.source, count(*) AS n_tok
        FROM words w JOIN documents d USING (doc_id)
        GROUP BY d.doc_id, d.source
    ),
    per_source AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS tok
        FROM doc_tok GROUP BY source
    ),
    tot AS (SELECT CAST(sum(tok) AS BIGINT) AS t FROM per_source),
    q AS (
        SELECT source, n_docs, tok, t,
               CAST(round(pow(CAST(tok AS DOUBLE) / CAST(t AS DOUBLE), 0.7)
                          * 1000000000) AS BIGINT) AS q9
        FROM per_source, tot
    ),
    s AS (SELECT CAST(sum(q9) AS BIGINT) AS sq FROM q)
    SELECT source, n_docs, tok,
           CAST(round(CAST(q9 AS DOUBLE) / CAST(sq AS DOUBLE) * 1000000)
                AS BIGINT) AS weight_e6,
           CAST(round((CAST(q9 AS DOUBLE) / CAST(sq AS DOUBLE))
                      * (CAST(t AS DOUBLE) / CAST(tok AS DOUBLE))
                      * 1000000) AS BIGINT) AS upsample_e6
    FROM q, s
    """,
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture (the multilingual-sampling
    rule of mBERT/XLM-R and the Pile's source weighting): sampling
    weight ∝ p^α with α = 0.7, where p is the source's natural token
    share. α < 1 flattens the mixture — upsampling tail sources and
    damping the head — without the hard caps of q_mixture_budget or
    the full equalization of q_mixture_weights; ``upsample_e6`` is the
    effective repetition factor w/p each source sees at a fixed token
    budget.

    Comparability: the only cross-engine float risk is ``pow``, so
    p^α is quantized to an e9 BIGINT immediately (an ulp on a 0.x
    double is ~1e-17 vs the 5e-10 rounding margin); every later step
    is a pinned-order double expression of those exact integers, so
    round-trip equality is by construction. The upsample factor is
    (q9/sq)·(t/tok) with each ratio cast to double BEFORE the product
    — the naive BIGINT products q9·t and sq·tok overflow int64 once
    total corpus tokens pass ~9e9 (q9 is ~1e9-scale), i.e. at exactly
    the 100 TB regime this engine targets; both engines compute the
    division-first form identically.

    Scale shape: per-doc token counts collapse map-side into the
    source-keyed rollup (sources-sized); the two scalar totals
    broadcast back. Nothing after the word explode is corpus-sized.
    """
    d = load_table(spark, sf_dir, "documents")
    doc_tok = d.select(
        "source", F.size(tx.tokens_ws(F.col("text"))).alias("n_tok")
    )
    per_source = doc_tok.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("tok"),
    )
    tot = per_source.agg(F.sum("tok").cast("bigint").alias("t"))
    q = per_source.join(F.broadcast(tot)).withColumn(
        "q9",
        F.round(
            F.pow(F.col("tok").cast("double") / F.col("t").cast("double"), F.lit(0.7))
            * F.lit(1_000_000_000.0)
        ).cast("bigint"),
    )
    s = q.agg(F.sum("q9").cast("bigint").alias("sq"))
    return q.join(F.broadcast(s)).select(
        "source",
        "n_docs",
        "tok",
        F.round(
            F.col("q9").cast("double") / F.col("sq").cast("double") * F.lit(1_000_000.0)
        )
        .cast("bigint")
        .alias("weight_e6"),
        F.round(
            (F.col("q9").cast("double") / F.col("sq").cast("double"))
            * (F.col("t").cast("double") / F.col("tok").cast("double"))
            * F.lit(1_000_000.0)
        )
        .cast("bigint")
        .alias("upsample_e6"),
    )


_SOURCE_CAP = 50


@query(
    "q_source_cap",
    oracle=f"""
    WITH {_quality_cte()}
    SELECT doc_id, source, quality_e4, rank_in_source FROM (
        SELECT d.doc_id, d.source,
               CAST(round(q.quality_raw * 10000) AS BIGINT) AS quality_e4,
               CAST(row_number() OVER (
                   PARTITION BY d.source
                   ORDER BY q.quality_raw DESC, d.doc_id ASC) AS BIGINT)
                   AS rank_in_source
        FROM documents d JOIN qraw q ON q.doc_id = d.doc_id
    ) WHERE rank_in_source <= {_SOURCE_CAP}
    """,
)
def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap: keep each source's top-N documents by
    quality (deterministic doc_id tiebreak) — the "no single domain
    dominates" rule every crawl-curation pipeline applies (C4's
    per-domain caps, RefinedWeb's url-level budgets). Quality is the
    shared heuristic score, so the cap composes with q_quality_filter
    and q_mixture_budget as successive curation stages.

    Comparability: ranking uses the RAW quality double (bit-identical
    IEEE arithmetic in both engines — no rounding in the order key);
    the exposed score is the e4 integer quantization, per the
    engine-stable round discipline. The decimal round(…,4) display
    form hits a cross-engine midpoint at sf0.001 (doc 234); the
    integer form avoids that by construction.

    Scale shape: the rank<=N filter over the source-partitioned window
    compiles to WindowGroupLimit (asserted in tests/test_plans.py) —
    each task keeps a local top-N per source BEFORE the exchange, so
    the shuffle carries at most N rows per (task, source) rather than
    the corpus, and the post-shuffle sort touches ≤ tasks×N rows per
    source. A mega-source therefore costs bounded memory; no global
    sort anywhere.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "source", tx.quality_score_raw(F.col("text")).alias("qraw")
    )
    w = Window.partitionBy("source").orderBy(F.desc("qraw"), F.asc("doc_id"))
    return (
        scored.withColumn("rank_in_source", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank_in_source") <= _SOURCE_CAP)
        .select(
            "doc_id",
            "source",
            F.round(F.col("qraw") * 10000).cast("bigint").alias("quality_e4"),
            "rank_in_source",
        )
    )


# ------------------------------------ length-bucketed batching stats

_LB_WIDTH = 64
_LB_CAP = 15


@query(
    "q_length_buckets",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               CAST(len(string_split({_NORM}, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ),
    b AS (
        SELECT least(n_tok // {_LB_WIDTH}, {_LB_CAP}) AS bucket, n_tok
        FROM tok
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
           CAST(max(n_tok) AS BIGINT) AS max_tokens,
           CAST(round((count(*) * max(n_tok) - sum(n_tok))
                      / CAST(count(*) * max(n_tok) AS DOUBLE) * 1000000)
                AS BIGINT) AS pad_overhead_e6
    FROM b GROUP BY 1
    """,
)
def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching manifest: documents grouped into
    64-token-wide length buckets (capped at 15+), with the padding
    overhead each bucket pays if batched to its max length — the
    bucketing an inference/training dataloader uses to avoid padding
    short sequences against long ones (dynamic batching). Overhead is
    the e6 fraction of padded positions; exact-integer counts make the
    single division engine-stable.

    Scale shape: map-only token count + one ≤16-group aggregation with
    map-side partials — output-sized, no window, no sort."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = tx.n_tokens_ws(F.col("text"))
    b = d.select(
        F.least(
            F.floor(n_tok / _LB_WIDTH), F.lit(_LB_CAP).cast("bigint")
        ).cast("bigint").alias("bucket"),
        n_tok.alias("n_tok"),
    )
    g = b.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("sum_tokens"),
        F.max("n_tok").cast("bigint").alias("max_tokens"),
    )
    return g.select(
        "bucket",
        "n_docs",
        "sum_tokens",
        "max_tokens",
        F.round(
            (F.col("n_docs") * F.col("max_tokens") - F.col("sum_tokens"))
            / (F.col("n_docs") * F.col("max_tokens")).cast("double")
            * 1000000.0
        ).cast("bigint").alias("pad_overhead_e6"),
    )
