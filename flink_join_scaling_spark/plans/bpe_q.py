"""Trained-BPE tokenizer queries: train (the merge table) and encode
(per-document token counts under the trained tokenizer).

Both are fully oracle-checked: the DuckDB oracle re-trains the same
tokenizer by unrolling the merge loop into K generated CTE rounds
(pair counts → deterministic argmax → boundary-safe string replace),
so the driver's hash compare covers the *learned merges themselves*,
not just downstream counts. The encode oracle then derives document
token counts by an independent route (join pre-tokens to the final
word table) from the Spark side's broadcast chained-replace map — two
different algorithms agreeing on every value.

Determinism: pair argmax orders by (count DESC, a ASC, b ASC) over
exact BIGINT counts and lowercase-ASCII symbols — a total order both
engines share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_join_scaling_spark.functions import text as tx
from flink_join_scaling_spark.operators import bpe
from flink_join_scaling_spark.plans.registry import query
from flink_join_scaling_spark.sources.catalog import load_table

#: merge rounds — vocabulary growth is corpus-independent, so this is
#: a quality dial, not a scale dial (each round costs one vocab-table
#: aggregation regardless of corpus size).
_BPE_K = 12


def _train_ctes(k: int) -> str:
    """Unrolled training chain: w0 (word table) then per round r —
    p{r} pair counts, b{r} argmax, w{r} merged states."""
    parts = [
        f"""
    pre AS MATERIALIZED (
        SELECT doc_id, unnest(regexp_extract_all(text, '{tx.BPE_ISH_PATTERN}')) AS w
        FROM documents
    ),
    w0 AS MATERIALIZED (
        SELECT lower(w) AS word, CAST(count(*) AS BIGINT) AS wc,
               regexp_replace(lower(w), '(.)', ' \\1 ', 'g') AS state
        FROM pre WHERE regexp_matches(w, '{bpe.LETTER_RUN}')
        GROUP BY lower(w)
    )"""
    ]
    for r in range(1, k + 1):
        parts.append(
            f"""
    p{r} AS (
        SELECT split_part(pair, ' ', 1) AS a, split_part(pair, ' ', 2) AS b,
               CAST(sum(wc) AS BIGINT) AS cnt
        FROM (
            SELECT wc, unnest([syms[i] || ' ' || syms[i+1]
                               for i in range(1, len(syms))]) AS pair
            FROM (SELECT wc, string_split(trim(state), '  ') AS syms FROM w{r - 1})
        ) GROUP BY 1, 2
    ),
    b{r} AS MATERIALIZED (
        SELECT CAST({r} AS BIGINT) AS merge_rank, a, b, cnt
        FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1
    ),
    w{r} AS MATERIALIZED (
        SELECT word, wc,
               replace(state, ' ' || a || '  ' || b || ' ',
                       ' ' || a || b || ' ') AS state
        FROM w{r - 1}, b{r}
    )"""
        )
    return ",".join(parts)


@query(
    "q_bpe_train",
    oracle=f"""
    WITH {_train_ctes(_BPE_K)}
    SELECT merge_rank, a, b, a || b AS merged, cnt
    FROM ({" UNION ALL ".join(f"SELECT * FROM b{r}" for r in range(1, _BPE_K + 1))})
    """,
)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table: rank, pair, merged token, and the
    wc-weighted pair count at selection time. The oracle re-learns the
    merges from scratch in DuckDB — a hash match here means the whole
    iterative training trajectory (argmax sequence included) is
    engine-independent."""
    d = load_table(spark, sf_dir, "documents")
    merges = bpe.train(bpe.word_table(d, "text"), _BPE_K)
    rows = [
        (i + 1, a, b, a + b, cnt) for i, (a, b, cnt) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, schema="merge_rank bigint, a string, b string, merged string, cnt bigint"
    )


@query(
    "q_bpe_encode",
    oracle=f"""
    WITH {_train_ctes(_BPE_K)},
    wtok AS (
        SELECT word,
               CAST(length(state) - length(replace(state, '  ', ' ')) + 1
                    AS BIGINT) AS ntok
        FROM w{_BPE_K}
    ),
    dpre AS (
        SELECT doc_id, lower(w) AS lw,
               regexp_matches(w, '{bpe.LETTER_RUN}') AS is_letter
        FROM pre
    ),
    dcnt AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_pretokens,
               CAST(sum(CASE WHEN is_letter THEN t.ntok ELSE 1 END)
                    AS BIGINT) AS n_bpe
        FROM dpre LEFT JOIN wtok t ON dpre.is_letter AND dpre.lw = t.word
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(c.n_pretokens, CAST(0 AS BIGINT)) AS n_pretokens,
           coalesce(c.n_bpe, CAST(0 AS BIGINT)) AS n_bpe_tokens
    FROM documents d LEFT JOIN dcnt c ON d.doc_id = c.doc_id
    """,
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-encode end to end: per-document pre-token and
    BPE-token counts under the corpus-trained tokenizer — the token
    accounting a training-data pipeline runs before packing.

    Spark path is the production shape: merges broadcast as chained
    codegen replaces, corpus streamed map-only (zero shuffle after
    the vocab-table build). The oracle counts by the independent
    word-table-join route, so agreement is algorithmic, not shared
    code."""
    d = load_table(spark, sf_dir, "documents")
    merges = bpe.train(bpe.word_table(d, "text"), _BPE_K)
    n_pre, n_bpe = bpe.token_count(F.col("text"), merges)
    # the encode pass (chained replaces over every document) is the
    # query's heaviest map stage; widen a single-split scan so it uses
    # every core (no-op at real scale)
    from flink_join_scaling_spark.partitioning import widen_if_narrow

    return widen_if_narrow(d.select("doc_id", "text")).select(
        "doc_id",
        n_pre.alias("n_pretokens"),
        n_bpe.alias("n_bpe_tokens"),
    )


@query(
    "q_tokenizer_fertility",
    oracle=f"""
    WITH {_train_ctes(_BPE_K)},
    wtok AS (
        SELECT word,
               CAST(length(state) - length(replace(state, '  ', ' ')) + 1
                    AS BIGINT) AS ntok
        FROM w{_BPE_K}
    ),
    dpre AS (
        SELECT doc_id, lower(w) AS lw,
               regexp_matches(w, '{bpe.LETTER_RUN}') AS is_letter
        FROM pre
    ),
    dcnt AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_pre,
               CAST(sum(CASE WHEN is_letter THEN t.ntok ELSE 1 END)
                    AS BIGINT) AS n_bpe
        FROM dpre LEFT JOIN wtok t ON dpre.is_letter AND dpre.lw = t.word
        GROUP BY doc_id
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(coalesce(c.n_bpe, 0)) AS BIGINT) AS tok_bpe,
           CAST(sum(coalesce(c.n_pre, 0)) AS BIGINT) AS tok_pre,
           CAST(round(CAST(sum(coalesce(c.n_bpe, 0)) AS DOUBLE)
                      / CAST(sum(coalesce(c.n_pre, 0)) AS DOUBLE) * 10000)
                AS BIGINT) AS fertility_e4
    FROM documents d LEFT JOIN dcnt c ON d.doc_id = c.doc_id
    GROUP BY d.source
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED-tokenizer fertility by source: BPE tokens per pre-token
    under the corpus-trained merge table — the tokenizer-health
    diagnostic a curation pipeline tracks per corpus slice (fertility
    creep on a source means its text sits away from the tokenizer's
    training distribution: fewer merges fire, more tokens per word,
    worse packing density downstream). Uses the trained tokenizer
    rather than the fixed pre-tokenizer precisely so the metric
    DISCRIMINATES: merge coverage differs per source vocabulary.

    Comparability: both token counts are exact BIGINTs from the same
    trained merges the q_bpe_train oracle re-learns from scratch; the
    fertility divides the two exact sums once, e4-quantized.

    Scale shape: q_bpe_encode's shape exactly (vocab-bounded training
    + one map-only chained-replace scan), then a source-keyed agg
    with map-side partials collapsing to ≤ sources rows."""
    d = load_table(spark, sf_dir, "documents")
    merges = bpe.train(bpe.word_table(d, "text"), _BPE_K)
    n_pre, n_bpe = bpe.token_count(F.col("text"), merges)
    from flink_join_scaling_spark.partitioning import widen_if_narrow

    per = widen_if_narrow(d.select("source", "text")).select(
        "source", n_pre.alias("tp"), n_bpe.alias("tb")
    )
    agg = per.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("tb").cast("bigint").alias("tok_bpe"),
        F.sum("tp").cast("bigint").alias("tok_pre"),
    )
    return agg.select(
        "source",
        "n_docs",
        "tok_bpe",
        "tok_pre",
        F.round(
            F.col("tok_bpe").cast("double") / F.col("tok_pre").cast("double")
            * 10000
        )
        .cast("bigint")
        .alias("fertility_e4"),
    )
