"""Model-based scoring & selection queries: a trained multinomial
Naive Bayes language classifier (train + apply + confusion-matrix
eval), DSIR-style importance-resampling weights over hashed token
features (+ the top-N selection step), and the fully-composed trained
curation pipeline (classifier gate → NB route → dedup keeper → DSIR
selection) whose single SQL oracle re-trains all three models.

Both are *trained-model* operators in the bpe_q / classifier_q family:
the DuckDB oracle re-derives the full model from the same tables, so
the driver hash attests the training, not just downstream counts. The
NB model is exact integer counts (the easiest trainer to oracle); the
transcendental scoring rides the q_lm_score discipline — per-row log
inputs sorted ascending, folded strictly left-to-right, compared as
e6-quantized BIGINTs.

DSIR (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling"): weight each raw-corpus document by
Σ_t [ln p_target(feat(t)) − ln p_raw(feat(t))] over HASHED token
features — the fixed-width feature space (4096 md5 buckets here) is
what makes the method corpus-size-independent: both "models" are
4096-row count tables regardless of volume. Target distribution =
the English slice (a stand-in for "looks like the high-quality target
domain"); the bigram extension hashes into the same bucket space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_join_scaling_spark.functions import text as tx
from flink_join_scaling_spark.operators import nb
from flink_join_scaling_spark.plans.llmdata import _NORM, _TOKS_CTE
from flink_join_scaling_spark.plans.registry import query
from flink_join_scaling_spark.sources.catalog import load_table

#: the documents.lang domain, ascending — class order IS the argmax
#: tiebreak, so it is part of the operator contract
_NB_LANGS = ("de", "en", "es", "fr", "zh")

_WL_CTE = f"""
    {_TOKS_CTE},
    wl AS (
        SELECT w.doc_id, w.w, d.lang
        FROM words w JOIN documents d USING (doc_id)
    )"""


@query(
    "q_nb_lang_train",
    oracle=f"""
    WITH {_WL_CTE},
    cls AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT w) AS BIGINT) AS n_class_vocab
        FROM wl GROUP BY lang
    ),
    dc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY lang),
    v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS vocab FROM wl)
    SELECT c.lang, d.n_docs, c.n_tokens, c.n_class_vocab, v.vocab
    FROM cls c JOIN dc d USING (lang), v
    """,
)
def q_nb_lang_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fitted Naive Bayes model's per-class summary: doc prior
    count, token total, class vocabulary, shared smoothing vocabulary.
    Every value is an exact BIGINT from one token-keyed pass + one
    documents pass — a hash match attests the entire model (the
    per-token count table is a GROUP BY away from these totals and is
    re-derived identically by the apply oracle).

    Scale shape: token explode → class-conditional sums with map-side
    partials; output is classes-sized. Nothing collected."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", "lang", F.explode(tx.tokens_ws(F.col("text"))).alias("w")
    )
    cls = words.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.countDistinct("w").cast("bigint").alias("n_class_vocab"),
    )
    dc = d.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_docs"))
    v = words.agg(F.countDistinct("w").cast("bigint").alias("vocab"))
    return cls.join(dc, "lang").crossJoin(F.broadcast(v)).select(
        "lang", "n_docs", "n_tokens", "n_class_vocab", "vocab"
    )


def _nb_pred_ctes() -> str:
    """NB model + per-doc prediction as a reusable CTE chain (assumes
    ``wl`` from ``_WL_CTE`` is in scope) ending in
    ``nbpred(doc_id, lang, pred_lang, score_e6)`` — shared by the
    standalone apply oracle and the trained-pipeline compose, so the
    two cannot drift. All CTE names are nb-prefixed to compose safely
    next to the classifier's and DSIR's chains."""
    model_cols = ", ".join(
        f"CAST(sum(CASE WHEN lang = '{c}' THEN 1 ELSE 0 END) AS BIGINT) AS c_{c}"
        for c in _NB_LANGS
    )
    tot_cols = ", ".join(
        f"CAST(sum(CASE WHEN lang = '{c}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{c}"
        for c in _NB_LANGS
    )
    prior_cols = ", ".join(
        f"CAST(sum(CASE WHEN lang = '{c}' THEN 1 ELSE 0 END) AS BIGINT) AS d_{c}"
        for c in _NB_LANGS
    )
    arrs = ", ".join(
        f"list_sort(list(CAST(COALESCE(m.c_{c}, 0) AS DOUBLE))) AS a_{c}"
        for c in _NB_LANGS
    )
    scores = ", ".join(
        f"""CAST(round((ln(CAST(d_{c} AS DOUBLE)) - ln(CAST(dd AS DOUBLE))
            + list_reduce(list_transform(a_{c}, x -> ln(x + 1.0)), (a, b) -> a + b)
            - CAST(n_toks AS DOUBLE) * ln(CAST(n_{c} + v AS DOUBLE)))
            * 1000000) AS BIGINT) AS s_{c}"""
        for c in _NB_LANGS
    )
    best = "greatest(" + ", ".join(f"s_{c}" for c in _NB_LANGS) + ")"
    case = (
        "CASE "
        + " ".join(f"WHEN s_{c} = best THEN '{c}'" for c in _NB_LANGS)
        + " END"
    )
    return f"""
    nbmodel AS (SELECT w, {model_cols} FROM wl GROUP BY w),
    nbtot AS (SELECT {tot_cols}, CAST(count(DISTINCT w) AS BIGINT) AS v FROM wl),
    nbprior AS (SELECT {prior_cols}, CAST(count(*) AS BIGINT) AS dd FROM documents),
    nbper AS (
        SELECT wl.doc_id, wl.lang,
               CAST(count(*) AS BIGINT) AS n_toks, {arrs}
        FROM wl LEFT JOIN nbmodel m USING (w)
        GROUP BY wl.doc_id, wl.lang
    ),
    nbscored AS (SELECT doc_id, lang, {scores} FROM nbper, nbtot, nbprior),
    nbpred AS (
        SELECT doc_id, lang, {case} AS pred_lang, best AS score_e6
        FROM (SELECT *, {best} AS best FROM nbscored)
    )"""


def _nb_apply_oracle() -> str:
    return f"""
    WITH {_WL_CTE},
    {_nb_pred_ctes()}
    SELECT doc_id, lang AS true_lang, pred_lang, score_e6 FROM nbpred
    """


@query(
    "q_nb_lang_apply",
    oracle=_nb_apply_oracle(),
)
def q_nb_lang_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document under the trained NB model and emit the
    argmax class next to the true label — lang-ID as a TRAINED
    classifier (vs q_lang_id's fixed marker heuristic), and the
    standard weak-supervision pattern: fit on the labeled corpus,
    apply to route/score incoming text.

    Engine-exactness: the model is exact counts; each class score
    folds ln(count+1) over the doc's SORTED class counts then applies
    the pinned prior/denominator terms (q_lm_score's rule), and the
    argmax compares e6 BIGINTs with class-ascending ties — DuckDB's
    ordered CASE over greatest() ≡ Spark's array_sort over
    (−score, class) structs.

    Scale shape: ONE vocab-keyed model aggregation (map-side partials)
    + ONE token-keyed corpus⋈model join (co-partitioned with the
    build) + a doc-keyed fold whose state is bounded by document
    length; priors/totals broadcast as 1-row frames. No windows, no
    driver artifacts beyond the two 1-row frames."""
    return _nb_pred_frame(spark, sf_dir).select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        "pred_lang",
        "score_e6",
    )


def _nb_words(wd: DataFrame) -> DataFrame:
    """The pinned (doc_id, lang, token) stream under the NB model —
    THREE subtrees consume it (model counts, totals, the per-doc
    fold's probe side); unpinned, each re-tokenizes from the scan and
    re-pays the widening shuffle's serial map side. Named so the
    trained-pipeline compose can pre-materialize it from a thread
    pool while the LR trainer's driver-bound jobs run."""
    return wd.select(
        "doc_id", "lang",
        F.explode(tx.tokens_ws(F.col("text"))).alias("w"),
    ).localCheckpoint(eager=False)


def _nb_pred_frame(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame | None = None,
    words: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, lang, pred_lang, score_e6) under the corpus-trained NB
    model — the Spark twin of the oracle's ``nbpred`` CTE, shared by
    the standalone apply and the trained-pipeline compose. ``docs``
    lets the compose pass ONE widened+pinned (doc_id, lang, text)
    frame shared across its stages instead of re-widening per stage;
    ``words`` lets it pass the already-pinned token stream."""
    from flink_join_scaling_spark.partitioning import widen_if_narrow

    d = load_table(spark, sf_dir, "documents")
    # widen the tokenize/explode pass: single-split scan at bench scale
    # serializes the model build AND the per-doc fold onto one core
    # (no-op at real scale).
    wd = (
        docs.select("doc_id", "lang", "text")
        if docs is not None
        else widen_if_narrow(d.select("doc_id", "lang", "text"))
    )
    if words is None:
        words = _nb_words(wd)
    model = nb.nb_model(words, _NB_LANGS)
    tot = nb.nb_totals(words, _NB_LANGS)
    prior = nb.nb_priors(d, _NB_LANGS)
    # LEFT join + coalesce-to-0: an out-of-vocab token contributes
    # ln(0+1) − ln(N_c+V) = the exact add-1 unseen probability (on the
    # training corpus itself every token is in-vocab, so this equals
    # the inner form — but the streaming sibling scores NEW text with
    # the same algebra)
    # pin the per-doc exchange: the fold stage downstream (5 ln-folds
    # per row over collect_list arrays) is CPU-dense far beyond its
    # byte size and AQE coalesced it to 4 tasks (r17 sweep: 1.25 s of
    # CPU serialized); collect_list partials don't reduce the shuffle,
    # so the pinned exchange moves the same bytes
    from flink_join_scaling_spark.partitioning import pin_partitioning

    per = (
        pin_partitioning(words.join(model, "w", "left"), "doc_id", "lang")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_toks"),
            *[
                F.array_sort(
                    F.collect_list(
                        F.coalesce(F.col(f"c_{c}"), F.lit(0)).cast("double")
                    )
                ).alias(f"a_{c}")
                for c in _NB_LANGS
            ],
        )
    )
    scored = per.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(prior))
    for c in _NB_LANGS:
        scored = scored.withColumn(
            f"s_{c}",
            F.round(nb.nb_score_expr(c) * 1_000_000.0).cast("bigint"),
        )
    return nb.nb_predict(scored, _NB_LANGS).select(
        "doc_id", "lang", "pred_lang", "score_e6"
    )


# ------------------------------------------------------------- DSIR

_DSIR_B = 4096  # hashed-feature buckets: the model is 2×4096 counts at ANY corpus size
_DSIR_TOP = 200

_HEX = "0123456789abcdef"


def _bucket_spark(col: str) -> F.Column:
    return (
        F.conv(F.substring(F.md5(F.col(col)), 1, 8), 16, 10).cast("bigint")
        % _DSIR_B
    )


def _bucket_duck(col: str) -> str:
    def nib(i: int) -> str:
        return f"(strpos('{_HEX}', substr(md5({col}), {i}, 1)) - 1)"

    v = nib(1)
    for i in range(2, 9):
        v = f"({v} * 16 + {nib(i)})"
    return f"({v} % {_DSIR_B})"


#: DSIR chain WITHOUT the tokenization prefix (assumes
#: norm/toks/words from ``_TOKS_CTE`` in scope) — reusable by the
#: trained-pipeline compose next to the classifier/NB chains
_DSIR_BODY = f"""
    wb AS (
        SELECT w.doc_id, {_bucket_duck('w.w')} AS b, d.lang
        FROM words w JOIN documents d USING (doc_id)
    ),
    tcnt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM wb
             WHERE lang = 'en' GROUP BY b),
    rcnt AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM wb GROUP BY b),
    ntot AS (
        SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt,
               CAST(count(*) AS BIGINT) AS nr
        FROM wb
    ),
    dper AS (
        SELECT wb.doc_id,
               CAST(count(*) AS BIGINT) AS n_toks,
               list_sort(list(CAST(COALESCE(t.ct, 0) AS DOUBLE))) AS a_t,
               list_sort(list(CAST(r.cr AS DOUBLE))) AS a_r
        FROM wb
        LEFT JOIN tcnt t USING (b)
        JOIN rcnt r USING (b)
        GROUP BY wb.doc_id
    ),
    dweights AS (
        SELECT doc_id, n_toks,
               CAST(round((
                   list_reduce(list_transform(a_t, x -> ln(x + 1.0)), (a, b) -> a + b)
                   - list_reduce(list_transform(a_r, x -> ln(x + 1.0)), (a, b) -> a + b)
                   + CAST(n_toks AS DOUBLE)
                     * (ln(CAST(nr + {_DSIR_B} AS DOUBLE))
                        - ln(CAST(nt + {_DSIR_B} AS DOUBLE)))
               ) * 1000000) AS BIGINT) AS weight_e6
        FROM dper, ntot
    )"""

_DSIR_CTES = f"""
    {_TOKS_CTE},
    {_DSIR_BODY}"""


def _dsir_bucket_stream(wd: DataFrame) -> DataFrame:
    """The pinned (doc_id, lang, bucket) stream — FOUR subtrees consume
    it (ntot, tcnt, rcnt, the per-doc fold's probe side); unpinned,
    each re-tokenizes + re-hashes from the scan. The pinned rows are
    (id, lang, int) — narrow. Named so the trained-pipeline compose
    can pre-materialize it concurrently with the LR trainer."""
    return (
        wd.select(
            "doc_id", "lang",
            F.explode(tx.tokens_ws(F.col("text"))).alias("w"),
        )
        .select("doc_id", "lang", _bucket_spark("w").alias("b"))
        .localCheckpoint(eager=False)
    )


def _dsir_weights(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame | None = None,
    wb: DataFrame | None = None,
) -> DataFrame:
    from flink_join_scaling_spark.partitioning import widen_if_narrow

    d = load_table(spark, sf_dir, "documents")
    # widen the tokenize/md5-bucket pass (single-split scan at bench
    # scale; no-op at real scale).
    wd = (
        docs.select("doc_id", "lang", "text")
        if docs is not None
        else widen_if_narrow(d.select("doc_id", "lang", "text"))
    )
    if wb is None:
        wb = _dsir_bucket_stream(wd)
    # the bucket models themselves (tcnt/rcnt) are fitted inside
    # _dsir_per_doc — only the scalar token totals are built here
    ntot = wb.agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("nt"),
        F.count("*").cast("bigint").alias("nr"),
    )
    per = _dsir_per_doc(wb, "doc_id")
    return per.crossJoin(F.broadcast(ntot)).select(
        "doc_id", "n_toks", dsir_weight_e6_expr()
    )


def _dsir_per_doc(wb: DataFrame, id_col: str) -> DataFrame:
    """Per-doc sorted count arrays against the two bucket models —
    shared by the batch weights and the streaming sibling. ``wb``
    carries (id, b) plus the model columns after the caller's joins,
    or raw (id, b) rows here, where the models are joined in."""
    tcnt = (
        wb.where(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count("*").cast("bigint").alias("ct"))
    )
    rcnt = wb.groupBy("b").agg(F.count("*").cast("bigint").alias("cr"))
    return dsir_fold_frame(
        wb.join(F.broadcast(tcnt), "b", "left").join(F.broadcast(rcnt), "b"),
        id_col,
    )


def dsir_fold_frame(joined: DataFrame, id_col: str) -> DataFrame:
    """(id, n_toks, a_t, a_r) from rows already joined to the bucket
    models: one keyed aggregation, fold state bounded by doc length.
    Works identically under batch groupBy and update-mode streaming
    aggregation (the converged==batch test pins that)."""
    return joined.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_toks"),
        F.array_sort(
            F.collect_list(F.coalesce(F.col("ct"), F.lit(0)).cast("double"))
        ).alias("a_t"),
        # cr coalesces like ct: buckets unseen by the batch-fitted raw
        # model (possible only when scoring NEW text, i.e. the streaming
        # sibling) contribute ln(0+1)=0 — add-1 OOV, not a dropped row.
        # In batch the model is fitted on the same corpus, so cr is
        # never null and this is the identity.
        F.array_sort(
            F.collect_list(F.coalesce(F.col("cr"), F.lit(0)).cast("double"))
        ).alias("a_r"),
    )


def dsir_weight_e6_expr() -> F.Column:
    """The pinned weight expression over (n_toks, a_t, a_r, nt, nr) —
    one definition for the batch query, the compose, and the streaming
    sibling."""

    def fold_ln1(col: str) -> F.Column:
        return F.aggregate(
            F.transform(F.col(col), lambda x: F.log(x + F.lit(1.0))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    return (
        F.round(
            (
                fold_ln1("a_t")
                - fold_ln1("a_r")
                + F.col("n_toks").cast("double")
                * (
                    F.log((F.col("nr") + _DSIR_B).cast("double"))
                    - F.log((F.col("nt") + _DSIR_B).cast("double"))
                )
            )
            * 1_000_000.0
        )
        .cast("bigint")
        .alias("weight_e6")
    )


@query(
    "q_dsir_weights",
    oracle=f"""
    WITH {_DSIR_CTES}
    SELECT doc_id, n_toks, weight_e6 FROM dweights
    """,
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weight: how much more likely the
    document's hashed-unigram features are under the target
    distribution (the English slice) than under the raw corpus —
    Σ ln((ct+1)/(Nt+B)) − Σ ln((cr+1)/(Nr+B)) over the doc's feature
    buckets, e6-quantized.

    The two "models" are 4096-row bucket-count tables (hashed
    features: corpus-size-INDEPENDENT model width — DSIR's point), so
    both broadcast into the corpus pass at any scale; the per-doc fold
    state is bounded by document length. The transcendental sum rides
    the q_lm_score discipline (sorted inputs, sequential fold, pinned
    scalar terms)."""
    return _dsir_weights(spark, sf_dir)


@query(
    "q_dsir_select",
    oracle=f"""
    WITH {_DSIR_CTES},
    top AS (
        SELECT doc_id, n_toks, weight_e6 FROM dweights
        ORDER BY weight_e6 DESC, doc_id ASC
        LIMIT {_DSIR_TOP}
    )
    SELECT doc_id, n_toks, weight_e6,
           CAST(row_number() OVER (ORDER BY weight_e6 DESC, doc_id ASC)
                AS BIGINT) AS rank
    FROM top
    """,
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selection step: the top-200 documents by importance
    weight with deterministic (weight_e6 DESC, doc_id ASC) ranking —
    the data actually kept for target-domain training.

    Global-rank discipline (q_retrieval_rrf): the top-N comes from
    orderBy+limit — Spark's distributed TakeOrdered, a partial top-N
    per partition merged on the driver, NO corpus-wide single-partition
    sort — and row_number then runs over the N-row bounded result."""
    from pyspark.sql import Window

    w = _dsir_weights(spark, sf_dir)
    top = w.orderBy(F.desc("weight_e6"), F.asc("doc_id")).limit(_DSIR_TOP)
    # constant partition key over the LIMIT-bounded top-N (doc_id*0:
    # non-foldable so the optimizer retains the spec): no WindowExec
    # no-partition warning, identical rows
    rank_w = Window.partitionBy(F.col("doc_id") * F.lit(0)).orderBy(
        F.desc("weight_e6"), F.asc("doc_id")
    )
    return top.withColumn(
        "rank", F.row_number().over(rank_w).cast("bigint")
    ).select("doc_id", "n_toks", "weight_e6", "rank")


# ----------------------------------- trained curation pipeline (compose)

_PIPE_TOP = 50


def _pipeline_trained_oracle() -> str:
    from flink_join_scaling_spark.plans.classifier_q import (
        _LR_ITERS,
        _LR_RATE,
        _Z_SQL,
        _train_ctes,
    )
    from flink_join_scaling_spark.plans.llmdata import _quality_cte

    return f"""
    WITH {_WL_CTE},
    {_quality_cte()},
    {_train_ctes(_LR_ITERS, _LR_RATE)},
    {_nb_pred_ctes()},
    {_DSIR_BODY},
    gate AS (
        SELECT t.doc_id FROM feat t, w{_LR_ITERS} w WHERE ({_Z_SQL}) >= 0
    ),
    route AS (
        SELECT g.doc_id FROM gate g JOIN nbpred p USING (doc_id)
        WHERE p.pred_lang = 'en'
    ),
    keeper AS (
        SELECT doc_id FROM (
            SELECT r.doc_id,
                   row_number() OVER (PARTITION BY n.t ORDER BY r.doc_id) AS rn
            FROM route r JOIN norm n USING (doc_id)
        ) WHERE rn = 1
    ),
    sel AS (
        SELECT k.doc_id, dw.n_toks, dw.weight_e6
        FROM keeper k JOIN dweights dw USING (doc_id)
        ORDER BY dw.weight_e6 DESC, k.doc_id ASC
        LIMIT {_PIPE_TOP}
    )
    SELECT doc_id, n_toks, weight_e6,
           CAST(row_number() OVER (ORDER BY weight_e6 DESC, doc_id ASC)
                AS BIGINT) AS rank
    FROM sel
    """


@query(
    "q_pipeline_trained",
    oracle=_pipeline_trained_oracle(),
)
def q_pipeline_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL THREE trained models composed into one curation pipeline —
    the trained twin of q_pipeline_e2e's heuristic chain: (1) the
    logistic quality classifier gates the corpus (logit ≥ 0); (2) the
    Naive Bayes classifier routes survivors to the English line
    (pred = 'en'); (3) exact dedup keeps the min-id document per
    normalized text among the routed set; (4) DSIR importance weights
    select the final top-50 for target-domain training. A hash match
    here attests that three independently-trained models and their
    composition all reproduce in SQL end to end — training runs
    included.

    Stage order is pinned by the oracle (gate before route before
    dedup before selection). Every model is trained on the FULL corpus
    (stable artifacts — a gated training set would couple the stages);
    each apply stage is the registered operator's exact algebra, so
    the composition introduces no new comparability surface.

    Scale shape: the three training passes are the registered
    trainers' shapes (bounded labeled slice + 8 integer all-reduces;
    one vocab-keyed count agg; two 4096-bucket tables); the composed
    apply is gate (map-only scan, weights inlined) → route (one
    model join + doc-keyed fold, computed corpus-wide here because
    predictions are per-doc — a production plan pushes the gate below
    the score join) → keeper (one text-keyed exchange) → top-50
    (TakeOrdered + bounded rank window)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Window

    from flink_join_scaling_spark.operators import classifier as clf
    from flink_join_scaling_spark.plans.classifier_q import (
        _labeled_frame,
        _LR_ITERS,
        _LR_RATE,
    )

    from flink_join_scaling_spark.partitioning import widen_if_narrow

    d = load_table(spark, sf_dir, "documents")
    # ONE widened + pinned corpus projection shared by all four
    # text-reading stages (gate features, NB token stream, keeper
    # norm, DSIR buckets): each stage otherwise re-pays the widening
    # shuffle's serial map side at bench scale, and the pin means the
    # parquet text is decoded once for the whole compose.
    dw = widen_if_narrow(
        d.select("doc_id", "lang", "text")
    ).localCheckpoint(eager=False)
    words = _nb_words(dw)
    wb = _dsir_bucket_stream(dw)

    # Overlap the LR trainer with the compose's pin materializations
    # (guide §2.6: independent jobs back-fill each other's tails). The
    # trainer is a chain of DRIVER-BOUND actions (labeled-frame
    # checkpoint, two bounded histogram collects, the fused GD pass)
    # over its OWN feature frame; the NB token stream and DSIR bucket
    # stream derive from dw, not from anything the trainer produces.
    # r17 measured that EAGER pins serialize these materializations
    # (5.31 → 7.77 s) — the pins stay lazy; the thread materializes
    # them in ONE sequential chain (dw first, so the two token streams
    # never race to compute dw's blocks) while the trainer runs.
    def _materialize() -> None:
        dw.count()
        words.count()
        wb.count()

    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = pool.submit(_materialize)
        lab = _labeled_frame(spark, sf_dir)
        w = clf.train_lr(lab.select("y", *clf.FEATURES), _LR_ITERS, _LR_RATE)
        fut.result()
    feats = clf.feature_columns(F.col("text"))
    gate = (
        dw.select("doc_id", *[c.alias(n) for n, c in feats.items()])
        .withColumn("__z", clf.logit(w))
        .where(F.col("__z") >= 0)
        .select("doc_id")
    )
    route = gate.join(
        _nb_pred_frame(spark, sf_dir, docs=dw, words=words).where(
            F.col("pred_lang") == "en"
        ),
        "doc_id",
    ).select("doc_id")
    wdup = Window.partitionBy("t").orderBy("doc_id")
    keeper = (
        route.join(
            dw.select("doc_id", tx.norm_text(F.col("text")).alias("t")),
            "doc_id",
        )
        .withColumn("rn", F.row_number().over(wdup))
        .where(F.col("rn") == 1)
        .select("doc_id")
    )
    sel = (
        keeper.join(_dsir_weights(spark, sf_dir, docs=dw, wb=wb), "doc_id")
        .orderBy(F.desc("weight_e6"), F.asc("doc_id"))
        .limit(_PIPE_TOP)
    )
    # constant partition key over the LIMIT-bounded top-N (doc_id*0:
    # non-foldable so the optimizer retains the spec): no WindowExec
    # no-partition warning, identical rows
    rank_w = Window.partitionBy(F.col("doc_id") * F.lit(0)).orderBy(
        F.desc("weight_e6"), F.asc("doc_id")
    )
    return sel.withColumn(
        "rank", F.row_number().over(rank_w).cast("bigint")
    ).select("doc_id", "n_toks", "weight_e6", "rank")


@query(
    "q_nb_confusion",
    oracle=f"""
    WITH {_WL_CTE},
    {_nb_pred_ctes()},
    cm AS (
        SELECT lang AS true_lang, pred_lang,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM nbpred GROUP BY lang, pred_lang
    ),
    tot AS (SELECT lang AS true_lang, CAST(count(*) AS BIGINT) AS n_true
            FROM documents GROUP BY lang)
    SELECT c.true_lang, c.pred_lang, c.n_docs,
           CAST(round(CAST(c.n_docs AS DOUBLE) / CAST(t.n_true AS DOUBLE)
                      * 10000) AS BIGINT) AS frac_of_true_e4
    FROM cm c JOIN tot t USING (true_lang)
    """,
)
def q_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained NB classifier's confusion matrix — the EVAL half of
    the train/apply/eval triple: per (true class, predicted class),
    the doc count and its share of the true class (the diagonal's
    frac_of_true_e4 is per-class recall). Model quality becomes a
    hash-attested artifact, not a test-only number.

    Derived entirely from the shared prediction frame
    (``_nb_pred_frame`` ≙ the oracle's ``nbpred`` CTE), so eval cannot
    drift from apply. Scale shape: the per-doc prediction pass (the
    apply query's shape) collapsing into a ≤ classes² aggregation —
    output is 25 rows at any corpus size; the ratio is exact integers
    through one pinned e4-quantized expression."""
    pred = _nb_pred_frame(spark, sf_dir)
    cm = pred.groupBy(
        F.col("lang").alias("true_lang"), "pred_lang"
    ).agg(F.count("*").cast("bigint").alias("n_docs"))
    d = load_table(spark, sf_dir, "documents")
    tot = d.groupBy(F.col("lang").alias("true_lang")).agg(
        F.count("*").cast("bigint").alias("n_true")
    )
    return cm.join(tot, "true_lang").select(
        "true_lang",
        "pred_lang",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.col("n_true").cast("double")
            * 10000
        )
        .cast("bigint")
        .alias("frac_of_true_e4"),
    )
