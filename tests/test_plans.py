"""Physical-plan shape assertions: the scale properties the engine
promises (SURVEY §4) must be visible in `explain` output — pushdown
reaching the parquet reader, broadcast for dims, no nested-loop joins,
map-side partial aggregation before exchanges.

These guard against regressions that stay correct at test scale but
break the 100 TB story (a filter that silently stops pushing down, a
dimension join that reverts to sort-merge, a range join that degrades
to a cartesian product).
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from flink_join_scaling_spark import plans
from flink_join_scaling_spark.plans import registry
from tests.conftest import SF_SMALL

REPO = Path(__file__).resolve().parent.parent


def _plan(spark, name: str) -> str:
    df = plans.QUERIES[name].fn(spark, SF_SMALL)
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_pushes_filters_and_prunes_columns(spark):
    plan = _plan(spark, "q_scan_filter_project")
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_quantity)" in plan or "GreaterThan(l_quantity" in plan
    # projection pruned to the 5 selected + 3 filtered columns, not all 16
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema and "l_tax" not in read_schema


def test_dim_join_broadcasts(spark):
    plan = _plan(spark, "q_join_inner")
    assert "BroadcastHashJoin" in plan


def test_full_outer_join_is_shuffle_join(spark):
    plan = _plan(spark, "q_join_full_outer")
    assert "SortMergeJoin" in plan and "FullOuter" in plan


#: shuffle exchanges in the planned (pre-AQE) physical plan of each op
#: the batch benchmark times (``perfbench/wl_batch.py::OPS``), called
#: as it calls them. Each join's dedup already hash-partitions its side
#: on ``id``, so a join or grouping on ``id`` adds no exchange; the left
#: ops broadcast their right side at this size.
BENCH_OP_SHUFFLES = {
    "dedup_latest": 1,  # by id
    "join_full_outer": 3,  # A by id, B by id, B by ida
    "join_left_outer": 2,  # A by id, B by id
    "join_left_outer_seq": 3,  # B by id, C by id, C's groups by idb
    "join_full_outer_seq": 3,  # A by id, B by id, B's groups by ida
}


@pytest.fixture(scope="module")
def bench_inputs(spark, tmp_path_factory):
    """The batch benchmark's OPS and a small copy of its A/B/C parquet."""
    import json
    import sys

    sys.path.insert(0, str(REPO / "perfbench"))
    try:
        import gen
        import wl_batch
    finally:
        sys.path.remove(str(REPO / "perfbench"))
    params = json.loads((REPO / "perfbench" / "params.json").read_text())
    p = params["workloads"]["batch_versioned_join"]
    out = tmp_path_factory.mktemp("bench_inputs")
    for name, table in gen.versioned_hierarchy(7, **{**p["shape"], "n_a": 500}).items():
        gen.write_parquet(table, str(out / name), parts=p["files_per_table"])
    return wl_batch.OPS, lambda t: spark.read.parquet(str(out / t))


@pytest.mark.parametrize("op", list(BENCH_OP_SHUFFLES))
def test_bench_op_shuffle_count(bench_inputs, op):
    """A refactor of the batch family must not add a shuffle to a timed
    op (``dedup_latest``'s exchange reuse included) without this
    failing."""
    import re

    ops, read = bench_inputs
    assert set(ops) == set(BENCH_OP_SHUFFLES)
    tabs, fn, _ = ops[op]
    plan = fn(*[read(t) for t in tabs])._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange ", plan)) == BENCH_OP_SHUFFLES[op], plan


def test_agg_has_partial_aggregation(spark):
    plan = _plan(spark, "q_agg_group")
    assert "partial" in plan  # map-side combine before the exchange


def test_no_nested_loop_anywhere():
    """Whole registry sweep: no CartesianProduct / BroadcastNestedLoop
    in any registered query plan except explicitly-quadratic baselines
    (brute-force similarity + embedding pair joins)."""
    # evaluated in test_plan_shape_per_query via parametrize
    pass


_QUADRATIC_OK = {
    # (q_dedup_embedding left this set in round 7: size-adaptive
    # full-probe IVF cogroup below threshold — equi-join on cell.
    # q_sim_topk left in round 7 too: the exact pair enumeration now
    # rides a synthetic-cell BroadcastHashJoin — execution-identical
    # to the broadcast nested-loop form, but lintable; and
    # q_sim_topk_pandas's plan never had a join node at all, so both
    # are now covered by the sweep instead of exempted from it.)
    # broadcast of a 1-row aggregate (scalar subquery) is a nested-loop
    # join by name, but over exactly one build row
    "q_scalar_subquery",
    "q_tpch_q11_important_stock",  # 1-row global total vs per-part value
    "q_tpch_q22_dormant_customers",  # 1-row avg-balance cutoff
    "q_tfidf",  # corpus-size N rides a broadcast 1-row aggregate
    "q_lm_score",  # corpus token total rides a broadcast 1-row aggregate
    "q_ppl_buckets",  # same 1-row token total as q_lm_score (shared model)
    "q_mixture_weights",  # 1-row (total, n_sources) aggregate broadcast
    "q_mixture_temperature",  # 1-row token-total and pow-sum broadcasts
    "q_bm25",  # corpus stats (N, avgdl, dfs) ride broadcast 1-row aggregates
    "q_gapfill",  # grid generation: 1-row min/max bounds broadcast to types
    "q_collocations",  # 1-row (N_uni, N_bi) totals broadcast to the top-k
    "q_histogram",  # 1-row global (min, max) bounds broadcast
    "q_hll_rollup",  # merged-sketch row crossed with the 1-row exact count
    # self-attesting recall queries: two 1-row aggregates crossed
    "q_dedup_minhash_ml",
    "q_sim_ann_ivf_trained",
    "q_sim_ann_persisted",
    "q_sim_ann_pq",
    "q_heavy_hitters",  # 1-row token total crossed with candidate counts
    "q_graph_triangles",  # 1-row triangle and wedge counts crossed
    # NB classifier: the 1-row totals (n_c, v) and priors (d_c, dd)
    # frames broadcast-cross into the scoring pass — scalar model
    # artifacts, same class as q_lm_score's token total
    "q_nb_lang_train",
    "q_nb_lang_apply",
    "q_nb_confusion",  # eval over the same prediction frame
    # DSIR: the 1-row (nt, nr) token totals broadcast into the weights
    "q_dsir_weights",
    "q_dsir_select",
    "q_lm_bigram",  # 1-row corpus token total, as q_lm_score
    "q_lm_bigram_hashed",  # 1-row corpus token total (hashed model)
    "q_pipeline_trained",  # composes the NB/DSIR scalar broadcasts above
    "q_hard_negatives_ann",  # self-attesting recall: two 1-row aggs crossed
}


def test_registry_rotation_sets_name_real_queries():
    """``query_fns()`` lists every registered query once, in
    registration order."""
    assert list(plans.query_fns()) == list(plans.QUERIES)


def test_survey_counts_match_registry():
    """SURVEY.md's §7 inventory line and the README must state the
    registry's actual query count."""
    import re

    text = (REPO / "SURVEY.md").read_text()
    m = re.search(r"(\d+) registered queries", text)
    assert m and int(m.group(1)) == len(registry.QUERIES), (
        f"SURVEY.md says {m and m.group(1)} registered queries; "
        f"registry has {len(registry.QUERIES)}"
    )
    readme = (REPO / "README.md").read_text()
    m = re.search(r"(\d+) registered queries", readme)
    assert m and int(m.group(1)) == len(registry.QUERIES), (
        f"README.md says {m and m.group(1)} registered queries; "
        f"registry has {len(registry.QUERIES)}"
    )


def test_oracle_keys_subset_of_queries():
    """Every oracle key must name a registered query (the driver pairs
    them by name; an orphan oracle would silently never be checked)."""
    assert set(plans.oracle_sqls()) <= set(plans.QUERIES)


def test_source_cap_uses_window_group_limit(spark):
    """The rank<=N per-source cap must compile to WindowGroupLimit —
    Spark's map-side partial top-N per window key — so a mega-source
    never needs its full row set sorted or shuffled (SURVEY §4 scale
    argument for q_source_cap)."""
    plan = _plan(spark, "q_source_cap")
    assert "WindowGroupLimit" in plan


def _unpartitioned_windows(plan: str) -> list[str]:
    """Window exec lines whose partition spec is empty. A Window node
    prints up to three top-level bracket groups —
    ``Window [exprs], [partitionSpec], [orderSpec]`` — and OMITS empty
    trailing specs, so both an unpartitioned ranking window
    (``[exprs], [order]``) and a partitioned unordered aggregate
    window (``[exprs], [partition]``) print TWO groups. Disambiguate
    by content: an order spec carries ``ASC``/``DESC`` direction
    markers, a partition spec never does. Groups are parsed by bracket
    DEPTH (expressions nest brackets freely)."""
    bad = []
    for line in plan.splitlines():
        s = line.strip()
        idx = s.find("Window [")
        if idx < 0 or s[:idx].strip(" +:-"):
            continue
        rest = s[idx + len("Window ") :]
        depth, groups, buf = 0, [], []
        for ch in rest:
            if ch == "[":
                depth += 1
                if depth == 1:
                    buf = []
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(buf))
                    continue
            if depth >= 1:
                buf.append(ch)
        if len(groups) >= 3:
            continue  # explicit partition + order specs
        last = groups[-1] if len(groups) == 2 else ""
        if len(groups) < 2 or " ASC" in last or " DESC" in last:
            bad.append(s)  # ordered (or spec-less) with no partition
    return bad


def test_unpartitioned_window_detector_fixture(spark):
    """The detector itself: flags an unpartitioned ranking window,
    passes a partitioned one AND a partitioned unordered aggregate
    window (the shape that two-group counting misreads)."""
    from pyspark.sql import Window

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, g string")
    up = df.withColumn("r", F.row_number().over(Window.orderBy("id")))
    pt = df.withColumn(
        "r", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    agg = df.withColumn("m", F.min("id").over(Window.partitionBy("g")))
    get = lambda d: _unpartitioned_windows(  # noqa: E731
        d._jdf.queryExecution().executedPlan().toString()
    )
    assert get(up) and not get(pt) and not get(agg)


#: Queries allowed an unpartitioned Window: none. The bounded-global-
#: rank queries (rrf, bm25, dsir_select, pipeline_trained) rank a
#: LIMIT-bounded TakeOrdered result under a CONSTANT partition key —
#: identical execution on ≤k rows, but a defined partition spec, so
#: they pass the sweep and never trip WindowExec's no-partition
#: warning (zero-warning bench tails are a round gate). The round-7
#: classifier labeling bug (a corpus-sized unpartitioned ntile) is the
#: regression class this sweep exists to block.
_BOUNDED_GLOBAL_RANK_OK: set[str] = set()

#: Largest limit a registered plan may carry in a CollectLimit /
#: GlobalLimit / TakeOrderedAndProject node. Anything bigger is a
#: driver-sized materialization hiding behind a "limit" — the
#: third anti-pattern class (after nested-loop joins and
#: unpartitioned windows) the registry-wide sweep machine-checks.
#: Exemption list: none. The actual limits in the registry today are
#: ≤ 200 (top-k ranks, DSIR/select budgets, layout samples).
_PLAN_LIMIT_BOUND = 100_000


@pytest.mark.parametrize("name", sorted(plans.QUERIES))
def test_plan_shape_per_query(spark, name):
    """One plan build, all three registry-wide anti-pattern sweeps:

    1. no CartesianProduct / BroadcastNestedLoopJoin (exempt: the
       audited 1-row scalar-broadcast crosses in _QUADRATIC_OK);
    2. no unpartitioned ranking window — a corpus-sized single-task
       sort, the round-7 classifier-labeling regression class
       (exemption list: none);
    3. every CollectLimit / GlobalLimit / TakeOrderedAndProject limit
       bounded by _PLAN_LIMIT_BOUND (exemption list: none).
    """
    import re

    plan = _plan(spark, name)
    if name not in _QUADRATIC_OK:
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    if name not in _BOUNDED_GLOBAL_RANK_OK:
        bad = _unpartitioned_windows(plan)
        assert not bad, (
            f"{name}: unpartitioned Window (single-task global sort): {bad[:2]}"
        )
    for m in re.finditer(
        r"(?:CollectLimit|GlobalLimit|TakeOrderedAndProject\(limit=)\s*(\d+)",
        plan,
    ):
        assert int(m.group(1)) <= _PLAN_LIMIT_BOUND, (
            f"{name}: unbounded driver-sized limit: {m.group(0)}"
        )
    # sweep 4: anti-joins whose exclusion set is pair/component/hit-
    # sized must be BROADCAST (r11 verdict hygiene item 1) — these
    # tails filter the corpus (sometimes with re-encoded payloads, an
    # ExistingRDD with no stats) against a set bounded by the pair
    # census, and an SMJ there shuffles payload bytes just to drop a
    # tiny fraction of rows. Hint-pinned in the builders so the shape
    # holds at any SF, not only where AQE happens to convert.
    anti_lines = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    if name in _COMPONENT_SIZED_ANTI_BHJ:
        assert anti_lines, f"{name}: expected a LeftAnti tail"
        bad = [ln.strip()[:90] for ln in anti_lines
               if "BroadcastHashJoin" not in ln]
        assert not bad, (
            f"{name}: component-sized anti side not broadcast: {bad}"
        )
    else:
        # registry-wide backstop: an SMJ LeftAnti is only legitimate
        # when the anti side is corpus/index-scale (documented list)
        bad = [ln.strip()[:90] for ln in anti_lines
               if "SortMergeJoin" in ln]
        assert not bad or name in _CORPUS_SIZED_ANTI_OK, (
            f"{name}: SortMergeJoin LeftAnti outside the corpus-sized "
            f"exemption list: {bad}"
        )


#: Queries whose LEFT ANTI exclusion side is bounded by a pair census
#: / component set / contamination-hit set / stop-shingle list — tiny
#: relative to the probe side by construction, so the anti join must
#: be a BroadcastHashJoin (F.broadcast pinned in the builder; AQE
#: can't be relied on to convert an ExistingRDD with no stats).
_COMPONENT_SIZED_ANTI_BHJ = {
    "q_dedup_apply",
    "q_dedup_spans_apply",
    "q_dedup_winnow",
    "q_dedup_winnow_apply",
    "q_dedup_ngram",
    "q_dedup_videos",
    "q_dedup_phash_apply",
    "q_dedup_audiohash_apply",
    "q_dedup_semantic_apply",
    "q_dedup_ensemble_apply",
    "q_pipeline_media",
    "q_pipeline_audio",
    "q_pipeline_e2e",
    "q_decontaminate_apply",
}

#: Anti joins whose exclusion side is corpus- or index-scale — SMJ is
#: the correct strategy there at 100 TB (broadcasting would OOM the
#: executors); at test SF AQE may still convert them, which is fine.
_CORPUS_SIZED_ANTI_OK = {
    "q_join_anti",  # customers without orders: orders-scale anti side
    "q_set_except",
    "q_tpch_q16_supplier_counts",
    "q_tpch_q21_waiting_suppliers",
    "q_tpch_q22_dormant_customers",
}
