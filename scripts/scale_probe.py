#!/usr/bin/env python
"""10x scale probe for the documents-table operators (SCALING.md).

Inflates sf0.1 documents 10x with shifted doc_ids (cardinality scales
with volume; text is IDENTICAL across copies, so the inflated corpus is
a worst-case near-duplicate workload for the dedup family), then times
each probed operator at 1x vs 10x on the same warm session. The
connected-components probe runs with driver_threshold=0, forcing the
distributed pointer-jumping path so its constant factors are measured,
not the driver union-find shortcut's.

Writes nothing outside the repo: inflated parquet lands in
.scale_probe/ (gitignored). Prints one markdown table row per probe.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from flink_join_scaling_spark import plans  # noqa: E402
from flink_join_scaling_spark.operators import dedup as dd  # noqa: E402
from flink_join_scaling_spark.operators import embeddings as emb_ops  # noqa: E402
from flink_join_scaling_spark.session import get_spark  # noqa: E402
from flink_join_scaling_spark.sources.catalog import load_table  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = int(os.environ.get("PROBE_COPIES", "10"))
ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale_probe")
INFLATED = os.path.join(ROOT, f"x{COPIES}")


def inflate(spark) -> None:
    for table, key in (
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
        # events: shifted event_ids, user_ids preserved → 10x versions
        # per key, the worst case for per-key history operators (SCD2)
        ("events", "event_id"),
        # lineitem: 10x fact rows with shifted orderkeys (the new keys
        # match nothing — the bloom filter's reject path carries the
        # growth), while orders stays 1x below: fixed dim, growing fact
        ("lineitem", "l_orderkey"),
    ):
        if os.path.exists(os.path.join(INFLATED, f"{table}.parquet")):
            continue
        os.makedirs(INFLATED, exist_ok=True)
        d = load_table(spark, BASE, table)
        shift = d.agg(F.max(key)).first()[0] + 1
        copies = [
            d.withColumn(key, F.col(key) + F.lit(i * shift))
            for i in range(COPIES)
        ]
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.repartition(32).write.mode("overwrite").parquet(
            os.path.join(INFLATED, f"{table}.parquet")
        )
    # dims copied 1x: probed queries joining a fixed dim against the
    # inflated fact read both from INFLATED
    for table in ("orders",):
        dst = os.path.join(INFLATED, f"{table}.parquet")
        if not os.path.exists(dst):
            load_table(spark, BASE, table).write.mode("overwrite").parquet(dst)


PROD = os.path.join(ROOT, f"prod_x{COPIES}")


def inflate_prod(spark) -> None:
    """Production-shape inflation: volume grows ×COPIES while near-dup
    FAMILY SIZE and cluster CAPACITY stay fixed — the regime a real
    corpus grows in (more families / more clusters, not denser ones),
    and the regime the identical-copy inflation deliberately violates.

    Each block is the base corpus with (a) every whitespace token
    suffixed by the block id — token-level bijection, so within-block
    shingle structure (and thus the MinHash pair set) is EXACTLY the
    base corpus's, while cross-block shingle overlap is zero — and
    (b) embeddings re-labeled per block (cluster COUNT grows ×COPIES,
    per-cluster occupancy unchanged). doc_id and vec_id shift by the
    same stride so the 1:1 doc↔embedding node identity the ensemble
    relies on survives inflation."""
    docs_dst = os.path.join(PROD, "documents.parquet")
    emb_dst = os.path.join(PROD, "embeddings.parquet")
    if os.path.exists(docs_dst) and os.path.exists(emb_dst):
        return
    os.makedirs(PROD, exist_ok=True)
    d = load_table(spark, BASE, "documents")
    e = load_table(spark, BASE, "embeddings")
    stride = d.agg(F.max("doc_id")).first()[0] + 1
    n_labels = e.agg(F.countDistinct("label")).first()[0]
    if not os.path.exists(docs_dst):
        out = None
        for i in range(COPIES):
            c = d.withColumn("doc_id", F.col("doc_id") + F.lit(i * stride)).withColumn(
                "text", F.regexp_replace("text", r"(\S+)", f"$1b{i}")
            )
            out = c if out is None else out.unionByName(c)
        out.repartition(32).write.mode("overwrite").parquet(docs_dst)
    if not os.path.exists(emb_dst):
        out = None
        for i in range(COPIES):
            c = e.withColumn("vec_id", F.col("vec_id") + F.lit(i * stride)).withColumn(
                "label", F.col("label") + F.lit(i * n_labels)
            )
            out = c if out is None else out.unionByName(c)
        out.repartition(32).write.mode("overwrite").parquet(emb_dst)


def ivf_growth_probe(spark) -> None:
    """Persisted-IVF growth law: num_cells scales ∝ corpus (bounded
    cell occupancy — the operator's documented 100 TB dial), nprobe
    fixed, query batch fixed. Query wall should stay ~flat because a
    probe reads nprobe cells of CONSTANT size regardless of corpus
    rows; build wall is the linear term and is reported separately."""
    from flink_join_scaling_spark.operators.ann_index import (
        ivf_index_build,
        ivf_index_topk,
    )

    queries = load_table(spark, BASE, "embeddings").where(F.col("vec_id") < 50)
    queries.count()
    rows = []
    for tag, src, cells in (("1x", BASE, 8), (f"{COPIES}x", PROD, 8 * COPIES)):
        e = load_table(spark, src, "embeddings")
        idx = os.path.join(ROOT, f"ivf_growth_{tag}")
        shutil.rmtree(idx, ignore_errors=True)
        t0 = time.perf_counter()
        ivf_index_build(e, idx, num_cells=cells, train=False, pq={"m": 8, "nbits": 4})
        build = time.perf_counter() - t0
        q = timed(lambda: ivf_index_topk(queries, idx, k=5, nprobe=2).count())
        adc = timed(
            lambda: ivf_index_topk(queries, idx, k=5, nprobe=2, adc=True).count()
        )
        rows.append((tag, cells, build, q, adc))
    print("| index | cells | build | query (50q, nprobe=2) | adc query |")
    print("|---|---|---|---|---|")
    for tag, cells, build, q, adc in rows:
        print(f"| {tag} | {cells} | {build:.2f} s | {q:.2f} s | {adc:.2f} s |")


def timed(fn, warmup: int = 1, passes: int = 3) -> float:
    for _ in range(warmup):
        fn()
    ts = []
    for _ in range(passes):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return sorted(ts)[len(ts) // 2]


def components_forced(spark, sf_dir: str) -> None:
    d = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_dedup_pairs(d, "doc_id", "text", threshold=0.5)
    dd.connected_components(pairs, driver_threshold=0).count()


def incremental_winnow_chunked(spark, sf_dir: str) -> None:
    """Chunked-run face of dedup_incremental_winnow: the corpus
    arrives as 4 batches against a persisted fingerprint index (wiped
    per invocation so every timed pass replays the full history from
    cold). The claim under probe: each run's pair join is capped by
    max_df² per fingerprint bucket REGARDLESS of index size, and index
    rows are two longs per selected gram — so total wall over the
    chunk sequence should track the corpus volume (the fingerprint
    explode + the per-run capped equi-joins), never the square of the
    accumulated history."""
    from flink_join_scaling_spark.operators import incremental as inc

    d = load_table(spark, sf_dir, "documents")
    idx = os.path.join(ROOT, "winnow_idx_probe")
    shutil.rmtree(idx, ignore_errors=True)
    for i in range(4):
        chunk = d.where(F.pmod(F.col("doc_id"), F.lit(4)) == i)
        _accepted, flagged = inc.dedup_incremental_winnow(spark, chunk, idx)
        flagged.count()


def incremental_semantic_chunked(spark, sf_dir: str) -> None:
    """Chunked-run face of dedup_incremental_semantic: 4 embedding
    batches against the persisted IVF index (wiped per invocation).
    num_cells is derived from corpus size (bounded cell occupancy —
    the operator's documented 100 TB dial, same as the IVF growth
    probe), so the per-run screen cost is (batch × probed-cell
    occupancy) and the within-batch cogroup matmul stays
    cell-occupancy-bounded while volume grows."""
    from flink_join_scaling_spark.operators import incremental as inc

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    cells = max(8, n // 2500)
    idx = os.path.join(ROOT, "sem_idx_probe")
    shutil.rmtree(idx, ignore_errors=True)
    for i in range(4):
        chunk = e.where(F.pmod(F.col("vec_id"), F.lit(4)) == i)
        _accepted, flagged = inc.dedup_incremental_semantic(
            spark, chunk, idx, num_cells=cells, nprobe=2
        )
        flagged.count()


def incremental_ensemble_chunked(spark, sf_dir: str) -> None:
    """Chunked-run face of dedup_incremental_ensemble: 4 batches of
    (text, embedding) docs against BOTH persisted sub-indexes (wiped
    per invocation). Cost should be ~the sum of the two faces' screens
    plus the commit passes — the composition adds decision logic, not
    a new growth law."""
    from flink_join_scaling_spark.operators import incremental as inc

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    docs = d.join(e, "doc_id")
    n = docs.count()
    cells = max(8, n // 2500)
    idx = os.path.join(ROOT, "ens_idx_probe")
    shutil.rmtree(idx, ignore_errors=True)
    for i in range(4):
        chunk = docs.where(F.pmod(F.col("doc_id"), F.lit(4)) == i)
        _accepted, flagged = inc.dedup_incremental_ensemble(
            spark, chunk, idx, num_cells=cells, nprobe=2
        )
        flagged.count()


def incremental_ensemble3_chunked(spark, sf_dir: str) -> None:
    """The 3-face composer (r13): same chunked flow with a synthetic
    64-bit perceptual fingerprint column riding along (xxhash64 of the
    id — the screen only needs SOME 64-bit value per doc; a real
    corpus computes it once in the map-only decode pass, which the
    media probes already measure separately). Expect the same growth
    law as the 2-face probe plus one batch-sized band screen+commit —
    no history-sized term."""
    from flink_join_scaling_spark.operators import incremental as inc

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    docs = d.join(e, "doc_id").withColumn(
        "phash", F.xxhash64(F.col("doc_id"))
    )
    n = docs.count()
    cells = max(8, n // 2500)
    idx = os.path.join(ROOT, "ens3_idx_probe")
    shutil.rmtree(idx, ignore_errors=True)
    for i in range(4):
        chunk = docs.where(F.pmod(F.col("doc_id"), F.lit(4)) == i)
        _accepted, flagged = inc.dedup_incremental_ensemble(
            spark, chunk, idx, num_cells=cells, nprobe=2, hash_col="phash"
        )
        flagged.count()


def warc_redirects_chain(spark, sf_dir: str) -> None:
    """The r16 redirect-edge face over the gz-member container: walk
    the archives, JVM-filter to the planted 3xx slice, resolve the
    relative Location values in one Arrow pass. The wall should be
    the container walk (shared with the extraction chain); the
    resolution pass sees only redirect-sized rows."""
    from flink_join_scaling_spark.sources import warc as wc

    d = load_table(spark, sf_dir, "documents")
    blobs = wc.attach_synth_warc(
        d, "doc_id", "text", group_size=10,
        gzip_members=True, plant_redirects=True,
    )
    wc.extract_redirects(
        wc.parse_warc_records(blobs, "payload")
    ).write.format("noop").mode("overwrite").save()


def robots_filter_probe(spark, sf_dir: str) -> None:
    """The r16 crawl-policy filter: 5 hosts × 60 compiled rules ride
    the task closure over a documents-derived URL column — the wall
    should track the URL scan linearly (per-URL work = host lookup +
    a few dozen linear wildcard walks)."""
    from flink_join_scaling_spark.sources import robots as rb

    body = "User-agent: *\n" + "".join(
        f"Disallow: /private{k}/*\nAllow: /private{k}/ok$\n"
        for k in range(30)
    )
    robots = spark.createDataFrame(
        [(f"host{h}.org", body) for h in range(5)],
        "host string, body string",
    )
    urls = load_table(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://host"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".org/"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.lit("private"),
                            (F.col("doc_id") % 30).cast("string"),
                            F.lit("/"))).otherwise(F.lit("")),
            F.lit("p"), F.col("doc_id").cast("string"),
        ).alias("url")
    )
    rb.robots_filter(urls, robots).write.format("noop").mode(
        "overwrite"
    ).save()


def sitemap_probe(spark, sf_dir: str) -> None:
    """The r16 frontier-seeding face: documents pack into 50-URL
    gzipped sitemap blobs (fixture scaffolding, like the WARC
    grouping), exploded back to frontier rows in one Arrow pass —
    linear in URL volume."""
    import gzip as _gzip

    import pandas as _pd

    from flink_join_scaling_spark.sources import sitemap as sm

    d = load_table(spark, sf_dir, "documents").select("doc_id")

    def build(pdf: _pd.DataFrame) -> _pd.DataFrame:
        ids = sorted(int(i) for i in pdf["doc_id"])
        body = "<urlset>" + "".join(
            f"<url><loc>https://site.org/doc/{i}?x=1&amp;y=2</loc>"
            f"<lastmod>2026-01-0{1 + i % 9}</lastmod></url>"
            for i in ids
        ) + "</urlset>"
        return _pd.DataFrame(
            {
                "sitemap_url": [f"https://site.org/sm/{ids[0] // 50}"],
                "payload": [_gzip.compress(body.encode(), mtime=0)],
            }
        )

    blobs = (
        d.withColumn("_g", F.floor(F.col("doc_id") / 50).cast("long"))
        .groupBy("_g")
        .applyInPandas(build, "sitemap_url string, payload binary")
    )
    sm.sitemap_entries(blobs).write.format("noop").mode(
        "overwrite"
    ).save()


def streaming_state_probe(spark) -> None:
    """Growth law of the keyed versioned join's per-arrival state cost
    (streaming/joins.py module note): FLAT in versions retained —
    keep-latest discards superseded versions on arrival, so an id that
    upserts 8x more often costs the same per arrival — and LINEAR in
    live ids per key, because GroupState holds one value per group and
    a changing batch rewrites the key's full maps. The y side is an
    empty stream and how='inner', so nothing is emitted: wall isolates
    fold + state read/serialize/write.

    Three cases, identical micro-batch count (8): B has 8x the
    versions of A at the same live-id state; C has 8x the live ids of
    A at the same version count (and B's total arrival count).
    Expect per-arrival µs(B) ≈ µs(A) and µs(C) > µs(B)."""
    import tempfile

    from flink_join_scaling_spark.streaming import joins as sj
    from flink_join_scaling_spark.streaming.harness import chunked_parquet_stream

    def run(n_keys: int, n_ids: int, n_versions: int):
        rows = [
            (f"k{k}", f"id{i}", t, f"payload-{k}-{i}-{t}")
            for k in range(n_keys)
            for i in range(n_ids)
            for t in range(n_versions)
        ]
        df = spark.createDataFrame(rows, "k string, id string, ts long, v string")
        empty = spark.createDataFrame([], "k string, id string, ts long, v string")
        with tempfile.TemporaryDirectory() as td:
            sx = chunked_parquet_stream(spark, df, td, n_chunks=8)
            sy = chunked_parquet_stream(spark, empty, td, n_chunks=1)
            out = sj.stream_join_versioned(
                sx, sy, "k", "k", "id", "id", "ts", "ts", how="inner"
            )
            t0 = time.perf_counter()
            q = (
                out.writeStream.format("noop")
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            wall = time.perf_counter() - t0
        return wall, len(rows)

    run(4, 2, 2)  # warm the streaming machinery once
    cases = {
        "A: 32 keys x 8 ids x 4 versions": (32, 8, 4),
        "B: versions x8 (32 x 8 x 32)": (32, 8, 32),
        "C: live ids x8 (32 x 64 x 4)": (32, 64, 4),
    }
    print("| case | arrivals | wall | µs/arrival |")
    print("|---|---|---|---|")
    for label, args in cases.items():
        wall, n = run(*args)
        print(f"| {label} | {n} | {wall:.2f} s | {wall / n * 1e6:.0f} |")

    # The streaming walls above are dominated by fixed micro-batch
    # overhead at probe scale (8 availableNow batches ≈ constant),
    # which is itself the finding: 8x versions and 8x live ids both
    # disappear into it. The O(live ids) serialization term the module
    # note documents only registers at much larger per-key state, so
    # measure the per-arrival Python work (state round-trip + fold)
    # directly:
    import json as _json

    import pandas as pd

    from flink_join_scaling_spark.streaming.joins import (
        _dump_state,
        _fold_latest,
    )

    batch = pd.DataFrame(
        {"side": [0], "id": ["id0"], "ts": [10], "payload": ["newer"]}
    )
    print()
    print("| live ids in key state | per-arrival fold + state round-trip |")
    print("|---|---|")
    for n_ids in (1_000, 10_000, 100_000):
        xs = {f"id{i}": [1, f"payload-{i}"] for i in range(n_ids)}
        sx, sy = _dump_state(xs, {})
        reps = 20
        t0 = time.perf_counter()
        for _ in range(reps):
            x2, y2 = _json.loads(sx), _json.loads(sy)
            _fold_latest(x2, y2, iter([batch]))
            _dump_state(x2, y2)
        per = (time.perf_counter() - t0) / reps
        print(f"| {n_ids} | {per * 1e3:.2f} ms |")


def stream_semantic_skew_probe(spark) -> None:
    """stream_dedup_semantic under ONE HOT CELL (r13 verdict task 7):
    every arrival lands on the same centroid, at 1x / 10x / 100x the
    cap. The ``max_bucket`` contract says a full bucket stops admitting
    members AND stops emitting pairs (bounded state + bounded
    per-arrival work under adversarial skew — the family contract all
    detectors share); this measures what that costs and what it drops:

    * state stays at max_bucket members regardless of arrivals;
    * wall stays ~linear in arrivals (post-cap arrivals are an O(1)
      skip; the per-batch constant is the GroupState deserialize of
      the capped member list);
    * emitted pairs freeze at the cap: C(cap_dupes_seen, 2)-shaped,
      quantified against the planted duplicate count so the recall
      drop under skew is a NUMBER, not a vibe.

    All vectors here are near-identical (cos > 0.9999 ≫ θ) so every
    admitted pair verifies: emitted == C(admitted, 2) exactly."""
    import tempfile

    import numpy as np

    from flink_join_scaling_spark.streaming.dedup import stream_dedup_semantic
    from flink_join_scaling_spark.streaming.harness import (
        chunked_parquet_stream,
    )

    dim = 16
    cap = 64
    base = np.zeros(dim)
    base[0] = 1.0
    centroids = [list(base), list(-base)]  # cell 1 never probed

    def run(n_rows: int):
        rows = []
        for i in range(n_rows):
            v = base.copy()
            v[1 + (i % (dim - 1))] = 1e-4 * (1 + i % 7)  # cos≈1 tweaks
            rows.append((i, [float(x) for x in v]))
        df = spark.createDataFrame(rows, "doc_id long, v array<double>")
        with tempfile.TemporaryDirectory() as td:
            sdf = chunked_parquet_stream(spark, df, td, n_chunks=8)
            out = stream_dedup_semantic(
                sdf, "doc_id", "v", centroids, threshold_e6=850_000,
                nprobe=1, max_bucket=cap,
            )
            from flink_join_scaling_spark.streaming.harness import (
                run_to_memory,
            )
            t0 = time.perf_counter()
            emitted = run_to_memory(out).collect()
            wall = time.perf_counter() - t0
        pairs = {(r.id_a, r.id_b) for r in emitted}
        return wall, len(pairs)

    run(32)  # warm the streaming machinery
    expect = cap * (cap - 1) // 2
    print("| arrivals on one cell | wall | µs/arrival | emitted pairs "
          "| planted pairs | kept |")
    print("|---|---|---|---|---|---|")
    for n in (cap, cap * 10, cap * 100):
        wall, got = run(n)
        planted = n * (n - 1) // 2
        print(
            f"| {n} | {wall:.2f} s | {wall / n * 1e6:.0f} | {got} "
            f"| {planted} | {got / planted:.4f} |"
        )
    print(f"(cap={cap}: emitted freezes at C(cap,2)={expect} — state and "
          "per-arrival work bounded, recall beyond the cap is the "
          "documented drop)")


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    spark = get_spark(
        app_name="fjss-scale-probe", cpus=cpus, shuffle_partitions=cpus,
        max_partition_bytes="8m",
    )
    if "--streaming-state" in sys.argv or os.environ.get(
        "PROBE_STREAMING_STATE"
    ) == "1":
        streaming_state_probe(spark)
        return
    if "--stream-semantic-skew" in sys.argv or os.environ.get(
        "PROBE_STREAM_SEMANTIC_SKEW"
    ) == "1":
        stream_semantic_skew_probe(spark)
        return
    if os.environ.get("PROBE_PROD") != "1":
        inflate(spark)

    def plan_probe(name):
        # noop sink, not count(): a count over a join against a
        # unique-keyed aggregate lets Catalyst eliminate the join and
        # everything under it
        def run(sf_dir):
            plans.QUERIES[name].fn(spark, sf_dir).write.format(
                "noop"
            ).mode("overwrite").save()
        return run

    probes = {
        "q_decontaminate": plan_probe("q_decontaminate"),
        "q_pii_redact": plan_probe("q_pii_redact"),
        "q_mixture_budget": plan_probe("q_mixture_budget"),
        "q_tfidf": plan_probe("q_tfidf"),
        "q_bm25": plan_probe("q_bm25"),
        "q_dedup_containment": plan_probe("q_dedup_containment"),
        # r5b additions: at 10x the identical-copy corpus every 3-token
        # segment recurs in >=10 docs, so line dedup removes everything
        # — the worst case for its segment-df join; the LM model's
        # vocabulary is FIXED while tf rows grow 10x.
        "q_dedup_lines": plan_probe("q_dedup_lines"),
        "q_lm_score": plan_probe("q_lm_score"),
        # r5c additions: the composed pipeline (worst case as for line
        # dedup: every copy family collapses to one keeper), map-only
        # int8 quantization (wall should track the scan), and the
        # centroid-cosine outlier gate (centroid state stays labels x
        # dim while vectors grow 10x)
        "q_pipeline_e2e": plan_probe("q_pipeline_e2e"),
        "q_quantize_embeddings": plan_probe("q_quantize_embeddings"),
        "q_embed_outliers": plan_probe("q_embed_outliers"),
        # r5d additions: SCD2 over 10x versions per user (events
        # inflation keeps user_ids); collocations' token/bigram vocab
        # is FIXED while count rows grow 10x; source-overlap's
        # per-source DISTINCT shingle sets are UNCHANGED by identical
        # copies — only the corpus-sized distinct stage grows
        "q_scd2_intervals": plan_probe("q_scd2_intervals"),
        "q_collocations": plan_probe("q_collocations"),
        "q_source_overlap": plan_probe("q_source_overlap"),
        # r5e additions: EMA + cohort/transition analytics shuffle 10x
        # versions per user through user-keyed windows/aggs; dq-profile
        # is one scan + one multi-distinct Expand
        "q_ema": plan_probe("q_ema"),
        "q_cohort_retention": plan_probe("q_cohort_retention"),
        "q_transition_matrix": plan_probe("q_transition_matrix"),
        "q_dq_profile": plan_probe("q_dq_profile"),
        # layout trio: bloom probes a FIXED filter (1x orders) against a
        # 10x fact — map-only reject path, wall should track the scan;
        # split shuffles 10x docs through one digest-keyed exchange;
        # z-order is map-only arithmetic + a <=64-group agg
        "q_join_bloom_reduced": plan_probe("q_join_bloom_reduced"),
        # sketch/graph/drift additions: heavy hitters' candidate set is
        # FIXED under identical copies (same tokens, 10x counts) so the
        # recount exchange stays candidates-sized; canonical-rank walks
        # a 10x-denser pair graph (same worst case as components);
        # drift's (source, bin) state is fixed by construction
        "q_heavy_hitters": plan_probe("q_heavy_hitters"),
        # mergeable-partial HLL: register state is (source, week) x 2^p
        # regardless of volume — the probe measures that the union agg
        # absorbs the copy growth map-side
        "q_hll_rollup": plan_probe("q_hll_rollup"),
        "q_source_drift": plan_probe("q_source_drift"),
        "q_dedup_canonical_rank": plan_probe("q_dedup_canonical_rank"),
        "q_split_leakage_safe": plan_probe("q_split_leakage_safe"),
        "q_zorder_layout": plan_probe("q_zorder_layout"),
        # r6 additions: semantic dedup's pairwise stage is within-
        # cluster (embeddings inflate 10x with shifted ids, labels
        # preserved → 10x denser clusters, the quadratic worst case);
        # ppl buckets ride the lm model (fixed vocab, 10x tf rows);
        # shard manifest is map-only + a 16-group agg
        "q_dedup_semantic": plan_probe("q_dedup_semantic"),
        # ensemble: both pair generators at their own worst cases
        # simultaneously (10x banded buckets + 10x-denser clusters)
        "q_dedup_ensemble": plan_probe("q_dedup_ensemble"),
        "q_ppl_buckets": plan_probe("q_ppl_buckets"),
        "q_shard_assignment": plan_probe("q_shard_assignment"),
        # r7: duplicated-span census — identical copies are ITS worst
        # case too (every gram reaches df >= 2, so coverage becomes all
        # positions and the per-doc islands window runs over full
        # documents); the gram-digest frequency agg still collapses
        # map-side (fixed gram universe under copies)
        "q_dedup_spans": plan_probe("q_dedup_spans"),
        # triangle census walks the oriented pair graph: under
        # prod-shape inflation blocks are disjoint, so pairs, wedges,
        # and triangles all grow linearly — the probe measures that the
        # 3-way join stays pair-set-sized
        "q_graph_triangles": plan_probe("q_graph_triangles"),
        # r7 trainers: BPE training cost is VOCAB-bounded — identical
        # copies keep the word table fixed (same words, 10x wc) so the
        # merge loop re-learns the identical sequence over the same
        # table; only the one corpus-sized word-count pass grows.
        # Encode is the map-only chained-replace scan (wall tracks the
        # scan). The classifier's per-iteration all-reduce grows with
        # the labeled slice (half the corpus here; a bounded sample in
        # production); apply is one map-only scan with literal weights.
        "q_bpe_train": plan_probe("q_bpe_train"),
        "q_bpe_encode": plan_probe("q_bpe_encode"),
        "q_quality_classifier": plan_probe("q_quality_classifier"),
        "q_quality_classifier_apply": plan_probe("q_quality_classifier_apply"),
        # hard negatives: fixed 20-query broadcast, corpus streams 10x
        # map-side — same growth law as the exact-top-k join it reuses
        "q_hard_negatives": plan_probe("q_hard_negatives"),
        # r9: its IVF production sibling — cost ∝ probed cells per
        # query instead of the whole corpus; under prod-shape blocks
        # cells grow in COUNT (disjoint blocks), occupancy fixed, so
        # the probe should grow with the index-build pass, not the
        # exact family's full-scan constant
        "q_hard_negatives_ann": plan_probe("q_hard_negatives_ann"),
        # r9: triplet mining = one scored corpus pass + an anchor-keyed
        # agg (20 groups); Gopher rules = pure map-only scan (wall
        # should track the scan exactly); fertility = q_bpe_encode's
        # training floor + scan + sources-sized agg; MMR = relevance
        # scan into a bounded pool (the greedy tail is volume-blind)
        "q_triplet_mining": plan_probe("q_triplet_mining"),
        "q_gopher_rules": plan_probe("q_gopher_rules"),
        "q_tokenizer_fertility": plan_probe("q_tokenizer_fertility"),
        "q_mmr_select": plan_probe("q_mmr_select"),
        # winnowing: token explode + two same-key window passes over
        # one doc-keyed exchange, then the capped fingerprint
        # equi-join — identical copies are the pair-join worst case
        # (every fingerprint recurs in >= 10 docs, most hit the
        # max_df cap and drop)
        "q_dedup_winnow": plan_probe("q_dedup_winnow"),
        # semantic decontamination: fixed benchmark matrix in the task
        # closure, corpus streams once through the Arrow matmul-max —
        # wall should track the scan (map-only, no exchange at all)
        "q_decontaminate_semantic": plan_probe("q_decontaminate_semantic"),
        # r10 image dedup: decode+dHash is ONE materialized map pass
        # (payloads never shuffle); the band join carries 16-byte rows
        # and the planted pair set grows linearly with the corpus —
        # wall should track the Python decode scan
        "q_dedup_phash": plan_probe("q_dedup_phash"),
        "q_dedup_phash_apply": plan_probe("q_dedup_phash_apply"),
        # r12: the same pipeline through the real JPEG entropy decoder
        # (Huffman + IDCT per image — the heaviest per-row decode in
        # the repo) and over the mixed PNG/JPEG corpus; both should
        # track the decode scan like q_dedup_phash, with a larger
        # Python constant for the JPEG legs
        "q_dedup_phash_jpeg": plan_probe("q_dedup_phash_jpeg"),
        "q_dedup_phash_mixed": plan_probe("q_dedup_phash_mixed"),
        "q_dedup_phash_progressive": plan_probe("q_dedup_phash_progressive"),
        # audio twin of the phash probe (real WAV decode per row) and
        # the resize stage (decode + area-average + re-encode +
        # re-decode per row — the heaviest per-row Python in the repo;
        # wall should track the map pass exactly, zero exchanges)
        "q_dedup_audiohash": plan_probe("q_dedup_audiohash"),
        "q_multimodal_resize": plan_probe("q_multimodal_resize"),
        # r11: the composed media pipeline — ONE decode pass feeds both
        # the hash census and the resize legs (the single-decode
        # discipline under composition); the band join carries 16-byte
        # rows, components walks the planted pair set (linear under
        # prod shape), and the corpus anti-joins once. Wall should
        # track the decode scan, like q_dedup_phash — a superlinear
        # ratio here would mean composition broke the materialize-once
        # discipline
        "q_pipeline_media": plan_probe("q_pipeline_media"),
        # r11: REAL multi-frame container sampling — per-row APNG chunk
        # walk + per-frame inflate/unfilter, map-only, zero exchanges;
        # wall tracks the decode scan exactly
        "q_multimodal_frames_real": plan_probe("q_multimodal_frames_real"),
        # r11: frame-level dedup walks every container once (all frames
        # hashed from one decode), then 16-byte band rows; the video
        # election adds a pair-sized vote agg + components over flagged
        # doc pairs — both should track the decode scan
        "q_dedup_frames": plan_probe("q_dedup_frames"),
        "q_dedup_videos": plan_probe("q_dedup_videos"),
        # r11: the composed audio pipeline — single decode feeds the
        # envelope census + resample legs; should track the WAV decode
        # scan like q_dedup_audiohash
        "q_pipeline_audio": plan_probe("q_pipeline_audio"),
        # r14: HTML main-content extraction — fixture build + stdlib
        # parse + block classify in one Arrow map pass (the only
        # exchange is the fixture-attach id repartition); wall should
        # track the parse scan linearly, like the media decode probes
        # but with a far smaller per-row Python constant
        "q_extract_html": plan_probe("q_extract_html"),
        # r14: the full WARC chain — fixture grouping (scaffolding
        # shuffle of ~500 B texts) + container walk + HTTP split +
        # extraction, two Arrow map stages; wall should track the
        # parse scans linearly like q_extract_html
        "q_extract_warc": plan_probe("q_extract_warc"),
        # r15/r16: the same chain over the Common Crawl .warc.gz
        # layout (record-per-member gzip) — isolates the per-member
        # zlib walk's cost on top of the plain-container chain above.
        # Since r16 this is the REGISTERED query, so the probe also
        # carries the planted meta-charset (cp1252 prescan decode)
        # and 301-record plants
        "q_extract_warc_gz": plan_probe("q_extract_warc_gz"),
        # r16: the redirect-edge face — container walk + JVM 3xx
        # filter + one Arrow pass over redirect-sized rows only;
        # wall should track the shared container walk
        "extract_redirects (gz)": lambda sf: warc_redirects_chain(
            spark, sf
        ),
        # r16: crawl-policy filter — 5 hosts x 60 compiled rules in
        # the task closure; wall tracks the URL scan linearly
        "robots_filter": lambda sf: robots_filter_probe(spark, sf),
        # r16: frontier seeding — 50-URL gzipped sitemap blobs
        # exploded in one Arrow pass; linear in URL volume
        "sitemap_entries": lambda sf: sitemap_probe(spark, sf),
        # r14: URL canonicalization — one JVM projection, zero
        # exchanges; wall should track the scan exactly (the
        # interpreted array/lambda steps are a per-URL constant)
        "q_url_canonicalize": plan_probe("q_url_canonicalize"),
        # r14: link extraction — one Arrow parse pass emitting ~9 edge
        # rows per page; wall should track the parse scan like
        # q_extract_html (same parser family, second walk)
        "q_extract_links": plan_probe("q_extract_links"),
        # r8 trained/sketch additions: NB's model is one vocab-keyed
        # agg (identical copies keep the vocab FIXED while counts grow
        # 10x) and scoring is the token-keyed model join; DSIR's two
        # "models" are 4096-row bucket tables at ANY volume (the probe
        # measures that only the corpus passes grow); CMS state is DxW
        # counters regardless of cardinality; the bigram LM's model is
        # bigram-vocab-keyed (fixed under copies) while occurrence rows
        # grow 10x
        "q_nb_lang_apply": plan_probe("q_nb_lang_apply"),
        "q_pipeline_trained": plan_probe("q_pipeline_trained"),
        "q_dsir_weights": plan_probe("q_dsir_weights"),
        "q_cms_freq": plan_probe("q_cms_freq"),
        "q_lm_bigram": plan_probe("q_lm_bigram"),
        # r9: the hashed bigram LM — the model is ≤ 16k+4k+1 rows at
        # ANY volume (broadcast, map-only scoring), so the probe should
        # read pure corpus-pass growth (the q_dsir_weights regime),
        # retiring q_lm_bigram's vocabulary-shaped 14x prod constant
        "q_lm_bigram_hashed": plan_probe("q_lm_bigram_hashed"),
        # r8: the exact-search family after the e6 vectorization —
        # fixed query broadcast (10 / 20 vectors), corpus streams once
        # through the Arrow cosine, WindowGroupLimit partial top-k
        # before the single ranking exchange; wall should track the
        # corpus scan, and the constant is now the NumPy multiply-sum,
        # not the interpreted HOF fold
        "q_sim_topk": plan_probe("q_sim_topk"),
        "q_knn_labels": plan_probe("q_knn_labels"),
        # r7: distributed PCA fit — the one-scan partial-moment reduce
        # collects d²+d+1 doubles PER TASK regardless of rows, so 10x
        # rows should cost ~the scan; the driver eigh is volume-blind
        "pca_fit (k=16)": lambda sf: emb_ops.pca_fit(
            load_table(spark, sf, "embeddings"), "embedding", k=16
        ),
        "components (driver_threshold=0)": lambda sf: components_forced(spark, sf),
        # r12: the chunked incremental-winnow path — 4 sequential runs
        # against a persisted index; per-run join buckets are capped at
        # max_df² by the cross-history stop-fingerprint rule, so the
        # sequence should grow with corpus volume, not history²
        "dedup_incremental_winnow (4 chunks)": lambda sf: incremental_winnow_chunked(spark, sf),
        # r12: the semantic incremental face — per-run cost is batch ×
        # probed-cell occupancy against the persisted IVF index, with
        # num_cells scaling ∝ corpus (bounded occupancy)
        "dedup_incremental_semantic (4 chunks)": lambda sf: incremental_semantic_chunked(spark, sf),
        # r12: the ensemble composer — both screens + one commit per run
        "dedup_incremental_ensemble (4 chunks)": lambda sf: incremental_ensemble_chunked(spark, sf),
        "dedup_incremental_ensemble3 (4 chunks)": lambda sf: incremental_ensemble3_chunked(spark, sf),
    }
    only = os.environ.get("PROBE_ONLY")
    if only:
        keep = {s.strip() for s in only.split(",")}
        probes = {k: v for k, v in probes.items() if k in keep}
    # PROBE_PROD=1 switches the inflated side to the production-shape
    # corpus (fixed family size / cluster capacity) instead of the
    # identical-copy density worst case — the right regime for probing
    # the quadratic-stage operators at 100x, where the density worst
    # case is unrunnable BY DESIGN (Σ cluster² with 100x-denser
    # clusters is the blowup a real coarse quantizer prevents).
    prod = os.environ.get("PROBE_PROD") == "1"
    if prod:
        inflate_prod(spark)
    inflated = PROD if prod else INFLATED
    shape = "prod-shape " if prod else ""
    print(f"| operator | 1x ({BASE}) | {shape}{COPIES}x | ratio |")
    print("|---|---|---|---|")
    for label, fn in probes.items():
        t1 = timed(lambda: fn(BASE))
        tn = timed(lambda: fn(inflated))
        print(f"| {label} | {t1:.2f} s | {tn:.2f} s | {tn / t1:.1f}x |")
    if os.environ.get("PROBE_IVF_GROWTH") == "1":
        if prod:
            ivf_growth_probe(spark)
        else:
            print("PROBE_IVF_GROWTH requires PROBE_PROD=1 (needs the "
                  "prod-shape embeddings)")


if __name__ == "__main__":
    main()
