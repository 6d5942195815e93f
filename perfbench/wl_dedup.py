"""The near-duplicate dedup tail's per-layer numbers — ``minhash_dedup_pairs``,
then ``connected_components``, then ``dedup_apply`` — over a seeded corpus
with planted near-duplicate clusters.

These run in ``batch_versioned_join``'s traced run, after its own calls:
one untraced pass (warm-up, and the outputs the gate checks), then
``traced_passes`` traced ones. Pinned blocks and checkpoints are released
after every pass, outside timing."""

from __future__ import annotations

import os

from flink_join_scaling_spark.operators import dedup

import gen
import oracle
from common import Bench, median_or_zero


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def trace_layers(b: Bench) -> None:
    p = b.params["near_dup"]
    mh = p["minhash"]
    path = os.path.join(b.work, "docs")
    with b.phase("dedup_build"):
        table, planted = gen.near_dup_corpus(b.seed, **p["shape"])
        gen.write_parquet(table, path, parts=p["files"])

    def docs():
        return b.spark.read.parquet(path)

    def pairs_call():
        return dedup.minhash_dedup_pairs(docs(), "doc_id", "text", **mh).localCheckpoint(eager=True)

    with b.phase("dedup_warmup"):
        pairs = pairs_call()
        first = _collect((pairs, dedup.connected_components(pairs),
                          dedup.dedup_apply(docs(), pairs, "doc_id", "quality")))
        b.release_pinned()
    for _ in range(p["traced_passes"]):
        _traced_pass(b, docs, pairs_call)
        b.release_pinned()
    passes = 1 + p["traced_passes"]
    b.attempted += passes
    with b.phase("dedup_gate"):
        want, quality, comp_want, recall = _oracle(path, planted, mh)
        bad = [] if recall >= p["min_recall"] else ["recall"]
        bad += _check(first, want, quality, comp_want)
    b.failed += passes if bad else 0
    b.notes.update(dedup_gate_failures=bad, dedup_recall=recall)

    def med_self(name: str) -> float:
        return median_or_zero([b.self_time(s) for s in b.spans if s["name"] == name])

    b.layer.update({
        "dedup.pairs_s": med_self("dedup.pairs"),
        "dedup.components_s": med_self("dedup.components"),
        "dedup.apply_s": med_self("dedup.apply"),
    })
    _candidates(b, docs, mh, len(want), recall)


def _traced_pass(b: Bench, docs, pairs_call) -> None:
    with b.span("call.dedup_pipeline"):
        with b.span("dedup.pairs"):
            pairs = pairs_call()
        with b.span("dedup.components"):
            _force(dedup.connected_components(pairs))
        with b.span("dedup.apply"):
            _force(dedup.dedup_apply(docs(), pairs, "doc_id", "quality"))


def _oracle(path: str, planted: list[list[int]], mh: dict):
    """DuckDB's MinHash pairs over the same parquet, the qualities, the
    components of a Python union-find over those pairs, and the recall
    of the planted clusters."""
    con = oracle.connect({"docs": path})
    want = {(a, c): j for a, c, j in oracle.duck(con, oracle.minhash_pairs_sql(**mh))}
    quality = dict(oracle.duck(con, "SELECT doc_id, quality FROM docs"))
    con.close()
    planted_pairs = {(min(u, v), max(u, v)) for c in planted for u in c for v in c if u < v}
    recall = len(planted_pairs & want.keys()) / max(len(planted_pairs), 1)
    return want, quality, oracle.components(list(want)), recall


def _collect(frames) -> tuple[dict, dict, set]:
    """One pass's outputs as Python values: pairs with their Jaccard,
    node -> component, ids kept by the dedup."""
    pairs, comp, kept = frames
    return (
        {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()},
        {r.node: r.component_id for r in comp.collect()},
        {r.doc_id for r in kept.select("doc_id").collect()},
    )


def _check(got, want: dict, quality: dict, comp_want: dict) -> list[str]:
    """Names of the calls whose output differs from the oracle."""
    pairs, comp, kept = got
    bad = []
    if pairs.keys() != want.keys() or any(abs(pairs[k] - want[k]) > 1e-9 for k in want):
        bad.append("pairs")
    if comp != comp_want:
        bad.append("components")
    if kept != oracle.dedup_survivors(list(quality), quality, comp_want):
        bad.append("apply")
    return bad


def _candidates(b: Bench, docs, mh: dict, verified: int, recall: float) -> None:
    """Candidate pairs = the pipeline with the verify threshold at 0
    (every banded candidate shares a shingle, so none is dropped)."""
    n_cand = dedup.minhash_dedup_pairs(docs(), "doc_id", "text", **{**mh, "threshold": 0.0}).count()
    b.release_pinned()
    b.layer.update({
        "dedup.candidates": float(n_cand),
        "dedup.pairs_verified": float(verified),
        "dedup.candidate_precision": verified / max(n_cand, 1),
        "dedup.recall": recall,
    })
