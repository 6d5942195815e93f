"""Determinism of the seeded generators: the same seed gives identical
content, another seed different content, and sizes never depend on the
seed. Run with ``python -m pytest perfbench/test_gen.py``."""

from __future__ import annotations

import json
import os

import gen

with open(os.path.join(os.path.dirname(__file__), "params.json")) as f:
    PARAMS = json.load(f)["workloads"]


def _hierarchy(seed):
    return gen.versioned_hierarchy(seed, **PARAMS["batch_versioned_join"]["shape"])


def _stream(seed):
    return gen.versioned_stream(seed, n_chunks=12, **PARAMS["stream_versioned_join"]["shape"])


def _corpus(seed):
    return gen.near_dup_corpus(seed, **PARAMS["batch_versioned_join"]["near_dup"]["shape"])


def test_hierarchy_is_seeded():
    a, b, c = _hierarchy(7), _hierarchy(7), _hierarchy(8)
    assert all(a[t].equals(b[t]) for t in a)
    assert not any(a[t].equals(c[t]) for t in a)
    assert {t: a[t].num_rows for t in a} == {t: c[t].num_rows for t in c}


def test_stream_chunks_are_seeded_and_equal_sized():
    a, b, c = _stream(7), _stream(7), _stream(8)
    assert all(x.equals(y) for pa_, pb in zip(a, b) for x, y in zip(pa_, pb))
    assert any(not x.equals(y) for pa_, pc in zip(a, c) for x, y in zip(pa_, pc))
    sizes = [tuple(t.num_rows for t in pair) for pair in a]
    assert sizes == [tuple(t.num_rows for t in pair) for pair in c]


def test_stream_versions_arrive_out_of_order():
    """Some id's newer version lands in an earlier chunk than an older one."""
    seen: dict[int, int] = {}
    late = 0
    for k, (a_chunk, _) in enumerate(_stream(7)):
        for id_, ts in zip(a_chunk.column("id").to_pylist(), a_chunk.column("ts").to_pylist()):
            if seen.get(id_, -1) > ts:
                late += 1
            seen[id_] = max(seen.get(id_, -1), ts)
    assert late > 0


def test_corpus_is_seeded():
    (ta, ca), (tb, cb), (tc, cc) = _corpus(7), _corpus(7), _corpus(8)
    assert ta.equals(tb) and ca == cb
    assert not ta.equals(tc) and ca != cc
    assert ta.num_rows == tc.num_rows
    assert all(len(c) >= 2 for c in ca)
