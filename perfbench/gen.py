"""Seeded input generators for the benchmark workloads.

Pure numpy + pyarrow: inputs are made before any engine call, and the
engine only ever sees the parquet files written here. The same seed and
parameters give byte-identical tables; sizes depend on the parameters
only, never on the seed, so runs with different seeds do equal work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: payload strings: a small fixed vocabulary keeps the string column
#: cheap to generate while still making the rows wider than their keys
_TAGS = np.array([f"t{i:02d}" for i in range(64)], dtype=object)


def _zipf_weights(rng: np.random.Generator, n: int, s: float) -> np.ndarray:
    """Popularity weights ~ 1/rank**s over a random ranking of n items."""
    w = 1.0 / (rng.permutation(n) + 1.0) ** s
    return w / w.sum()


def _entity_rows(rng: np.random.Generator, n: int, versions_per_id: float) -> np.ndarray:
    """Entity index per version row: every entity has at least one
    version, the remaining ``(versions_per_id - 1) * n`` are spread
    uniformly, so the row total is fixed while per-id counts vary."""
    extra = rng.integers(0, n, size=int(round((versions_per_id - 1) * n)))
    return np.repeat(np.arange(n), 1 + np.bincount(extra, minlength=n))


def _level(
    rng: np.random.Generator,
    n: int,
    parent: np.ndarray | None,
    parent_col: str | None,
    versions_per_id: float,
) -> pa.Table:
    """One level of the hierarchy: (id, [parent key], ts, tag, val).
    ``ts`` is a permutation of the row numbers, so it is unique within
    the table and dedup never meets a tie. The parent key is an entity
    attribute, stable across that entity's versions."""
    ent = _entity_rows(rng, n, versions_per_id)
    rows = len(ent)
    cols = {"id": pa.array(ent, pa.int64())}
    if parent is not None:
        cols[parent_col] = pa.array(parent[ent], pa.int64())
    cols["ts"] = pa.array(rng.permutation(rows), pa.int64())
    cols["tag"] = pa.array(_TAGS[rng.integers(0, len(_TAGS), rows)], pa.string())
    cols["val"] = pa.array(rng.integers(0, 1 << 40, rows), pa.int64())
    return pa.table(cols)


def _children(
    rng: np.random.Generator, n_parents: int, n: int, zipf_s: float, orphan_share: float
) -> np.ndarray:
    """Parent key per child entity: Zipf-skewed fan-out, plus a share of
    children whose parent does not exist (right-only join rows)."""
    parent = rng.choice(n_parents, size=n, p=_zipf_weights(rng, n_parents, zipf_s))
    orphan = rng.random(n) < orphan_share
    parent[orphan] = n_parents + rng.integers(0, n_parents, int(orphan.sum()))
    return parent


def versioned_hierarchy(
    seed: int,
    n_a: int,
    fanout_b: float,
    fanout_c: float,
    versions_per_id: float,
    zipf_s: float,
    orphan_share: float,
    orphan_share_c: float,
) -> dict[str, pa.Table]:
    """A -> B -> C entities, each with several versions per id: B rows
    reference A by ``ida`` and C rows reference B by ``idb``. A share
    ``orphan_share`` of B entities and ``orphan_share_c`` of C entities
    have no parent."""
    rng = np.random.default_rng(seed)
    n_b = int(n_a * fanout_b)
    n_c = int(n_b * fanout_c)
    b_parent = _children(rng, n_a, n_b, zipf_s, orphan_share)
    c_parent = _children(rng, n_b, n_c, zipf_s, orphan_share_c)
    return {
        "a": _level(rng, n_a, None, None, versions_per_id),
        "b": _level(rng, n_b, b_parent, "ida", versions_per_id),
        "c": _level(rng, n_c, c_parent, "idb", versions_per_id),
    }


def chunk_index(
    rng: np.random.Generator, ts: np.ndarray, n_chunks: int, ooo_share: float
) -> np.ndarray:
    """Arrival chunk per row: rows arrive in ``ts`` order, cut into equal
    chunks, except that a ``ooo_share`` of them trade chunks at random —
    so an id's versions can arrive out of order across chunks, while
    every chunk keeps the same row count whatever the seed."""
    pos = np.empty(len(ts), dtype=np.int64)
    pos[np.argsort(ts, kind="stable")] = np.arange(len(ts))
    chunk = pos * n_chunks // max(len(ts), 1)
    moved = np.flatnonzero(rng.random(len(ts)) < ooo_share)
    chunk[moved] = chunk[rng.permutation(moved)]
    return chunk


def versioned_stream(
    seed: int,
    n_a: int,
    fanout_b: float,
    versions_per_id: float,
    zipf_s: float,
    orphan_share: float,
    n_chunks: int,
    ooo_share: float,
) -> list[tuple[pa.Table, pa.Table]]:
    """The A -> B pair of the hierarchy, split into ``n_chunks`` arrival
    chunks of (A rows, B rows)."""
    rng = np.random.default_rng(seed)
    n_b = int(n_a * fanout_b)
    b_parent = _children(rng, n_a, n_b, zipf_s, orphan_share)
    a = _level(rng, n_a, None, None, versions_per_id)
    b = _level(rng, n_b, b_parent, "ida", versions_per_id)
    parts = []
    for t in (a, b):
        idx = chunk_index(rng, t.column("ts").to_numpy(), n_chunks, ooo_share)
        parts.append([t.filter(pa.array(idx == k)) for k in range(n_chunks)])
    return list(zip(*parts))


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    words: dict[str, None] = {}
    while len(words) < size:
        n = rng.integers(3, 9)
        words.setdefault(letters[rng.integers(0, 26, n)].tobytes().decode(), None)
    return np.array(list(words), dtype=object)


def _perturb(rng: np.random.Generator, words: list[str], vocab: np.ndarray,
             edit_rate: float) -> list[str]:
    """Copy with a share ``edit_rate`` of positions replaced, deleted or
    followed by an inserted word (one third each)."""
    out = []
    for w in words:
        r = rng.random()
        if r >= edit_rate:
            out.append(w)
        elif r < edit_rate / 3:
            out.append(vocab[rng.integers(0, len(vocab))])
        elif r < 2 * edit_rate / 3:
            continue
        else:
            out.extend((w, vocab[rng.integers(0, len(vocab))]))
    return out


def near_dup_corpus(
    seed: int,
    n_docs: int,
    vocab_size: int,
    doc_words: int,
    word_zipf_s: float,
    dup_share: float,
    edit_rate: float,
) -> tuple[pa.Table, list[list[int]]]:
    """Documents (doc_id, text, quality) with a planted share of
    near-duplicates: ``dup_share`` of the documents are edit-perturbed
    copies of a random original. Returns the table and the planted
    clusters (doc ids of an original and its copies, size >= 2).
    ``quality`` is a unique score the dedup keeper election ranks by."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, vocab_size)
    n_dup = int(n_docs * dup_share)
    n_orig = n_docs - n_dup
    p = _zipf_weights(rng, vocab_size, word_zipf_s)
    lengths = rng.integers(doc_words // 2, doc_words * 3 // 2 + 1, n_orig)
    flat = vocab[rng.choice(vocab_size, size=int(lengths.sum()), p=p)]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    docs = [list(flat[bounds[i]:bounds[i + 1]]) for i in range(n_orig)]
    source = rng.integers(0, n_orig, n_dup)
    for s in source:
        docs.append(_perturb(rng, docs[s], vocab, edit_rate))
    doc_id = rng.permutation(n_docs)
    members: dict[int, list[int]] = {}
    for copy, s in enumerate(source):
        members.setdefault(int(s), [int(doc_id[s])]).append(int(doc_id[n_orig + copy]))
    table = pa.table({
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": pa.array([" ".join(d) for d in docs], pa.string()),
        "quality": pa.array(rng.permutation(n_docs), pa.int64()),
    })
    return table, list(members.values())


def write_parquet(table: pa.Table, path: str, parts: int = 1) -> None:
    """Write ``table`` as a directory of ``parts`` parquet files, so a
    scan splits into that many tasks regardless of file size."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))
