"""Exact pair counts of the four near-dup queries, computed in numpy.

A line-by-line port of the repo's DuckDB oracles (``__spark_entry__.oracle_sql``:
the MinHash/LSH candidate CTEs with the bucket-size cap and hub-star edges,
the exact Jaccard tail, the 3-word shingle CTE and the SimHash oracle), so
the benchmark can check every run's output on freshly generated documents in
about a second instead of the oracles' tens of seconds. On the seed-42 sf0.1
``documents`` test table it gives 1,227,400 / 120,820 / 312 / 256 pairs, the
counts recorded for the engine.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np

NUM_HASHES = 8
BAND_SIZE = 2
CAP = 2000  # ops.dedup.MAX_BUCKET_SIZE
THRESHOLD_NUM, THRESHOLD_DEN = 1_599_999, 2_000_000  # round(j, 6) >= 0.8
_SPLIT = re.compile(r"[^a-z0-9]+")


def _words(text: str) -> list[str]:
    return [w for w in _SPLIT.split(text.lower()) if w]


def _shingles(ws: list[str]) -> list[str]:
    return [" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)]


def _pairs_in_buckets(keys: list, n: int, cap: int) -> np.ndarray:
    """Encoded pairs a*n+b (a<b) of docs sharing a bucket: all pairs in
    buckets of at most ``cap`` docs, hub-star edges (hub = min doc) in
    larger ones. ``keys[band][doc]`` is the doc's bucket in that band."""
    out = []
    for band in keys:
        codes = np.unique(np.asarray(band), return_inverse=True)[1]
        order = np.argsort(codes, kind="stable")
        sizes = np.bincount(codes)
        starts = np.concatenate(([0], np.cumsum(sizes)[:-1]))
        for b in np.flatnonzero(sizes > 1):
            members = np.sort(order[starts[b] : starts[b] + sizes[b]])
            if sizes[b] <= cap:
                ia, ib = np.triu_indices(len(members), k=1)
                out.append(members[ia].astype(np.int64) * n + members[ib])
            else:
                out.append(members[0].astype(np.int64) * n + members[1:])
    if not out:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate(out))


def _minhash_candidates(sets: list[set], n: int) -> np.ndarray:
    vocab = sorted(set().union(*sets))
    index = {w: i for i, w in enumerate(vocab)}
    # h[i, w] = first 16 hex chars of md5(f"{i}|{w}") as an integer (same
    # order as the oracle's string minimum)
    h = np.array(
        [[int(hashlib.md5(f"{i}|{w}".encode()).hexdigest()[:16], 16) for w in vocab] for i in range(NUM_HASHES)],
        dtype=np.uint64,
    )
    sig = np.empty((n, NUM_HASHES), dtype=np.uint64)
    for d, s in enumerate(sets):
        if s:
            sig[d] = h[:, [index[w] for w in s]].min(axis=1)
    # a doc without elements has no signature row: give it a bucket of its own
    keys = [
        [
            hashlib.md5(f"{sig[d, BAND_SIZE * b]:016x},{sig[d, BAND_SIZE * b + 1]:016x}".encode()).hexdigest()
            if sets[d]
            else f"empty-{d}"
            for d in range(n)
        ]
        for b in range(NUM_HASHES // BAND_SIZE)
    ]
    return _pairs_in_buckets(keys, n, CAP)


def _verified(cands: np.ndarray, sets: list[set], n: int) -> int:
    """Candidates whose exact set Jaccard rounds to >= 0.8."""
    a, b = cands // n, cands % n
    vocab = sorted(set().union(*sets))
    index = {w: i for i, w in enumerate(vocab)}
    member = np.zeros((n, len(vocab)), dtype=bool)
    for d, s in enumerate(sets):
        member[d, [index[w] for w in s]] = True
    size = member.sum(axis=1)
    kept = 0
    step = max(1, 2_000_000 // max(len(vocab), 1))
    for lo in range(0, len(cands), step):
        ia, ib = a[lo : lo + step], b[lo : lo + step]
        inter = (member[ia] & member[ib]).sum(axis=1)
        union = size[ia] + size[ib] - inter
        kept += int((THRESHOLD_DEN * inter >= THRESHOLD_NUM * union).sum())
    return kept


def _simhash_pairs(word_lists: list[list[str]], n: int) -> int:
    vocab = sorted(set().union(*word_lists))
    index = {w: i for i, w in enumerate(vocab)}
    # bit b of h(w) = bit (b % 4) of md5 hex nibble b // 4
    bits = np.array(
        [
            [(int(hashlib.md5(w.encode()).hexdigest()[b // 4], 16) >> (b % 4)) & 1 for b in range(64)]
            for w in vocab
        ],
        dtype=np.int64,
    )
    signs = 2 * bits - 1
    chunks = np.zeros((n, 4), dtype=np.int64)
    weights = 1 << np.arange(16, dtype=np.int64)
    for d, ws in enumerate(word_lists):
        s = signs[[index[w] for w in ws]].sum(axis=0)
        chunks[d] = ((s > 0).reshape(4, 16) * weights).sum(axis=1)
    # a doc without words has no signature row: give it a bucket of its own
    keys = [[int(chunks[d, c]) if word_lists[d] else -1 - d for d in range(n)] for c in range(4)]
    cands = _pairs_in_buckets(keys, n, CAP)
    a, b = cands // n, cands % n
    x = chunks[a] ^ chunks[b]
    popcount16 = np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.int64)
    return int((popcount16[x].sum(axis=1) <= 3).sum())


def pair_counts(doc_ids: np.ndarray, texts: list[str]) -> dict[str, int]:
    """{query name: exact output row count} for the near_dup workload.
    ``doc_ids`` must be 0..n-1 in order (pairs are ordered by doc_id)."""
    n = len(texts)
    if not np.array_equal(doc_ids, np.arange(n)):
        raise ValueError("doc_ids must be 0..n-1 in order")
    word_lists = [_words(t) for t in texts]
    word_sets = [set(ws) for ws in word_lists]
    shingle_sets = [set(_shingles(ws)) for ws in word_lists]
    word_cands = _minhash_candidates(word_sets, n)
    shingle_cands = _minhash_candidates(shingle_sets, n)
    return {
        "minhash_lsh_candidates": int(len(word_cands)),
        "jaccard_near_duplicates": _verified(word_cands, word_sets, n),
        "simhash_near_duplicates": _simhash_pairs(word_lists, n),
        "ngram_jaccard_near_duplicates": _verified(shingle_cands, shingle_sets, n),
    }
