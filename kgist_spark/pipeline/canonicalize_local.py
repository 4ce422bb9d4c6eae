"""Driver-local twin of ``canonical_map``'s LSH chain for SMALL vocabularies.

The distributed chain (sketch → minhash → band bucket → in-bucket
exact-jaccard verify → connected components) is several shuffle stages; on a
vocabulary of a few thousand surfaces that is pure stage-scheduling latency
(measured 1.5-3 s for a 320-entity vocabulary at ANY shuffle width — the
work itself is microseconds).  This module makes the same size-based
physical-strategy choice Catalyst makes for broadcast joins (and
``connected_components`` makes for its driver path): collect the vocabulary
once, replay the EXACT hash family bit for bit — numpy replicas of Spark's
Murmur3 ``F.hash`` (string-with-int-seed chains and array<int> folds,
verified against the JVM in tests) — and hand back the (node, canonical)
map.  Output is IDENTICAL to the distributed path: same LSH buckets, same
hot-bucket drops, same verified pairs, same min-id components.

100 TB shape: this path is only ever taken when the vocabulary itself is
tiny (``canonical_map``'s ``local_threshold``, default 8192 — e.g. a
streaming micro-batch's leftover surfaces); a web-scale vocabulary keeps
the distributed chain.
"""

from __future__ import annotations

import itertools

import numpy as np

from kgist_spark.oracle.duck_model import _hash_bytes

_C1 = np.uint32(0xCC9E2D51)
_C2 = np.uint32(0x1B873593)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint32(r)) | (x >> np.uint32(32 - r))


def _mix_k1_vec(k1: np.ndarray) -> np.ndarray:
    return _rotl(k1 * _C1, 15) * _C2


def _mix_h1_vec(h1: np.ndarray, k1: np.ndarray) -> np.ndarray:
    h1 = h1 ^ k1
    return _rotl(h1, 13) * np.uint32(5) + np.uint32(0xE6546B64)


def _fmix_vec(h1: np.ndarray, length: int) -> np.ndarray:
    h1 = h1 ^ np.uint32(length)
    h1 = h1 ^ (h1 >> np.uint32(16))
    h1 = h1 * np.uint32(0x85EBCA6B)
    h1 = h1 ^ (h1 >> np.uint32(13))
    h1 = h1 * np.uint32(0xC2B2AE35)
    h1 = h1 ^ (h1 >> np.uint32(16))
    return h1


def hash_int_vec(ints_u32, seeds_u32) -> np.ndarray:
    """Spark's Murmur3 ``hashInt(i, seed)`` vectorized: uint32 in/out.
    Broadcasting applies — either argument may be a scalar."""
    with np.errstate(over="ignore"):  # uint32 wraparound is the algorithm
        return _fmix_vec(_mix_h1_vec(seeds_u32, _mix_k1_vec(ints_u32)), 4)


def _shingle_set(s: str, k: int) -> set:
    """Replica of the ``grams`` set ``operators.minhash.char_shingles``
    sketches per id: distinct substrings substring(s, i, k) for i in
    1..greatest(len-k+1, 1), empty excluded (near-end grams of short
    strings come out shorter than k, as in SQL)."""
    n = max(len(s) - k + 1, 1)
    return {s[i:i + k] for i in range(n)} - {""}


def canonical_pairs_local(entities, k=3, num_perm=32, bands=8,
                          rows_per_band=4, threshold=0.70,
                          max_bucket=64, same_etype=True):
    """Verified near-duplicate pairs ``{(a, b), ...}`` (a < b) — the exact
    pair set the distributed chain produces for the same parameters."""
    sh = {e: _shingle_set(e, k) for e in entities}
    hashable = [e for e in entities if sh[e]]  # no shingles → never bucketed
    distinct = sorted({g for e in hashable for g in sh[e]})
    if not distinct:
        return set()
    H = np.array(
        [_hash_bytes(g.encode("utf-8"), 42) & 0xFFFFFFFF for g in distinct],
        dtype=np.uint32,
    )
    gidx = {g: i for i, g in enumerate(distinct)}

    # (entity, shingle) incidence as flat index arrays
    ent_idx = np.fromiter(
        (i for i, e in enumerate(hashable) for _ in sh[e]), dtype=np.int64
    )
    sh_idx = np.fromiter(
        (gidx[g] for e in hashable for g in sh[e]), dtype=np.int64
    )

    # minhash signatures: sig[e][p] = min over e's shingles of
    # hashInt(p, hash_str(shingle, 42)) — F.hash(shingle, lit(p)) exactly
    n_e = len(hashable)
    sig = np.empty((n_e, num_perm), dtype=np.int32)
    for p in range(num_perm):
        hp = hash_int_vec(np.uint32(p), H).view(np.int32)
        col = np.full(n_e, np.iinfo(np.int32).max, dtype=np.int32)
        np.minimum.at(col, ent_idx, hp[sh_idx])
        sig[:, p] = col

    # band buckets: bucket = F.hash(slice.cast(array<int>)) = fold
    # hashInt(elem, seed) over the slice starting from seed 42
    buckets: dict = {}
    for b in range(bands):
        h = np.full(n_e, 42, dtype=np.uint32)
        for r in range(rows_per_band):
            h = hash_int_vec(sig[:, b * rows_per_band + r].view(np.uint32), h)
        hb = h.view(np.int32)
        for i in range(n_e):
            buckets.setdefault((b, hb[i]), []).append(i)

    # candidate pairs within buckets of size 2..max_bucket (hot buckets
    # dropped, mirroring candidate_pairs)
    cand = set()
    for ids in buckets.values():
        if 2 <= len(ids) <= max_bucket:
            for i, j in itertools.combinations(ids, 2):
                a, b_ = hashable[i], hashable[j]
                cand.add((min(a, b_), max(a, b_)))

    # same-etype restriction + exact trigram-jaccard verification
    out = set()
    for a, b_ in cand:
        if same_etype and a.split(":", 1)[0] != b_.split(":", 1)[0]:
            continue
        sa, sb = sh[a], sh[b_]
        inter = len(sa & sb)
        if inter and inter / (len(sa) + len(sb) - inter) >= threshold:
            out.add((a, b_))
    return out


def canonical_map_local(entities, k=3, num_perm=32, bands=8,
                        rows_per_band=4, threshold=0.70,
                        max_bucket=64) -> dict:
    """``{node: canonical}`` for every entity (identity included):
    union-find over the verified pairs, canonical = min member — the same
    output ``canonical_map`` computes distributedly."""
    pairs = canonical_pairs_local(
        entities, k=k, num_perm=num_perm, bands=bands,
        rows_per_band=rows_per_band, threshold=threshold,
        max_bucket=max_bucket,
    )
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {e: find(e) for e in entities}
