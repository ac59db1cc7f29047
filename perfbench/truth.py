"""Correctness gate: truth pairs from a pure-Python oracle, recall and
false positives of the program's output, and output digests.

Truth pairs are every pair of documents whose exact shingle-set Jaccard
is at least the verify bar.  Shingle sets come from
``functions.fingerprints.shingle_set_py``; pairs are found with a
prefix-filtered inverted index on the driver, so the truth never goes
through the program's MinHash/LSH path.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict
from typing import Iterable


def shingle_sets(texts: Iterable[str], k: int) -> list[frozenset[int]]:
    from deduplicator_spark.functions.fingerprints import shingle_set_py

    return [frozenset(shingle_set_py(t, k)) for t in texts]


def jaccard(a: frozenset[int], b: frozenset[int]) -> float:
    """Same arithmetic as the program's verify: |a & b| / |a | b| in doubles."""
    return len(a & b) / len(a | b)


def truth_pairs(urls: list[str], sets: list[frozenset[int]], threshold: float) -> set[tuple[str, str]]:
    """All (url_a < url_b) pairs with jaccard >= threshold.  Documents
    with an empty shingle set have no Jaccard and are left out.

    Prefix filter: with every set sorted in one global order, two sets
    at Jaccard >= t share a token within their first |s| - ceil(t|s|) + 1
    tokens.  The prefix used here is one token longer than that bound
    whenever t|s| is not an integer, never shorter, so rounding cannot
    drop a pair; every candidate is then verified exactly."""
    index: dict[int, list[int]] = defaultdict(list)
    cand: set[tuple[int, int]] = set()
    for i, s in enumerate(sets):
        if not s:
            continue
        toks = sorted(s)
        p = len(toks) - int(threshold * len(toks)) + 1
        for tok in toks[:p]:
            for j in index[tok]:
                cand.add((j, i))
            index[tok].append(i)
    out = set()
    for i, j in cand:
        if jaccard(sets[i], sets[j]) >= threshold:
            a, b = urls[i], urls[j]
            out.add((a, b) if a < b else (b, a))
    return out


def recall(truth: set[tuple[str, str]], cluster_of: dict[str, object]) -> float:
    """Share of truth pairs whose two documents share an output cluster
    (documents missing from ``cluster_of`` are singletons)."""
    if not truth:
        raise ValueError("empty truth: recall is undefined for this corpus")
    hit = sum(
        1
        for a, b in truth
        if a in cluster_of and b in cluster_of and cluster_of[a] == cluster_of[b]
    )
    return hit / len(truth)


def false_positives(pairs: Iterable[tuple[str, str]], set_of: dict[str, frozenset[int]], threshold: float) -> int:
    """Emitted pairs whose exact Jaccard is below the bar."""
    bad = 0
    for a, b in pairs:
        sa, sb = set_of[a], set_of[b]
        if not sa or not sb or jaccard(sa, sb) < threshold:
            bad += 1
    return bad


def digest(rows: Iterable[tuple]) -> str:
    """Order-insensitive sha256 of rows."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()
