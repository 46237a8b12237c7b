"""Ground truth for ``pair_recall``, computed without the program under test.

``pair_recall`` is the share of ground-truth pairs whose two members land in
one cluster. Membership rows are ``(unit_id, cluster_id)``; a unit id starts
with the repo-qualified file path (``repo/path:qualname:start:end``), so a
file is in every cluster that holds one of its units.
"""

from __future__ import annotations

import re
from collections import defaultdict
from itertools import combinations

import numpy as np

_TOKEN = re.compile(r"[A-Za-z0-9_]+")
_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def clusters_by_file(membership) -> dict[str, set]:
    out: dict[str, set] = defaultdict(set)
    for unit_id, cluster_id in membership:
        out[unit_id.split(":", 1)[0]].add(cluster_id)
    return out


def recall(truth_pairs, membership) -> float:
    """Share of ``truth_pairs`` (file-path pairs) that share a cluster; 1.0
    when there is nothing to find."""
    if not truth_pairs:
        return 1.0
    where = clusters_by_file(membership)
    hits = sum(1 for a, b in truth_pairs if where.get(a, set()) & where.get(b, set()))
    return hits / len(truth_pairs)


def family_pairs(truth: dict[str, list[str]]) -> list[tuple[str, str]]:
    """Every file pair inside one planted family (``corpus.truth_table``)."""
    return [
        pair
        for members in truth.values()
        for pair in combinations(sorted(set(members)), 2)
    ]


def token_bitsets(texts: list[str]) -> np.ndarray:
    """One uint64 per text: bit k set when the k-th distinct lowercased
    ``[A-Za-z0-9_]+`` token of the whole input occurs in the text."""
    sets = [set(_TOKEN.findall(t.lower())) for t in texts]
    vocab = sorted(set().union(*sets))
    if len(vocab) > 64:
        raise ValueError(f"{len(vocab)} distinct tokens do not fit one uint64")
    bit = {w: np.uint64(1) << np.uint64(k) for k, w in enumerate(vocab)}
    out = np.zeros(len(texts), dtype=np.uint64)
    for i, s in enumerate(sets):
        for w in s:
            out[i] |= bit[w]
    return out


def popcount(x: np.ndarray) -> np.ndarray:
    return _POPCOUNT8[x.view(np.uint8)].reshape(*x.shape, 8).sum(axis=-1)


def jaccard_pairs(texts: list[str], threshold: float) -> list[tuple[int, int]]:
    """Index pairs (i < j) whose exact token-set Jaccard is >= threshold."""
    bits = token_bitsets(texts)
    sizes = popcount(bits)
    out: list[tuple[int, int]] = []
    for i in range(len(bits) - 1):
        rest = bits[i + 1 :]
        inter = popcount(rest & bits[i])
        union = sizes[i] + sizes[i + 1 :] - inter
        with np.errstate(divide="ignore", invalid="ignore"):
            hit = np.nonzero((union > 0) & (inter / union >= threshold))[0]
        out.extend((i, i + 1 + int(j)) for j in hit)
    return out
