"""Hand-checked tests for the benchmark's ground-truth oracles.

Run from the repository root: ``python3 -m pytest perfbench/test_oracles.py``.
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np

_ROOT = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(_ROOT / "src"), str(Path(__file__).resolve().parent)]

import oracles  # noqa: E402


def test_popcount_matches_bin():
    x = np.array([0, 1, 0b1011, (1 << 64) - 1, 1 << 63], dtype=np.uint64)
    assert oracles.popcount(x).tolist() == [0, 1, 3, 64, 1]


def test_token_bitsets_lowercase_and_split():
    bits = oracles.token_bitsets(["B a", "a-b", "c_d"])
    # vocab sorted: a, b, c_d
    assert bits.tolist() == [0b011, 0b011, 0b100]


def test_jaccard_pairs_by_hand():
    texts = [
        "a b c d e f g h i j",  # 10 tokens
        "a b c d e f g h i j",  # identical: J = 1
        "a b c d e f g h i",    # 9 of 10: J = 0.9 with 0 and 1
        "a b c d e f g h",      # 8/10 = 0.8 with 0, 1; 8/9 with 2
        "x y",                  # shares nothing
    ]
    assert oracles.jaccard_pairs(texts, 0.9) == [(0, 1), (0, 2), (1, 2)]
    assert oracles.jaccard_pairs(texts, 0.8) == [
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)
    ]


def test_family_pairs_and_recall():
    truth = {"exact": ["r1/a.py", "r2/a.py", "r3/a.py"], "near:0.95": ["r4/n.py"]}
    pairs = oracles.family_pairs(truth)
    assert pairs == [("r1/a.py", "r2/a.py"), ("r1/a.py", "r3/a.py"), ("r2/a.py", "r3/a.py")]
    membership = [
        ("r1/a.py:f:1:9", 7),
        ("r2/a.py:f:1:9", 7),
        ("r3/a.py:f:1:9", 8),
        ("r3/a.py:g:10:20", 9),
    ]
    assert oracles.recall(pairs, membership) == 1 / 3
    # a file with units in two clusters matches a partner in either one
    membership.append(("r1/a.py:g:10:20", 9))
    assert oracles.recall(pairs, membership) == 2 / 3
    assert oracles.recall([], membership) == 1.0
