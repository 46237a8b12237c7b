"""The acceptance gate: dup-pair recall >= 0.99 vs the reference oracle.

Runs the reference CloneHunter (stub embedder, lexical_weight=1.0,
exhaustive retrieval — SURVEY.md §7.1) on the rendered synthetic corpus
and compares its cluster-implied pair set against ours
(BASELINE.json north_rule / metric).
"""

from __future__ import annotations

import pytest

from oracle_util import cluster_implied_pairs, run_reference_oracle


@pytest.fixture(scope="session")
def oracle(corpus_dir):
    # Session scope, like `pipeline_output`: pytest sets up wider scopes
    # first, so only at equal scope does the tests' `(oracle,
    # pipeline_output)` order hold, and a host without the reference tree
    # skips before paying for the full pipeline run.
    return run_reference_oracle(corpus_dir)


def _our_cluster_pairs(pipeline_output):
    from sparkclone.pipeline import cluster_pairs

    rows = cluster_pairs(pipeline_output["clusters"]).collect()
    return {(r["ua"], r["ub"]) for r in rows}


def test_snippet_count_parity(oracle, pipeline_output):
    """Same corpus, same window config => same snippet universe.

    Ours drops empty-token / whitespace-only snippets pre-LSH (they can
    never match), so ours <= reference with a small delta."""
    ref = oracle["stats"].snippet_count
    ours = pipeline_output["snippets"].count()
    assert ours <= ref
    assert ours >= ref * 0.95


def test_dup_pair_recall(oracle, pipeline_output):
    ref_pairs = cluster_implied_pairs(oracle["clusters"])
    our_pairs = _our_cluster_pairs(pipeline_output)
    assert ref_pairs, "oracle produced no pairs — fixture too weak"
    missed = ref_pairs - our_pairs
    recall = 1 - len(missed) / len(ref_pairs)
    assert recall >= 0.99, f"recall {recall:.4f}; missed e.g. {sorted(missed)[:5]}"


def test_cluster_structure_matches(oracle, pipeline_output):
    """Cluster member-sets must match exactly on this corpus (ids may
    differ — compare as frozensets)."""
    ref = {frozenset(m) for m in oracle["clusters"].values() if len(m) > 1}
    ours_rows = pipeline_output["clusters"].collect()
    by_id: dict[int, set[str]] = {}
    for r in ours_rows:
        by_id.setdefault(r["cluster_id"], set()).add(r["unit_id"])
    ours = {frozenset(m) for m in by_id.values() if len(m) > 1}
    assert ref == ours


def test_oracle_finding_pairs_covered_by_clusters(oracle, pipeline_output):
    """Every duplicate pair the reference reports as a *finding* must be
    implied by our clusters. (Our findings table intentionally carries
    star edges for exact-dup families — O(n) instead of O(n^2) rows — so
    the per-finding pair sets are not directly comparable; the
    cluster-implied pair set is, and is the BASELINE.json metric.)"""
    our_pairs = _our_cluster_pairs(pipeline_output)
    ref = oracle["pairs"]
    missed = ref - our_pairs
    recall = 1 - len(missed) / len(ref)
    assert recall >= 0.99, f"finding-pair recall {recall:.4f}; missed {sorted(missed)[:5]}"
