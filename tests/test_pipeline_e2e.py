"""End-to-end pipeline assertions on the synthetic corpus (truth-family
based, independent of the reference oracle)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F


def _families(pipeline_output):
    rows = pipeline_output["clusters"].collect()
    by_cluster: dict[int, set[str]] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["unit_id"])
    return by_cluster


def test_exact_family_one_cluster(pipeline_output, corpus_rows):
    exact_units = {
        f"{r.repo}/{r.path}" for r in corpus_rows if r.family == "exact"
    }
    clusters = _families(pipeline_output)
    hit = [c for c in clusters.values() if any(u.startswith(tuple(exact_units)) for u in c)]
    assert len(hit) == 1
    assert len(hit[0]) == len(exact_units)


def test_vendored_family_one_cluster(pipeline_output, corpus_rows):
    vend = {f"{r.repo}/{r.path}" for r in corpus_rows if r.family == "vendored"}
    clusters = _families(pipeline_output)
    hit = [c for c in clusters.values() if any(u.startswith(tuple(vend)) for u in c)]
    assert len(hit) == 1
    assert len(hit[0]) == len(vend)


def test_windowed_family_clusters(pipeline_output, corpus_rows):
    win = {f"{r.repo}/{r.path}" for r in corpus_rows if r.family == "windowed"}
    clusters = _families(pipeline_output)
    hit = [c for c in clusters.values() if any(u.startswith(tuple(win)) for u in c)]
    assert len(hit) == 1
    assert len(hit[0]) == len(win)


def test_negatives_not_clustered(pipeline_output, corpus_rows):
    uniq = {f"{r.repo}/{r.path}" for r in corpus_rows if r.family in ("unique", "junk")}
    clustered_units = {r["unit_id"] for r in pipeline_output["clusters"].collect()}
    leaked = {u for u in clustered_units if u.rsplit(":", 3)[0] in uniq}
    assert not leaked, f"negative files leaked into clusters: {sorted(leaked)[:5]}"


def test_content_sha256_invariant(spark, corpus_parquet, corpus_rows):
    """Per-row invariant (north_rule): F.sha2(content,256) equals
    hashlib.sha256 for EVERY corpus row."""
    from sparkclone.pipeline import load_corpus

    df = load_corpus(spark, corpus_parquet)
    got = {
        (r["repo"], r["path"]): r["content_sha256"]
        for r in df.select("repo", "path", "content_sha256").collect()
    }
    for row in corpus_rows:
        want = hashlib.sha256(row.content.encode("utf-8")).hexdigest()
        assert got[(row.repo, row.path)] == want


def test_star_edges_linear_in_family_size(pipeline_output, corpus_rows):
    """Exact-dup handling must be O(n): for the 10-member vendored family,
    star edges per snippet group are n-1, never n*(n-1)/2."""
    stars = pipeline_output["star_edges"]
    vend_stars = stars.where(F.col("path_a").contains("vendor/")).count()
    n_vend = sum(1 for r in corpus_rows if r.family == "vendored")
    # snippets per vendored unit: 1 FUNC + windows; stars = (n-1) per group
    snippets_per_unit = (
        pipeline_output["snippets"].where(F.col("path").contains("vendor/")).count()
        // n_vend
    )
    assert vend_stars == (n_vend - 1) * snippets_per_unit


def test_candidate_pairs_canonical(pipeline_output):
    pairs = pipeline_output["candidate_pairs"]
    assert pairs.where(F.col("id_a") >= F.col("id_b")).count() == 0
    assert pairs.count() == pairs.dropDuplicates(["id_a", "id_b"]).count()


def test_verified_scores_clear_thresholds(pipeline_output):
    from sparkclone.config import benchmark_config
    from sparkclone.verify import threshold_col

    # the verified stage does not carry the threshold: derive it per pair
    # from the two kinds, as verify_pairs does
    kind_threshold = threshold_col(
        F.col("kind_a"), F.col("kind_b"), benchmark_config().thresholds
    )
    bad = pipeline_output["verified"].where(
        (F.col("jaccard") < 0.5) | (F.col("jaccard") < kind_threshold)
    )
    assert bad.count() == 0
