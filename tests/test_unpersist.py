"""Unpersist hygiene: a pipeline run must not leak cached blocks into the
session once its outputs are consumed and release() is called (round-2
verdict "What's wrong" #4).

The stage cut is the only cache: while a run or a probe is alive, every
RDD it persisted is a stage checkpoint. An in-memory run's release()
frees them, and so does an incremental probe's; on a config whose
operators take no local checkpoints of their own (expansion at depth 1
takes none), nothing the run created survives it. Elsewhere
localCheckpoint()ed frames are exempt by design — their cached blocks ARE
the truncated lineage of frames the caller may still hold — so those
assertions distinguish them via RDD.isLocallyCheckpointed().
"""

from __future__ import annotations

from dataclasses import replace

import pytest

from sparkclone.config import ExpansionConfig, benchmark_config


def _cached_rdd_ids(spark) -> dict[int, bool]:
    """id -> is_locally_checkpointed for every currently persisted RDD."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    out = {}
    for entry in jmap.entrySet().toArray():
        jrdd = entry.getValue()
        out[entry.getKey()] = bool(jrdd.rdd().isLocallyCheckpointed())
    return out


@pytest.mark.parametrize(
    "cfg",
    [
        benchmark_config(),
        replace(benchmark_config(), expansion=ExpansionConfig(enabled=True, depth=1)),
    ],
    ids=["plain", "exp_depth1"],
)
def test_run_pipeline_release_frees_all_caches(spark, corpus_parquet, cfg):
    from pyspark.sql import functions as F

    from sparkclone.pipeline import load_corpus, run_pipeline

    corpus = load_corpus(spark, corpus_parquet)
    if cfg.expansion.enabled:
        # the synthetic corpus has no cross-function calls: add a caller
        # module and its helpers so that expansion emits EXP rows
        from test_incremental_probe import _EXP_FILES

        exp_rows = [
            ("org0/exprepo", p, "0" * 40, "python", c) for p, c in sorted(_EXP_FILES.items())
        ]
        corpus = corpus.unionByName(
            spark.createDataFrame(
                exp_rows, "repo string, path string, commit string, lang string, content string"
            ).withColumn("content_sha256", F.sha2("content", 256))
        )

    before = set(_cached_rdd_ids(spark))
    out = run_pipeline(spark, corpus, cfg)
    # consume the outputs fully (findings + clusters + stats)
    out["findings"].count()
    out["cluster_sizes"].count()
    out["bucket_stats"].count()
    if cfg.expansion.enabled:
        assert out["snippets"].where(F.col("kind") == "EXP").count() > 0
    # in-memory stages are eager local checkpoints and record no metrics rows
    assert out["metrics"].metrics == []

    during = _cached_rdd_ids(spark)
    new_plain = [i for i, is_lc in during.items() if i not in before and not is_lc]
    assert new_plain == [], f"the run persisted frames besides its stage cuts: {new_plain}"

    new_lc = [i for i, is_lc in during.items() if i not in before and is_lc]
    assert new_lc, "expected the in-memory stages to be local checkpoints"

    out["metrics"].release()
    after = _cached_rdd_ids(spark)
    leaked = [i for i, is_lc in after.items() if i not in before and not is_lc]
    assert leaked == [], f"non-localCheckpoint caches leaked after release(): {leaked}"
    # Both configs take the driver connected-components route, and
    # expansion at depth 1 runs no BFS round, so every local checkpoint the
    # run takes is a stage cut. (Checkpoints taken inside an operator — the
    # distributed CC loop, the expansion BFS past depth 1 — stay pinned
    # after release() until GC.)
    survivors = [i for i in after if i not in before]
    assert survivors == [], f"stage checkpoints on this config survived release(): {survivors}"


def test_probe_release_frees_verify_cache(spark, corpus_parquet):
    import tempfile

    from sparkclone.incremental import incremental_scan_probe
    from sparkclone.pipeline import load_corpus, run_pipeline

    corpus = load_corpus(spark, corpus_parquet)
    old = corpus.where("path not like '%util0%'")
    ck = tempfile.mkdtemp(prefix="probe-release-ck-")
    base = run_pipeline(spark, old, benchmark_config(), checkpoint_dir=ck)

    before = set(_cached_rdd_ids(spark))
    probe = incremental_scan_probe(
        spark, corpus, base["snippets"], base["signatures"], old, benchmark_config()
    )
    probe["diff_findings"].count()
    during = _cached_rdd_ids(spark)
    new_plain = [i for i, is_lc in during.items() if i not in before and not is_lc]
    assert new_plain == [], f"the probe persisted frames besides its cuts: {new_plain}"
    probe["release"]()
    base["metrics"].release()
    after = _cached_rdd_ids(spark)
    leaked = [i for i, is_lc in after.items() if i not in before and not is_lc]
    assert leaked == [], f"probe leaked non-localCheckpoint caches: {leaked}"
    # the probe takes its cuts through its own CheckpointManager, and this
    # config expands nothing, so release() frees every block it created
    survivors = [i for i in after if i not in before]
    assert survivors == [], f"probe blocks survived release(): {survivors}"

