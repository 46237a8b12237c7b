"""Spark job counts pinned for a full in-memory scan and for one probe hop.

A small op here is bound by per-job coordination, not by data, so a change
that adds a job per scan or per hop (an operator-internal cache, a side
aggregate materialized on its own) is a cost even when every output is
unchanged. Each count is the number of job ids the status tracker records
under a job group set around the op; the bounds are the counts measured
when the stage cut became the only cache.
"""

from __future__ import annotations

import tempfile
import uuid
from contextlib import contextmanager

from sparkclone.config import benchmark_config

# in-memory run_pipeline + findings.count() on the corpus_parquet fixture:
# 25 or 26, as AQE re-plans the candidate_pairs cut's plain/salted union in
# the order its query stages finish
SCAN_JOBS = 26
# incremental_scan_probe + diff_findings.count() over a checkpointed base
PROBE_JOBS = 40


@contextmanager
def _job_group(spark, name: str):
    """Run the body under a fresh job group; yields a callable that returns
    the number of jobs the group has run so far."""
    sc = spark.sparkContext
    group = f"{name}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)


def test_scan_and_probe_job_counts(spark, corpus_parquet):
    from sparkclone.incremental import incremental_scan_probe
    from sparkclone.pipeline import load_corpus, run_pipeline

    cfg = benchmark_config()
    corpus = load_corpus(spark, corpus_parquet)
    with _job_group(spark, "scan") as jobs:
        out = run_pipeline(spark, corpus, cfg)
        assert out["findings"].count() > 0
        scan_jobs = jobs()
    out["metrics"].release()

    old = corpus.where("path not like '%exact_2%'")
    base = run_pipeline(spark, old, cfg, checkpoint_dir=tempfile.mkdtemp(prefix="jobs-ck-"))
    with _job_group(spark, "probe") as jobs:
        probe = incremental_scan_probe(
            spark, corpus, base["snippets"], base["signatures"], old, cfg
        )
        assert probe["diff_findings"].count() > 0
        probe_jobs = jobs()
    probe["release"]()

    assert scan_jobs <= SCAN_JOBS, f"in-memory scan ran {scan_jobs} jobs (pinned {SCAN_JOBS})"
    assert probe_jobs <= PROBE_JOBS, f"probe hop ran {probe_jobs} jobs (pinned {PROBE_JOBS})"
