"""Checkpoint/resume: kill-after-stage-k then rerun must produce identical
output and actually resume (north_rule: resumable from checkpoint with
per-partition lineage + metrics)."""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import functions as F
from sparkclone.config import benchmark_config
from sparkclone.pipeline import load_corpus, run_pipeline


def _findings_key(out):
    return sorted(
        (r["unit_a"], r["unit_b"], round(r["score"], 6))
        for r in out["findings"].collect()
    )


def test_resume_after_partial_run(spark, corpus_parquet, tmp_path):
    ck = str(tmp_path / "ckpt")
    corpus = load_corpus(spark, corpus_parquet)
    cfg = benchmark_config()

    out1 = run_pipeline(spark, corpus, cfg, checkpoint_dir=ck)
    key1 = _findings_key(out1)
    assert key1
    # every recorded row carries a real count (no placeholder rows)
    assert all(m.rows >= 0 for m in out1["metrics"].metrics)

    # simulate a crash after 'signatures': wipe downstream stages
    for stage in ["candidate_pairs", "verified", "findings", "clusters"]:
        for p in glob.glob(f"{ck}/*/{stage}"):
            shutil.rmtree(p)
        for p in glob.glob(f"{ck}/*/{stage}.metrics.json"):
            os.remove(p)

    out2 = run_pipeline(spark, corpus, cfg, checkpoint_dir=ck)
    resumed = [m.stage for m in out2["metrics"].metrics if m.resumed]
    assert resumed == ["file_manifest", "snippets", "signatures"]
    assert all(m.rows >= 0 for m in out2["metrics"].metrics)
    assert _findings_key(out2) == key1


def test_metrics_lineage_recorded(spark, corpus_parquet, tmp_path):
    ck = str(tmp_path / "ckpt2")
    corpus = load_corpus(spark, corpus_parquet)
    cfg = benchmark_config()
    run_pipeline(spark, corpus, cfg, checkpoint_dir=ck)

    metrics_files = glob.glob(f"{ck}/*/_metrics.json")
    assert len(metrics_files) == 1
    payload = json.load(open(metrics_files[0]))
    stages = [m["stage"] for m in payload]
    assert stages[:3] == ["file_manifest", "snippets", "signatures"]
    for m in payload:
        if not m["resumed"]:
            # per-partition lineage: partition_rows sums to stage rows
            assert sum(m["partition_rows"].values()) == m["rows"]
            assert m["wall_s"] >= 0


def test_corrupted_checkpoint_recomputed(spark, corpus_parquet, tmp_path):
    """A stage directory with _SUCCESS but unreadable parquet (crash
    mid-copy, storage fault) must be discarded and recomputed with
    identical output — the reference cache's corruption-recovery
    semantics (tests/test_embedding_cache.py)."""
    ck = str(tmp_path / "ckc")
    corpus = load_corpus(spark, corpus_parquet)
    cfg = benchmark_config()
    out1 = run_pipeline(spark, corpus, cfg, checkpoint_dir=ck)
    key1 = _findings_key(out1)

    # corrupt every parquet part of the signatures stage, keep _SUCCESS
    for part in glob.glob(f"{ck}/*/signatures/part-*"):
        with open(part, "wb") as f:
            f.write(b"not parquet at all")

    out2 = run_pipeline(spark, corpus, cfg, checkpoint_dir=ck)
    resumed = [m.stage for m in out2["metrics"].metrics if m.resumed]
    assert "signatures" not in resumed
    assert "snippets" in resumed
    assert _findings_key(out2) == key1


def _keys(df, key):
    return sorted(r[0] for r in df.select(key).collect())


def _spy(monkeypatch, name, key):
    """Wrap ``sparkclone.pipeline.<name>``, logging each input frame's keys."""
    import sparkclone.pipeline as pipeline

    real, calls = getattr(pipeline, name), []

    def spy(df, *args, **kwargs):
        calls.append(_keys(df, key))
        return real(df, *args, **kwargs)

    monkeypatch.setattr(pipeline, name, spy)
    return calls


def test_per_snippet_signature_resume(spark, corpus_rows, tmp_path, monkeypatch):
    """An interrupted/partial signatures stage re-signs ONLY missing
    snippets on the next run (reference core/pipeline.py:50-88 per-snippet
    cache semantics; round-2 verdict item 6). Simulated as a completed
    prior run over a subset snapshot — identical artifact state to a job
    killed after signing that subset — then a run over the full corpus
    under the same config/checkpoint root."""
    from sparkclone.corpus import rows_to_parquet

    sub_pq = str(tmp_path / "sub.parquet")
    full_pq = str(tmp_path / "full.parquet")
    rows_to_parquet(corpus_rows[: len(corpus_rows) - 10], sub_pq)
    rows_to_parquet(corpus_rows, full_pq)
    ck = str(tmp_path / "ck")
    cfg = benchmark_config()

    sub = run_pipeline(spark, load_corpus(spark, sub_pq), cfg, checkpoint_dir=ck)
    sub_sigs = spark.read.parquet(f"{ck}/{sub['metrics'].config_hash}/signatures")
    prior_ids = set(_keys(sub_sigs, "snippet_id"))

    signed = _spy(monkeypatch, "with_signatures", "snippet_id")
    out = run_pipeline(spark, load_corpus(spark, full_pq), cfg, checkpoint_dir=ck)
    monkeypatch.undo()
    cur_ids = set(_keys(out["signatures"], "snippet_id"))
    assert signed == [sorted(cur_ids - prior_ids)]
    reused, computed = len(cur_ids & prior_ids), len(signed[0])
    sig_rows = next(m.rows for m in out["metrics"].metrics if m.stage == "signatures")
    assert reused > 0, "no per-snippet reuse happened"
    assert computed < sig_rows, "stage was fully recomputed"
    assert reused + computed == sig_rows

    # reuse must be invisible in the output: identical findings to a
    # from-scratch run of the full corpus
    fresh = run_pipeline(spark, load_corpus(spark, full_pq), cfg)
    assert _findings_key(out) == _findings_key(fresh)
    fresh["metrics"].release()


def test_per_file_snippet_resume(spark, corpus_rows, tmp_path, monkeypatch):
    """A prior snapshot's snippets stage is reused per-FILE on the next
    snapshot (round-3 verdict missing #4): only changed/new files go
    through the Python AST extraction kernel — validated by the
    file_manifest content-hash join — and the output is identical to a
    from-scratch run."""
    from sparkclone.corpus import rows_to_parquet

    sub_pq = str(tmp_path / "sub.parquet")
    full_pq = str(tmp_path / "full.parquet")
    rows_to_parquet(corpus_rows[: len(corpus_rows) - 10], sub_pq)
    rows_to_parquet(corpus_rows, full_pq)
    ck = str(tmp_path / "ck")
    cfg = benchmark_config()

    run_pipeline(spark, load_corpus(spark, sub_pq), cfg, checkpoint_dir=ck)
    extracted = _spy(monkeypatch, "extract_snippets", F.concat_ws("/", "repo", "path"))
    out = run_pipeline(spark, load_corpus(spark, full_pq), cfg, checkpoint_dir=ck)
    monkeypatch.undo()
    # the Python AST kernel saw exactly the 10 files the prior lacked
    assert extracted == [sorted(f"{r.repo}/{r.path}" for r in corpus_rows[-10:])]

    fresh = run_pipeline(spark, load_corpus(spark, full_pq), cfg)
    assert _findings_key(out) == _findings_key(fresh)
    fresh["metrics"].release()


def test_checkpoint_through_file_uri(spark, corpus_parquet, tmp_path):
    """The checkpoint layer must work through a scheme-qualified URI —
    the same Hadoop FileSystem code path an object-store root (s3a://,
    gs://) would take: stage existence, resume, corrupt-delete, and the
    metrics sidecars all via the FS API, zero pathlib."""
    ck = f"file://{tmp_path}/ck_uri"
    corpus = load_corpus(spark, corpus_parquet)
    cfg = benchmark_config()
    out1 = run_pipeline(spark, corpus, cfg, checkpoint_dir=ck)
    key1 = _findings_key(out1)

    out2 = run_pipeline(spark, corpus, cfg, checkpoint_dir=ck)
    resumed = [m.stage for m in out2["metrics"].metrics if m.resumed]
    assert "snippets" in resumed and "signatures" in resumed
    assert _findings_key(out2) == key1

    # metrics sidecars went through fs_write_text on the URI root
    assert glob.glob(f"{tmp_path}/ck_uri/*/_metrics.json")
    assert glob.glob(f"{tmp_path}/ck_uri/*/signatures.metrics.json")


def test_input_snapshot_isolates_checkpoints(spark, corpus_rows, tmp_path):
    """Same config over a DIFFERENT corpus snapshot must not resume the
    old snapshot's checkpoints (key carries the input fingerprint)."""
    from sparkclone.config import benchmark_config
    from sparkclone.corpus import rows_to_parquet

    a_pq = str(tmp_path / "a.parquet")
    b_pq = str(tmp_path / "b.parquet")
    rows_to_parquet(corpus_rows, a_pq)
    rows_to_parquet(corpus_rows[: len(corpus_rows) - 5], b_pq)
    ck = str(tmp_path / "ck")
    cfg = benchmark_config()
    run_pipeline(spark, load_corpus(spark, a_pq), cfg, checkpoint_dir=ck)
    out_b = run_pipeline(spark, load_corpus(spark, b_pq), cfg, checkpoint_dir=ck)
    assert not any(m.resumed for m in out_b["metrics"].metrics)


def test_config_hash_isolates_checkpoints(spark, corpus_parquet, tmp_path):
    """A different config must not read the other config's checkpoints."""
    from dataclasses import replace

    from sparkclone.config import WindowConfig

    ck = str(tmp_path / "ckpt3")
    corpus = load_corpus(spark, corpus_parquet)
    cfg_a = benchmark_config()
    cfg_b = replace(cfg_a, windows=WindowConfig(10, 5, 4))
    assert cfg_a.config_hash() != cfg_b.config_hash()
    run_pipeline(spark, corpus, cfg_a, checkpoint_dir=ck)
    out_b = run_pipeline(spark, corpus, cfg_b, checkpoint_dir=ck)
    assert not any(m.resumed for m in out_b["metrics"].metrics)


def test_in_memory_run_matches_checkpointed_run(spark, corpus_parquet, tmp_path):
    """The two stage routes (eager local checkpoints vs parquet) must give
    the same findings and the same cluster membership."""
    corpus = load_corpus(spark, corpus_parquet)
    cfg = benchmark_config()

    def membership(out):
        rows = out["clusters"].select("unit_id", "cluster_id", "cluster_root").collect()
        return sorted(tuple(r) for r in rows)

    mem = run_pipeline(spark, corpus, cfg)
    mem_key, mem_members = _findings_key(mem), membership(mem)
    mem["metrics"].release()
    ck = run_pipeline(spark, corpus, cfg, checkpoint_dir=str(tmp_path / "ck"))
    assert mem_key and mem_members
    assert _findings_key(ck) == mem_key
    assert membership(ck) == mem_members
