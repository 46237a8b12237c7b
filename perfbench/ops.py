"""The benchmark's operations, each a sequence of public sparkclone calls.

``scan`` and ``hop_diff`` + ``persist_probe_artifacts`` are what a user
runs: a full scan that writes the JSON report, and one CI hop over a
rolling artifact base. ``traced_scan`` and ``traced_hop`` compose the same work from the
layers' public functions, one span per layer call, and materialize each
call's output before the next one starts.
"""

from __future__ import annotations

import dataclasses
import json
import os
import random
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import inputs
import oracles
from sparkclone.cluster import connected_components
from sparkclone.config import PipelineConfig, benchmark_config
from sparkclone.corpus import rows_to_parquet, truth_table
from sparkclone.extract import extract_snippets
from sparkclone.incremental import (
    PROBE_DELTA_LOG,
    changed_files,
    diff_filter_findings,
    incremental_scan_probe,
    load_probe_stages,
    persist_probe_artifacts,
)
from sparkclone.lsh import candidate_pairs
from sparkclone.pipeline import (
    _EDGE_COLS,
    collapse_exact,
    load_corpus,
    run_pipeline,
    tokenize_snippets,
)
from sparkclone.report import write_json_report
from sparkclone.rollup import rollup_findings
from sparkclone.runtime import ensure_shipped
from sparkclone.signatures import with_signatures
from sparkclone.verify import verify_candidates, with_lcs_evidence


@dataclass
class Workload:
    """One corpus family: its seeded snapshots and how the program reads it."""

    name: str
    op: str  # "scan" or "hop"
    cfg: PipelineConfig
    rows: list  # the first snapshot
    next_rows: Callable[[list, int, random.Random], list] | None  # hop workloads
    write: Callable[[list, str], None]
    load: Callable[[SparkSession, str], DataFrame]
    truth_pairs: Callable[[list], list]


def _load_docs(spark: SparkSession, path: str) -> DataFrame:
    from __spark_entry__ import documents_as_corpus

    docs = documents_as_corpus(spark.read.parquet(path))
    return docs.withColumn("content_sha256", F.sha2(F.col("content"), 256))


def _doc_truth(rows: list) -> list[tuple[str, str]]:
    """Document pairs whose exact token-set Jaccard is >= 0.90, named by the
    ``repo/path`` the corpus mapping gives each document."""
    path = [f"{src}/doc_{doc_id}.txt" for doc_id, _, src in rows]
    pairs = oracles.jaccard_pairs([text for _, text, _ in rows], 0.90)
    return [(path[i], path[j]) for i, j in pairs]


def make_workload(name: str, seed: int) -> Workload:
    if name == "diff_chain":
        return Workload(
            name, "hop", benchmark_config(), inputs.code_rows(seed), inputs.code_hop,
            rows_to_parquet, load_corpus,
            lambda rows: oracles.family_pairs(truth_table(rows)),
        )
    if name == "doc_scan":
        from __spark_entry__ import _doc_pipeline_config

        return Workload(
            name, "scan", _doc_pipeline_config(), inputs.doc_rows(seed), None,
            inputs.write_docs, _load_docs, _doc_truth,
        )
    raise ValueError(f"unknown workload {name!r}")


def file_pairs(findings: DataFrame) -> list[tuple[str, str]]:
    """The (file, file) pair of every finding, sorted within the pair."""
    rows = findings.select("unit_a", "unit_b").collect()
    return [
        tuple(sorted((a.split(":", 1)[0], b.split(":", 1)[0]))) for a, b in rows
    ]


def release_all(spark: SparkSession) -> None:
    """Drop every cached frame and pinned checkpoint block between ops, so
    one op's leftovers never squeeze the next one's memory."""
    spark.catalog.clearCache()
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):  # noqa: SLF001
        jrdd.unpersist(True)


def scan(
    spark: SparkSession, wl: Workload, path: str, report_path: str,
    checkpoint_dir: str | None = None,
) -> tuple[dict, dict, list]:
    """load_corpus -> run_pipeline -> findings JSON report -> materialized
    clusters. Returns (pipeline outputs, counters, membership rows)."""
    out = run_pipeline(spark, wl.load(spark, path), wl.cfg, checkpoint_dir=checkpoint_dir)
    n_findings = out["findings"].count()
    members = [tuple(r) for r in out["clusters"].select("unit_id", "cluster_id").collect()]
    counters = {"findings": n_findings, "clusters": len({c for _, c in members})}
    write_json_report(
        out["findings"], counters, dataclasses.asdict(wl.cfg), {}, report_path
    )
    return out, counters, members


def hop_diff(
    spark: SparkSession, wl: Workload, key: str, new_path: str, old_path: str
) -> tuple[dict, int]:
    """Read the base artifacts, probe the new snapshot, materialize the diff
    findings. Returns (probe outputs, diff finding count)."""
    stages = load_probe_stages(spark, key, ["snippets", "signatures"])
    if stages is None:
        raise RuntimeError(f"no probe artifacts under {key}")
    probe = incremental_scan_probe(
        spark, wl.load(spark, new_path), stages["snippets"], stages["signatures"],
        wl.load(spark, old_path), wl.cfg,
    )
    return probe, probe["diff_findings"].count()


def chain_depth(key: str) -> int:
    """Delta depth of the commit at ``key``; 0 after a compaction rewrite."""
    log = os.path.join(key, PROBE_DELTA_LOG)
    if not os.path.exists(log):
        return 0
    with open(log) as fh:
        return int(json.load(fh).get("depth", 0))


def expected_diff(
    spark: SparkSession, wl: Workload, findings: DataFrame, new_path: str, old_path: str
) -> int:
    """The hop's diff-finding count derived from a full rescan's findings."""
    changed = changed_files(wl.load(spark, new_path), wl.load(spark, old_path))
    return diff_filter_findings(findings, changed).count()


# --------------------------------------------------------------------------
# traced composition
# --------------------------------------------------------------------------


def traced_scan(tr, spark: SparkSession, wl: Workload, path: str, report_path: str):
    """The scan op from layer calls; mirrors run_pipeline's in-memory path.
    Returns (counters, membership rows, findings frame, layer counts)."""
    cfg = wl.cfg
    ensure_shipped(spark)
    src = wl.load(spark, path)
    dp = spark.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < 2 * dp:
        src = src.repartition(dp)
    aux: list = []
    with tr.span("extract"):
        snips = tr.mat(extract_snippets(src, cfg.windows, normalize=cfg.normalize_text))
    with tr.span("pipeline.tokenize"):
        tok = tr.mat(tokenize_snippets(snips, cfg))
    with tr.span("pipeline.collapse"):
        reps, stars = collapse_exact(tok, aux_registry=aux)
        reps, stars = tr.mat(reps), tr.mat(stars)
    with tr.span("signatures"):
        sigs = tr.mat(with_signatures(reps.drop("norm_text", "text_hash"), cfg.signature))
    with tr.span("lsh"):
        pairs, bucket_stats = candidate_pairs(sigs, cfg.lsh, aux_registry=aux)
        pairs, bucket_stats = tr.mat(pairs), tr.mat(bucket_stats)
    with tr.span("verify"):
        verified = with_lcs_evidence(
            verify_candidates(pairs, sigs, cfg), cfg, tok, aux_registry=aux
        )
        verified = tr.mat(verified.select(*_EDGE_COLS))
    with tr.span("rollup"):
        edges = verified.unionByName(stars.select(*_EDGE_COLS))
        findings = tr.mat(rollup_findings(edges, cfg.thresholds))
    with tr.span("cluster"):
        membership = tr.mat(connected_components(findings, cfg.cluster))
        members = [tuple(r) for r in membership.select("unit_id", "cluster_id").collect()]
    # counts run between spans, so their jobs are charged to the op
    n_findings = findings.count()
    routes = {r["route"]: r["members"] for r in bucket_stats.collect()}
    n_pairs, n_verified = pairs.count(), verified.count()
    counts = {
        "extract.snippets": snips.count(),
        "pipeline.collapse.reps": reps.count(),
        "pipeline.collapse.star_edges": stars.count(),
        "lsh.candidates": n_pairs,
        "lsh.salted_members": routes.get("salted", 0),
        "lsh.dropped_members": routes.get("dropped", 0),
        "verify.survivors": n_verified,
        "verify.survivor_ratio": n_verified / n_pairs if n_pairs else 0.0,
        "rollup.findings": n_findings,
        "cluster.members": len(members),
    }
    counters = {"findings": n_findings, "clusters": len({c for _, c in members})}
    with tr.span("report"):
        write_json_report(findings, counters, dataclasses.asdict(cfg), {}, report_path)
    return counters, members, findings, counts


def traced_hop(
    tr, spark: SparkSession, wl: Workload, key: str, new_key: str,
    new_path: str, old_path: str,
):
    """The hop from incremental's public calls. Returns (diff finding count,
    layer counts)."""
    with tr.span("incremental.load"):
        stages = load_probe_stages(spark, key, ["snippets", "signatures"])
        if stages is None:
            raise RuntimeError(f"no probe artifacts under {key}")
        for df in stages.values():
            tr.count(df)
    with tr.span("incremental.probe"):
        probe = incremental_scan_probe(
            spark, wl.load(spark, new_path), stages["snippets"], stages["signatures"],
            wl.load(spark, old_path), wl.cfg,
        )
        n_diff = tr.count(probe["diff_findings"])
    with tr.span("incremental.refresh"):
        persist_probe_artifacts(probe, new_key, spark=spark, base_key_dir=key)
    counts = {
        "incremental.changed_files": probe["changed_files"].count(),
        "incremental.chain_depth": chain_depth(new_key),
    }
    return n_diff, counts
