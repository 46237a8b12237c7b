"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default 32) and prints
ONE JSON line: {"metric", "value", "unit": "sec", "queries": {...}, "sf"}.

Headliners:
  - pipeline_corpus: the full near-duplicate pipeline over a synthesized
    corpus sized proportionally to the scale factor (~40k files/sf unit) —
    the throughput number BASELINE.md compares
  - clone_docs: doc-level dedup pipeline over the sf documents table
  - relational/vector operators: pricing_summary, top_customers,
    user_sessions, cosine_top3, srp_ann_top3
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent / "src"))
sys.path.insert(0, str(Path(__file__).resolve().parent))


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = _sf_from_dir(sf_dir)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("sparkclone-bench")
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "48g")
        # Arrow transfer for every toPandas (hybrid-CC one-fetch finish,
        # report rendering) — PySpark defaults this OFF, which silently
        # turns those capped fetches into plain Row collects
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # G1 on a large heap anti-scales with task threads on this class
        # of VM (measured 3x slowdown at 16+ threads); the throughput
        # collector behaves linearly.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from sparkclone.config import benchmark_config
    from sparkclone.corpus import generate_corpus_rows, rows_to_parquet
    from sparkclone.pipeline import load_corpus, run_pipeline

    timings: dict[str, float] = {}
    extra: dict[str, float] = {}

    # Warm the Python/Arrow worker pool ONCE before any timing: spawning
    # 32 workers (each importing numpy/pandas/pyarrow) costs ~6-8 s and
    # would otherwise land on whichever query first touches a pandas UDF
    # after an idle gap (measured: srp_ann first-run 13.8-15.6 s cold vs
    # 7.7-8.5 s warmed — BENCH/raw_r05/attr_srp.jsonl). BASELINE.md's
    # reference numbers are warm rates, so warm-pool timing is the
    # apples-to-apples protocol; on a long-lived cluster the pool is a
    # one-time cost.
    ns: dict = {}
    exec(  # noqa: S102 — fixed literal (future-annotations would stringify hints)
        "import pandas as pd\n"
        "from pyspark.sql.functions import pandas_udf\n"
        "@pandas_udf('double')\n"
        "def _warm(v: pd.Series) -> pd.Series:\n"
        "    return v * 1.0\n",
        ns,
    )
    from pyspark.sql import functions as F

    (
        spark.range(cpus * 4)
        .repartition(cpus)
        .select(ns["_warm"](F.col("id").cast("double")))
        .write.format("noop").mode("overwrite").save()
    )

    # --- headline: full pipeline on a synthesized corpus scaled to sf ----
    n_repos = max(20, int(4000 * sf))          # sf0.1 -> 400 repos
    files_per_repo = 10                        # ~sf0.1 -> ~4k files
    rows = generate_corpus_rows(seed=42, n_repos=n_repos, files_per_repo=files_per_repo)
    tmp = tempfile.mkdtemp(prefix="bench-corpus-")
    corpus_path = f"{tmp}/corpus.parquet"
    rows_to_parquet(rows, corpus_path)

    t0 = time.perf_counter()
    out = run_pipeline(spark, load_corpus(spark, corpus_path), benchmark_config())
    n_clusters = out["clusters"].select("cluster_id").distinct().count()
    n_findings = out["findings"].count()
    wall = time.perf_counter() - t0
    timings["pipeline_corpus"] = round(wall, 3)
    extra["corpus_files"] = len(rows)
    extra["corpus_files_per_sec"] = round(len(rows) / wall, 2)
    extra["corpus_clusters"] = n_clusters
    extra["corpus_findings"] = n_findings

    # --- incremental probe scan: rescan cost must scale with the diff ----
    # base artifacts = checkpointed old-snapshot run; diff = ~1% of files
    from sparkclone.incremental import incremental_scan_probe

    changed_keys = {(r.repo, r.path) for i, r in enumerate(rows) if i % 100 == 0}
    old_rows = [r for r in rows if (r.repo, r.path) not in changed_keys]
    old_path = f"{tmp}/corpus_old.parquet"
    rows_to_parquet(old_rows, old_path)
    base = run_pipeline(
        spark, load_corpus(spark, old_path), benchmark_config(),
        checkpoint_dir=f"{tmp}/ck",
    )
    base["findings"].count()  # materialize base checkpoints
    t0 = time.perf_counter()
    probe = incremental_scan_probe(
        spark, load_corpus(spark, corpus_path), base["snippets"],
        base["signatures"], load_corpus(spark, old_path), benchmark_config(),
    )
    extra["incremental_diff_findings"] = probe["diff_findings"].count()
    timings["incremental_probe"] = round(time.perf_counter() - t0, 3)
    extra["incremental_changed_files"] = probe["changed_files"].count()
    extra["incremental_vs_full_ratio"] = round(
        timings["incremental_probe"] / timings["pipeline_corpus"], 3
    )

    # --- rolling-base chain: hop 2 probes the artifacts hop 1 refreshed --
    # (the CLI's --base-artifacts chaining path: persist the probe's
    # merged stages under the new snapshot key, then diff the NEXT day's
    # corpus against them — hop cost must stay diff-proportional)
    import dataclasses

    from sparkclone.incremental import load_probe_stages, persist_probe_artifacts

    # base key dir = the checkpointed old-snapshot run's own key; the
    # refresh is a DELTA commit against it (add frames + tombstones +
    # _delta.json), so its cost scales with the diff, not the corpus
    base_key = f"{tmp}/ck/{base['metrics'].config_hash}"
    chain_key = f"{tmp}/ck/chain-v2"
    t0 = time.perf_counter()
    persist_probe_artifacts(probe, chain_key, spark=spark, base_key_dir=base_key)
    extra["artifact_refresh_sec"] = round(time.perf_counter() - t0, 3)
    v3_rows = [
        dataclasses.replace(r, content=r.content + "\n# rev3 touch\n")
        if i % 100 == 50 else r
        for i, r in enumerate(rows)
    ]
    # plus one guaranteed clone: an exact copy of a family file, so hop-2
    # findings are deterministically nonzero at every scale factor
    first_exact = next(r for r in rows if r.family == "exact")
    v3_rows.append(
        dataclasses.replace(first_exact, path=first_exact.path + ".rev3_copy.py")
    )
    v3_path = f"{tmp}/corpus_v3.parquet"
    rows_to_parquet(v3_rows, v3_path)
    t0 = time.perf_counter()
    chain_stages = load_probe_stages(spark, chain_key, ["snippets", "signatures"])
    probe2 = incremental_scan_probe(
        spark, load_corpus(spark, v3_path),
        chain_stages["snippets"], chain_stages["signatures"],
        load_corpus(spark, corpus_path), benchmark_config(),
    )
    extra["incremental_hop2_findings"] = probe2["diff_findings"].count()
    timings["incremental_probe_hop2"] = round(time.perf_counter() - t0, 3)
    extra["hop2_vs_full_ratio"] = round(
        timings["incremental_probe_hop2"] / timings["pipeline_corpus"], 3
    )
    probe2["release"]()

    # drop the corpus sections' cached stages before the next section —
    # each run's CheckpointManager tracks its own persists (unpersist
    # hygiene; the old blanket clearCache workaround is gone)
    out["metrics"].release()
    base["metrics"].release()
    probe["release"]()
    # run_pipeline's and the probe's release() free their stage cuts and
    # persists. What no owner frees stays pinned in storage memory for the
    # rest of the suite — squeezing execution memory for clone_docs/srp
    # (the round-4 regression signature): the resolved hop-2 base frames
    # load_probe_stages persisted, and the local checkpoints operators
    # take inside a stage. None of those frames is used below, so drop
    # every pinned RDD before the downstream sections. (The second call
    # drops what the unreleased query sections leave.)
    def _drop_pinned() -> None:
        for jrdd in list(
            spark.sparkContext._jsc.getPersistentRDDs().values()  # noqa: SLF001
        ):
            jrdd.unpersist(True)

    _drop_pinned()

    # --- operator headliners ---------------------------------------------
    # deliberately BEFORE the long doc pipeline: this shared host's
    # burst-credit throttle decays with sustained load (identical work
    # measured 36.6 -> 55.1 -> 110.5 s back-to-back,
    # BENCH/raw_r04/attr_pipeline.jsonl), so short queries scheduled
    # after a minute-scale section inherit the decayed regime — round-4's
    # srp_ann "regression" was half this, half worker-pool cold start
    qs = entrymod.queries()
    for name in [
        "pricing_summary",
        "top_customers",
        "user_sessions",
        "exact_dup_groups",
        "doc_minhash",
        "cosine_top3",
        "srp_ann_top3",
    ]:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)

    # --- doc-level dedup pipeline over the sf documents table ------------
    # (the full pipeline query — same computation this bench key timed in
    # round 1, since renamed to clone_pipeline_cluster_sizes; the
    # oracle-checked CC demo query is clone_cluster_sizes_docs)
    t0 = time.perf_counter()
    df = entrymod._q_clone_pipeline_cluster_sizes(spark, sf_dir)
    extra["doc_clusters"] = df.count()
    timings["clone_docs"] = round(time.perf_counter() - t0, 3)
    _drop_pinned()

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "extra": extra,
            }
        )
    )


if __name__ == "__main__":
    main()
