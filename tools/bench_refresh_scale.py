"""Artifact-refresh proportionality bench (round-4 verdict missing #2,
"done" criterion): time persist_probe_artifacts' delta commit at two
corpus sizes with the SAME absolute diff (n changed files held
constant). A diff-proportional commit stays flat as the corpus grows
10x; the old full-rewrite layout scaled with the corpus. Also times the
full-rewrite path at both sizes for the direct comparison.

    python tools/bench_refresh_scale.py [small_files] [big_mult] [out.jsonl]
"""

from __future__ import annotations

import dataclasses
import json
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "src"))

N_SMALL_REPOS = int(sys.argv[1]) if len(sys.argv) > 1 else 400     # x10 files/repo
BIG_MULT = int(sys.argv[2]) if len(sys.argv) > 2 else 10
OUT = sys.argv[3] if len(sys.argv) > 3 else "/tmp/refresh_scale.jsonl"
N_CHANGED = 40  # constant absolute diff at BOTH sizes


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("refresh-scale")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "48g")
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from sparkclone.config import benchmark_config
    from sparkclone.corpus import generate_corpus_rows, rows_to_parquet
    from sparkclone.incremental import incremental_scan_probe, persist_probe_artifacts
    from sparkclone.pipeline import load_corpus, run_pipeline

    cfg = benchmark_config()
    results = []
    for n_repos in (N_SMALL_REPOS, N_SMALL_REPOS * BIG_MULT):
        rows = generate_corpus_rows(seed=42, n_repos=n_repos, files_per_repo=10)
        # constant-size diff: touch the same number of files at every scale
        step = max(1, len(rows) // N_CHANGED)
        new_rows = [
            dataclasses.replace(r, content=r.content + "\n# touch\n")
            if i % step == 0 else r
            for i, r in enumerate(rows)
        ]
        tmp = tempfile.mkdtemp(prefix=f"refresh-scale-{n_repos}-")
        old_pq, new_pq = f"{tmp}/old.parquet", f"{tmp}/new.parquet"
        rows_to_parquet(rows, old_pq)
        rows_to_parquet(new_rows, new_pq)

        base = run_pipeline(
            spark, load_corpus(spark, old_pq), cfg, checkpoint_dir=f"{tmp}/ck"
        )
        base["findings"].count()
        probe = incremental_scan_probe(
            spark, load_corpus(spark, new_pq), base["snippets"],
            base["signatures"], load_corpus(spark, old_pq), cfg,
        )
        probe["diff_findings"].count()  # probe cost excluded from refresh timing
        base_key = f"{tmp}/ck/{base['metrics'].config_hash}"

        t0 = time.perf_counter()
        persist_probe_artifacts(
            probe, f"{tmp}/ck/v2-delta", spark=spark, base_key_dir=base_key
        )
        delta_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        persist_probe_artifacts(probe, f"{tmp}/ck/v2-full")  # legacy full rewrite
        full_s = time.perf_counter() - t0

        rec = {
            "corpus_files": len(rows),
            "changed_files": sum(1 for i in range(len(rows)) if i % step == 0),
            "refresh_delta_sec": round(delta_s, 3),
            "refresh_full_rewrite_sec": round(full_s, 3),
        }
        print(json.dumps(rec), flush=True)
        results.append(rec)
        with open(OUT, "a") as f:
            f.write(json.dumps(rec) + "\n")
        probe["release"]()
        base["metrics"].release()
        spark.catalog.clearCache()

    small, big = results
    print(
        f"corpus x{big['corpus_files'] / small['corpus_files']:.0f}: "
        f"delta commit {small['refresh_delta_sec']} -> {big['refresh_delta_sec']} s "
        f"(x{big['refresh_delta_sec'] / small['refresh_delta_sec']:.2f}); "
        f"full rewrite {small['refresh_full_rewrite_sec']} -> "
        f"{big['refresh_full_rewrite_sec']} s "
        f"(x{big['refresh_full_rewrite_sec'] / small['refresh_full_rewrite_sec']:.2f})"
    )


if __name__ == "__main__":
    main()
