"""Two-cluster-size scaling benchmark (north_rule evidence).

Launched via spark-submit --py-files (see tools/run_scaling.sh):

    spark-submit --master local[N] --py-files /tmp/sparkclone-*.zip \
        tools/bench_scaling.py <corpus.parquet> <checkpoint_root|-> <out.json>

Runs the full pipeline on the given corpus, measures wall time and
per-stage breakdown, and appends one JSON line to <out.json>. The
``stages`` field holds per-stage walls only when a checkpoint root is
given: with ``-`` (what run_scaling.sh passes) each stage is an eager
local checkpoint that records no metrics row, and ``stages`` is empty. The
companion shell script runs N=8 and 4N=32 on the identical input and
computes scaling efficiency (T_8 / T_32) / 4.
"""

from __future__ import annotations

import json
import sys
import time


def main() -> None:
    corpus_path, ck_root, out_path = sys.argv[1], sys.argv[2], sys.argv[3]

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("sparkclone-scaling").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    from sparkclone.config import benchmark_config
    from sparkclone.pipeline import load_corpus, run_pipeline

    cfg = benchmark_config()
    corpus = load_corpus(spark, corpus_path)
    n_files = corpus.count()

    t0 = time.perf_counter()
    out = run_pipeline(
        spark, corpus, cfg, checkpoint_dir=None if ck_root == "-" else ck_root
    )
    # materialize the full result (findings + clusters)
    n_findings = out["findings"].count()
    n_clusters = out["clusters"].select("cluster_id").distinct().count()
    wall = time.perf_counter() - t0

    stages = {
        m.stage: round(m.wall_s, 3) for m in out["metrics"].metrics if not m.resumed
    }
    record = {
        "cores": cores,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "files": n_files,
        "findings": n_findings,
        "clusters": n_clusters,
        "wall_s": round(wall, 3),
        "files_per_sec": round(n_files / wall, 3),
        "stages": stages,
    }
    with open(out_path, "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps(record))
    spark.stop()


if __name__ == "__main__":
    main()
