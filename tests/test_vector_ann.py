"""SRP ANN (vector.srp_topk) — the scale path must be the verified one:
recall@3 gated against the exact brute-force baseline, and the multi-table
pair dedupe must shuffle slim id pairs, never the embedding vectors."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"

# Must match __spark_entry__._q_srp_ann_top3 so the gate covers the
# driver-recorded query configuration (n_planes=None -> auto, which
# resolves to 3 at the 500-vector validation scale — pinned below).
SRP_PARAMS = dict(k=3, n_planes=None, n_tables=12, seed=42, dim=64)


def test_auto_n_planes_scales_with_corpus():
    from sparkclone.vector import auto_n_planes

    assert auto_n_planes(500) == 3
    assert auto_n_planes(5_000) == 7
    assert auto_n_planes(5_000_000) == 17
    # buckets ~N/64 keeps expected bucket size flat as N grows
    assert 2 ** auto_n_planes(10**9) >= 10**9 // 128


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_srp_recall_at_3_vs_exact(spark, embeddings):
    from sparkclone.vector import brute_force_topk, srp_topk

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(embeddings, embeddings, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in srp_topk(embeddings, **SRP_PARAMS).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"SRP recall@3 {recall:.4f} < 0.9"


def test_srp_dedupe_shuffles_ids_only(spark, embeddings):
    """The dedupe of pairs colliding in multiple tables must aggregate on
    the slim (query_id, neighbor_id) pair — the optimized plan's
    Deduplicate/Aggregate node must not carry the vector columns."""
    from sparkclone.vector import srp_topk

    df = srp_topk(embeddings, **SRP_PARAMS)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    dedup_lines = [
        line
        for line in plan.splitlines()
        if "Deduplicate" in line or "Aggregate [query_id" in line
    ]
    assert dedup_lines, f"no dedupe node found in plan:\n{plan}"
    for line in dedup_lines:
        assert "__qv" not in line and "__cv" not in line and "v#" not in line, (
            f"dedupe carries vectors: {line}"
        )


def test_srp_caches_nothing_and_buckets_once(spark, embeddings):
    """srp_topk has no release point (queries() returns it as a bare lazy
    frame), so it must persist nothing; and the bucketing UDF must run
    once per vector, not once per side of a bucket self-join."""
    from sparkclone.vector import srp_topk

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before = persistent()
    df = srp_topk(embeddings, **SRP_PARAMS)
    assert df.collect()
    assert persistent() == before
    final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    # a cached plan shared with an earlier call would not show as a new RDD
    assert "InMemoryRelation" not in final, final
    bucketing = [
        line for line in final.splitlines()
        if "ArrowEvalPython" in line and "bucket_udf" in line
    ]
    assert len(bucketing) == 1, final


def test_srp_plan_has_no_per_plane_literals(spark, embeddings):
    """Scale-safety gate (round-2 verdict #3): at auto-scaled plane counts
    the bucket projection must be one Arrow-batched UDF over a captured
    plane tensor, NOT n_tables*n_planes*dim inlined float literals — the
    literal form blows up Catalyst analysis/codegen (plan-explosion trap).

    auto_n_planes(10**6) == 14; with 12 tables x 64 dims the literal plan
    would embed ~10k float literals. Assert the optimized plan stays small
    and routes through a Python/Arrow UDF node."""
    from sparkclone.vector import auto_n_planes, srp_topk

    df = srp_topk(
        embeddings, k=3, n_planes=auto_n_planes(10**6), n_tables=12, seed=42, dim=64
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "pythonUDF" in plan or "bucket_udf" in plan, plan[:2000]
    # literal-inlined planes would push this far past 10^5 chars
    assert len(plan) < 20_000, f"plan unexpectedly large: {len(plan)} chars"
    assert plan.count("0.") < 200, "float literals leaked into the plan"


def test_srp_explicit_dim_matches_inferred(spark, embeddings):
    from sparkclone.vector import srp_topk

    explicit = srp_topk(embeddings, **SRP_PARAMS).collect()
    inferred = srp_topk(embeddings, **{**SRP_PARAMS, "dim": None}).collect()
    assert sorted(map(tuple, explicit)) == sorted(map(tuple, inferred))


def test_pair_dot_udf_bit_identical_to_hof_cosine(spark, embeddings):
    """The numpy scoring kernel (pair_dot_udf + per-side norms, JVM-side
    guard/round) must produce BIT-identical rounded cosines to the
    interpreted-HOF cosine() on every pair — same float32 multiply, same
    left-associated float64 accumulation — so srp_topk's rewrite cannot
    move a 5th-decimal rounding or a tie-rank."""
    from pyspark.sql import functions as F

    from sparkclone.vector import cosine, l2_norm, pair_dot_udf

    a = embeddings.limit(80).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        l2_norm(F.col("embedding")).alias("qn"),
    )
    b = embeddings.limit(80).select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("nv"),
        l2_norm(F.col("embedding")).alias("nn"),
    )
    pairs = a.crossJoin(b)
    denom = F.col("qn") * F.col("nn")
    mismatches = (
        pairs.withColumn("hof", F.round(cosine(F.col("qv"), F.col("nv")), 5))
        .withColumn(
            "fast",
            F.round(
                F.when(denom == 0, F.lit(0.0)).otherwise(
                    pair_dot_udf()(F.col("qv"), F.col("nv")) / denom
                ),
                5,
            ),
        )
        .where(F.expr("NOT (hof <=> fast)"))
        .count()
    )
    assert mismatches == 0


def test_pair_dot_udf_null_and_ragged_semantics(spark):
    """The kernel's slow path must mirror aggregate(zip_with(...))'s null
    propagation: a NULL vector on either side, or a length mismatch
    (zip_with pads the shorter side with NULL), yields a NULL dot."""
    from pyspark.sql import functions as F

    from sparkclone.vector import dot, pair_dot_udf

    rows = [
        ([1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
        (None, [1.0, 1.0, 1.0]),
        ([1.0, 1.0, 1.0], None),
        ([1.0, 2.0], [3.0, 4.0, 5.0]),  # ragged
        ([], []),
    ]
    df = spark.createDataFrame(rows, "a array<float>, b array<float>")
    got = (
        df.withColumn("fast", pair_dot_udf()(F.col("a"), F.col("b")))
        .withColumn("hof", dot(F.col("a"), F.col("b")))
        .select("fast", "hof")
        .collect()
    )
    for r in got:
        if r["hof"] is None:
            assert r["fast"] is None
        else:
            assert r["fast"] == r["hof"]
