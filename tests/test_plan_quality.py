"""Physical/optimized-plan assertions: the properties that make the
pipeline 100TB-viable must hold in the PLAN, not just in intent —
column pruning at the scan, hash-only verification joins, broadcast
dimension joins. These are regression guards for the .explain-driven
tuning the engine was built with."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def corpus_df(spark, corpus_parquet):
    from sparkclone.pipeline import load_corpus

    return load_corpus(spark, corpus_parquet)


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extraction_scan_prunes_columns(spark, corpus_df):
    """The parquet scan feeding extraction must read only the five input
    columns — a scan that drags extra columns into the mapInPandas batch
    wastes Arrow bandwidth on every file at 100 TB."""
    from sparkclone.config import benchmark_config
    from sparkclone.extract import extract_snippets

    snips = extract_snippets(corpus_df, benchmark_config().windows)
    plan = _executed(snips)
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines, plan
    for ln in scan_lines:
        schema = ln.split("ReadSchema:")[1]
        for col in ("repo", "path", "commit", "lang", "content"):
            assert col in schema
        assert "content_sha256" not in schema  # derived, not scanned


def test_verification_join_carries_hashes_not_text(spark, corpus_df):
    """The pair-verification joins are the widest shuffle in the job;
    they must move xxhash64 token arrays, never the normalized text
    (texts join in later, only for the SimHash-gated LCS subset)."""
    from sparkclone.config import benchmark_config
    from sparkclone.extract import extract_snippets
    from sparkclone.lsh import candidate_pairs
    from sparkclone.pipeline import collapse_exact, tokenize_snippets
    from sparkclone.signatures import with_signatures
    from sparkclone.verify import attach_sides, verify_pairs

    cfg = benchmark_config()
    snips = tokenize_snippets(extract_snippets(corpus_df, cfg.windows), cfg)
    reps, _ = collapse_exact(snips)
    sigs = with_signatures(reps.drop("norm_text", "text_hash"), cfg.signature)
    pairs, _ = candidate_pairs(sigs, cfg.lsh)
    attached = attach_sides(pairs, sigs)
    verified = verify_pairs(attached, cfg)
    # the rows flowing through the pair join carry hash arrays, not text
    # (norm_text may appear in the plan only inside the narrow token-
    # derivation expressions upstream of the collapse shuffle)
    assert "token_hashes_a" in attached.columns and "token_hashes_b" in attached.columns
    assert not any("norm_text" in c or c == "tokens" for c in attached.columns)
    assert not any("norm_text" in c for c in verified.columns)


def test_dim_joins_are_broadcast(spark):
    """revenue_by_nation: region/nation/supplier must broadcast; only
    the fact-fact join and the aggregation may shuffle."""
    import __spark_entry__ as entry

    df = entry._q_revenue_by_nation(spark, "/root/testdata/sf0.001")
    plan = _executed(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]


def test_candidate_generation_has_no_cartesian(spark, corpus_df):
    """No CartesianProduct / BroadcastNestedLoopJoin anywhere in the
    candidate-pair plan — the LSH design exists precisely to avoid
    all-pairs comparison."""
    from sparkclone.config import benchmark_config
    from sparkclone.extract import extract_snippets
    from sparkclone.lsh import candidate_pairs
    from sparkclone.pipeline import collapse_exact, tokenize_snippets
    from sparkclone.signatures import with_signatures

    cfg = benchmark_config()
    snips = tokenize_snippets(extract_snippets(corpus_df, cfg.windows), cfg)
    reps, _ = collapse_exact(snips)
    sigs = with_signatures(reps.drop("norm_text", "text_hash"), cfg.signature)
    pairs, _ = candidate_pairs(sigs, cfg.lsh)
    plan = _executed(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_single_row_group_corpus_extracts_in_parallel(spark, corpus_rows, tmp_path):
    """Parquet byte-range splits only yield rows for row groups STARTING in
    the range: a single-row-group file reports N scan partitions with every
    row in one of them. run_pipeline must detect this shape and spread the
    Python extraction anyway (round-3 discovery: the old `< dp` guard left
    the whole extraction in ONE task and poisoned the N=4 scaling level)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from sparkclone.config import benchmark_config
    from sparkclone.pipeline import load_corpus, run_pipeline

    path = str(tmp_path / "one_group.parquet")
    pq.write_table(
        pa.table(
            {
                "repo": [r.repo for r in corpus_rows],
                "path": [r.path for r in corpus_rows],
                "commit": [r.commit for r in corpus_rows],
                "lang": [r.lang for r in corpus_rows],
                "content": [r.content for r in corpus_rows],
            }
        ),
        path,
        row_group_size=10**6,  # force the pathological single-group layout
    )
    corpus = load_corpus(spark, path)
    # the pathology this guards against: >1 scan partitions, all rows in one
    dist = corpus.groupBy(F.spark_partition_id().alias("p")).count().collect()
    assert len([r for r in dist if r["count"] > 0]) == 1

    out = run_pipeline(spark, corpus, benchmark_config())
    sdist = (
        out["snippets"].groupBy(F.spark_partition_id().alias("p")).count().collect()
    )
    nonempty = [r for r in sdist if r["count"] > 0]
    assert len(nonempty) >= spark.sparkContext.defaultParallelism // 2, (
        f"extraction not spread: {sdist}"
    )
    out["metrics"].release()


def test_in_memory_findings_plan_is_cut(spark, corpus_df):
    """In-memory stages are lineage cuts: the findings a run returns must
    plan over a checkpoint scan, not re-embed the extraction, signature
    and verification DAG (which every later action would re-analyze and
    re-plan on the driver)."""
    from sparkclone.config import benchmark_config
    from sparkclone.pipeline import run_pipeline

    out = run_pipeline(spark, corpus_df, benchmark_config())
    plan = _optimized(out["findings"])
    for node in ("MapInPandas", "ArrowEvalPython", "InMemoryRelation"):
        assert node not in plan, plan
    out["metrics"].release()


def _probe_hop(spark, rows, old_rows, tmp, key, stages, tag):
    """One rolling-base hop: probe ``rows`` against ``old_rows`` over the
    artifact stages loaded from ``key``, commit it as a delta at a new key.
    Returns (probe outputs, new key)."""
    from sparkclone.config import benchmark_config
    from sparkclone.corpus import rows_to_parquet
    from sparkclone.incremental import incremental_scan_probe, persist_probe_artifacts
    from sparkclone.pipeline import load_corpus

    new_pq, old_pq = f"{tmp}/{tag}-new.parquet", f"{tmp}/{tag}-old.parquet"
    rows_to_parquet(rows, new_pq)
    rows_to_parquet(old_rows, old_pq)
    probe = incremental_scan_probe(
        spark, load_corpus(spark, new_pq), stages["snippets"], stages["signatures"],
        load_corpus(spark, old_pq), benchmark_config(),
    )
    new_key = f"{tmp}/ck/{tag}"
    persist_probe_artifacts(probe, new_key, spark=spark, base_key_dir=key)
    return probe, new_key


def test_probe_diff_findings_plan_is_cut(spark, corpus_df):
    """The probe's diff findings plan over its findings cut: no Python
    operator (extraction, signing, LCS) is re-planned or re-run by an
    action that consumes them."""
    from sparkclone.config import benchmark_config
    from sparkclone.incremental import incremental_scan_probe
    from sparkclone.pipeline import run_pipeline

    old = corpus_df.where("path not like '%exact_2%'")
    base = run_pipeline(spark, old, benchmark_config())
    probe = incremental_scan_probe(
        spark, corpus_df, base["snippets"], base["signatures"], old, benchmark_config()
    )
    plan = _optimized(probe["diff_findings"])
    for node in ("MapInPandas", "ArrowEvalPython"):
        assert node not in plan, plan
    assert probe["diff_findings"].count() > 0
    probe["release"]()
    base["metrics"].release()


def test_delta_chain_keeps_base_partition_count(spark, corpus_rows, tmp_path):
    """Each delta hop adds its add files to the resolved stages; after two
    hops load_probe_stages must still return snippets and signatures in no
    more partitions than the depth-0 parquet read — every extra near-empty
    partition is a task in every probe stage downstream."""
    import dataclasses

    from sparkclone.config import benchmark_config
    from sparkclone.corpus import rows_to_parquet
    from sparkclone.incremental import load_probe_stages
    from sparkclone.pipeline import load_corpus, run_pipeline

    tmp = str(tmp_path)
    v0 = [r for r in corpus_rows if r.path != "pkg/exact_2.py"]
    v1 = list(corpus_rows)
    v2 = [
        dataclasses.replace(r, content=r.content + "\n# touched\n")
        if r.path == "pkg/near_90.py" else r
        for r in v1
    ] + [dataclasses.replace(corpus_rows[0], path="pkg/hop2_copy.py")]
    rows_to_parquet(v0, f"{tmp}/v0.parquet")
    base = run_pipeline(
        spark, load_corpus(spark, f"{tmp}/v0.parquet"), benchmark_config(),
        checkpoint_dir=f"{tmp}/ck",
    )
    base["findings"].count()
    key0 = f"{tmp}/ck/{base['metrics'].config_hash}"
    stages = ["snippets", "signatures"]

    probe1, key1 = _probe_hop(
        spark, v1, v0, tmp, key0, load_probe_stages(spark, key0, stages), "hop1"
    )
    loaded1 = load_probe_stages(spark, key1, stages)
    probe2, key2 = _probe_hop(spark, v2, v1, tmp, key1, loaded1, "hop2")
    loaded2 = load_probe_stages(spark, key2, stages)
    for stage in stages:
        depth0 = spark.read.parquet(f"{key0}/{stage}").rdd.getNumPartitions()
        got = loaded2[stage].rdd.getNumPartitions()
        assert got <= depth0, f"{stage}: {got} partitions after two hops, depth-0 read {depth0}"
    for df in [*loaded1.values(), *loaded2.values()]:
        df.unpersist()
    probe1["release"]()
    probe2["release"]()
    base["metrics"].release()
