"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full near-duplicate pipeline over the
sf0.001 ``documents`` table mapped to the corpus shape; returns duplicate
clusters with sizes.

``queries()`` / ``oracle_sql()`` — one entry per SQL-expressible operator
from SURVEY.md §2 plus the training-data-pipeline operators (dedup,
MinHash/LSH, text analysis, vector similarity). Every aggregate/computed
column is aliased identically in the Spark code and the DuckDB SQL.
Entries without an oracle (full LSH pipeline, SRP ANN) get rows-only
checks by design.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_SRC = str(Path(__file__).resolve().parent / "src")
if _SRC not in sys.path:
    sys.path.insert(0, _SRC)

TOKEN_SQL = "regexp_extract_all(lower(text), '[a-z0-9_]+')"
DTOKEN_SQL = f"list_sort(list_distinct({TOKEN_SQL}))"

# 16-bit SimHash in portable SQL (bit source: first 4 hex chars of
# md5(token); majority vote per bit, ties -> clear) — the DuckDB twin of
# sparkclone.textops.simhash16.
_SIMHASH16_VOTES = ", ".join(
    f"sum(CASE WHEN (v >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}" for j in range(16)
)
_SIMHASH16_VALUE = " + ".join(
    f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16)
)
_SIMHASH16_CTE = f"""
            WITH toks AS (
              SELECT doc_id, unnest({DTOKEN_SQL}) AS t FROM documents
            ), hv AS (
              SELECT doc_id, ('0x' || substr(md5(t), 1, 4))::BIGINT AS v FROM toks
            ), votes AS (
              SELECT doc_id, {_SIMHASH16_VOTES} FROM hv GROUP BY doc_id
            ), sh AS (
              SELECT d.doc_id,
                     CAST(coalesce({_SIMHASH16_VALUE}, 0) AS BIGINT) AS simhash16
              FROM documents d LEFT JOIN votes USING (doc_id)
            )"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def documents_as_corpus(docs: DataFrame) -> DataFrame:
    """Map the documents table onto the corpus input shape
    (repo, path, commit, lang, content)."""
    return docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit(".txt")).alias("path"),
        F.lpad(F.lit("0"), 40, "0").alias("commit"),
        F.lit("text").alias("lang"),
        F.col("text").alias("content"),
    )


def _doc_pipeline_config():
    from sparkclone.config import PipelineConfig, WindowConfig

    # documents are single-line texts: keep the 12/6 window geometry but
    # min_nonempty=1 so one-line docs still produce a WIN snippet.
    return PipelineConfig(windows=WindowConfig(window_lines=12, stride_lines=6, min_nonempty=1))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: near-duplicate clusters of sf0.001 documents."""
    from sparkclone.pipeline import run_pipeline

    corpus = documents_as_corpus(_docs(spark, "/root/testdata/sf0.001"))
    out = run_pipeline(spark, corpus, _doc_pipeline_config())
    sizes = out["cluster_sizes"]
    return sizes.select(
        "cluster_id",
        "member_count",
        F.col("cluster_root").alias("sample_unit"),
    ).orderBy("cluster_id")


# ---------------------------------------------------------------------------
# SQL-checkable queries
# ---------------------------------------------------------------------------


def _q_doc_token_stats(spark, sf_dir):
    from sparkclone.textops import distinct_tokens, doc_tokens

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(doc_tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.size(distinct_tokens(F.col("text"))).cast("long").alias("n_distinct_tokens"),
    )


def _q_exact_dup_groups(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.groupBy(F.sha2("text", 256).alias("text_sha256")).agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("rep_doc")
    )


def _q_exact_dup_pairs(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", F.sha2("text", 256).alias("h"))
    a = d.select(F.col("doc_id").alias("doc_a"), "h")
    b = d.select(F.col("doc_id").alias("doc_b"), "h")
    return (
        a.join(b, "h")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )


def _q_shingle_stats(spark, sf_dir):
    from sparkclone.textops import doc_tokens, word_shingles

    d = _docs(spark, sf_dir)
    toks = doc_tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(word_shingles(toks, 3)).cast("long").alias("n_shingles"),
    )


def _q_doc_minhash(spark, sf_dir):
    from sparkclone.textops import distinct_tokens, minhash_md5

    # The sketch is an array; the driver's canonicalizer needs hashable
    # cells, so serialize it to one comma-joined string column (the oracle
    # mirrors with array_to_string).
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.concat_ws(",", minhash_md5(distinct_tokens(F.col("text")), 4)).alias("minhash"),
    )


def _q_lsh_band_buckets(spark, sf_dir):
    from sparkclone.textops import band_bucket, distinct_tokens, minhash_md5

    d = _docs(spark, sf_dir)
    mh = minhash_md5(distinct_tokens(F.col("text")), 4)
    return (
        d.select(band_bucket(mh, 1).alias("bucket"), "doc_id")
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc"))
    )


def _q_near_dup_pairs(spark, sf_dir):
    """Mini LSH-verify in one query: candidates share the first md5
    minhash value; verification is exact token-set Jaccard >= 0.5
    (X1 semantics on documents)."""
    from sparkclone.textops import distinct_tokens, jaccard_sets, minhash_md5

    d = _docs(spark, sf_dir).select(
        "doc_id",
        distinct_tokens(F.col("text")).alias("toks"),
        F.try_element_at(minhash_md5(distinct_tokens(F.col("text")), 1), F.lit(1)).alias("mh1"),
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"), "mh1")
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"), "mh1")
    return (
        a.join(b, "mh1")
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", F.round(jaccard_sets(F.col("ta"), F.col("tb")), 6))
        .where(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


def _q_lang_id(spark, sf_dir):
    from sparkclone.textops import doc_tokens, lang_guess, stopword_ratio

    d = _docs(spark, sf_dir)
    toks = doc_tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.round(stopword_ratio(toks), 6).alias("stop_ratio"),
        lang_guess(toks).alias("lang_guess"),
    )


def _q_doc_quality(spark, sf_dir):
    from sparkclone.textops import quality_score

    d = _docs(spark, sf_dir)
    return d.select("doc_id", quality_score(F.col("text")).alias("quality"))


def _q_doc_fingerprint(spark, sf_dir):
    from sparkclone.textops import fingerprint_min_md5

    d = _docs(spark, sf_dir)
    return d.select("doc_id", fingerprint_min_md5(F.col("text"), 5).alias("fp"))


def _q_pricing_summary(spark, sf_dir):
    li = _tbl(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("n_rows"),
        )
    )


def _q_top_customers(spark, sf_dir):
    o = _tbl(spark, sf_dir, "orders")
    c = _tbl(spark, sf_dir, "customer")
    rev = o.groupBy("o_custkey").agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    return (
        rev.join(F.broadcast(c), rev["o_custkey"] == c["c_custkey"])
        .select("c_custkey", "c_name", "revenue")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(10)
    )


def _q_latest_order(spark, sf_dir):
    o = _tbl(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", F.col("o_orderkey").alias("latest_orderkey"))
    )


def _q_open_order_customers(spark, sf_dir):
    o = _tbl(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    c = _tbl(spark, sf_dir, "customer")
    return c.join(
        o.select("o_custkey").dropDuplicates(),
        c["c_custkey"] == o["o_custkey"],
        "left_semi",
    ).select("c_custkey")


def _q_customers_without_orders(spark, sf_dir):
    o = _tbl(spark, sf_dir, "orders")
    c = _tbl(spark, sf_dir, "customer")
    return c.join(
        o.select("o_custkey").dropDuplicates(),
        c["c_custkey"] == o["o_custkey"],
        "left_anti",
    ).select("c_custkey")


def _q_user_sessions(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_session = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.withColumn("new_s", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_s").cast("long").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


def _q_event_type_stats(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


def _q_embedding_norms(spark, sf_dir):
    from sparkclone.vector import l2_norm

    e = _tbl(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(l2_norm(F.col("embedding")), 5).alias("l2"),
    )


def _q_cosine_top3(spark, sf_dir):
    from sparkclone.vector import brute_force_topk

    e = _tbl(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 20)
    return brute_force_topk(q, e, k=3, round_digits=4)


def _q_label_centroid_norms(spark, sf_dir):
    e = _tbl(spark, sf_dir, "embeddings")
    exploded = e.select("label", "vec_id", F.posexplode("embedding").alias("pos", "val"))
    means = exploded.groupBy("label", "pos").agg(F.avg("val").alias("m"))
    return (
        means.groupBy("label")
        .agg(F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 4).alias("centroid_norm"))
        .join(
            e.groupBy("label").agg(F.count("*").alias("n_vecs")),
            "label",
        )
        .select("label", "n_vecs", "centroid_norm")
    )


def _q_doc_subword_stats(spark, sf_dir):
    """BPE-ish token counting (training-data op): alpha runs, digit runs,
    and single non-space symbols counted separately — the pre-merge vocab
    a byte-pair tokenizer starts from, vs the identifier tokens of
    doc_token_stats."""
    d = _docs(spark, sf_dir)
    sub = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), 0)
    alpha = F.size(F.filter(sub, lambda t: t.rlike("^[a-z]+$")))
    digit = F.size(F.filter(sub, lambda t: t.rlike("^[0-9]+$")))
    return d.select(
        "doc_id",
        F.size(sub).cast("long").alias("n_subtokens"),
        alpha.cast("long").alias("n_alpha"),
        digit.cast("long").alias("n_digit"),
        (F.size(sub) - alpha - digit).cast("long").alias("n_symbol"),
    )


def _q_embedding_near_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs — the vector-dedup modality:
    candidates share the sign pattern of the first 8 dimensions (a
    deterministic 1-table SRP bucket, SQL-expressible so the oracle
    computes the identical bucketing), verified at exact cosine >= 0.30
    (calibrated to the synthetic embeddings, whose in-bucket cosine tops
    out near 0.43 — a 0-row check would verify nothing).
    The production path swaps the deterministic bucket for multi-table
    random SRP (srp_topk); the join shape is identical."""
    from sparkclone.vector import cosine

    e = _tbl(spark, sf_dir, "embeddings")
    bucket = F.lit(0).cast("long")
    for i in range(8):
        bucket = bucket + (F.element_at("embedding", i + 1) > 0).cast("long") * F.lit(1 << i)
    b = e.select("vec_id", "embedding", bucket.alias("bucket"))
    a_side = b.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), "bucket")
    b_side = b.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), "bucket")
    return (
        a_side.join(b_side, "bucket")
        .where(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", F.round(cosine(F.col("ea"), F.col("eb")), 4))
        .where(F.col("cosine") >= 0.30)
        .select("vec_a", "vec_b", "cosine")
    )


def _q_simhash16_docs(spark, sf_dir):
    from sparkclone.textops import simhash16

    return simhash16(_docs(spark, sf_dir), "doc_id", "text")


def _q_simhash_hamming_pairs(spark, sf_dir):
    """SimHash near-dup pairs: candidates share the first md5 minhash,
    similarity = Hamming distance of the 16-bit oracle-portable SimHash
    (near-verbatim prefilter semantics, SURVEY.md §2.8 E4)."""
    from sparkclone.textops import distinct_tokens, minhash_md5, simhash16

    docs = _docs(spark, sf_dir)
    sh = simhash16(docs, "doc_id", "text")
    d = docs.select(
        "doc_id",
        F.try_element_at(minhash_md5(distinct_tokens(F.col("text")), 1), F.lit(1)).alias("mh1"),
    ).join(sh, "doc_id")
    a = d.select(F.col("doc_id").alias("doc_a"), "mh1", F.col("simhash16").alias("sa"))
    b = d.select(F.col("doc_id").alias("doc_b"), "mh1", F.col("simhash16").alias("sb"))
    return (
        a.join(b, "mh1")
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int"))
        .where(F.col("hamming") <= 4)
        .select("doc_a", "doc_b", "hamming")
    )


def _q_kmv_jaccard_pairs(spark, sf_dir):
    """KMV sketch Jaccard estimate vs exact Jaccard per candidate pair —
    the estimator the MinHash stage relies on, exposed as a query."""
    from sparkclone.textops import (
        distinct_tokens,
        jaccard_sets,
        kmv_jaccard_est,
        minhash_md5,
    )

    d = _docs(spark, sf_dir).select(
        "doc_id",
        distinct_tokens(F.col("text")).alias("toks"),
        minhash_md5(distinct_tokens(F.col("text")), 8).alias("kmv"),
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("ta"),
        F.col("kmv").alias("ka"),
        F.try_element_at("kmv", F.lit(1)).alias("mh1"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("tb"),
        F.col("kmv").alias("kb"),
        F.try_element_at("kmv", F.lit(1)).alias("mh1"),
    )
    return (
        a.join(b, "mh1")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(kmv_jaccard_est(F.col("ka"), F.col("kb"), 8), 6).alias("kmv_est"),
            F.round(jaccard_sets(F.col("ta"), F.col("tb")), 6).alias("jaccard"),
        )
    )


def _q_char_ngram_dup_pairs(spark, sf_dir):
    """Character-5-gram near-dup pairs: candidates share the min-md5
    winnowing fingerprint; verification is exact char-ngram Jaccard."""
    from sparkclone.textops import char_ngrams, fingerprint_min_md5, jaccard_sets

    d = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.array_sort(F.array_distinct(char_ngrams(F.col("text"), 5))).alias("grams"),
            fingerprint_min_md5(F.col("text"), 5).alias("fp"),
        )
        .where(F.col("fp").isNotNull())
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"), "fp")
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("char_jaccard", F.round(jaccard_sets(F.col("ga"), F.col("gb")), 6))
        .where(F.col("char_jaccard") >= 0.3)
        .select("doc_a", "doc_b", "char_jaccard")
    )


def _q_media_features(spark, sf_dir):
    """Multimodal plumbing (media.py): documents as opaque payloads through
    the batched mapInPandas decode seam; byte counts + content digests are
    oracle-checkable, the feature vector is the deterministic fake."""
    from sparkclone.media import extract_media_features
    from sparkclone.runtime import ensure_shipped

    ensure_shipped(spark)  # mapInPandas closure needs the package on workers
    media = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("kind"),
        F.col("text").alias("data"),
    )
    feats = extract_media_features(media, use_fake_decoder=True)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "content_md5",
        F.size("feature").cast("int").alias("dim"),
    )


def _q_frame_sample_plan(spark, sf_dir):
    """Video frame-sampling plan (media.py): JVM-side sequence/explode of
    the frame indices a decoder would extract."""
    from sparkclone.media import frame_sample_plan

    media = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"), F.col("text").alias("data")
    )
    return frame_sample_plan(media, every_n=30)


def _q_incremental_dup_pairs(spark, sf_dir):
    """The reference's `diff` semantics (cli/commands/diff.py:62-68):
    full candidate generation, then keep findings touching a CHANGED file
    — changed-vs-all, not changed-vs-changed. Changed set here: every
    7th doc (a deterministic stand-in for a git diff). Pair source:
    the near-dup (token-Jaccard >= 0.5) candidates."""
    pairs = _q_near_dup_pairs(spark, sf_dir)
    changed = _docs(spark, sf_dir).where(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("c")
    )
    touched = pairs.join(
        F.broadcast(changed),
        (F.col("doc_a") == F.col("c")) | (F.col("doc_b") == F.col("c")),
        "left_semi",
    )
    return touched.select("doc_a", "doc_b")


def _q_revenue_by_nation(spark, sf_dir):
    """TPC-H Q5-shaped multi-join: ASIA revenue by nation with local
    suppliers. Dims (region, nation, supplier) are broadcast; the only
    shuffles are the orders⋈lineitem join and the final aggregation."""
    region = _tbl(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _tbl(spark, sf_dir, "nation")
    customer = _tbl(spark, sf_dir, "customer")
    orders = _tbl(spark, sf_dir, "orders")
    lineitem = _tbl(spark, sf_dir, "lineitem")
    supplier = _tbl(spark, sf_dir, "supplier")
    return (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(customer, (F.col("o_custkey") == F.col("c_custkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def _q_top_parts(spark, sf_dir):
    lineitem = _tbl(spark, sf_dir, "lineitem")
    part = _tbl(spark, sf_dir, "part")
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_partkey", "p_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("p_partkey"))
        .limit(10)
    )


# clusters + sizes both consume this result (and building it runs the
# expensive verified pair join + CC eagerly via localCheckpoint) —
# memoize per (session, sf_dir) so a driver run evaluating both queries
# computes the components once
_CC_DOCS_CACHE: dict = {}


def _q_clone_clusters_docs(spark, sf_dir):
    """Connected components (cluster.py, SURVEY A6) over the
    oracle-checkable near-dup edge set that `near_dup_pairs` defines
    (mh1-sharing candidates verified at token-set Jaccard >= 0.5).
    Output: every document with the minimum doc_id reachable in its
    component (itself when isolated) — label choice is representation-
    independent, so any correct CC labeling produces these exact rows.
    Oracle: DuckDB WITH RECURSIVE transitive closure over the same pairs.
    """
    from sparkclone.cluster import connected_components
    from sparkclone.config import ClusterConfig

    key = (id(spark), sf_dir)
    if key in _CC_DOCS_CACHE:
        return _CC_DOCS_CACHE[key]

    # the verified near-dup join is the expensive input and CC + the
    # rep/membership joins consume it several times — materialize once
    edges = (
        _q_near_dup_pairs(spark, sf_dir)
        .select(
            F.col("doc_a").cast("string").alias("ua"),
            F.col("doc_b").cast("string").alias("ub"),
        )
        .localCheckpoint(eager=True)
    )
    cc = connected_components(edges, ClusterConfig(), src="ua", dst="ub", dense_ids=False)
    mem = cc.select(
        F.col("unit_id").cast("long").alias("doc_id"), F.col("cluster_id").alias("lbl")
    ).localCheckpoint(eager=True)
    rep = mem.groupBy("lbl").agg(F.min("doc_id").alias("cluster_rep"))
    clustered = mem.join(rep, "lbl").select("doc_id", "cluster_rep")
    docs = _docs(spark, sf_dir).select("doc_id")
    result = docs.join(clustered, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_rep", F.col("doc_id")).alias("cluster_rep")
    )
    _CC_DOCS_CACHE[key] = result
    return result


def _q_clone_cluster_sizes_docs(spark, sf_dir):
    """Cluster-size counts (SURVEY A7) over the oracle-checked components
    of `clone_clusters_docs`."""
    cl = _q_clone_clusters_docs(spark, sf_dir)
    return cl.groupBy("cluster_rep").agg(F.count("*").alias("member_count"))


def _q_clone_pipeline_portable_sizes(spark, sf_dir):
    """The FULL pipeline (extract -> tokenize -> exact collapse ->
    signatures -> LSH bucket join -> verify -> rollup -> CC -> sizes) in
    its portable-oracle configuration: md5 signature scheme (single band =
    min token-md5 prefix, 16-bit md5 SimHash), raw text mode
    (normalize_text=False; the reference normalizes code — for this text
    corpus normalize_source is the identity anyway, asserted in
    tests/test_portable_pipeline.py), thresholds UNCHANGED from the
    benchmark config. Every stage runs through the same run_pipeline
    code path as production; only the sketch construction swaps, so the
    end-to-end cluster semantics get a real DuckDB oracle (the xxhash64
    fast path keeps its rows-only entry + reference-binary pytest gate).

    Edge-set identity the oracle mirrors: docs sharing the min token-md5
    bucket at exact token-set Jaccard >= 0.90 (WIN threshold; star edges
    from the exact collapse have Jaccard 1.0 and are subsumed); cluster
    membership = units incident to >= 1 finding; cluster_id = dense rank
    of components ordered by their min unit_id; member_count per
    component."""
    from sparkclone.config import PipelineConfig, SignatureConfig, WindowConfig
    from sparkclone.pipeline import run_pipeline

    cfg = PipelineConfig(
        windows=WindowConfig(window_lines=12, stride_lines=6, min_nonempty=1),
        signature=SignatureConfig(scheme="md5_portable"),
        normalize_text=False,
        lcs_evidence=False,
    )
    corpus = documents_as_corpus(_docs(spark, sf_dir))
    out = run_pipeline(spark, corpus, cfg)
    return out["cluster_sizes"].select("cluster_id", "member_count", "cluster_root")


# --- rows-only entries (not SQL-expressible; driver records weaker check) --


def _q_clone_pipeline_cluster_sizes(spark, sf_dir):
    """Full near-duplicate pipeline end-to-end (extract -> collapse ->
    MinHash/SimHash -> LSH -> verify -> rollup -> CC); rows-only by design
    — the band-LSH + per-kind-threshold edge set is not SQL-expressible,
    but the pipeline's cluster semantics are oracle-gated against the
    actual reference binary in tests/test_oracle_recall.py."""
    from sparkclone.pipeline import run_pipeline

    corpus = documents_as_corpus(_docs(spark, sf_dir))
    out = run_pipeline(spark, corpus, _doc_pipeline_config())
    return out["cluster_sizes"].select("cluster_id", "member_count", "cluster_root")


def _q_srp_ann_top3(spark, sf_dir):
    """Scale-path ANN: SRP-bucketed candidate join, slim id-pair dedupe,
    vectors joined back once for scoring. Plane count auto-scales with N
    (buckets ~N/64) so bucket pair-generation never reverts to quadratic;
    at the sf0.001 validation scale that resolves to 3 planes x 12
    tables, which holds recall@3 >= 0.9 vs the exact brute-force result —
    pytest-gated in tests/test_vector_ann.py. dim=64 comes from the
    embeddings schema (TESTDATA.md) and n_rows from the parquet footer
    metadata (the Iceberg snapshot-summary analogue) — planning launches
    zero driver-side jobs (no first()/count())."""
    from sparkclone.vector import parquet_row_count, srp_topk

    e = _tbl(spark, sf_dir, "embeddings")
    n_rows = parquet_row_count(f"{sf_dir}/embeddings.parquet")
    return srp_topk(e, k=3, n_planes=None, n_tables=12, seed=42, dim=64, n_rows=n_rows)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "doc_token_stats": _q_doc_token_stats,
        "exact_dup_groups": _q_exact_dup_groups,
        "exact_dup_pairs": _q_exact_dup_pairs,
        "shingle_stats": _q_shingle_stats,
        "doc_minhash": _q_doc_minhash,
        "lsh_band_buckets": _q_lsh_band_buckets,
        "near_dup_pairs": _q_near_dup_pairs,
        "lang_id": _q_lang_id,
        "doc_quality": _q_doc_quality,
        "doc_fingerprint": _q_doc_fingerprint,
        "doc_subword_stats": _q_doc_subword_stats,
        "embedding_near_dup_pairs": _q_embedding_near_dup_pairs,
        "simhash16_docs": _q_simhash16_docs,
        "simhash_hamming_pairs": _q_simhash_hamming_pairs,
        "kmv_jaccard_pairs": _q_kmv_jaccard_pairs,
        "char_ngram_dup_pairs": _q_char_ngram_dup_pairs,
        "media_features": _q_media_features,
        "frame_sample_plan": _q_frame_sample_plan,
        "incremental_dup_pairs": _q_incremental_dup_pairs,
        "revenue_by_nation": _q_revenue_by_nation,
        "top_parts": _q_top_parts,
        "pricing_summary": _q_pricing_summary,
        "top_customers": _q_top_customers,
        "latest_order": _q_latest_order,
        "open_order_customers": _q_open_order_customers,
        "customers_without_orders": _q_customers_without_orders,
        "user_sessions": _q_user_sessions,
        "event_type_stats": _q_event_type_stats,
        "embedding_norms": _q_embedding_norms,
        "cosine_top3": _q_cosine_top3,
        "label_centroid_norms": _q_label_centroid_norms,
        "clone_clusters_docs": _q_clone_clusters_docs,
        "clone_cluster_sizes_docs": _q_clone_cluster_sizes_docs,
        "clone_pipeline_portable_sizes": _q_clone_pipeline_portable_sizes,
        "clone_pipeline_cluster_sizes": _q_clone_pipeline_cluster_sizes,
        "srp_ann_top3": _q_srp_ann_top3,
    }


def oracle_sql() -> dict[str, str]:
    shingles = (
        f"[t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, greatest(len(t) - 1, 1))]"
    )
    return {
        "doc_token_stats": f"""
            SELECT doc_id,
                   CAST(len({TOKEN_SQL}) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct({TOKEN_SQL})) AS BIGINT) AS n_distinct_tokens
            FROM documents
        """,
        "exact_dup_groups": """
            SELECT sha256(text) AS text_sha256,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   MIN(doc_id) AS rep_doc
            FROM documents GROUP BY 1
        """,
        "exact_dup_pairs": """
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM documents a JOIN documents b
              ON sha256(a.text) = sha256(b.text) AND a.doc_id < b.doc_id
        """,
        "shingle_stats": f"""
            SELECT doc_id,
                   CAST(len(list_sort(list_distinct({shingles}))) AS BIGINT) AS n_shingles
            FROM (SELECT doc_id, {TOKEN_SQL} AS t FROM documents)
        """,
        "doc_minhash": f"""
            SELECT doc_id,
                   array_to_string(list_sort(list_transform({DTOKEN_SQL}, x -> md5(x)))[1:4], ',') AS minhash
            FROM documents
        """,
        "lsh_band_buckets": f"""
            SELECT substr(list_sort(list_transform({DTOKEN_SQL}, x -> md5(x)))[1], 1, 8) AS bucket,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   MIN(doc_id) AS min_doc
            FROM documents GROUP BY 1
        """,
        "near_dup_pairs": f"""
            WITH m AS (
              SELECT doc_id,
                     {DTOKEN_SQL} AS toks,
                     list_sort(list_transform({DTOKEN_SQL}, x -> md5(x)))[1] AS mh1
              FROM documents
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
            FROM m a JOIN m b ON a.mh1 = b.mh1 AND a.doc_id < b.doc_id
            WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                        / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.5
        """,
        "lang_id": f"""
            SELECT doc_id,
                   round(CASE WHEN len(t) = 0 THEN 0.0
                        ELSE CAST(len(list_filter(t, x -> list_contains(
                             ['the','a','of','to','and','in','is','it'], x))) AS DOUBLE) / len(t)
                        END, 6) AS stop_ratio,
                   CASE WHEN (CASE WHEN len(t) = 0 THEN 0.0
                        ELSE CAST(len(list_filter(t, x -> list_contains(
                             ['the','a','of','to','and','in','is','it'], x))) AS DOUBLE) / len(t)
                        END) >= 0.05 THEN 'en' ELSE 'unk' END AS lang_guess
            FROM (SELECT doc_id, {TOKEN_SQL} AS t FROM documents)
        """,
        "doc_quality": f"""
            SELECT doc_id,
                   round((
                     least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
                     + (CASE WHEN (CASE WHEN len(t) = 0 THEN 0.0
                          ELSE CAST(list_reduce(list_prepend(0, list_transform(t, x -> length(x))), (a,b) -> a+b) AS DOUBLE) / len(t) END) BETWEEN 3.0 AND 8.0
                        THEN 1.0 ELSE 0.5 END)
                     + (CASE WHEN length(text) = 0 THEN 0.0
                        ELSE CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text) END)
                   ) / 3.0, 6) AS quality
            FROM (SELECT doc_id, text, {TOKEN_SQL} AS t FROM documents)
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   CASE WHEN length(text) < 5 THEN NULL
                        ELSE list_sort([md5(substr(text, i, 5)) for i in range(1, length(text) - 3)])[1]
                   END AS fp
            FROM documents
        """,
        "doc_subword_stats": """
            SELECT doc_id,
                   CAST(len(sub) AS BIGINT) AS n_subtokens,
                   CAST(len(list_filter(sub, t -> regexp_full_match(t, '[a-z]+'))) AS BIGINT) AS n_alpha,
                   CAST(len(list_filter(sub, t -> regexp_full_match(t, '[0-9]+'))) AS BIGINT) AS n_digit,
                   CAST(len(sub)
                        - len(list_filter(sub, t -> regexp_full_match(t, '[a-z]+')))
                        - len(list_filter(sub, t -> regexp_full_match(t, '[0-9]+'))) AS BIGINT) AS n_symbol
            FROM (SELECT doc_id,
                         regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS sub
                  FROM documents)
        """,
        "embedding_near_dup_pairs": """
            WITH b AS (
              SELECT vec_id, embedding,
                     (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                   + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
                   + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
                   + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
                   + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
                   + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
                   + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
                   + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS bucket
              FROM embeddings
            )
            SELECT vec_a, vec_b, cosine FROM (
              SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
                     round(
                       list_reduce(list_prepend(0.0,
                         [CAST(a.embedding[i] AS DOUBLE) * CAST(b2.embedding[i] AS DOUBLE)
                          for i in range(1, len(a.embedding) + 1)]), (x,y) -> x+y)
                       / (sqrt(list_reduce(list_prepend(0.0, list_transform(a.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (x,y) -> x+y))
                          * sqrt(list_reduce(list_prepend(0.0, list_transform(b2.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (x,y) -> x+y)))
                     , 4) AS cosine
              FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
            ) WHERE cosine >= 0.30
        """,
        "simhash16_docs": f"""
            {_SIMHASH16_CTE}
            SELECT doc_id, simhash16 FROM sh
        """,
        "simhash_hamming_pairs": f"""
            {_SIMHASH16_CTE},
            m AS (
              SELECT doc_id,
                     list_sort(list_transform({DTOKEN_SQL}, x -> md5(x)))[1] AS mh1
              FROM documents
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(sa.simhash16, sb.simhash16)) AS INT) AS hamming
            FROM m a JOIN m b ON a.mh1 = b.mh1 AND a.doc_id < b.doc_id
            JOIN sh sa ON sa.doc_id = a.doc_id
            JOIN sh sb ON sb.doc_id = b.doc_id
            WHERE bit_count(xor(sa.simhash16, sb.simhash16)) <= 4
        """,
        "kmv_jaccard_pairs": f"""
            WITH m AS (
              SELECT doc_id, {DTOKEN_SQL} AS toks,
                     list_sort(list_transform({DTOKEN_SQL}, x -> md5(x)))[1:8] AS kmv
              FROM documents
            )
            SELECT doc_a, doc_b,
                   round(CASE WHEN len(u) = 0 THEN 0.0
                         ELSE CAST(len(list_filter(u, x -> list_contains(ka, x)
                                                     AND list_contains(kb, x))) AS DOUBLE)
                              / len(u) END, 6) AS kmv_est,
                   jaccard
            FROM (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     list_sort(list_distinct(list_concat(a.kmv, b.kmv)))[1:8] AS u,
                     a.kmv AS ka, b.kmv AS kb,
                     round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                           / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
              FROM m a JOIN m b ON a.kmv[1] = b.kmv[1] AND a.doc_id < b.doc_id
            )
        """,
        "char_ngram_dup_pairs": """
            WITH g AS (
              SELECT doc_id,
                     list_sort(list_distinct([substr(text, i, 5)
                                              for i in range(1, length(text) - 3)])) AS grams,
                     list_sort([md5(substr(text, i, 5))
                                for i in range(1, length(text) - 3)])[1] AS fp
              FROM documents WHERE length(text) >= 5
            )
            SELECT doc_a, doc_b, char_jaccard FROM (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                           / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS char_jaccard
              FROM g a JOIN g b ON a.fp = b.fp AND a.doc_id < b.doc_id
            ) WHERE char_jaccard >= 0.3
        """,
        "media_features": """
            SELECT doc_id AS media_id, 'text' AS kind,
                   CAST(strlen(text) AS INT) AS n_bytes,
                   md5(text) AS content_md5,
                   CAST(16 AS INT) AS dim
            FROM documents
        """,
        "frame_sample_plan": """
            SELECT media_id,
                   CAST(generate_subscripts(L, 1) - 1 AS INT) AS sample_idx,
                   CAST(unnest(L) AS INT) AS frame_no
            FROM (
              SELECT doc_id AS media_id,
                     [x for x in generate_series(0,
                        greatest(CAST(length(text) // 10 AS INT) - 1, 0), 30)] AS L
              FROM documents
            )
        """,
        "incremental_dup_pairs": f"""
            WITH m AS (
              SELECT doc_id,
                     {DTOKEN_SQL} AS toks,
                     list_sort(list_transform({DTOKEN_SQL}, x -> md5(x)))[1] AS mh1
              FROM documents
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM m a JOIN m b ON a.mh1 = b.mh1 AND a.doc_id < b.doc_id
            WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.5
              AND (a.doc_id % 7 = 0 OR b.doc_id % 7 = 0)
        """,
        "revenue_by_nation": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name
        """,
        "top_parts": """
            SELECT p_partkey, p_name, revenue FROM (
              SELECT p_partkey, p_name,
                     round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY 1, 2
            ) ORDER BY revenue DESC, p_partkey LIMIT 10
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem GROUP BY 1, 2
        """,
        "top_customers": """
            SELECT c_custkey, c_name, revenue FROM (
              SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
              FROM orders GROUP BY 1
            ) r JOIN customer ON c_custkey = o_custkey
            ORDER BY revenue DESC, c_custkey LIMIT 10
        """,
        "latest_order": """
            SELECT o_custkey, o_orderkey AS latest_orderkey FROM (
              SELECT o_custkey, o_orderkey,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
              FROM orders
            ) WHERE rn = 1
        """,
        "open_order_customers": """
            SELECT c_custkey FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        """,
        "customers_without_orders": """
            SELECT c_custkey FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "user_sessions": """
            SELECT user_id,
                   CAST(sum(new_s) AS BIGINT) AS n_sessions,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM (
              SELECT user_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR date_diff('second', lag(ts) OVER w, ts) > 1800
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ) GROUP BY user_id
        """,
        "event_type_stats": """
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   round(sum(value), 2) AS sum_value,
                   round(avg(value), 4) AS avg_value
            FROM events GROUP BY 1
        """,
        "embedding_norms": """
            SELECT vec_id,
                   CAST(len(embedding) AS BIGINT) AS dim,
                   round(sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,b) -> a+b)), 5) AS l2
            FROM embeddings
        """,
        "cosine_top3": """
            WITH scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     round(
                       list_reduce(list_prepend(0.0,
                         [CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
                          for i in range(1, len(q.embedding) + 1)]), (a,b) -> a+b)
                       / (sqrt(list_reduce(list_prepend(0.0, list_transform(q.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,b) -> a+b))
                          * sqrt(list_reduce(list_prepend(0.0, list_transform(c.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,b) -> a+b)))
                     , 4) AS cosine
              FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
              WHERE q.vec_id < 20
            )
            SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, neighbor_id) AS rank
              FROM scored
            ) WHERE rank <= 3
        """,
        "label_centroid_norms": """
            WITH flat AS (
              SELECT label, unnest(embedding) AS val,
                     generate_subscripts(embedding, 1) AS pos
              FROM embeddings
            ), means AS (
              SELECT label, pos, avg(CAST(val AS DOUBLE)) AS m FROM flat GROUP BY 1, 2
            )
            SELECT label,
                   (SELECT CAST(count(*) AS BIGINT) FROM embeddings e WHERE e.label = means.label) AS n_vecs,
                   round(sqrt(sum(m * m)), 4) AS centroid_norm
            FROM means GROUP BY label
        """,
        # CC oracle: full transitive closure (undirected reachability) over
        # the same verified near-dup edge set near_dup_pairs defines; the
        # component representative is the minimum reachable doc_id.
        "clone_clusters_docs": f"""
            WITH RECURSIVE m AS (
              SELECT doc_id,
                     {DTOKEN_SQL} AS toks,
                     list_sort(list_transform({DTOKEN_SQL}, x -> md5(x)))[1] AS mh1
              FROM documents
            ), p AS (
              SELECT a.doc_id AS s, b.doc_id AS d
              FROM m a JOIN m b ON a.mh1 = b.mh1 AND a.doc_id < b.doc_id
              WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                          / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.5
            ), und AS (
              SELECT s, d FROM p UNION ALL SELECT d AS s, s AS d FROM p
            ), reach(node, lbl) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT r.node, u.d FROM reach r JOIN und u ON u.s = r.lbl
            )
            SELECT node AS doc_id, min(lbl) AS cluster_rep FROM reach GROUP BY node
        """,
        # Full-pipeline oracle (portable config): same unit-id strings the
        # engine builds (repo/doc_N.txt:doc_N.txt:1:1 — single-line docs
        # produce exactly one 12/6/min1 window snippet), min-token-md5
        # band bucket, exact Jaccard >= 0.9 (win threshold; exact-dup star
        # edges are subsumed at Jaccard 1.0), membership = docs incident
        # to >= 1 edge, dense cluster ids ordered by min member unit_id.
        "clone_pipeline_portable_sizes": f"""
            WITH RECURSIVE d AS (
              SELECT doc_id,
                     source || '/doc_' || doc_id || '.txt:doc_' || doc_id
                            || '.txt:1:1' AS unit_id,
                     {DTOKEN_SQL} AS toks
              FROM documents
            ), b AS (
              SELECT doc_id, unit_id, toks,
                     substr(list_sort(list_transform(toks, x -> md5(x)))[1], 1, 16) AS bucket
              FROM d WHERE len(toks) > 0
            ), e AS (
              SELECT a.unit_id AS s, c.unit_id AS t
              FROM b a JOIN b c ON a.bucket = c.bucket AND a.doc_id < c.doc_id
              WHERE CAST(len(list_intersect(a.toks, c.toks)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.toks, c.toks))) >= 0.9
            ), und AS (
              SELECT s, t FROM e UNION ALL SELECT t AS s, s AS t FROM e
            ), members AS (
              SELECT DISTINCT s AS unit_id FROM und
            ), reach(node, lbl) AS (
              SELECT unit_id, unit_id FROM members
              UNION
              SELECT r.node, u.t FROM reach r JOIN und u ON u.s = r.lbl
            ), comp AS (
              SELECT node AS unit_id, min(lbl) AS cluster_root FROM reach GROUP BY node
            )
            SELECT CAST(dense_rank() OVER (ORDER BY cluster_root) AS INT) AS cluster_id,
                   member_count, cluster_root
            FROM (
              SELECT cluster_root, CAST(count(*) AS BIGINT) AS member_count
              FROM comp GROUP BY cluster_root
            )
        """,
        "clone_cluster_sizes_docs": f"""
            WITH RECURSIVE m AS (
              SELECT doc_id,
                     {DTOKEN_SQL} AS toks,
                     list_sort(list_transform({DTOKEN_SQL}, x -> md5(x)))[1] AS mh1
              FROM documents
            ), p AS (
              SELECT a.doc_id AS s, b.doc_id AS d
              FROM m a JOIN m b ON a.mh1 = b.mh1 AND a.doc_id < b.doc_id
              WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                          / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.5
            ), und AS (
              SELECT s, d FROM p UNION ALL SELECT d AS s, s AS d FROM p
            ), reach(node, lbl) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT r.node, u.d FROM reach r JOIN und u ON u.s = r.lbl
            )
            SELECT cluster_rep, CAST(count(*) AS BIGINT) AS member_count FROM (
              SELECT node AS doc_id, min(lbl) AS cluster_rep FROM reach GROUP BY node
            ) GROUP BY cluster_rep
        """,
    }
