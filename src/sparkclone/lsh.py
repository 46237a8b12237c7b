"""LSH band bucketing -> candidate pair generation, with skew handling.

This replaces the reference's brute-force / FAISS top-k vector retrieval
(``index/brute_index.py:19-45``, ``index/faiss_index.py:25-62``,
fan-out loop ``similarity/candidates.py:120-165``): instead of "top-25
nearest of each snippet", the candidate set is "every pair sharing at
least one LSH band bucket", which the exact-Jaccard verification stage
then prunes with the very thresholds the reference applies
(``candidates.py:149-152``). No O(N^2) anywhere, no index broadcast to
every worker (the reference rebuilds the full index per process,
``candidates.py:52-74`` — the non-scalable pattern this design removes).

Skew strategy (SURVEY.md §4, north_rule "salted repartitioning"):
  1. exact-duplicate pre-collapse happens UPSTREAM (pipeline.collapse) —
     boilerplate/vendored files hit LSH as ONE representative row each;
  2. remaining buckets are routed by size: small buckets take a plain
     self-equi-join; oversized buckets take a *salted* block self-join
     that splits the quadratic pair-space of one hot key across
     n_salt*(n_salt+1)/2 independent join keys (and thus tasks);
  3. buckets beyond ``max_bucket_size`` are dropped with a metric — after
     exact collapse those are adversarial hash pileups whose pairs are
     overwhelmingly sub-threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkclone.config import LshConfig

# Buckets up to this size use the plain path; larger (<= max_bucket_size)
# are salted.
_SALT_THRESHOLD = 64
_N_SALT = 8


def band_table(sigs: DataFrame, id_col: str = "snippet_id") -> DataFrame:
    """(id, [unit_key, s, e,] band_id, band_hash) — one row per band per
    signature row. When the signature rows carry unit/span columns, a
    compact unit key (xxhash64) and the span bounds ride along so pair
    generation can drop same-unit overlapping-window pairs *before* the
    dedupe shuffle and verification join — those pairs are discarded
    unconditionally by the rollup overlap filter (reference
    rollup.py:86-103), and sliding windows over one unit make them the
    single largest pair class.

    Collision asymmetry (accepted, documented): unit_key is xxhash64 of
    unit_id, so a 64-bit collision between two distinct units whose
    snippets ALSO have overlapping line spans would drop a true candidate
    pair that rollup (comparing real unit_id) would have kept — a recall
    loss, unlike the CC hashing where collisions only merge clusters.
    Odds ~n_units^2/2^64 with the extra requirement of span overlap;
    carrying the full unit_id string through the band explode would widen
    the job's biggest shuffle for every row to guard against odds that are
    immaterial below ~10^8 units."""
    extra = []
    if "unit_id" in sigs.columns and "start_line" in sigs.columns:
        extra = [
            F.xxhash64("unit_id").alias("unit_key"),
            F.col("start_line").alias("s"),
            F.col("end_line").alias("e"),
        ]
    return sigs.select(
        F.col(id_col).alias("id"),
        *extra,
        F.posexplode("bands").alias("band_id", "band_hash"),
    )


def _same_unit_overlap(pref_a: str = "a", pref_b: str = "b"):
    """Predicate: same unit AND line spans overlap (the reference's
    is-self-clone-with-overlap drop, rollup.py:88-96)."""
    return (
        (F.col(f"uk_{pref_a}") == F.col(f"uk_{pref_b}"))
        & (
            F.greatest(f"s_{pref_a}", f"s_{pref_b}")
            <= F.least(f"e_{pref_a}", f"e_{pref_b}")
        )
    )


def _side_cols(bt: DataFrame, suffix: str) -> list:
    cols = [F.col("id").alias(f"id_{suffix}")]
    if "unit_key" in bt.columns:
        cols += [
            F.col("unit_key").alias(f"uk_{suffix}"),
            F.col("s").alias(f"s_{suffix}"),
            F.col("e").alias(f"e_{suffix}"),
        ]
    return cols


def _pairs_plain(bt: DataFrame) -> DataFrame:
    a = bt.select("band_id", "band_hash", *_side_cols(bt, "a"))
    b = bt.select("band_id", "band_hash", *_side_cols(bt, "b"))
    joined = a.join(b, ["band_id", "band_hash"]).where(F.col("id_a") < F.col("id_b"))
    if "unit_key" in bt.columns:
        joined = joined.where(~_same_unit_overlap())
    return joined.select("id_a", "id_b")


def _pairs_salted(bt: DataFrame, n_salt: int = _N_SALT) -> DataFrame:
    """Salted self-join: each member gets block s = hash(id) % n_salt.
    Left side replicates each row to partner blocks p >= s, right side to
    partner blocks p <= s; the equi-join on (band, block_lo, block_hi)
    yields every unordered block pair exactly once, spreading one hot
    bucket across n_salt*(n_salt+1)/2 join keys."""
    salted = bt.withColumn("blk", F.pmod(F.xxhash64("id"), F.lit(n_salt)).cast("int"))
    left = salted.select(
        "band_id",
        "band_hash",
        *_side_cols(salted, "a"),
        F.col("blk").alias("b_lo"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_salt - 1))).alias("b_hi"),
    )
    right = salted.select(
        "band_id",
        "band_hash",
        *_side_cols(salted, "b"),
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("b_lo"),
        F.col("blk").alias("b_hi"),
    )
    # A pair's id order is independent of its block order: for block pair
    # (b_lo < b_hi) the left row may carry the lexically larger id, so
    # canonicalize with least/greatest rather than filtering id_a < id_b
    # (same-block pairs appear in both orientations and dedupe away in
    # candidate_pairs' dropDuplicates).
    joined = left.join(right, ["band_id", "band_hash", "b_lo", "b_hi"]).where(
        F.col("id_a") != F.col("id_b")
    )
    if "unit_key" in bt.columns:
        joined = joined.where(~_same_unit_overlap())
    return joined.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
    )


def probe_candidate_pairs(
    bt_all: DataFrame,
    probe_ids: DataFrame,
    cfg: LshConfig,
) -> DataFrame:
    """Asymmetric pair generation for incremental scans: only the
    CHANGED side's buckets participate, so no full-corpus shuffle exists
    in candidate generation. Shuffle discipline:

      1. the probe side's band rows come from a broadcast semi-join of
         the band table against the (small) changed-rep id set — narrow;
      2. their distinct bucket keys are broadcast back to filter the
         band table to candidate buckets — narrow scan-filter, the full
         band table is never shuffled;
      3. bucket eligibility (>= 2 members, <= max_bucket_size) is
         counted over the filtered rows only — identical outcome to
         :func:`candidate_pairs` for every bucket that matters (a probe
         bucket's member count is the same in both), so a probe run
         emits exactly the full run's changed-touching pair set;
      4. the pair join shuffles only candidate-bucket members.

    The probe side is small by construction, so no salting. Pairs are
    canonicalized with least/greatest (the probe row may carry either
    side of a pair)."""
    probe_bands = bt_all.join(
        F.broadcast(probe_ids.select(F.col("id").alias("__pid"))),
        bt_all["id"] == F.col("__pid"),
        "left_semi",
    )
    probe_buckets = probe_bands.select("band_id", "band_hash").dropDuplicates()
    cand_rows = bt_all.join(
        F.broadcast(probe_buckets), ["band_id", "band_hash"], "left_semi"
    )
    cap = cfg.max_bucket_size if cfg.max_bucket_size > 0 else (1 << 62)
    sizes = (
        cand_rows.groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("bsize"))
        .where((F.col("bsize") >= 2) & (F.col("bsize") <= cap))
        .drop("bsize")
    )
    eligible = cand_rows.join(F.broadcast(sizes), ["band_id", "band_hash"])
    probe = eligible.join(
        F.broadcast(probe_ids.select(F.col("id").alias("__pid"))),
        eligible["id"] == F.col("__pid"),
        "left_semi",
    )
    a = probe.select("band_id", "band_hash", *_side_cols(probe, "a"))
    b = eligible.select("band_id", "band_hash", *_side_cols(eligible, "b"))
    joined = a.join(b, ["band_id", "band_hash"]).where(F.col("id_a") != F.col("id_b"))
    if "unit_key" in bt_all.columns:
        joined = joined.where(~_same_unit_overlap())
    return joined.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
    ).dropDuplicates()


def candidate_pairs(
    sigs: DataFrame, cfg: LshConfig, aux_registry: list | None = None
) -> tuple[DataFrame, DataFrame]:
    """Candidate (id_a < id_b) pairs from LSH band buckets.

    Returns (pairs, bucket_stats) where bucket_stats carries one row per
    routing class (plain / salted / dropped) with bucket + member counts,
    so a caller can see how many members the size cap dropped. It is a
    lazy frame: the bucket sizes are counted again only if it is read.

    ``aux_registry`` receives nothing; it stays for callers that still
    pass it (``perfbench/ops.py``).
    """
    bt = band_table(sigs)
    sizes = (
        bt.groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("bsize"))
        .where(F.col("bsize") >= 2)
    )
    cap = cfg.max_bucket_size if cfg.max_bucket_size > 0 else (1 << 62)
    routed = bt.join(sizes, ["band_id", "band_hash"])  # drops singleton buckets
    small = routed.where(F.col("bsize") <= _SALT_THRESHOLD).drop("bsize")
    big = routed.where((F.col("bsize") > _SALT_THRESHOLD) & (F.col("bsize") <= cap)).drop("bsize")

    pairs = (
        _pairs_plain(small)
        .unionByName(_pairs_salted(big))
        .dropDuplicates(["id_a", "id_b"])
    )

    bucket_stats = sizes.select(
        F.when(F.col("bsize") <= _SALT_THRESHOLD, "plain")
        .when(F.col("bsize") <= cap, "salted")
        .otherwise("dropped")
        .alias("route"),
        "bsize",
    ).groupBy("route").agg(
        F.count("*").alias("buckets"),
        F.sum("bsize").alias("members"),
        F.max("bsize").alias("max_bucket"),
    )
    return pairs, bucket_stats
