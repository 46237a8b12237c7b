"""Snippet-match -> unit-pair finding rollup.

Re-expresses ``similarity/rollup.py`` as declarative DataFrame ops:

  - overlap / containment filters (``rollup.py:86-112``): self-clones kept
    only when snippet spans are disjoint; unit pairs overlapping in the
    same file are structural containment, dropped;
  - symmetric-duplicate span-pair dedupe keeping max (score, kind_rank)
    (``rollup.py:42-62``, rank from ``ranking.py:10-19``) -> window
    ``row_number``;
  - unordered unit-pair grouping (``rollup.py:65-68``) -> groupBy on
    canonicalized sides;
  - reasons gate (``rollup.py:71-83``): func_threshold / exp_threshold /
    min_window_hits; findings with no reasons are dropped (``:27``);
  - duplicated_lines (``rollup.py:136-154``): per-side interval merge of
    overlapping/adjacent spans, min of the two sides — implemented with a
    higher-order ``aggregate`` over the sorted span list (fully JVM-side,
    no UDF).

Divergence note (documented, metric-neutral): we canonicalize match
orientation (side a = lesser unit identity) before grouping, so
``duplicated_lines`` is always computed per-unit; the reference keeps
first-seen orientation and can mix units within one side's span list when
retrieval produced both directions (``rollup.py:53-60``). Cluster pair
sets — the acceptance metric — are unaffected.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sparkclone.config import Thresholds

_SWAP_COLS = [
    "id", "unit_id", "path", "unit_start", "unit_end", "kind",
    "start_line", "end_line",
]


def canonicalize_orientation(edges: DataFrame) -> DataFrame:
    """Ensure unit_id_a <= unit_id_b (ties: snippet span order) by swapping
    side columns where needed.

    ONE select, not a withColumn loop: every DataFrame transformation
    triggers a full analyzer pass over the accumulated plan, so the old
    per-column withColumn+drop+rename chain (~24 calls for 8 swap pairs)
    paid quadratic driver-side analysis on an already-deep pipeline plan —
    and rollup runs once per pipeline, four times per bench suite. The
    single projection computes identical expressions in one pass; only the
    (semantically irrelevant) intermediate column order changes — swapped
    columns stay at their original positions instead of migrating to the
    tail."""
    flip = (F.col("unit_id_a") > F.col("unit_id_b")) | (
        (F.col("unit_id_a") == F.col("unit_id_b"))
        & (
            F.struct("start_line_a", "end_line_a")
            > F.struct("start_line_b", "end_line_b")
        )
    )
    swap: dict[str, Column] = {}
    for c in _SWAP_COLS:
        a, b = f"{c}_a", f"{c}_b"
        if a not in edges.columns:
            continue
        swap[a] = F.when(flip, F.col(b)).otherwise(F.col(a)).alias(a)
        swap[b] = F.when(flip, F.col(a)).otherwise(F.col(b)).alias(b)
    return edges.select(*[swap.get(c, F.col(c)) for c in edges.columns])


def kind_rank_col(kind_a: Column, kind_b: Column) -> Column:
    """ranking.py:10-19 semantics."""
    return (
        F.when((kind_a == "FUNC") & (kind_b == "FUNC"), 3)
        .when((kind_a == "FUNC") | (kind_b == "FUNC"), 2)
        .when((kind_a == "WIN") & (kind_b == "WIN"), 1)
        .otherwise(0)
    )


def filter_overlapping(edges: DataFrame) -> DataFrame:
    """rollup.py:86-112: self-clone spans must be disjoint; same-path
    overlapping units are containment, not duplication."""
    snip_overlap = (
        F.greatest("start_line_a", "start_line_b")
        <= F.least("end_line_a", "end_line_b")
    )
    unit_overlap = (
        F.greatest("unit_start_a", "unit_start_b")
        <= F.least("unit_end_a", "unit_end_b")
    )
    same_unit = F.col("unit_id_a") == F.col("unit_id_b")
    same_path = F.col("path_a") == F.col("path_b")
    keep = F.when(same_unit, ~snip_overlap).otherwise(
        F.when(same_path, ~unit_overlap).otherwise(F.lit(True))
    )
    return edges.where(keep)


def dedupe_span_pairs(edges: DataFrame) -> DataFrame:
    """rollup.py:42-62: one match per (span_a, span_b) pair, keeping max
    similarity then max kind rank; deterministic final tiebreak on ids.

    Stays a window row_number DELIBERATELY. The r6 optimization pass
    tried the min_by(struct(all columns), struct(order keys)) hash-agg
    form (map-side partial agg, no sort): runtime was fine, but
    optimizing the resulting plan — GetStructField fan-out over a
    min_by struct whose fields are the canonicalize CASE WHEN trees —
    cost Catalyst a measured **33 s of driver time to materialize the
    frame** vs 1.8 s for this window form (fresh-session A/B, 400-repo
    corpus).
    The window's exchange+sort on the span-pair key is a few hundred ms
    of executor time at bench scale and data-proportional beyond —
    planning cost dominates; do not re-attempt without re-measuring the
    persist wall."""
    rank = kind_rank_col(F.col("kind_a"), F.col("kind_b"))
    w = Window.partitionBy(
        "unit_id_a", "start_line_a", "end_line_a",
        "unit_id_b", "start_line_b", "end_line_b",
    ).orderBy(F.col("jaccard").desc(), rank.desc(), F.col("id_a"), F.col("id_b"))
    return (
        edges.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def _covered_lines(spans: Column) -> Column:
    """Total line count covered by the union of [start, end] spans, merging
    overlapping/adjacent intervals (rollup.py:144-154) — a higher-order
    ``aggregate`` over the start-sorted span array."""
    sorted_spans = F.array_sort(spans)
    init = F.struct(
        F.lit(0).alias("total"),
        F.lit(None).cast("int").alias("cs"),
        F.lit(None).cast("int").alias("ce"),
    )

    def merge(acc, s):
        fresh = acc["cs"].isNull()
        gap = s["start"] > acc["ce"] + F.lit(1)
        return (
            F.when(
                fresh,
                F.struct(acc["total"].alias("total"), s["start"].alias("cs"), s["end"].alias("ce")),
            )
            .when(
                gap,
                F.struct(
                    (acc["total"] + acc["ce"] - acc["cs"] + 1).alias("total"),
                    s["start"].alias("cs"),
                    s["end"].alias("ce"),
                ),
            )
            .otherwise(
                F.struct(
                    acc["total"].alias("total"),
                    acc["cs"].alias("cs"),
                    F.greatest(acc["ce"], s["end"]).alias("ce"),
                )
            )
        )

    def finish(acc):
        return F.when(acc["cs"].isNull(), acc["total"]).otherwise(
            acc["total"] + acc["ce"] - acc["cs"] + 1
        )

    return F.aggregate(sorted_spans, init, merge, finish)


def rollup_findings(edges: DataFrame, th: Thresholds) -> DataFrame:
    """Full rollup: filters -> dedupe -> unit-pair aggregation with the
    reasons gate. Input: canonical-orientation snippet-match edges with
    side metadata + jaccard (+ optional lcs_chars / near_verbatim /
    hamming).

    Exchange-sharing note (measured, rejected — the r6 optimization pass):
    repartitioning once on (unit_id_a, unit_id_b) — a prefix of the
    span-pair dedupe window's clustering key — DOES collapse the window
    exchange + groupBy exchange into one (guide §2.4; verified in the
    physical plan, WindowGroupLimit included), but a fresh-session
    interleaved A/B on the 400-repo bench corpus measured the repartition
    form at **8.5-9.8 s of driver-side plan/analysis time vs 1.8-2.6 s**
    for this two-exchange form, against only ~1 s of executor savings at
    bench row volumes (1.3k edges). Same planning-cost mechanism as the
    min_by dedupe revert below: optimizer passes over the canonicalize
    CASE WHEN trees dominate. Do not re-attempt without re-measuring the
    plan-build wall at the target scale."""
    deduped = dedupe_span_pairs(filter_overlapping(canonicalize_orientation(edges)))

    has_func = (F.col("kind_a") == "FUNC") | (F.col("kind_b") == "FUNC")
    has_win = (F.col("kind_a") == "WIN") | (F.col("kind_b") == "WIN")
    has_exp = (F.col("kind_a") == "EXP") | (F.col("kind_b") == "EXP")
    opt = lambda c: F.col(c) if c in deduped.columns else F.lit(None)  # noqa: E731

    agg = (
        deduped.groupBy(
            F.col("unit_id_a").alias("unit_a"),
            F.col("unit_id_b").alias("unit_b"),
        )
        .agg(
            F.first("path_a").alias("path_a"),
            F.first("path_b").alias("path_b"),
            F.max("jaccard").alias("score"),
            F.max(F.when(has_func, F.col("jaccard"))).alias("best_func_score"),
            F.max(F.when(has_exp, F.col("jaccard"))).alias("best_exp_score"),
            F.sum(F.when(has_win, 1).otherwise(0)).alias("win_hits"),
            F.count("*").alias("match_count"),
            _covered_lines(
                F.collect_list(F.struct(F.col("start_line_a").alias("start"), F.col("end_line_a").alias("end")))
            ).alias("covered_a"),
            _covered_lines(
                F.collect_list(F.struct(F.col("start_line_b").alias("start"), F.col("end_line_b").alias("end")))
            ).alias("covered_b"),
            F.max(opt("lcs_chars")).alias("lcs_chars"),
            F.max(opt("near_verbatim")).alias("near_verbatim"),
        )
        .withColumn("duplicated_lines", F.least("covered_a", "covered_b"))
        .drop("covered_a", "covered_b")
    )

    reasons = F.array_compact(
        F.array(
            F.when(F.col("best_func_score") >= F.lit(th.func), F.lit("func_threshold")),
            F.when(F.col("best_exp_score") >= F.lit(th.exp), F.lit("exp_threshold")),
            F.when(F.col("win_hits") >= F.lit(th.min_window_hits), F.lit("min_window_hits")),
        )
    )
    return agg.withColumn("reasons", reasons).where(F.size("reasons") > 0)
