"""Candidate verification: exact Jaccard, SimHash Hamming, suffix-automaton
longest-common-substring evidence.

Reference semantics preserved:
  - exact token-set Jaccard is THE score at oracle config
    (``similarity/candidates.py:145-148`` with lexical_weight=1.0 — the
    composite degenerates to the lexical ratio);
  - lexical floor: drop pairs below ``lexical_min_ratio``
    (``candidates.py:149-150``);
  - per-kind thresholds: retrieval is directional and thresholds on the
    *neighbor's* kind (``candidates.py:151-152,167-172``); with exhaustive
    retrieval both directions fire, so a pair survives iff
    jaccard >= min(threshold(kind_a), threshold(kind_b)) — implemented as
    ``least``.

Everything except LCS stays JVM-side (array_intersect/array_union on
pre-hashed token columns + bit_count for Hamming). LCS evidence is a
batched ``mapInPandas`` over only the SimHash-gated survivors of the
threshold filter, with the normalized texts joined in just for that tiny
subset — the smallest possible Python *and* shuffle surface.

Scale note: the verification join deliberately carries ``token_hashes``
(array<long>) instead of the string token arrays and does NOT carry
``norm_text`` — at 10^12-file scale the pair join is the widest shuffle in
the job and long-array Jaccard both shrinks the payload several-fold and
compares faster than strings. Jaccard over distinct xxhash64 token hashes
equals Jaccard over the tokens themselves up to 64-bit collisions
(odds ~|tokens|^2/2^64 per pair — immaterial).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from sparkclone.config import PipelineConfig
from sparkclone.normalize import jaccard_col

_SIDE_COLS = [
    "unit_id", "path", "unit_start", "unit_end", "kind",
    "start_line", "end_line", "token_hashes", "simhash",
]


def _side(snippets: DataFrame, suffix: str) -> DataFrame:
    sel = [F.col("snippet_id").alias(f"id_{suffix}")]
    sel += [F.col(c).alias(f"{c}_{suffix}") for c in _SIDE_COLS]
    return snippets.select(*sel)


def attach_sides(pairs: DataFrame, snippets: DataFrame) -> DataFrame:
    """Join pair ids back to snippet attributes (reference's
    ``id_to_snippet`` dict lookup, candidates.py:127,142-144 — here two
    shuffle joins on snippet_id; Catalyst picks broadcast automatically
    when the snippet side is small)."""
    return pairs.join(_side(snippets, "a"), "id_a").join(_side(snippets, "b"), "id_b")


def threshold_col(kind_a, kind_b, th) -> F.Column:
    def t(kind):
        return (
            F.when(kind == "FUNC", F.lit(th.func))
            .when(kind == "WIN", F.lit(th.win))
            .otherwise(F.lit(th.exp))
        )

    return F.least(t(kind_a), t(kind_b))


def verify_pairs(pairs_with_sides: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Score + filter candidate pairs. Input must carry *_a / *_b side
    columns (see attach_sides). Output keeps both sides' metadata plus
    jaccard / hamming / threshold columns."""
    from sparkclone.rollup import filter_overlapping

    th = cfg.thresholds
    # P7 semantics applied EARLY (rollup.py:86-112 drops these pairs
    # unconditionally): same-unit overlapping spans and same-file
    # overlapping units never survive rollup, so score nothing for them.
    # rollup re-applies the same filter (needed for the star edges that
    # bypass verification) — idempotent.
    pairs_with_sides = filter_overlapping(pairs_with_sides)
    scored = pairs_with_sides.withColumn(
        "jaccard", jaccard_col(F.col("token_hashes_a"), F.col("token_hashes_b"))
    ).withColumn(
        "hamming",
        F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))),
    ).withColumn(
        "kind_threshold", threshold_col(F.col("kind_a"), F.col("kind_b"), th)
    )
    return scored.where(
        (F.col("jaccard") >= F.lit(th.lexical_min_ratio))
        & (F.col("jaccard") >= F.col("kind_threshold"))
    ).drop("token_hashes_a", "token_hashes_b")


def verify_candidates(
    pairs: DataFrame, signatures: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Score-then-attach verification — row-for-row equivalent to
    ``verify_pairs(attach_sides(pairs, signatures), cfg)`` but with the
    join payloads split by volume (guide §2.3 "project before the
    exchange"):

      1. the candidate-volume joins carry ONLY the scoring columns
         (kind, token_hashes, simhash) per side — the unit_id/path strings
         and span ints ride along for nothing in the attach-first form,
         since the threshold filter discards the overwhelming majority of
         candidates;
      2. unit/path/span metadata is attached to the verified SURVIVORS
         only (orders of magnitude fewer rows; AQE broadcasts the survivor
         side), reading the persisted signatures stage a second time —
         a cache scan, not a recompute;
      3. the overlap/containment filter commutes with the score filter
         (conjunctive predicates over disjoint column sets), so running it
         after attachment keeps the survivor set identical.
    """
    from sparkclone.rollup import filter_overlapping

    th = cfg.thresholds

    def _score_side(suffix: str) -> DataFrame:
        return signatures.select(
            F.col("snippet_id").alias(f"id_{suffix}"),
            F.col("kind").alias(f"kind_{suffix}"),
            F.col("token_hashes").alias(f"token_hashes_{suffix}"),
            F.col("simhash").alias(f"simhash_{suffix}"),
        )

    scored = (
        pairs.join(_score_side("a"), "id_a")
        .join(_score_side("b"), "id_b")
        .withColumn(
            "jaccard", jaccard_col(F.col("token_hashes_a"), F.col("token_hashes_b"))
        )
        .withColumn(
            "hamming",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))),
        )
        .withColumn(
            "kind_threshold", threshold_col(F.col("kind_a"), F.col("kind_b"), th)
        )
        .where(
            (F.col("jaccard") >= F.lit(th.lexical_min_ratio))
            & (F.col("jaccard") >= F.col("kind_threshold"))
        )
        .drop("token_hashes_a", "token_hashes_b")
    )

    meta = ["unit_id", "path", "unit_start", "unit_end", "start_line", "end_line"]

    def _meta_side(suffix: str) -> DataFrame:
        return signatures.select(
            F.col("snippet_id").alias(f"id_{suffix}"),
            *[F.col(c).alias(f"{c}_{suffix}") for c in meta],
        )

    attached = scored.join(_meta_side("a"), "id_a").join(_meta_side("b"), "id_b")
    return filter_overlapping(attached)


# ---------------------------------------------------------------------------
# Longest common substring via suffix automaton (linear build over text_a,
# linear scan of text_b). Python kernel batched over Arrow; applied only to
# verified pairs.
# ---------------------------------------------------------------------------


def longest_common_substring_len(a: str, b: str) -> int:
    """Length of the longest common substring of a and b.

    Suffix automaton of `a`; walk `b` through it tracking current match
    length. O(|a| + |b|). This is the "suffix-array substring matching for
    near-verbatim clone spans" the north rule mandates (an automaton gives
    the same LCS answer with better constants in pure Python than building
    an actual suffix array per pair).
    """
    if not a or not b:
        return 0
    return _walk_automaton(_build_automaton(a), b)


def _build_automaton(a: str):
    """(maxlen, link, trans) suffix-automaton arrays for ``a`` — split
    out so the batch kernel can amortize the build (the expensive half)
    across every pair sharing a left text: clone graphs are star-shaped
    around representatives, so the same side recurs many times."""
    # suffix automaton arrays; state 0 is the initial state
    maxlen = [0]
    link = [-1]
    trans: list[dict[str, int]] = [{}]
    last = 0
    for ch in a:
        cur = len(maxlen)
        maxlen.append(maxlen[last] + 1)
        link.append(-1)
        trans.append({})
        p = last
        while p != -1 and ch not in trans[p]:
            trans[p][ch] = cur
            p = link[p]
        if p == -1:
            link[cur] = 0
        else:
            q = trans[p][ch]
            if maxlen[p] + 1 == maxlen[q]:
                link[cur] = q
            else:
                clone = len(maxlen)
                maxlen.append(maxlen[p] + 1)
                link.append(link[q])
                trans.append(dict(trans[q]))
                while p != -1 and trans[p].get(ch) == q:
                    trans[p][ch] = clone
                    p = link[p]
                link[q] = clone
                link[cur] = clone
        last = cur
    return maxlen, link, trans


def _walk_automaton(automaton, b: str) -> int:
    maxlen, link, trans = automaton
    best = 0
    v, length = 0, 0
    for ch in b:
        while v and ch not in trans[v]:
            v = link[v]
            length = maxlen[v]
        if ch in trans[v]:
            v = trans[v][ch]
            length += 1
            if length > best:
                best = length
        else:
            v, length = 0, 0
    return best


def with_lcs_evidence(
    verified: DataFrame,
    cfg: PipelineConfig,
    snippets: DataFrame,
    aux_registry: list | None = None,
) -> DataFrame:
    """Append `lcs_chars` (longest common substring length over normalized
    texts, capped at lcs_max_chars per side) and `near_verbatim`
    (SimHash Hamming <= radius).

    ``snippets`` supplies ``(snippet_id, norm_text)``; the texts are joined
    in ONLY for the SimHash-gated subset, so the wide text shuffle scales
    with the number of near-verbatim pairs, not all verified pairs.

    ``aux_registry`` receives nothing; it stays for callers that still
    pass it (``perfbench/ops.py``).
    """
    near = F.col("hamming") <= F.lit(cfg.signature.simhash_near_radius)
    if not cfg.lcs_evidence:
        return verified.withColumn("lcs_chars", F.lit(None).cast("int")).withColumn(
            "near_verbatim", near
        )
    cap = cfg.lcs_max_chars
    # LCS evidence is for NEAR-VERBATIM clone spans (north_rule): only
    # pairs whose SimHash Hamming distance is within 2x the near radius
    # get the text join + Python suffix-automaton pass — everything else is
    # a renamed/structural near-dup where a char-level LCS is meaningless.
    # coalesce makes the split exhaustive: a NULL hamming (edges produced
    # without simhash) routes to `rest` with lcs_chars NULL instead of
    # silently vanishing from both branches.
    gate = F.coalesce(
        F.col("hamming") <= F.lit(2 * cfg.signature.simhash_near_radius), F.lit(False)
    )
    gated = verified.where(gate)
    rest = verified.where(~gate).withColumn("lcs_chars", F.lit(None).cast("int"))

    texts = snippets.select("snippet_id", "norm_text")
    gated = gated.join(
        texts.select(
            F.col("snippet_id").alias("id_a"), F.col("norm_text").alias("__text_a")
        ),
        "id_a",
    ).join(
        texts.select(
            F.col("snippet_id").alias("id_b"), F.col("norm_text").alias("__text_b")
        ),
        "id_b",
    )
    out_schema = StructType(
        [f for f in gated.schema.fields if not f.name.startswith("__text_")]
        + [StructField("lcs_chars", IntegerType())]
    )
    out_names = [f.name for f in out_schema.fields]

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            # sort by the left text and rebuild the suffix automaton only
            # when it changes: the automaton build is the expensive half
            # of the LCS, and star-shaped clone groups repeat the same
            # representative text across many pairs in a batch. Output
            # order is irrelevant downstream (unordered relation).
            batch = batch.sort_values("__text_a", kind="mergesort").copy()
            lcs: list[int] = []
            cached_text: str | None = None
            cached_automaton = None
            for ta, tb in zip(batch["__text_a"], batch["__text_b"]):
                ta, tb = (ta or "")[:cap], (tb or "")[:cap]
                if not ta or not tb:
                    lcs.append(0)
                    continue
                if ta != cached_text:
                    cached_text = ta
                    cached_automaton = _build_automaton(ta)
                lcs.append(_walk_automaton(cached_automaton, tb))
            batch["lcs_chars"] = lcs
            yield batch[out_names]

    with_lcs = gated.mapInPandas(compute, schema=out_schema)
    return with_lcs.unionByName(rest.select(*out_names)).withColumn(
        "near_verbatim", near
    )
