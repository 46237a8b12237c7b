"""Include/exclude glob predicates as Spark filters (reference S1/P1).

The reference matches relative paths against globs with custom semantics
(io/fs.py:17-40):
  1. plain ``PurePosixPath.match`` (anchored at the END of the path —
     pattern without ``**`` matches only that many trailing segments;
     ``*`` never crosses ``/``);
  2. ``**/``-prefixed patterns retry with the prefix stripped;
  3. ``pattern/**`` matches the base itself or anything under ``base/``;
  4. a mid-pattern ``/**`` falls back to base-containment: the part
     before the first ``/**`` must equal the path, be a prefix directory,
     or appear as an inner directory segment.

We re-express (1) faithfully: PurePosixPath.match treats the pattern as a
suffix match on whole segments, with ``**`` in pathlib<3.13 matching
exactly one segment *group* — observed behavior: ``**`` behaves like
``*`` for a single segment plus the recursive retry in (2). The compiled
regex below reproduces the observable semantics match-for-match (tested
against the reference matcher in tests/test_globs.py).

Spark usage: ``df.filter(include_predicate("path", globs) &
~include_predicate("path", exclude_globs))`` — a pure JVM ``rlike``
filter, pushed ahead of extraction; at Iceberg scale the repo/lang parts
of such predicates prune partitions.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_SEG = "[^/]*"


def _glob_segment_to_regex(seg: str) -> str:
    out = []
    i = 0
    while i < len(seg):
        c = seg[i]
        if c == "*":
            out.append(_SEG)
        elif c == "?":
            out.append("[^/]")
        elif c == "[":
            j = seg.find("]", i + 1)
            if j == -1:
                out.append(re.escape(c))
            else:
                out.append(seg[i : j + 1])
                i = j
        else:
            out.append(re.escape(c))
        i += 1
    return "".join(out)


def _pathlib_match_regex(pattern: str) -> str:
    """Regex equivalent of PurePosixPath.match(pattern): anchored at the
    end, one regex group per pattern segment, '**' treated like '*'
    (pathlib 3.11 semantics used by the reference)."""
    segs = [s for s in pattern.split("/") if s]
    rx = "/".join(_glob_segment_to_regex("*" if s == "**" else s) for s in segs)
    anchor = "^" if pattern.startswith("/") else "(^|.*/)"
    return f"{anchor}{rx}$"


def glob_to_regexes(glob: str) -> list[str]:
    """All alternative regexes a single reference glob implies
    (mirrors the four fallbacks of io/fs.py:22-38)."""
    pattern = glob.lstrip("./")
    alts = [_pathlib_match_regex(pattern)]
    if pattern.startswith("**/"):
        alts.append(_pathlib_match_regex(pattern[3:]))
    if pattern.endswith("/**"):
        base = pattern[:-3]
        alts.append(_pathlib_match_regex(base))
        alts.append(f"^{_glob_base_prefix(base)}/.*")
    if "/**" in pattern:
        base = pattern.split("/**")[0].lstrip("./")
        if base.startswith("**/"):
            base = base[3:]
        b = re.escape(base)
        alts.append(f"^{b}$")
        alts.append(f"^{b}/.*")
        alts.append(f".*/{b}/.*")
    return alts


def _glob_base_prefix(base: str) -> str:
    return "/".join(_glob_segment_to_regex(s) for s in base.split("/") if s)


def matches(globs: list[str], rel_path: str) -> bool:
    """Driver-side matcher (used by tests to verify parity vs the
    reference's _matches)."""
    rel = rel_path[2:] if rel_path.startswith("./") else rel_path
    for g in globs:
        for rx in glob_to_regexes(g):
            if re.match(rx, rel):
                return True
    return False


def glob_predicate(path_col: str | Column, globs: list[str]) -> Column:
    """JVM-side predicate: path matches ANY of the globs; a leading ``./``
    is dropped first, as :func:`matches` does."""
    col = F.col(path_col) if isinstance(path_col, str) else path_col
    col = F.regexp_replace(col, r"^\./", "")
    pred = F.lit(False)
    for g in globs:
        for rx in glob_to_regexes(g):
            pred = pred | col.rlike(rx)
    return pred


def filter_corpus(corpus, include_globs: list[str], exclude_globs: list[str]):
    """S1's include/exclude filtering as a Catalyst filter on `path`."""
    out = corpus
    if include_globs:
        out = out.where(glob_predicate("path", include_globs))
    if exclude_globs:
        out = out.where(~glob_predicate("path", exclude_globs))
    return out
