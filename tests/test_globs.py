"""Glob matcher parity vs the reference's _matches (io/fs.py:17-40)."""

from __future__ import annotations

from pathlib import Path

from oracle_util import import_reference

from sparkclone.globs import matches as our_matches

GLOBS = [
    ["**/*.py"],
    ["*.py"],
    ["src/**"],
    ["**/vendor/**"],
    ["**/.venv/**", "**/__pycache__/**"],
    ["a/b/*.ts"],
    ["**/*.ts", "**/*.js"],
    ["docs/**", "*.md"],
]

PATHS = [
    "a.py",
    "src/a.py",
    "src/deep/nested/mod.py",
    "vendor/lib.py",
    "pkg/vendor/lib.py",
    "pkg/vendor/deep/lib.py",
    ".venv/lib/python/site.py",
    "x/.venv/bin/tool",
    "__pycache__/a.pyc",
    "pkg/__pycache__/a.pyc",
    "a/b/c.ts",
    "b/c.ts",
    "docs/index.md",
    "docs/sub/page.md",
    "readme.md",
    "src",
    "srcx/a.py",
    "a/b/x.py",
]


def test_glob_parity_vs_reference():
    ref_matches = import_reference("clonehunter.io.fs")._matches
    mismatches = []
    for globs in GLOBS:
        for p in PATHS:
            ref = ref_matches(globs, Path(p))
            ours = our_matches(globs, p)
            if ref != ours:
                mismatches.append((globs, p, ref, ours))
    assert not mismatches, mismatches[:10]


def test_spark_predicate_agrees_with_driver_matcher(spark):
    from sparkclone.globs import filter_corpus

    df = spark.createDataFrame([(p,) for p in PATHS], ["path"])
    include = ["**/*.py"]
    exclude = ["**/vendor/**", "**/__pycache__/**"]
    got = {r["path"] for r in filter_corpus(df, include, exclude).collect()}
    want = {
        p
        for p in PATHS
        if our_matches(include, p) and not our_matches(exclude, p)
    }
    assert got == want
