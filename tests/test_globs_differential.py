"""Differential property: the driver-side glob matcher (``globs.matches``)
and the Catalyst predicate (``glob_predicate`` via ``filter_corpus``) agree
on every path. Reference-free: both sides are this repo's own code."""

from __future__ import annotations

import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sparkclone.globs import filter_corpus, matches

_NAME = st.text("ab._", min_size=1, max_size=3)
_SEG = st.one_of(st.text("ab._*?", min_size=1, max_size=3), st.just("**"))
_PATHS = st.lists(
    st.lists(_NAME, min_size=1, max_size=4).map("/".join),
    min_size=1, max_size=8, unique=True,
)
# plain, leading ``**/`` and trailing ``/**`` forms (bracket classes left out)
_GLOB = st.builds(
    lambda segs, lead, trail: "**/" * lead + "/".join(segs) + "/**" * trail,
    st.lists(_SEG, min_size=1, max_size=3), st.booleans(), st.booleans(),
)


@settings(max_examples=30, deadline=None, derandomize=True, database=None)
@given(paths=_PATHS, globs=st.lists(_GLOB, min_size=1, max_size=3))
# found by this property: only the Catalyst side kept a leading "./"
@example(paths=["./_"], globs=["**/**/**"])
def test_glob_predicate_matches_driver_matcher(spark, paths, globs):
    # from pandas (Arrow): a local relation, no Python-worker job per example
    df = spark.createDataFrame(pd.DataFrame({"path": paths}))
    kept = filter_corpus(df, globs, []).withColumn("kept", F.lit(True))
    dropped = filter_corpus(df, [], globs).withColumn("kept", F.lit(False))
    got = {(r["path"], r["kept"]) for r in kept.unionByName(dropped).collect()}
    assert got == {(p, matches(globs, p)) for p in paths}, globs
