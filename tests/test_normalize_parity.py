"""Byte-parity of normalization/tokenization vs the reference on identical
inputs (SURVEY.md §5 test plan (a): unit tests against reference functions
imported from /root/reference/src).

The three parity tests need that reference tree and skip where it is
absent; the empty-side Jaccard and sha256 invariant tests are
reference-free and run everywhere."""

from __future__ import annotations

from oracle_util import import_reference

from sparkclone.normalize import jaccard, normalize_source, tokenize

SAMPLES = [
    'def f(a, b):\n    """doc."""\n    return a + b\n',
    "def f(a):\n    'single doc'\n    x = 'keep me'\n    return x\n",
    "class C:\n    \"\"\"class doc stays (reference quirk).\"\"\"\n    def m(self):\n        \"\"\"method doc goes.\"\"\"\n        return 1\n",
    "async def g():\n    \"\"\"adoc\"\"\"\n    await h()\n",
    "not valid python (((",
    "    indented fragment\n    x = 1",
    "const a = { b: 'c' };\nlet d = 42;",
    "",
    "x = 1\n# comment\ny = 'multi\\nline'\n",
    "def outer():\n    def inner():\n        \"\"\"inner doc\"\"\"\n        pass\n    return inner\n",
]


def test_normalize_parity():
    ref_normalize = import_reference("clonehunter.snippets.normalization").normalize_source
    for s in SAMPLES:
        assert normalize_source(s) == ref_normalize(s), repr(s[:40])


def test_tokenize_parity():
    ref_tokenize = import_reference("clonehunter.similarity.lexical")._tokenize
    for s in SAMPLES:
        assert tokenize(s) == ref_tokenize(s), repr(s[:40])


def test_jaccard_parity():
    ref_jaccard = import_reference("clonehunter.similarity.lexical").lexical_similarity
    for a in SAMPLES:
        for b in SAMPLES:
            assert abs(jaccard(a, b) - ref_jaccard(a, b)) < 1e-12


def test_jaccard_empty_sides():
    assert jaccard("", "x") == 0.0
    assert jaccard("!!!", "???") == 0.0  # both tokenize to empty


def test_sha256_invariant_matches_hashlib(spark):
    """F.sha2(content, 256) == hashlib.sha256(...).hexdigest() — the
    per-row invariant (io/fingerprints.py:6-7 <-> pipeline.load_corpus)."""
    import hashlib

    from pyspark.sql import functions as F

    texts = [s for s in SAMPLES if s] + ["unicode: héllo ✓ 中文"]
    df = spark.createDataFrame([(t,) for t in texts], ["content"])
    got = df.select(F.sha2("content", 256).alias("h")).collect()
    want = [hashlib.sha256(t.encode("utf-8")).hexdigest() for t in texts]
    assert [r["h"] for r in got] == want
