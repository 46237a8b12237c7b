"""EXP call-expansion (expansion.py) — parity against the ACTUAL reference
implementation (snippets/expansion.py) run on the same rendered corpus.

Because the reference iterates a Python set of call refs, its helper
APPEND ORDER is hash-seed dependent; the engine's scoring is token-set
Jaccard, which is order-insensitive, so parity is asserted on per-origin
normalized-token SETS, not raw text (see expansion.py module docstring).
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from oracle_util import import_reference

# Scenario corpus (own content, reference-shaped scenarios): local calls,
# from-import function alias, module-alias call, imported-class instance
# method, local factory, module-alias factory, from-imported factory
# (which must NOT expand — reference class-alias short-circuit), methods
# as callers (indented code -> no calls), and a nested class ctor.
FILES = {
    "app/main.py": (
        "import utilz\n"
        "from utilz import sum_all\n"
        "from models import Tracker\n"
        "\n\n"
        "def local_helper(ns):\n"
        "    acc = 0\n"
        "    for n in ns:\n"
        "        acc = acc + n * 3\n"
        "    return acc\n"
        "\n\n"
        "def calls_local(ns):\n"
        "    return local_helper(ns) + 1\n"
        "\n\n"
        "def calls_from_import(ns):\n"
        "    return sum_all(ns)\n"
        "\n\n"
        "def calls_module_attr(ns):\n"
        "    return utilz.sum_all(ns)\n"
        "\n\n"
        "def calls_instance_method(ns):\n"
        "    t = Tracker()\n"
        "    return t.tally(ns)\n"
        "\n\n"
        "def calls_ctor_chain(ns):\n"
        "    return Tracker().tally(ns)\n"
    ),
    "app/utilz.py": (
        "def sum_all(items):\n"
        "    out = 0\n"
        "    for it in items:\n"
        "        out = out + it\n"
        "    return out\n"
        "\n\n"
        "def make_tracker():\n"
        "    from models import Tracker\n"
        "    return Tracker()\n"
    ),
    "app/models.py": (
        "class Tracker:\n"
        "    def tally(self, items):\n"
        "        total = 0\n"
        "        for item in items:\n"
        "            total = total + item\n"
        "        return total\n"
        "\n"
        "    def uses_self(self, items):\n"
        "        return self.tally(items)\n"
        "\n\n"
        "def make_tracker():\n"
        "    return Tracker()\n"
        "\n\n"
        "def local_factory_use(ns):\n"
        "    t = make_tracker()\n"
        "    return t.tally(ns)\n"
    ),
    "app/factory_use.py": (
        "import models\n"
        "from models import make_tracker\n"
        "\n\n"
        "def from_import_factory(ns):\n"
        "    t = make_tracker()\n"
        "    return t.tally(ns)\n"
        "\n\n"
        "def module_alias_factory(ns):\n"
        "    t = models.make_tracker()\n"
        "    return t.tally(ns)\n"
    ),
}

REPO = "org0/exprepo"
TOKEN = re.compile(r"[a-z0-9_]+")


def _toks(text: str) -> frozenset[str]:
    return frozenset(TOKEN.findall(text.lower()))


@pytest.fixture(scope="module")
def rendered(tmp_path_factory):
    root = tmp_path_factory.mktemp("exp_corpus")
    for rel, content in FILES.items():
        p = root / REPO / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(content, encoding="utf-8")
    return str(root)


@pytest.fixture(scope="module")
def corpus_df(spark):
    rows = [(REPO, rel, "0" * 40, "python", content) for rel, content in FILES.items()]
    return spark.createDataFrame(rows, "repo string, path string, commit string, lang string, content string")


def _reference_exp(root: str, depth: int, max_chars: int):
    """identity(relative) -> token set of the reference EXP snippet text."""
    collect_files = import_reference("clonehunter.io.fs").collect_files
    extract_functions = import_reference("clonehunter.parsing.python_ast").extract_functions
    exp = import_reference("clonehunter.snippets.expansion")

    files = collect_files([root], ["**/*.py"], [])
    functions = [fn for f in files for fn in extract_functions(f)]
    snippets = exp.expand_calls(
        functions, exp.ExpansionParams(enabled=True, depth=depth, max_chars=max_chars)
    )
    prefix = str(Path(root)) + "/"
    return {
        s.function.identity.replace(prefix, "", 1): _toks(s.text) for s in snippets
    }


def _ours_exp(corpus_df, depth: int, max_chars: int):
    from sparkclone.config import ExpansionConfig, WindowConfig
    from sparkclone.expansion import expand_snippets

    df = expand_snippets(
        corpus_df, ExpansionConfig(enabled=True, depth=depth, max_chars=max_chars),
        WindowConfig(),
    )
    return {r["unit_id"]: _toks(r["norm_text"]) for r in df.collect()}


def test_exp_token_set_parity_depth1(spark, rendered, corpus_df):
    ref = _reference_exp(rendered, depth=1, max_chars=10_000)
    ours = _ours_exp(corpus_df, depth=1, max_chars=10_000)
    assert set(ours) == set(ref), (
        f"origin mismatch\nonly ours: {sorted(set(ours) - set(ref))}\n"
        f"only ref : {sorted(set(ref) - set(ours))}"
    )
    for ident in ref:
        assert ours[ident] == ref[ident], f"token-set mismatch for {ident}"


def test_exp_token_set_parity_depth2(spark, rendered, corpus_df):
    ref = _reference_exp(rendered, depth=2, max_chars=10_000)
    ours = _ours_exp(corpus_df, depth=2, max_chars=10_000)
    assert set(ours) == set(ref)
    for ident in ref:
        assert ours[ident] == ref[ident], f"token-set mismatch for {ident}"


def test_exp_scenarios_expand_as_expected(spark, corpus_df):
    ours = _ours_exp(corpus_df, depth=1, max_chars=10_000)
    by_fn = {k.split(":")[1]: v for k, v in ours.items()}
    # every resolution tier fires
    for fn in (
        "calls_local", "calls_from_import", "calls_module_attr",
        "calls_instance_method", "calls_ctor_chain", "local_factory_use",
        "module_alias_factory",
    ):
        assert fn in by_fn, f"{fn} gained no EXP snippet"
        assert "tally" in by_fn[fn] or "sum_all" in by_fn[fn] or "local_helper" in by_fn[fn]
    # from-imported factory: the NAME call make_tracker() resolves as a
    # plain function alias (its body is expanded), but the factory-return
    # class inference does NOT fire — the reference's class-alias branch
    # short-circuits with `return None` (expansion.py:419-425) — so
    # t.tally() stays unresolved and tally's body is absent
    assert "from_import_factory" in by_fn
    assert "make_tracker" in by_fn["from_import_factory"]
    # "total" occurs only in tally's BODY — its absence shows the method
    # itself was not expanded (the call token "tally" is in the origin)
    assert "total" not in by_fn["from_import_factory"]
    assert "total" in by_fn["module_alias_factory"]
    # method callers have indented code -> ast fails -> no expansion
    assert "uses_self" not in by_fn and "Tracker.uses_self" not in by_fn


def test_exp_respects_max_chars(spark, corpus_df):
    assert _ours_exp(corpus_df, depth=1, max_chars=1) == {}


def _exp_pair_corpus() -> dict[str, str]:
    """FILES plus two small wrappers around one large shared helper:
    the wrappers' FUNC token-set Jaccard is far below threshold, but
    their EXP texts are dominated by the helper body — a pair that can
    exist ONLY through call expansion."""
    big_body = "\n".join(
        f"    r{i:03d} = arg + {i * 7}" for i in range(1, 121)
    )
    files = dict(FILES)
    files["app/bighelp.py"] = f"def crunch_all(arg):\n{big_body}\n    return arg\n"
    files["app/wrap1.py"] = (
        "from bighelp import crunch_all\n\n\n"
        "def wrap_one(alpha_in):\n"
        "    offset_q = 7\n"
        "    return crunch_all(alpha_in) + offset_q\n"
    )
    files["app/wrap2.py"] = (
        "from bighelp import crunch_all\n\n\n"
        "def wrap_two(beta_val):\n"
        "    shift_z = 4\n"
        "    return crunch_all(beta_val) - shift_z\n"
    )
    return files


def test_exp_e2e_pair_parity_vs_reference(spark, tmp_path_factory):
    """Oracle e2e with expansion enabled on BOTH sides: the reference
    pipeline (stub embedder, lexical_weight=1.0, expansion depth 1) and
    ours must produce the same finding pair set — including the pair
    that exists only via EXP snippets."""
    from dataclasses import replace

    from oracle_util import run_reference_oracle

    from sparkclone.config import ExpansionConfig, benchmark_config
    from sparkclone.pipeline import run_pipeline

    files = _exp_pair_corpus()
    root = tmp_path_factory.mktemp("exp_e2e")
    for rel, content in files.items():
        p = root / REPO / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(content, encoding="utf-8")
    ref = run_reference_oracle(str(root), expansion=(1, 20_000))

    rows = [(REPO, rel, "0" * 40, "python", c) for rel, c in files.items()]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ).withColumn("content_sha256", F_sha2_content())
    cfg = replace(
        benchmark_config(),
        expansion=ExpansionConfig(enabled=True, depth=1, max_chars=20_000),
    )
    out = run_pipeline(spark, corpus, cfg)
    ours = {
        (min(r["unit_a"], r["unit_b"]), max(r["unit_a"], r["unit_b"]))
        for r in out["findings"].select("unit_a", "unit_b").collect()
    }
    exp_pair = [p for p in ref["pairs"] if "wrap_one" in p[0] + p[1] and "wrap_two" in p[0] + p[1]]
    assert exp_pair, "reference did not produce the EXP-only pair — fixture broken"
    assert ours == ref["pairs"], (
        f"pair-set mismatch\nmissing: {sorted(ref['pairs'] - ours)[:5]}\n"
        f"extra  : {sorted(ours - ref['pairs'])[:5]}"
    )


def F_sha2_content():
    from pyspark.sql import functions as F

    return F.sha2(F.col("content"), 256)
