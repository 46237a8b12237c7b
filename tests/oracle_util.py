"""Run the reference CloneHunter as a recall oracle (SURVEY.md §7.1).

The reference runs with ``embedder=stub`` and ``lexical_weight=1.0`` so its
composite score degenerates to exact token-set Jaccard, and ``top_k`` large
enough to make retrieval exhaustive — the configuration under which our
LSH pipeline must reach dup-pair recall >= 0.99 (BASELINE.json north_rule).

Note: the reference's progress wrapper is a generator function whose
``return iterable`` short-circuit (core/pipeline.py:117-124) yields nothing
when tqdm is absent — i.e. WITHOUT tqdm the reference processes zero files.
tqdm is not installed here, so we register a minimal stand-in before
importing the reference.

Every reference import goes through ``import_reference``: it skips the
calling test where the reference tree is absent, and otherwise imports the
named module the ordinary way, so a broken or renamed module fails loudly.
"""

from __future__ import annotations

import importlib
import sys
import types
from pathlib import Path

import pytest

REFERENCE_SRC = "/root/reference/src"


def _install_tqdm_stub() -> None:
    if "tqdm" in sys.modules:
        return
    mod = types.ModuleType("tqdm")

    class _Bar:
        def __init__(self, *a, total=None, **kw):
            self.total = total

        def update(self, n=1):
            pass

        def refresh(self):
            pass

        def close(self):
            pass

    mod.tqdm = _Bar
    sys.modules["tqdm"] = mod


def import_reference(module: str) -> types.ModuleType:
    """Import `module` from the reference tree at ``REFERENCE_SRC``.

    Skips the calling test only when the tree's ``clonehunter`` package
    directory is absent; with the tree present, a missing module raises
    ``ModuleNotFoundError``."""
    if not Path(REFERENCE_SRC, "clonehunter").is_dir():
        pytest.skip(f"reference tree {REFERENCE_SRC} is absent")
    _install_tqdm_stub()
    if REFERENCE_SRC not in sys.path:
        sys.path.insert(0, REFERENCE_SRC)
    return importlib.import_module(module)


def run_reference_oracle(
    root: str,
    window=(12, 6, 4),
    processes: int | None = None,
    expansion: tuple[int, int] | None = None,
):
    """Scan `root` with the reference at oracle config.

    ``expansion=(depth, max_chars)`` enables EXP call-expansion snippets
    (reference default-off, core/config.py:14-18).

    Returns dict with:
      pairs     — set of (unit_a, unit_b) identity pairs (root-relative,
                  a < b) from findings
      clusters  — cluster_id -> set of identities
      stats     — reference ScanStats
    """
    config = import_reference("clonehunter.core.config")
    ref_run = import_reference("clonehunter.core.pipeline").run_pipeline

    # Force single-process retrieval: the reference's spawn pool
    # (candidates.py:52-74) re-imports __main__, which recurses when the
    # caller is a script, and single-process is deterministic anyway.
    _cand = import_reference("clonehunter.similarity.candidates")
    _cand.cpu_count = lambda: 2  # max(1, 2-1) == 1 worker -> inline path

    cfg = config.CloneHunterConfig(
        include_globs=["**/*.py", "**/*.ts", "**/*.js", "**/*.txt", "**/*.go", "**/*.java"],
        exclude_globs=[],
        windows=config.WindowConfig(*window),
        thresholds=config.Thresholds(
            func=0.92, win=0.90, exp=0.90, min_window_hits=1,
            lexical_min_ratio=0.5, lexical_weight=1.0,
        ),
        index=config.IndexConfig(name="brute", top_k=1_000_000),
        embedder=config.EmbedderConfig(name="stub"),
        cluster_findings=True,
        expansion=(
            config.ExpansionConfig(enabled=True, depth=expansion[0], max_chars=expansion[1])
            if expansion
            else config.ExpansionConfig()
        ),
    )
    res = ref_run([root], cfg)

    prefix = root.rstrip("/") + "/"

    def rel(identity: str) -> str:
        return identity.replace(prefix, "", 1)

    pairs: set[tuple[str, str]] = set()
    clusters: dict[str, set[str]] = {}
    for f in res.findings:
        a, b = rel(f.function_a.identity), rel(f.function_b.identity)
        if a != b:
            pairs.add((min(a, b), max(a, b)))
        cid = f.metadata.get("cluster_id")
        if cid is not None:
            clusters.setdefault(cid, set()).update((a, b))
    return {"pairs": pairs, "clusters": clusters, "stats": res.stats}


def cluster_implied_pairs(clusters: dict[str, set[str]]) -> set[tuple[str, str]]:
    out: set[tuple[str, str]] = set()
    for members in clusters.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                out.add((ms[i], ms[j]))
    return out
