"""`import_reference` — the one route to the reference tree: skip where the
tree is absent, import from it where present, fail loudly on a missing
module. Runs against a stand-in tree under tmp_path."""

from __future__ import annotations

import sys

import pytest

import oracle_util
from oracle_util import import_reference


def _is_reference(name: str) -> bool:
    return name == "clonehunter" or name.startswith("clonehunter.")


@pytest.fixture
def reference_at(tmp_path, monkeypatch):
    """Point REFERENCE_SRC at tmp_path, with no clonehunter modules cached."""
    monkeypatch.setattr(oracle_util, "REFERENCE_SRC", str(tmp_path))
    monkeypatch.setattr(sys, "path", list(sys.path))
    saved = {k: sys.modules.pop(k) for k in list(sys.modules) if _is_reference(k)}
    yield tmp_path
    for k in [k for k in sys.modules if _is_reference(k)]:
        del sys.modules[k]
    sys.modules.update(saved)


def test_absent_tree_skips_with_its_path(reference_at):
    with pytest.raises(pytest.skip.Exception, match=f"reference tree {reference_at} is absent"):
        import_reference("clonehunter.io.fs")


def test_present_tree_imports_and_missing_module_fails(reference_at):
    pkg = reference_at / "clonehunter"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "marker.py").write_text("WHERE = 'stand-in tree'\n")

    assert import_reference("clonehunter.marker").WHERE == "stand-in tree"
    assert str(reference_at) in sys.path
    with pytest.raises(ModuleNotFoundError):
        import_reference("clonehunter.missing")
