"""Pluggable component registry (reference ``model/interfaces.py:15-52`` +
``model/registry.py:16-27`` re-expressed for the Spark engine).

The reference exposes factory registries for Engine / Extractor / Embedder /
Reporter so a deployment can plug in new components without editing core
code. The Spark engine's equivalent extension seams:

    kind "extractor"        lang -> unit extractor used by
                            extract.extract_snippets; the callable takes
                            (path, content) and returns a list of
                            extract._Unit rows. Set ``emits_func = True``
                            on the callable for languages whose units
                            should also produce FUNC snippets (the Python
                            extractor does).
    kind "signature_scheme" SignatureConfig.scheme -> callable
                            (df, cfg) -> df with minhash/simhash/bands
                            appended (signatures.with_signatures resolves
                            through this).
    kind "reporter"         --format name -> callable
                            (findings, out_path, **kw) writing a report
                            (cli._write_report resolves through this).
    kind "engine"           CLI --engine name -> marker/callable; the CLI
                            validates the engine name against this kind.

Built-ins self-register at module import. Worker-side caveat (standard
Spark): an extractor runs inside a mapInPandas closure, so a CUSTOM
extractor must be importable on executors (ship its module via --py-files)
— extract_snippets snapshots the registry at plan-build time and
cloudpickle serializes registered callables by module reference.
"""

from __future__ import annotations

from collections.abc import Callable

_REGISTRY: dict[str, dict[str, Callable]] = {}


def register(kind: str, name: str, obj: Callable | None = None):
    """Register ``obj`` under (kind, name); usable as a decorator:

        @register("reporter", "csv")
        def write_csv(findings, out_path, **kw): ...
    """

    def deco(fn: Callable) -> Callable:
        _REGISTRY.setdefault(kind, {})[name] = fn
        return fn

    return deco(obj) if obj is not None else deco


def get(kind: str, name: str) -> Callable:
    try:
        return _REGISTRY[kind][name]
    except KeyError:
        raise KeyError(
            f"no {kind} registered under {name!r}; available: {available(kind)}"
        ) from None


def available(kind: str) -> list[str]:
    return sorted(_REGISTRY.get(kind, {}))


def snapshot(kind: str) -> dict[str, Callable]:
    """Copy of one kind's table — captured into task closures so executors
    see exactly the components registered at plan-build time."""
    return dict(_REGISTRY.get(kind, {}))
