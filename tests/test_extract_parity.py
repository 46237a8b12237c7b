"""Extraction/windowing parity vs the reference over the whole synthetic
corpus: same units, same snippet spans, same normalized texts.

snippet hashes differ by design (the reference hashes absolute scan paths;
we hash repo-qualified corpus paths), so the comparison key is
(repo-relative path, kind, start_line, end_line, norm_text)."""

from __future__ import annotations

import pytest

from oracle_util import import_reference


@pytest.fixture(scope="module")
def ref_snippets(corpus_dir):
    collect_files = import_reference("clonehunter.io.fs").collect_files
    extract_functions = import_reference("clonehunter.parsing.python_ast").extract_functions
    extract_file_unit = import_reference("clonehunter.parsing.text_units").extract_file_unit
    gen = import_reference("clonehunter.snippets.generators")

    files = collect_files(
        [corpus_dir], ["**/*.py", "**/*.ts", "**/*.js", "**/*.txt"], []
    )
    pyfn, wunits = [], []
    for f in files:
        if f.language == "python":
            ex = extract_functions(f)
            pyfn.extend(ex)
            wunits.extend(ex)
        else:
            wunits.extend(extract_file_unit(f))
    snippets = gen.generate_function_snippets(pyfn)
    snippets += gen.generate_window_snippets(wunits, gen.WindowParams(12, 6, 4))
    prefix = corpus_dir.rstrip("/") + "/"
    return {
        (
            s.function.file.path.replace(prefix, "", 1),
            s.kind,
            s.start_line,
            s.end_line,
            s.text,
        )
        for s in snippets
    }


def test_snippet_universe_parity(ref_snippets, spark, corpus_parquet):
    """Every (path, kind, span, normalized text) tuple matches the
    reference exactly BEFORE our empty-token/length filters."""
    from sparkclone.config import benchmark_config
    from sparkclone.extract import extract_snippets
    from sparkclone.pipeline import load_corpus

    cfg = benchmark_config()
    ours_df = extract_snippets(load_corpus(spark, corpus_parquet), cfg.windows)
    ours = {
        (r["path"], r["kind"], r["start_line"], r["end_line"], r["norm_text"])
        for r in ours_df.collect()
    }
    assert ours == ref_snippets


def test_window_spans_match_reference_generator():
    """Micro-check of the stepping rule (generators.py:63-74):
    10-line unit, window 3 / stride 2 -> starts 1,3,5,7,9."""
    from sparkclone.config import WindowConfig
    from sparkclone.extract import _window_spans

    spans = list(_window_spans(10, WindowConfig(3, 2, 0)))
    assert spans == [(1, 3), (3, 5), (5, 7), (7, 9), (9, 10)]


def test_stride_zero_raises():
    from sparkclone.config import WindowConfig
    from sparkclone.extract import _window_spans

    with pytest.raises(ValueError):
        list(_window_spans(5, WindowConfig(3, 0, 0)))
