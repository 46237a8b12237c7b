"""Seeded benchmark inputs: the two corpora and the edits of one CI hop.

Everything derives from ``random.Random`` seeded by the caller, so one seed
always gives the same files. Nothing here touches Spark.
"""

from __future__ import annotations

import dataclasses
import random

import pyarrow as pa
import pyarrow.parquet as pq

from sparkclone.corpus import CorpusRow, generate_corpus_rows

# Code corpus: the generator's benchmark file-size bounds (30..90 statements
# per unique file), at a repo count that keeps a run (set-up scan plus one
# hop) inside the time one benchmark run may take on a 4-core host.
CODE_SHAPE = dict(n_repos=20, files_per_repo=10, stmt_lo=30, stmt_hi=90)

# Document corpus: the shape of the testdata ``documents`` table — 20
# sources, 10..100 words per one-line document drawn from a 30-word
# vocabulary, plus the marker word "dup" on planted exact-copy pairs
# (31 tokens in all).
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DUP_WORD = "dup"
DOC_SOURCES = 20
DOC_COUNT = 400


def code_rows(seed: int) -> list[CorpusRow]:
    return generate_corpus_rows(seed, **CODE_SHAPE)


def doc_rows(seed: int, n: int = DOC_COUNT) -> list[tuple[int, str, str]]:
    """(doc_id, text, source) rows; one pair in forty is an exact copy."""
    rng = random.Random(seed)
    texts = [" ".join(rng.choices(DOC_VOCAB, k=rng.randint(10, 100))) for _ in range(n)]
    for _ in range(n // 40):
        a, b = rng.sample(range(n), 2)
        texts[b] = texts[a] = f"{texts[a]} {DUP_WORD}"
    return [(i, t, f"src{i % DOC_SOURCES}") for i, t in enumerate(texts)]


def write_docs(rows: list[tuple[int, str, str]], path: str) -> None:
    table = pa.table(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "source": [r[2] for r in rows],
        }
    )
    pq.write_table(table, path, row_group_size=1024)


def _picks(rng: random.Random, n: int) -> tuple[set[int], set[int]]:
    """~1% of the indices to change and two others to delete."""
    order = rng.sample(range(n), max(1, n // 100) + 2)
    return set(order[2:]), set(order[:2])


def code_hop(rows: list[CorpusRow], hop: int, rng: random.Random) -> list[CorpusRow]:
    """Next snapshot: ~1% of files gain a new function (or line), two files
    are deleted, and one exact copy of an ``exact``-family file is added."""
    changed, deleted = _picks(rng, len(rows))
    out = []
    for i, r in enumerate(rows):
        if i in deleted:
            continue
        if i in changed:
            extra = (
                f"\n\ndef hop_{hop}_{i}(value):\n    return value * {rng.randrange(10**6)}\n"
                if r.lang == "python"
                else f"\nconst hop_{hop}_{i} = {rng.randrange(10**6)};\n"
            )
            r = dataclasses.replace(r, content=r.content + extra)
        out.append(r)
    src = rng.choice([r for r in out if r.family == "exact"])
    out.append(dataclasses.replace(src, path=f"pkg/hop_{hop}_copy.py"))
    return out
