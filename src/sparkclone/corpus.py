"""Deterministic synthetic corpus generator (FIXTURES.md §1).

Produces the mandated input shape ``corpus(repo, path, commit, lang,
content)`` with labeled clone families injected:

  - ``exact``   — byte-identical content under different (repo, path)
  - ``near:X``  — identifier-renamed variants at controlled token-Jaccard
  - ``windowed``— a shared 14-line block pasted into otherwise-different
                  files (exercises WIN snippets at window 12 / stride 6)
  - ``vendored``— one boilerplate file copied into a large fraction of
                  repos (the skewed-LSH-bucket stressor of the north rule)
  - negatives   — unique files, whitespace-only files (must be dropped,
                  reference text_units.py:15-16), broken Python (must not
                  crash, python_ast.py:26-28)

Everything derives from ``random.Random(seed)`` — no wall clock, no
global RNG. ``render_to_dir`` writes the same corpus as real files so the
reference CloneHunter can run on it as the recall oracle
(SURVEY.md §7.1: embedder=stub, lexical_weight=1.0).
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from pathlib import Path

_WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
    "victor", "whiskey", "xray", "yankee", "zulu",
]


@dataclass(frozen=True)
class CorpusRow:
    repo: str
    path: str
    commit: str
    lang: str
    content: str
    family: str  # truth label: exact | near:<j> | windowed | vendored | unique | junk


def _commit(rng: random.Random) -> str:
    return "".join(rng.choices("0123456789abcdef", k=40))


def _ident(rng: random.Random, n: int = 2) -> str:
    return "_".join(rng.sample(_WORDS, n)) + f"_{rng.randrange(1000)}"


def _py_function(rng: random.Random, name: str, idents: list[str], n_stmts: int = 10) -> str:
    """A function body whose token set is dominated by the given
    identifiers — renaming a subset moves token-Jaccard predictably.

    Numeric literals are rng-drawn per statement (not sequential): two
    *different* functions must not share a long run of literals, or the
    whole corpus acquires an artificial ~0.3 baseline token-Jaccard that
    no real codebase exhibits (the reference's benchmark repos share only
    keywords across unrelated functions). Clone families copy the SAME
    rendered statements, so within-family similarity is unaffected."""
    lines = [f"def {name}({idents[0]}, {idents[1]}):"]
    lines.append(f'    """compute over {idents[0]}."""')
    lines.append(f"    {idents[2]} = 0")
    for i in range(n_stmts):
        a = idents[3 + (i % (len(idents) - 3))]
        b = idents[3 + ((i + 1) % (len(idents) - 3))]
        op = ["+", "*", "-"][i % 3]
        lines.append(f"    {a} = {idents[2]} {op} len({b}) {op} {rng.randrange(100_000)}")
        lines.append(f"    {idents[2]} = {idents[2]} + {a}")
    lines.append(f"    return {idents[2]}")
    return "\n".join(lines)


def _rename_fraction(code: str, idents: list[str], frac: float, rng: random.Random) -> str:
    n = max(1, int(len(idents) * frac))
    victims = rng.sample(idents, n)
    out = code
    for v in victims:
        out = out.replace(v, _ident(rng))
    return out


def _text_block(rng: random.Random, n_lines: int) -> str:
    lines = []
    for i in range(n_lines):
        words = rng.sample(_WORDS, 4)
        lines.append(f"const {words[0]}_{i} = {{ {words[1]}: '{words[2]}', n: {rng.randrange(100)} }};")
    return "\n".join(lines)


def generate_corpus_rows(
    seed: int = 42,
    n_repos: int = 20,
    files_per_repo: int = 8,
    stmt_lo: int = 6,
    stmt_hi: int = 14,
) -> list[CorpusRow]:
    """``stmt_lo``/``stmt_hi`` bound the statement count of the unique
    (negative) files. The defaults produce small files for fast unit
    tests; benchmarks pass larger bounds (e.g. 30..90 → ~60-180-line
    files) so per-file work matches real source repositories — at 10^12
    files the compute:coordination ratio is what the scaling criterion
    actually measures."""
    rng = random.Random(seed)
    rows: list[CorpusRow] = []
    commits = {f"org{r % 5}/repo{r}": _commit(rng) for r in range(n_repos)}
    repos = list(commits)

    def add(repo: str, path: str, lang: str, content: str, family: str) -> None:
        rows.append(CorpusRow(repo, path, commits[repo], lang, content, family))

    # --- exact-duplicate family: one function file copied verbatim -------
    idents = [_ident(rng) for _ in range(10)]
    exact_src = _py_function(rng, "process_batch", idents) + "\n"
    for i, repo in enumerate(repos[: max(3, n_repos // 4)]):
        add(repo, f"pkg/exact_{i}.py", "python", exact_src, "exact")

    # --- near-duplicate ladder at controlled jaccard ----------------------
    base_idents = [_ident(rng) for _ in range(14)]
    base_src = _py_function(rng, "transform_rows", base_idents, n_stmts=14) + "\n"
    add(repos[0], "pkg/near_base.py", "python", base_src, "near:1.00")
    for level, frac in [(0.95, 0.04), (0.90, 0.08), (0.85, 0.14), (0.70, 0.30), (0.45, 0.65)]:
        variant = _rename_fraction(base_src, base_idents, frac, rng)
        repo = repos[(1 + int(level * 10)) % len(repos)]
        add(repo, f"pkg/near_{int(level * 100)}.py", "python", variant, f"near:{level:.2f}")

    # --- windowed clones: shared block inside different files ------------
    # pre-block length is a multiple of the benchmark stride (6) so the
    # shared block starts on a window boundary in every file — the same
    # alignment a real paste tends to satisfy only by luck; keeping it
    # deterministic makes the WIN-path assertion exact.
    shared = _text_block(rng, 14)
    for i in range(3):
        pre = _text_block(rng, 6 * rng.randrange(1, 3))
        post = _text_block(rng, rng.randrange(5, 12))
        repo = repos[(i * 3) % len(repos)]
        add(repo, f"web/widget_{i}.ts", "typescript", f"{pre}\n{shared}\n{post}\n", "windowed")

    # --- vendored boilerplate (skew stressor) -----------------------------
    vend_idents = [_ident(rng) for _ in range(8)]
    vendored = _py_function(rng, "vendored_helper", vend_idents, n_stmts=8) + "\n"
    for i, repo in enumerate(repos):
        if i % 2 == 0:  # half of all repos carry the identical vendored file
            add(repo, "vendor/boilerplate.py", "python", vendored, "vendored")

    # --- negatives --------------------------------------------------------
    for i, repo in enumerate(repos):
        for j in range(files_per_repo - 3):
            uid = [_ident(rng) for _ in range(10)]
            src = _py_function(rng, f"unique_{i}_{j}", uid, n_stmts=rng.randrange(stmt_lo, stmt_hi)) + "\n"
            add(repo, f"src/unique_{j}.py", "python", src, "unique")
    add(repos[0], "empty/blank.py", "python", "   \n\n  \n", "junk")
    add(repos[1], "broken/bad.py", "python", "def broken(:\n    pass\n", "junk")
    add(repos[2], "notes/readme.txt", "text", "just two lines\nnothing else\n", "junk")
    return rows


def rows_to_parquet(rows: list[CorpusRow], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "repo": [r.repo for r in rows],
            "path": [r.path for r in rows],
            "commit": [r.commit for r in rows],
            "lang": [r.lang for r in rows],
            "content": [r.content for r in rows],
        }
    )
    # Small row groups (vs pyarrow's 1M-row default, which would put the
    # whole corpus in ONE row group): parquet readers only emit rows for
    # row groups STARTING in their byte-range split, so a single-group
    # file collapses any scan to one non-empty partition regardless of
    # requested parallelism. Production-shaped data has many row groups;
    # the test corpus should too.
    pq.write_table(table, path, row_group_size=1024)


def truth_table(rows: list[CorpusRow]) -> dict[str, list[str]]:
    """family -> list of 'repo/path' members (junk/unique excluded)."""
    out: dict[str, list[str]] = {}
    for r in rows:
        if r.family in ("unique", "junk"):
            continue
        out.setdefault(r.family, []).append(f"{r.repo}/{r.path}")
    return out


def render_to_dir(rows: list[CorpusRow], root: str) -> str:
    """Write rows as real files (for running the reference as oracle).
    Layout: {root}/{repo}/{path}; returns root."""
    for r in rows:
        p = Path(root) / r.repo / r.path
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(r.content, encoding="utf-8")
    return root
