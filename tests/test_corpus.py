"""The synthetic corpus generator builds at every small repo count, and
its near-duplicate ladder stays where it always was wherever it fit."""

from __future__ import annotations

import pytest

from sparkclone.corpus import generate_corpus_rows

_LADDER = (0.95, 0.90, 0.85, 0.70, 0.45)


@pytest.mark.parametrize("n_repos", range(3, 13))
def test_near_ladder_builds_at_every_repo_count(n_repos):
    rows = generate_corpus_rows(n_repos=n_repos)
    repos = [f"org{r % 5}/repo{r}" for r in range(n_repos)]
    ladder = {r.family: r.repo for r in rows if r.path != "pkg/near_base.py"
              and r.family.startswith("near:")}
    assert sorted(ladder) == sorted(f"near:{level:.2f}" for level in _LADDER)
    for level in _LADDER:
        # the index the ladder used before it wrapped around the repo list
        unwrapped = 1 + int(level * 10) % n_repos
        if unwrapped < n_repos:
            assert ladder[f"near:{level:.2f}"] == repos[unwrapped]
