"""Pipeline configuration.

Mirrors the *semantics* of the reference config surface
(``/root/reference/src/clonehunter/core/config.py:7-103``) — window
parameters, per-kind thresholds, lexical floor, cluster min-size — and adds
the signature/LSH knobs that replace the reference's embedder/index config
(``core/config.py:31-69``). Everything is a frozen dataclass with a stable
``config_hash`` so checkpoints and MinHash permutations are reproducible.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class WindowConfig:
    """Sliding line-window snippet parameters.

    Reference defaults: ``core/config.py:8-11`` (window 40 / stride 6 /
    min_nonempty 4); the reference benchmark runs 12/6/4
    (``benchmark/run_benchmark.py:97-103``), which is also our benchmark
    config (see :func:`benchmark_config`).
    """

    window_lines: int = 40
    stride_lines: int = 6
    min_nonempty: int = 4


@dataclass(frozen=True)
class Thresholds:
    """Match acceptance thresholds (reference ``core/config.py:21-28``).

    At oracle config the composite score degenerates to exact token-set
    Jaccard (``similarity/candidates.py:146-148`` with lexical_weight=1.0),
    so these thresholds apply directly to Jaccard in our engine.
    """

    func: float = 0.92
    win: float = 0.90
    exp: float = 0.90
    min_window_hits: int = 1
    lexical_min_ratio: float = 0.5


@dataclass(frozen=True)
class SignatureConfig:
    """MinHash/SimHash parameters (replaces reference embedder+index config).

    ``num_perms`` MinHash permutations split into ``bands`` bands of
    ``rows_per_band`` rows each for LSH (bands * rows_per_band must equal
    num_perms).

    Choice of b=16, r=8: reference matches only exist at composite >=
    kind threshold (candidates.py:151-152), i.e. Jaccard >= 0.90 at oracle
    config — pairs below that can NEVER produce findings, so the S-curve
    only needs to be ~1 above 0.90 and as low as possible below:
    P(candidate | s) = 1-(1-s^8)^16 => 0.99988 at s=0.90, 0.9996 at 0.92,
    but only ~1e-3 at s=0.5 and ~1e-5 at s=0.3 — two orders of magnitude
    fewer false candidates than b=32/r=4 at the corpus-baseline similarity
    levels code exhibits (shared keywords), which is what dominates pair
    volume at 100 TB.
    """

    num_perms: int = 128
    bands: int = 16
    rows_per_band: int = 8
    seed: int = 42
    simhash_bits: int = 64
    # "xxhash64": the numpy MinHash/SimHash fast path (production).
    # "md5_portable": JVM-side md5 sketches computable bit-identically by
    # an ANSI-SQL oracle (single band = min token-md5 prefix; 16-bit md5
    # SimHash) — the cross-engine-verifiable twin used to give the FULL
    # pipeline a DuckDB oracle (clone_pipeline_portable_sizes).
    scheme: str = "xxhash64"
    # SimHash Hamming-distance prefilter radius used only as *evidence*
    # ordering / near-verbatim flag, never to drop candidates.
    simhash_near_radius: int = 8

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perms:
            raise ValueError(
                f"bands*rows_per_band ({self.bands}*{self.rows_per_band}) "
                f"must equal num_perms ({self.num_perms})"
            )


@dataclass(frozen=True)
class LshConfig:
    """Candidate-generation scale knobs (skew handling, SURVEY.md §4)."""

    # Hard cap on pair-generation bucket size AFTER exact-duplicate
    # pre-collapse. Buckets above the cap are dropped with a metric —
    # they are overwhelmingly low-Jaccard hash pileups once exact dups
    # are collapsed. 0 disables the cap.
    max_bucket_size: int = 512
    # Cap on normalized snippet text length fed to signatures/verification
    # (reference caps only EXP snippets at 4000 chars, core/config.py:18;
    # we cap defensively for Arrow batch sizing at 100TB scale).
    max_text_chars: int = 200_000


@dataclass(frozen=True)
class ExpansionConfig:
    """Call-expansion (EXP) snippet parameters — reference
    ``core/config.py:14-18`` (off by default there too). When enabled,
    each Python function snippet gains an EXP variant whose text appends
    the bodies of called helper functions resolved over a BFS of
    ``depth`` hops, capped at ``max_chars`` (snippets/expansion.py:21-75).
    """

    enabled: bool = False
    depth: int = 1
    max_chars: int = 4000


@dataclass(frozen=True)
class ClusterConfig:
    """Connected-components / cluster filter parameters
    (reference ``core/config.py:102-103`` + ``similarity/clustering.py``)."""

    min_size: int = 2
    max_iterations: int = 25
    # Cap on distinct (unit_a, unit_b) string pairs for the driver route
    # of connected components: at most this many, and they are fetched in
    # one Arrow action and joined by a driver-side path-compressed
    # union-find (the reference's own algorithm, clustering.py:8-43);
    # more, and the distributed min-label loop runs. Finding graphs are
    # orders smaller than the corpus; 250k string pairs are tens of MB in
    # Arrow. 0 forces the distributed loop.
    small_graph_edges: int = 250_000


@dataclass(frozen=True)
class PipelineConfig:
    windows: WindowConfig = field(default_factory=WindowConfig)
    thresholds: Thresholds = field(default_factory=Thresholds)
    signature: SignatureConfig = field(default_factory=SignatureConfig)
    lsh: LshConfig = field(default_factory=LshConfig)
    cluster: ClusterConfig = field(default_factory=ClusterConfig)
    expansion: ExpansionConfig = field(default_factory=ExpansionConfig)
    # Compute suffix-automaton longest-common-substring evidence for
    # verified pairs (north_rule: "suffix-array substring matching for
    # near-verbatim clone spans"). Python-side per verified pair; can be
    # disabled for pure-throughput runs.
    lcs_evidence: bool = True
    lcs_max_chars: int = 4000
    # Apply normalize_source (docstring-strip + canonical unparse) to
    # snippet texts. True mirrors the reference (generators.py:20,46
    # normalizes unconditionally); False is the raw-text mode for
    # non-code corpora — it also makes the snippet text SQL-derivable,
    # which the portable-oracle pipeline config relies on.
    normalize_text: bool = True

    def config_hash(self) -> str:
        payload = json.dumps(asdict(self), sort_keys=True, default=str)
        return hashlib.sha256(payload.encode("utf-8")).hexdigest()[:16]


def benchmark_config() -> PipelineConfig:
    """The reference benchmark's flag set (run_benchmark.py:74-103):
    window 12 / stride 6 / min_nonempty 4, thresholds 0.92/0.90/0.90,
    min_window_hits 1, lexical floor 0.5."""
    return PipelineConfig(windows=WindowConfig(window_lines=12, stride_lines=6, min_nonempty=4))
