"""Connected-components + cluster filter micro-tests
(tests/test_clustering.py:29-33 pattern in the reference)."""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st

from sparkclone.config import ClusterConfig


def _cc(spark, edges):
    from sparkclone.cluster import connected_components

    df = spark.createDataFrame(edges, ["unit_a", "unit_b"])
    rows = connected_components(df, ClusterConfig()).collect()
    by_cluster: dict[int, set[str]] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["unit_id"])
    return by_cluster


def test_chain_merges(spark):
    out = _cc(spark, [("a", "b"), ("b", "c")])
    assert len(out) == 1
    assert set().union(*out.values()) == {"a", "b", "c"}


def test_isolated_pairs_stay_separate(spark):
    out = _cc(spark, [("a", "b"), ("x", "y")])
    assert len(out) == 2
    assert {frozenset(m) for m in out.values()} == {
        frozenset({"a", "b"}),
        frozenset({"x", "y"}),
    }


def test_long_chain_converges(spark):
    n = 30
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)]
    out = _cc(spark, edges)
    assert len(out) == 1
    assert len(next(iter(out.values()))) == n + 1


def test_self_edges_ignored(spark):
    out = _cc(spark, [("a", "a"), ("a", "b")])
    assert len(out) == 1


def test_dense_ids_deterministic(spark):
    """cluster_id ordering follows min member identity."""
    out = _cc(spark, [("m", "n"), ("a", "b")])
    # cluster containing 'a' must be id 1
    for cid, members in out.items():
        if "a" in members:
            assert cid == 1
        if "m" in members:
            assert cid == 2


def _membership(spark, edges, cfg):
    """unit_id -> (cluster_id, cluster_root) from one CC run."""
    import pandas as pd

    from sparkclone.cluster import connected_components

    # a pandas frame rides the Arrow path into the JVM, so the loop's
    # many small jobs re-read it without starting Python workers
    pdf = pd.DataFrame(edges, columns=["unit_a", "unit_b"], dtype=object)
    df = spark.createDataFrame(pdf, "unit_a string, unit_b string")
    return {
        r["unit_id"]: (r["cluster_id"], r["cluster_root"])
        for r in connected_components(df, cfg).collect()
    }


@st.composite
def _graphs(draw):
    """Small edge lists with duplicate and reversed edges, self-pairs,
    self-pair-only nodes and a chain of up to 30 edges."""
    node = st.sampled_from([f"u{i:02d}" for i in range(12)])
    edges = draw(st.lists(st.tuples(node, node), max_size=20))
    edges += [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(draw(st.integers(0, 30)))]
    edges += [(f"s{i}", f"s{i}") for i in range(draw(st.integers(0, 3)))]
    if edges:
        again = draw(st.lists(st.sampled_from(edges), max_size=8))
        edges += again + [(b, a) for a, b in again]
    return draw(st.permutations(edges))


_HAND_GRAPH = [
    # chain of 5
    ("c1", "c2"), ("c2", "c3"), ("c3", "c4"), ("c4", "c5"),
    # clique of 4
    ("k1", "k2"), ("k1", "k3"), ("k1", "k4"), ("k2", "k3"), ("k3", "k4"),
    # star
    ("s0", "s1"), ("s0", "s2"), ("s0", "s3"),
    # pair + self edge
    ("p1", "p2"), ("p1", "p1"),
]


def _expected_roots(edges):
    """unit_id -> minimum member of its component, by plain set merging."""
    comps: list[set[str]] = []
    for a, b in edges:
        hit = [c for c in comps if a in c or b in c]
        comps = [c for c in comps if all(c is not h for h in hit)]
        comps.append(set().union({a, b}, *hit))
    return {u: min(c) for c in comps for u in c}


@settings(max_examples=10, deadline=None, derandomize=True, database=None)
@example(edges=_HAND_GRAPH)
@given(edges=_graphs())
def test_distributed_loop_matches_driver_union_find(spark, edges):
    """Force the iterative min-label DataFrame loop (small_graph_edges=0)
    and check it assigns every unit the same cluster_id and cluster_root
    as the driver union-find — the billion-edge path must agree with the
    exact small path — and that the roots match plain set merging. A
    chain of n edges needs n label rounds, hence max_iterations above the
    longest drawn chain."""
    driver = _membership(spark, edges, ClusterConfig())
    distributed = _membership(
        spark, edges, ClusterConfig(small_graph_edges=0, max_iterations=35)
    )
    assert driver == distributed
    assert {u: root for u, (_, root) in driver.items()} == _expected_roots(edges)


def test_over_cap_graph_fetches_once(spark, monkeypatch):
    """A graph with more distinct pairs than small_graph_edges pays one
    capped pair fetch, then runs the distributed loop — no second driver
    fetch — and matches the driver route's membership."""
    edges = [("a", "b"), ("b", "c"), ("x", "y"), ("y", "z"), ("p", "p")]
    expected = _membership(spark, edges, ClusterConfig())

    df_type = type(spark.createDataFrame([("a", "b")], "unit_a string, unit_b string"))
    to_pandas = df_type.toPandas
    calls = []

    def counting_to_pandas(self, *args, **kwargs):
        calls.append(1)
        return to_pandas(self, *args, **kwargs)

    monkeypatch.setattr(df_type, "toPandas", counting_to_pandas)
    over_cap = _membership(spark, edges, ClusterConfig(small_graph_edges=3))
    assert len(calls) == 1
    assert over_cap == expected


def test_filter_clusters_counts_findings(spark):
    """min-size filter counts FINDINGS per cluster (clustering.py:46-55):
    cluster with 1 finding dropped at min_size=2 even with 2 members."""
    from sparkclone.cluster import attach_clusters, connected_components, filter_clusters

    findings = spark.createDataFrame(
        [("a", "b"), ("x", "y"), ("y", "z"), ("x", "z")], ["unit_a", "unit_b"]
    )
    membership = connected_components(findings, ClusterConfig())
    fc = attach_clusters(findings, membership)
    kept = filter_clusters(fc, 2).collect()
    units = {r["unit_a"] for r in kept} | {r["unit_b"] for r in kept}
    assert units == {"x", "y", "z"}
