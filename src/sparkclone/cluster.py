"""Connected components over the finding edge DataFrame.

Graphs with at most ``ClusterConfig.small_graph_edges`` distinct edges run
the reference's in-memory path-compressed union-find
(``similarity/clustering.py:8-43``) in the driver. Bigger graphs run
min-label propagation over a DataFrame edge list: each round every node
adopts the minimum label in its closed neighborhood; convergence when no
label changes. Clone graphs are unions of near-cliques/stars (tiny
diameter), so rounds stay in the low single digits; ``max_iterations``
bounds pathological chains and ``localCheckpoint`` truncates lineage each
round so plans don't grow.

Cluster ids are densified 1..K ordered by each cluster's minimum member
identity — deterministic, and equivalent to the reference's first-seen
numbering up to relabeling (the acceptance metric is pair-set based,
``benchmark/run_benchmark.py:659-678``).

Also provides ``filter_clusters`` semantics (``clustering.py:46-55``):
the min-size filter counts *findings* per cluster, not members.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparkclone.config import ClusterConfig


def connected_components(
    edges: DataFrame,
    cfg: ClusterConfig,
    src: str = "unit_a",
    dst: str = "unit_b",
    dense_ids: bool = True,
) -> DataFrame:
    """edges(src, dst) -> (unit_id, cluster_id, cluster_root).

    Two routes behind one cap (``cfg.small_graph_edges``): a driver
    union-find over the fetched string pairs, else the distributed
    min-label loop. On the distributed route nodes are hashed to int64
    with xxhash64 for compact shuffles (collision odds ~n^2/2^64 —
    negligible below ~10^8 finding endpoints, and any collision only ever
    merges clusters, never splits).
    """
    # Driver route: fetch the distinct (src, dst) string pairs — self-pairs
    # included, they carry otherwise-singleton nodes — in ONE capped Arrow
    # action. If at most small_graph_edges pairs come back, the whole graph
    # is in hand: run the reference's path-compressed union-find over the
    # strings and upload the membership in one createDataFrame. A full
    # cap+1 fetch means the graph is too big for the driver, and the
    # distributed loop below runs instead; small_graph_edges=0 skips the
    # fetch and forces that loop. Arrow, not collect(): Python Rows carry
    # ~10x the raw bytes.
    if cfg.small_graph_edges > 0:
        pairs_pdf = (
            edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .dropDuplicates()
            .limit(cfg.small_graph_edges + 1)
            .toPandas()
        )
        if len(pairs_pdf) <= cfg.small_graph_edges:
            return _driver_cc_strings(edges.sparkSession, pairs_pdf, dense_ids)

    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.xxhash64("a").alias("u"), F.xxhash64("b").alias("v"))
        .dropDuplicates()
        .persist()
    )
    nodes = (
        edges.select(F.col(src).alias("unit_id"))
        .unionByName(edges.select(F.col(dst).alias("unit_id")))
        .dropDuplicates()
        .withColumn("node", F.xxhash64("unit_id"))
    )
    # symmetric edge list (u -> v both directions)
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).dropDuplicates()
    sym = sym.localCheckpoint(eager=True)
    e.unpersist()  # sym's eager localCheckpoint cut the lineage to e

    labels = nodes.select("node", F.col("node").alias("label")).localCheckpoint(eager=True)
    for _ in range(cfg.max_iterations):
        # min label over closed neighborhood
        neigh = (
            sym.join(labels, sym["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        updated = (
            labels.join(neigh, labels["node"] == neigh["u"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("new_label"),
                F.col("label"),
            )
            .localCheckpoint(eager=True)  # one materialization per round
        )
        changed = updated.where(F.col("new_label") != F.col("label")).count()
        labels = updated.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            break

    membership = nodes.join(labels, "node").select("unit_id", F.col("label"))
    return _densify(membership, dense_ids)


def _driver_cc_strings(spark, pairs_pdf, dense_ids: bool) -> DataFrame:
    """Driver route of ``connected_components`` over a fetched distinct
    (a, b) string-pair frame: path-compressed union-find (the reference's
    own algorithm, clustering.py:8-43) + dense-id / root assignment,
    uploaded back in one Arrow createDataFrame. Self-pairs register their
    node and merge nothing. cluster_id is 1..K ordered by each
    component's minimum member identity (the same ids ``_densify`` gives
    the distributed route); with dense_ids=False the same ordering is
    used as the long-typed label — labels are per-component-arbitrary by
    contract (consumers only group by them)."""
    import pandas as pd

    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.get(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return parent.get(x, x)

    nodes: set[str] = set()
    for a, b in zip(pairs_pdf["a"], pairs_pdf["b"]):
        nodes.add(a)
        nodes.add(b)
        if a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra

    node_list = sorted(nodes)
    pdf = pd.DataFrame(
        {"unit_id": node_list, "label": [find(n) for n in node_list]}
    )
    # pandas str min == Spark's UTF8String ordering for valid UTF-8
    # (byte order == code-point order)
    root_of = pdf.groupby("label")["unit_id"].min() if len(pdf) else pd.Series(dtype=object)
    order = root_of.sort_values(kind="mergesort")
    cid = {lab: i + 1 for i, lab in enumerate(order.index)}
    out = pd.DataFrame(
        {
            "unit_id": pdf["unit_id"],
            "cluster_id": pdf["label"].map(cid),
            "cluster_root": pdf["label"].map(root_of),
        }
    )
    id_type = "int" if dense_ids else "long"
    return spark.createDataFrame(
        out, f"unit_id string, cluster_id {id_type}, cluster_root string"
    )


def _densify(membership: DataFrame, dense_ids: bool) -> DataFrame:
    roots = membership.groupBy("label").agg(F.min("unit_id").alias("cluster_root"))
    if dense_ids:
        # Densify 1..K ordered by min member identity WITHOUT a global
        # single-task sort: range-partition the roots by cluster_root
        # (each task sorts only its range), rank within each partition,
        # then add per-partition offsets (one tiny collect of partition
        # counts). repartitionByRange orders ranges by partition id, so
        # offset + local rank == global rank. Distinct cluster_root per
        # label is guaranteed (components are disjoint member sets), so
        # row_number == dense_rank. For runs beyond ~2^31 clusters use
        # dense_ids=False and keep the stable 64-bit root label.
        spark = membership.sparkSession
        ranged = roots.repartitionByRange(F.col("cluster_root")).withColumn(
            "__pid", F.spark_partition_id()
        )
        w = Window.partitionBy("__pid").orderBy("cluster_root")
        # freeze the range-partition assignment (sampling-based) so the
        # counts pass and the join pass see identical __pid values
        local = ranged.withColumn("__rn", F.row_number().over(w)).localCheckpoint(
            eager=True
        )
        counts = sorted(
            (r["__pid"], r["n"])
            for r in local.groupBy("__pid").agg(F.count("*").alias("n")).collect()
        )
        offsets, acc = [], 0
        for pid, n in counts:
            offsets.append((pid, acc))
            acc += n
        if offsets:
            off_df = spark.createDataFrame(offsets, "__pid int, __off long")
            dense = (
                local.join(F.broadcast(off_df), "__pid")
                .withColumn("cluster_id", (F.col("__off") + F.col("__rn")).cast("int"))
                .drop("__pid", "__rn", "__off")
            )
        else:
            dense = local.withColumn("cluster_id", F.lit(None).cast("int")).drop(
                "__pid", "__rn"
            )
    else:
        dense = roots.withColumn("cluster_id", F.col("label"))
    return membership.join(dense, "label").select("unit_id", "cluster_id", "cluster_root")


def cluster_sizes(membership: DataFrame) -> DataFrame:
    return membership.groupBy("cluster_id").agg(
        F.count("*").alias("member_count"),
        F.min("cluster_root").alias("cluster_root"),
    )


def attach_clusters(findings: DataFrame, membership: DataFrame) -> DataFrame:
    """Stamp cluster_id on findings via side-a membership (both endpoints
    share a component by construction — clustering.py:33-40)."""
    m = membership.select(F.col("unit_id").alias("unit_a"), "cluster_id")
    return findings.join(m, "unit_a", "left")


def filter_clusters(findings_with_clusters: DataFrame, min_size: int) -> DataFrame:
    """clustering.py:46-55: keep findings whose cluster has >= min_size
    FINDINGS (not members)."""
    if min_size <= 1:
        return findings_with_clusters
    counts = findings_with_clusters.groupBy("cluster_id").agg(
        F.count("*").alias("__fcount")
    )
    return (
        findings_with_clusters.join(counts, "cluster_id")
        .where(F.col("__fcount") >= F.lit(min_size))
        .drop("__fcount")
    )
