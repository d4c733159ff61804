"""Iterative clustering over embedding columns (Lloyd's k-means, cosine).

The genuinely-iterative operator class: each round is a full DataFrame
pass (assign → element-wise mean), driver-side loop only over ITERATIONS
(a handful), never over rows.  Centroid recomputation is a posexplode +
two-level aggregation — scales as one shuffle keyed by (centroid, dim) per
iteration.

Not SQL-oracle-expressible (iteration count changes the fixpoint), so the
workload entry is a rows-only check; the pytest asserts invariants
(partition of the collection, nonempty clusters, improving inertia).
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import as_double_array, ivf_assign


def recompute_centroids(
    collection: DataFrame, assignment: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Element-wise mean per cluster: (centroid_id, embedding)."""
    joined = collection.join(assignment, id_col).select(
        "centroid_id", F.posexplode(as_double_array(F.col(vec_col))).alias("pos", "x")
    )
    dim_means = joined.groupBy("centroid_id", "pos").agg(F.avg("x").alias("m"))
    return (
        dim_means.groupBy("centroid_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("m")))
            ).alias("pairs")
        )
        .select(
            "centroid_id",
            F.transform(F.col("pairs"), lambda p: p.getField("m")).alias(vec_col),
        )
    )


def kmeans(
    collection: DataFrame,
    k: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Tuple[DataFrame, DataFrame]:
    """Cosine k-means seeded by the first k vectors (deterministic).

    Returns (assignment, centroids).  Each iteration materializes the small
    centroid table (k rows) on the driver via the broadcast in ivf_assign —
    the collection itself is never collected.
    """
    centroids = collection.filter(F.col(id_col) < k).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col)
    )
    assignment = None
    for _ in range(iterations):
        assignment = ivf_assign(collection, centroids, id_col, vec_col)
        centroids = recompute_centroids(collection, assignment, id_col, vec_col)
    return assignment, centroids


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components by iterative min-label propagation (hash-min).

    Returns (node, component) where component is the minimum node id
    reachable from the node.  Each iteration: every node takes the min of
    its own label and its neighbors' labels — converges in
    graph-diameter rounds, with an early stop when no label changes.
    Near-duplicate graphs (the intended input: dedup candidate pairs)
    have tiny diameters, so this typically runs 2-4 rounds.

    Scale notes: each round is one shuffle keyed by node id (the
    groupBy-min), plus the convergence count.  localCheckpoint truncates
    the lineage every round — without it the plan doubles per iteration
    and the optimizer re-derives the whole history each pass.  For
    graphs with huge diameters (paths), switch to large-star/small-star
    (Kiveris et al.), which converges in O(log n) rounds; near-dup
    clustering never needs that.
    """
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    ).localCheckpoint(eager=False)
    # materialize the edge list once — upstream edge producers (e.g. a
    # similarity join) are expensive, and the loop re-reads bidir every round.
    # r14 (guide §2.1): symmetrize by exploding a 2-struct array instead of
    # a 2-branch union — the union plan embedded the (un-checkpointed)
    # edge-producer subtree TWICE, so the similarity join's verify stage ran
    # twice during this eager materialization; the explode emits the same
    # (a,b)+(b,a) multiset from one pass
    bidir = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
                    ),
                    F.struct(
                        F.col(dst_col).alias("a"), F.col(src_col).alias("b")
                    ),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .localCheckpoint(eager=True)
    )
    # labels only ever decrease (min-propagation), so the label-sum strictly
    # decreases iff any label changed — convergence is one cheap aggregate
    # per round instead of a join-and-count against the previous labels.
    # decimal(38,0) keeps the sum exact at any node-count × id magnitude.
    def label_sum(lbl: DataFrame):
        return lbl.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]

    prev_sum = label_sum(labels)
    for _ in range(max_iterations):
        nbr_min = (
            bidir.join(labels, bidir.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_min"))
        )
        labels = (
            labels.join(nbr_min, labels.node == nbr_min.a, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        cur_sum = label_sum(labels)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select("node", F.col("label").alias("component"))
