"""S5/S6 — match edges -> entity clusters via large-star / small-star.

The reference only surfaces pairwise duplicates (engine/DuplicateDetector.java:
29-156, J1-J3 in SURVEY.md §2); transitive closure over the match-edge set is
the graft's scalable generalization (north star: "resolved into entity
clusters via iterative large-star/small-star connected components over the
match-edge DataFrame").

Algorithm: Kiveris et al., "Connected Components in MapReduce and Beyond"
(SOCC'14) — the two-phase star contraction that converges in O(log^2 n)
rounds on any graph and O(log n) in practice:

- large-star: for every node u, connect every strictly-larger neighbor v > u
  to the minimum of u's neighborhood-with-self m(u). Keeps the graph's
  component structure, strictly reduces large-id edges.
- small-star: for every node v, connect every smaller neighbor u < v (and v
  itself) to the smallest of them. Contracts stars.

Each phase is ONE window pass, ``min(..) over (partition by node)``, over the
edge rows: no join, no broadcast, no collected neighbor list (a hub's window
rows spill; an array must fit in memory). The loop checkpoints each round
(``localCheckpoint``) to sever the growing lineage — without it the plan
doubles every round and the job dies at scale long before the data does.

Convergence is one aggregate over the checkpointed edges: stop once they form
a min-centred star forest, i.e. every ``dst`` is a leaf (exactly one ``src``,
and no edge's ``src``). Disjoint ``src``/``dst`` sets alone are not enough:
{a–c, b–c} passes that test but labels c twice. Exhausting
``cc_max_iterations`` raises. Node ids are conv_id strings; "min" is
lexicographic and deterministic, so labels are reproducible run-to-run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..config import DEFAULT_CONFIG, MatchConfig


def _canonical(edges: DataFrame) -> DataFrame:
    """Drop self-loops, orient src < dst, dedupe."""
    e = edges.toDF("src", "dst").where(F.col("src") != F.col("dst"))
    return e.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    ).distinct()


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star then one small-star over canonical edges (src < dst)."""
    bidir = edges.unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # large-star: (m(u), v) for every neighbor v > u; m(u) <= u < v, so canonical
    large = (
        bidir.withColumn("m", F.least("src", F.min("dst").over(Window.partitionBy("src"))))
        .where(F.col("dst") > F.col("src"))
        .select(F.col("m").alias("src"), "dst")
    )
    # small-star: v's smallest neighbor w takes v and v's other smaller neighbors
    small = large.withColumn("w", F.min("src").over(Window.partitionBy("dst")))
    return (
        small.select(F.col("w").alias("src"), F.explode(F.array("src", "dst")).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _is_star_forest(edges: DataFrame) -> bool:
    """True iff canonical edges are min-centred stars: every dst is a leaf."""
    nodes = edges.select(F.posexplode(F.array("src", "dst")).alias("is_dst", "node"))
    per_node = nodes.groupBy("node").agg(
        F.max("is_dst").alias("is_dst"), F.count(F.lit(1)).alias("degree")
    )
    return per_node.where("is_dst = 1 AND degree > 1").isEmpty()


def connected_components(
    edges: DataFrame, config: MatchConfig | None = None, checkpoint: bool = True
) -> DataFrame:
    """Edges (conv_id_a, conv_id_b) -> labels (conv_id, cluster_id).

    cluster_id is the lexicographically-smallest member of the component.
    Singleton nodes don't appear; callers union isolated records back with
    cluster_id = own conv_id (see ``assign_clusters``). Raises RuntimeError
    when ``cc_max_iterations`` rounds end short of a star forest.
    """
    cfg = config or DEFAULT_CONFIG
    e = _canonical(edges)
    if checkpoint:
        e = e.localCheckpoint()

    rounds = 0
    while not _is_star_forest(e):
        if rounds == cfg.cc_max_iterations:
            raise RuntimeError(
                f"connected components did not converge in {rounds} rounds: "
                f"{e.count()} edges are still not a star forest (cc_max_iterations)"
            )
        e = _star_round(e)
        if checkpoint:
            e = e.localCheckpoint()
        rounds += 1

    # star forest: edges are (src=component-min, dst=member), each dst once
    labels = e.select(F.col("src").alias("cluster_id"), F.col("dst").alias("conv_id"))
    roots = e.select(F.col("src").alias("cluster_id"), F.col("src").alias("conv_id")).distinct()
    return labels.unionByName(roots)


def assign_clusters(records: DataFrame, components: DataFrame) -> DataFrame:
    """All records + cluster label; isolated records form singleton clusters."""
    return records.join(components, "conv_id", "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", "conv_id")
    )


def cluster_pairs(components: DataFrame) -> DataFrame:
    """Expand cluster labels to all intra-cluster pairs (a < b) — the
    pairwise view used for F1 evaluation against the label table."""
    a = components.select("cluster_id", F.col("conv_id").alias("conv_id_a"))
    b = components.select("cluster_id", F.col("conv_id").alias("conv_id_b"))
    return (
        a.join(b, "cluster_id")
        .where(F.col("conv_id_a") < F.col("conv_id_b"))
        .select("conv_id_a", "conv_id_b")
    )
