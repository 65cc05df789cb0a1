"""Connected components via iterative joins (G2).

The reference computes component counts with networkx
(semantic_analyzer.py:177); at scale we run min-label propagation as a
loop of DataFrame joins (the GraphFrames-style large-star/small-star
family; see Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14 — public algorithm):

    label(v) <- min(label(v), min over neighbors u of label(u))

until a fixed point. Each iteration is one shuffle on hash(node);
``localCheckpoint`` every ``checkpoint_every`` iterations truncates
the lineage so plans stay bounded. Deterministic: labels are min node
ids under string ordering.

Concept alias canonicalization does not need it: its alias graph links
each text to one normalized key, so every component is a star and a
groupBy on the key (``concepts.canonical_merge``) is the whole
computation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
    checkpoint_every: int = 3,
    return_stats: bool = False,
) -> DataFrame | tuple[DataFrame, dict]:
    """-> (node, component) where component = min node id in the
    component (string min). With ``return_stats``, also returns
    {"iterations": n, "converged": bool} — convergence takes
    O(graph diameter) rounds, so a long chain needs a budget of about
    its length."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    sym = sym.persist()
    labels = labels.persist()
    converged = False
    iterations = 0
    for i in range(max_iterations):
        iterations = i + 1
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(sym["a"].alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
            )
        )
        if (i + 1) % checkpoint_every == 0:
            new_labels = new_labels.localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        old = labels
        labels = new_labels.persist()
        old.unpersist()
        if changed == 0:
            converged = True
            break
    sym.unpersist()
    if return_stats:
        return labels, {"iterations": iterations, "converged": converged}
    return labels

