"""Distributed connected components over candidate-pair edges.

Near-duplicate detection produces *pairs*; corpus dedup needs *clusters*
(keep one doc per component). This is the canonical iterative DataFrame
algorithm: min-label propagation to a fixpoint —

    label(v) <- min(label(v), min over neighbors u of label(u))

Each round is one join + one aggregation (both shuffle on the node key);
rounds needed = graph diameter (near-dup clusters are tiny, so 2-4
rounds in practice). The loop is driver-side but each round is fully
distributed; convergence is checked with a count of changed labels.
AQE handles the (skewed) hub components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Safety bound on label-propagation rounds; pointer jumping converges in
# O(log diameter) rounds, far below it on every registered query.
MAX_ITERATIONS = 20


def connected_components(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """(id_a, id_b) edges -> (node, component) where component is the
    minimum node id reachable from ``node``."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    # materialize once: the edge list is referenced every iteration, and
    # upstream pair generation (e.g. a shingle self-join) is far more
    # expensive than the component loop itself
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )

    for _ in range(MAX_ITERATIONS):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        relaxed = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                ).alias("rc"),
                F.col("component").alias("old_component"),
            )
        )
        # pointer-jump (path-doubling, the redirect_chain_resolution
        # primitive): additionally shortcut every label to its label's
        # label, so label paths halve each round and convergence is
        # O(log diameter) rounds instead of O(diameter). The fixpoint —
        # min reachable id — is unchanged; only the round count drops.
        l2 = relaxed.select(
            F.col("node").alias("c_node"), F.col("rc").alias("c_component")
        )
        updated = (
            relaxed.join(l2, relaxed.rc == l2.c_node, "left")
            .select(
                "node",
                F.least(
                    F.col("rc"), F.coalesce(F.col("c_component"), F.col("rc"))
                ).alias("new_component"),
                "old_component",
            )
        )
        # checkpoint BEFORE the convergence count: the count and the
        # next round then both read the materialized result instead of
        # re-executing the round's join chain twice
        updated = updated.localCheckpoint(eager=True)
        changed = updated.filter(F.col("new_component") != F.col("old_component")).count()
        labels = updated.select("node", F.col("new_component").alias("component"))
        if changed == 0:
            break

    return labels

