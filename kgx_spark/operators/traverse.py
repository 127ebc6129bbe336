"""Graph traversal: multi-hop ancestor/descendant closure.

Reference: kgx/utils/graph_utils.py:16-126 — get_parents (one hop over
out-edges filtered by relation) and get_ancestors (BFS loop).

Spark design: iterative frontier-join BFS (same pattern as hash-min CC).
Each hop is one join frontier⋈edges + one distinct; visited set accumulates;
loop ends when the frontier empties or max_hops is reached. Used for
ontology category inference; at scale prefer PRECOMPUTED closure tables
broadcast from the Biolink model (SURVEY.md §2.4) — this operator exists for
ad-hoc traversals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _subclass_of(edges: DataFrame) -> DataFrame:
    return edges.where(F.col("predicate") == "biolink:subclass_of")


def get_parents(edges: DataFrame, node_ids: DataFrame) -> DataFrame:
    """One hop: objects of subclass_of out-edges from node_ids(id)
    (graph_utils.py:16-55)."""
    return (
        _subclass_of(edges).join(node_ids.withColumnRenamed("id", "subject"), on="subject")
        .select(F.col("object").alias("id"))
        .distinct()
    )


def get_ancestors(edges: DataFrame, node_ids: DataFrame, max_hops: int = 20) -> DataFrame:
    """Transitive closure of get_parents: (id, ancestor, hops)
    (graph_utils.py:57-126). Frontier BFS with localCheckpoint per hop."""
    e = _subclass_of(edges).select("subject", "object").localCheckpoint()
    frontier = node_ids.select(F.col("id").alias("start"), F.col("id").alias("cur"))
    acc: DataFrame | None = None
    for hop in range(1, max_hops + 1):
        step = (
            frontier.join(e.withColumnRenamed("subject", "cur"), on="cur")
            .select("start", F.col("object").alias("cur"))
            .distinct()
        )
        found = step.select("start", F.col("cur").alias("ancestor"), F.lit(hop).alias("hops"))
        acc = found if acc is None else acc.unionByName(found)
        frontier = step.localCheckpoint()
        if frontier.limit(1).count() == 0:
            break
    if acc is None:
        return node_ids.sparkSession.createDataFrame([], "start string, ancestor string, hops int")
    # keep the shortest hop count per (start, ancestor)
    return acc.groupBy(F.col("start").alias("id"), "ancestor").agg(F.min("hops").alias("hops"))
