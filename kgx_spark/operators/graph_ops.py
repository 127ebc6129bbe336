"""Whole-graph rewrite operations.

Reference: kgx/graph_operations/__init__.py
- remap_node_identifier: 18-94
- remap_node_property: 97-128 / remap_edge_property: 131-161
- fold_predicate: 164-196 / unfold_node_property: 199-235
- remove_singleton_nodes: 238-258

Each is a pure (nodes, edges) → (nodes, edges) function. The reference
mutates a networkx graph in place; here every op is 0–2 joins, all of which
Catalyst can broadcast when the mapping side is small (remap maps are
dimension-sized; fold/unfold touch one predicate's edges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgx_spark.functions.keys import deterministic_edge_id
from kgx_spark.schema import CORE_NODE_PROPERTIES


def remap_node_identifier(
    nodes: DataFrame,
    edges: DataFrame,
    category: str,
    alternative_property: str,
    prefix: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Replace node ids with the value of another property; rewrite edge
    endpoints (graph_operations/__init__.py:18-94).

    With ``prefix``, list-valued alternative properties pick the first value
    matching the prefix (``__init__.py:45-60``).
    """
    alt_type = dict(nodes.dtypes).get(alternative_property)
    alt = F.col(alternative_property)
    if alt_type and alt_type.startswith("array"):
        if prefix:
            alt = F.get(F.filter(alt, lambda x: x.startswith(prefix + ":")), 0)
        else:
            alt = F.get(alt, 0)
    elif prefix:
        alt = F.when(alt.startswith(prefix + ":"), alt)

    in_category = F.array_contains(F.col("category"), category)
    new_id = F.when(in_category & alt.isNotNull(), alt).otherwise(F.col("id"))
    mapping = (
        nodes.select(F.col("id").alias("_old"), new_id.alias("_new"))
        .where(F.col("_old") != F.col("_new"))
    )
    out_nodes = nodes.withColumn("id", new_id)

    # two joins re-point edge endpoints (reference relabels then rewrites
    # each edge — __init__.py:66-90). The old→new map can span every node of
    # a category, so it is not hinted: the planner broadcasts it from its
    # size statistics (and AQE from runtime ones) only when it is small.
    out_edges = (
        edges.join(mapping.withColumnRenamed("_old", "subject").withColumnRenamed("_new", "_new_s"),
                   on="subject", how="left")
        .join(mapping.withColumnRenamed("_old", "object").withColumnRenamed("_new", "_new_o"),
              on="object", how="left")
        .withColumn("subject", F.coalesce(F.col("_new_s"), F.col("subject")))
        .withColumn("object", F.coalesce(F.col("_new_o"), F.col("object")))
    )
    if "id" in out_edges.columns:
        # regenerate the key ONLY for edges whose endpoints actually moved —
        # the reference rewrites per relabeled edge (__init__.py:75-92);
        # stamping every edge would clobber pre-existing ids (round-1 advice).
        touched = F.col("_new_s").isNotNull() | F.col("_new_o").isNotNull()
        out_edges = out_edges.withColumn(
            "id",
            F.when(
                touched,
                deterministic_edge_id(F.col("subject"), F.col("predicate"), F.col("object")),
            ).otherwise(F.col("id")),
        )
    return out_nodes, out_edges.drop("_new_s", "_new_o")


def remap_node_property(
    nodes: DataFrame, category: str, old_property: str, new_property: str
) -> DataFrame:
    """Copy new_property into old_property for nodes of a category
    (__init__.py:97-128). Core properties are protected."""
    if old_property in CORE_NODE_PROPERTIES:
        raise ValueError(f"Cannot remap core property {old_property!r}")
    hit = F.array_contains(F.col("category"), category) & F.col(new_property).isNotNull()
    return nodes.withColumn(
        old_property, F.when(hit, F.col(new_property)).otherwise(F.col(old_property))
    )


def remap_edge_property(
    edges: DataFrame, edge_predicate: str, old_property: str, new_property: str
) -> DataFrame:
    """Same for edges filtered by predicate (__init__.py:131-161)."""
    if old_property in ("subject", "predicate", "object"):
        raise ValueError(f"Cannot remap core property {old_property!r}")
    hit = (F.col("predicate") == edge_predicate) & F.col(new_property).isNotNull()
    return edges.withColumn(
        old_property, F.when(hit, F.col(new_property)).otherwise(F.col(old_property))
    )


def fold_predicate(
    nodes: DataFrame, edges: DataFrame, predicate: str, remove_prefix: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Edges with the predicate become a node property `p = object` on the
    subject; those edges are removed (__init__.py:164-196)."""
    prop = predicate.split(":", 1)[1] if remove_prefix and ":" in predicate else predicate
    folded = (
        edges.where(F.col("predicate") == predicate)
        .groupBy(F.col("subject").alias("id"))
        .agg(F.min("object").alias(prop))  # deterministic if multiple
    )
    out_nodes = nodes.join(folded, on="id", how="left")
    out_edges = edges.where(F.col("predicate") != predicate)
    return out_nodes, out_edges


def unfold_node_property(
    nodes: DataFrame, edges: DataFrame, node_property: str, prefix: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """Inverse of fold: node property becomes edges `(n, prefix:prop, value)`;
    the property is dropped (__init__.py:199-235)."""
    predicate = f"{prefix}:{node_property}" if prefix else node_property
    new_edges = (
        nodes.where(F.col(node_property).isNotNull())
        .select(
            F.col("id").alias("subject"),
            F.lit(predicate).alias("predicate"),
            F.col(node_property).cast("string").alias("object"),
        )
    )
    new_edges = new_edges.withColumn(
        "id", deterministic_edge_id(F.col("subject"), F.col("predicate"), F.col("object"))
    )
    out_edges = edges.unionByName(new_edges, allowMissingColumns=True)
    return nodes.drop(node_property), out_edges


def endpoint_ids(edges: DataFrame) -> DataFrame:
    """Distinct node ids referenced by any edge endpoint."""
    return (
        edges.select(F.explode(F.array("subject", "object")).alias("id")).distinct()
    )


def remove_singleton_nodes(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Drop degree-0 nodes (__init__.py:238-258) — one semi-join against the
    distinct endpoint set (map-side combinable distinct, then broadcast-able)."""
    return nodes.join(endpoint_ids(edges), on="id", how="left_semi")


def node_degree(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Per-node (in_degree, out_degree, degree) — BaseGraph.degree analogue
    (kgx/graph/base_graph.py:404)."""
    outd = edges.groupBy(F.col("subject").alias("id")).agg(F.count("*").alias("out_degree"))
    ind = edges.groupBy(F.col("object").alias("id")).agg(F.count("*").alias("in_degree"))
    return (
        nodes.select("id")
        .join(outd, "id", "left")
        .join(ind, "id", "left")
        .select(
            "id",
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            (F.coalesce("in_degree", F.lit(0)) + F.coalesce("out_degree", F.lit(0))).alias("degree"),
        )
    )
