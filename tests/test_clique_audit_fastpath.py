"""The category audit runs if and only if the node frame has a ``category``
column: leaving the column out (the KG pipeline's shape) must not change
results on a homogeneous graph, and a real conflict is still evicted."""

import pyspark.sql.functions as F

from kgx_spark.operators.clique import clique_merge


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_audit_flag_result_identical(spark):
    """A category-less node frame (audit skipped) and a constant-NamedThing
    frame (audit run) give identical edges and mapping."""
    edges = spark.createDataFrame(
        [
            ("P:1", "biolink:same_as", "Q:1"),
            ("Q:1", "biolink:same_as", "R:1"),
            ("P:2", "biolink:related_to", "Q:1"),
        ],
        "subject string, predicate string, object string",
    )
    bare = (
        edges.select(F.col("subject").alias("id"))
        .unionByName(edges.select(F.col("object").alias("id")))
        .distinct()
    )
    outs = {}
    for name, nodes in (
        ("bare", bare),
        ("named_thing", bare.withColumn("category", F.array(F.lit("biolink:NamedThing")))),
    ):
        _, e, m = clique_merge(nodes, edges, prefix_priority=["P", "Q", "R"])
        outs[name] = (_sorted_rows(e), _sorted_rows(m))
    assert outs["bare"] == outs["named_thing"]
    # the clique actually merged: P:1 leads {P:1, Q:1, R:1}
    mapping = dict((r[0], r[1]) for r in outs["bare"][1])
    assert mapping == {"Q:1": "P:1", "R:1": "P:1"}


def test_audit_still_evicts_with_auto(spark):
    """A data-driven category column runs the audit: a disjoint-category
    member is evicted from its clique."""
    nodes = spark.createDataFrame(
        [
            ("P:1", ["biolink:Gene"]),
            ("Q:1", ["biolink:Gene"]),
            ("R:1", ["biolink:Disease"]),
        ],
        "id string, category array<string>",
    )
    edges = spark.createDataFrame(
        [
            ("P:1", "biolink:same_as", "Q:1"),
            ("P:1", "biolink:same_as", "R:1"),
        ],
        "subject string, predicate string, object string",
    )
    _, _, m = clique_merge(nodes, edges, prefix_priority=["P", "Q", "R"])
    # R:1 (Disease, disjoint from the Gene clique category) must not be folded
    mapping = dict((r[0], r[1]) for r in m.collect())
    assert "R:1" not in mapping
    assert mapping.get("Q:1") == "P:1"
