"""Mirror of the reference's merge semantics assertions
(/root/reference/tests/unit/test_graph_merge.py:115-156), translated to the
DataFrame merge kernel: same three input graphs, same expected counts and
property-union outcomes (6 nodes / 6 edges; provided_by union {Graph 1,
Graph 2}; non-conflicting scalars fill from whichever graph has them).

Differences by design (documented in operators/merge.py): our result is
order-free — list unions are sorted-distinct and scalar firsts are
by-input-ordinal — where the reference depends on graph insertion order.
"""

import pyspark.sql.functions as F

from kgx_spark.operators.merge import merge_edges, merge_nodes


def _graphs(spark):
    g1_nodes = spark.createDataFrame(
        [
            ("A", "Node A", ["biolink:NamedThing"], None),
            ("B", "Node B", ["biolink:NamedThing"], None),
            ("C", "Node C", ["biolink:NamedThing"], None),
        ],
        "id string, name string, category array<string>, description string",
    )
    g1_edges = spark.createDataFrame(
        [
            ("C", "biolink:subclass_of", "B", "rdfs:subClassOf", None),
            ("B", "biolink:subclass_of", "A", "rdfs:subClassOf", ["Graph 1"]),
        ],
        "subject string, predicate string, object string, relation string, provided_by array<string>",
    )
    g2_nodes = spark.createDataFrame(
        [
            ("A", "Node A", ["biolink:NamedThing"], "Node A in Graph 2"),
            ("B", "Node B", ["biolink:NamedThing"], "Node B in Graph 2"),
            ("C", "Node C", ["biolink:NamedThing"], "Node C in Graph 2"),
            ("D", "Node D", ["biolink:NamedThing"], "Node D in Graph 2"),
            ("E", "Node E", ["biolink:NamedThing"], "Node E in Graph 2"),
        ],
        "id string, name string, category array<string>, description string",
    )
    g2_edges = spark.createDataFrame(
        [
            ("B", "biolink:subclass_of", "A", "rdfs:subClassOf", ["Graph 2"]),
            ("B", "biolink:related_to", "A", "biolink:related_to", None),
            ("D", "biolink:related_to", "A", "biolink:related_to", None),
            ("E", "biolink:related_to", "A", "biolink:related_to", None),
        ],
        "subject string, predicate string, object string, relation string, provided_by array<string>",
    )
    g3_nodes = spark.createDataFrame(
        [], "id string, name string, category array<string>, description string"
    )
    g3_edges = spark.createDataFrame(
        [("F", "biolink:same_as", "E", "OWL:same_as", None)],
        "subject string, predicate string, object string, relation string, provided_by array<string>",
    )
    return (g1_nodes, g1_edges), (g2_nodes, g2_edges), (g3_nodes, g3_edges)


def _endpoint_nodes(edges):
    return (
        edges.select(F.col("subject").alias("id"))
        .unionByName(edges.select(F.col("object").alias("id")))
        .distinct()
        .withColumn("name", F.lit(None).cast("string"))
        .withColumn("category", F.lit(None).cast("array<string>"))
        .withColumn("description", F.lit(None).cast("string"))
    )


def test_merge_all_graphs_counts_and_unions(spark):
    (n1, e1), (n2, e2), (n3, e3) = _graphs(spark)
    # graph 3 contributes nodes only via its edge endpoints (the reference's
    # add_edge implicitly creates F and E)
    nodes = merge_nodes([n1, n2, _endpoint_nodes(e3)], preserve=True)
    edges = merge_edges([e1, e2, e3], preserve=True)

    # test_graph_merge.py:121-123 — 6 nodes, 6 distinct edge keys
    assert nodes.count() == 6
    assert edges.count() == 6

    # :125-127 — A keeps its name; the description fills from Graph 2
    a = nodes.where(F.col("id") == "A").first()
    assert a["name"] == "Node A"
    assert a["description"] == "Node A in Graph 2"

    # :129-134 — two B→A edges (different predicates); the subclass_of one
    # carries the provided_by union of both graphs
    ba = edges.where((F.col("subject") == "B") & (F.col("object") == "A"))
    assert ba.count() == 2
    sub = ba.where(F.col("predicate") == "biolink:subclass_of").first()
    assert sorted(sub["provided_by"]) == ["Graph 1", "Graph 2"]


def test_merge_preserve_false_overwrites_scalars(spark):
    """preserve=False: conflicting single-valued props resolve to the
    INCOMING (later-merged) graph's value, exactly the reference's
    prepare_data_dict overwrite (kgx_utils.py:642-668 else-branch)."""
    a = spark.createDataFrame(
        [("X", "first", ["biolink:NamedThing"], None)],
        "id string, name string, category array<string>, p1 string",
    ).withColumn("p1", F.lit("v1"))
    b = spark.createDataFrame(
        [("X", "first", ["biolink:NamedThing"], "v2")],
        "id string, name string, category array<string>, p1 string",
    )
    merged_preserve = merge_nodes([a, b], preserve=True).first()
    assert merged_preserve["p1"] == "v1|v2"  # promoted to '|'-joined list

    merged_overwrite = merge_nodes([a, b], preserve=False).first()
    assert merged_overwrite["p1"] == "v2"  # incoming graph wins


def test_merge_counts_match_reference_totals(spark):
    """test_graph_merge.py merge counts: 3 nodes merged (A, B, C appear in
    two graphs), 1 edge merged (B-subclass_of-A)."""
    (n1, e1), (n2, e2), (n3, e3) = _graphs(spark)
    all_nodes = n1.unionByName(n2).unionByName(_endpoint_nodes(e3))
    node_merge_count = all_nodes.count() - merge_nodes([n1, n2, _endpoint_nodes(e3)]).count()
    assert node_merge_count == 4  # A, B, C (g1∩g2) + E (g2∩g3-endpoints)

    all_edges = e1.unionByName(e2).unionByName(e3)
    edge_merge_count = all_edges.count() - merge_edges([e1, e2, e3]).count()
    assert edge_merge_count == 1  # B-subclass_of-A appears in g1 and g2


def test_merge_edges_by_explicit_key(spark):
    """test_graph_merge.py:19-33,115-136 — the reference keys edges by
    (subject, object, edge_key), NOT by predicate: g1's B→A edge carries
    edge_label 'biolink:sub_class_of' (sic) under key
    'B-biolink:subclass_of-A' and still merges with g2's
    'biolink:subclass_of' edge under the same key. With key_col the kernel
    reproduces that: 6 merged edges, provided_by union on the shared key,
    predicate resolved first-by-ordinal (largest graph first → g2's)."""
    from kgx_spark.operators.merge import merge_edges

    schema = (
        "subject string, predicate string, object string, id string,"
        " relation string, provided_by array<string>"
    )
    g1 = spark.createDataFrame(
        [
            ("C", "biolink:sub_class_of", "B", "C-biolink:subclass_of-B", "rdfs:subClassOf", None),
            ("B", "biolink:sub_class_of", "A", "B-biolink:subclass_of-A", "rdfs:subClassOf", ["Graph 1"]),
        ],
        schema,
    )
    g2 = spark.createDataFrame(
        [
            ("B", "biolink:subclass_of", "A", "B-biolink:subclass_of-A", "rdfs:subClassOf", ["Graph 2"]),
            ("B", "biolink:related_to", "A", "B-biolink:related_to-A", "biolink:related_to", None),
            ("D", "biolink:related_to", "A", "D-biolink:related_to-A", "biolink:related_to", None),
            ("E", "biolink:related_to", "A", "E-biolink:related_to-A", "biolink:related_to", None),
        ],
        schema,
    )
    g3 = spark.createDataFrame(
        [("F", "biolink:same_as", "E", "F-biolink:same_as-E", "OWL:same_as", None)],
        schema,
    )
    # the reference merge_all_graphs' order, largest graph first: g2 (4
    # edges), then g1, g3
    merged = merge_edges([g2, g1, g3], key_col="id")
    assert merged.count() == 6

    ba = merged.where((F.col("subject") == "B") & (F.col("object") == "A"))
    assert ba.count() == 2
    sub = ba.where(F.col("id") == "B-biolink:subclass_of-A").first()
    assert sorted(sub["provided_by"]) == ["Graph 1", "Graph 2"]
    assert sub["predicate"] == "biolink:subclass_of"  # first non-null by ordinal
