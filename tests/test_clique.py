"""Clique merge / connected components (reference tests/unit/test_clique_merge.py)."""

import pyspark.sql.functions as F
import pytest

from kgx_spark.operators.clique import (
    build_same_as_pairs,
    clique_merge,
    connected_components,
    elect_leaders,
)


import pytest as _pytest


@_pytest.mark.parametrize("driver_threshold", [2_000_000, 0], ids=["union-find", "hash-min"])
def test_connected_components_chain(spark, driver_threshold):
    # multi-hop chain a-b-c-d plus disjoint pair x-y — both physical paths
    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("c", "d"), ("x", "y")], "src string, dst string"
    )
    labels, iters = connected_components(pairs, driver_threshold=driver_threshold)
    comp = {r["id"]: r["component"] for r in labels.collect()}
    assert comp["a"] == comp["b"] == comp["c"] == comp["d"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert iters <= 5


def test_connected_components_large_random(spark):
    # ring of 64 → single component; forces the distributed hash-min path
    # and its multi-iteration convergence
    n = 64
    pairs = spark.range(n).selectExpr(
        "format_string('N:%03d', id) as src",
        f"format_string('N:%03d', (id + 1) % {n}) as dst",
    )
    labels, iters = connected_components(pairs, driver_threshold=0)
    assert labels.select("component").distinct().count() == 1
    assert labels.count() == n
    assert iters > 1


def test_cc_paths_agree(spark):
    # both strategies produce identical labelings on a random-ish graph
    pairs = spark.range(200).selectExpr(
        "format_string('V:%03d', id) as src",
        "format_string('V:%03d', (id * 7) % 150) as dst",
    ).where("src != dst")
    a, _ = connected_components(pairs, driver_threshold=1_000_000)
    b, _ = connected_components(pairs, driver_threshold=0)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_cc_unknown_plan_size_takes_distributed_path(spark, monkeypatch):
    # no size estimate must not be read as "small": the driver collect is
    # skipped and label propagation runs (iterations > 0), same labels
    from kgx_spark.operators import clique

    monkeypatch.setattr(clique, "_plan_size_bytes", lambda df: None)
    rows = [("b", "a"), ("b", "c"), ("c", "d"), ("x", "y")]
    pairs = spark.createDataFrame(rows, "src string, dst string")
    labels, iters = connected_components(pairs)
    assert iters > 0
    got = {r["id"]: r["component"] for r in labels.collect()}
    assert got == dict(clique._driver_union_find(rows))


@pytest.fixture()
def clique_graph(spark):
    nodes = spark.createDataFrame(
        [
            ("HGNC:1", "gene1 hgnc", ["biolink:Gene"], ["NCBIGene:1"]),
            ("NCBIGene:1", "gene1 ncbi", ["biolink:Gene"], None),
            ("ENSEMBL:1", "gene1 ens", ["biolink:Gene"], None),
            ("MONDO:9", "disease", ["biolink:Disease"], None),
        ],
        "id string, name string, category array<string>, same_as array<string>",
    )
    edges = spark.createDataFrame(
        [
            ("NCBIGene:1", "biolink:same_as", "ENSEMBL:1", None),
            ("ENSEMBL:1", "biolink:related_to", "MONDO:9", None),
            ("MONDO:9", "biolink:affected_by", "NCBIGene:1", None),
        ],
        "subject string, predicate string, object string, relation string",
    )
    return nodes, edges


def test_build_pairs_includes_node_prop_and_edges(spark, clique_graph):
    nodes, edges = clique_graph
    pairs = {(r["src"], r["dst"]) for r in build_same_as_pairs(nodes, edges).collect()}
    assert ("HGNC:1", "NCBIGene:1") in pairs  # from same_as node property
    assert ("NCBIGene:1", "ENSEMBL:1") in pairs  # from same_as edge


def test_elect_leaders_prefix_priority(spark, clique_graph):
    nodes, edges = clique_graph
    pairs = build_same_as_pairs(nodes, edges)
    labels, _ = connected_components(pairs)
    leaders = elect_leaders(labels, nodes, prefix_priority=["NCBIGene", "HGNC", "ENSEMBL"])
    l = {r["id"]: r["leader"] for r in leaders.collect()}
    assert set(l.values()) == {"NCBIGene:1"}


def test_clique_merge_end_to_end(spark, clique_graph):
    nodes, edges = clique_graph
    n2, e2, mapping = clique_merge(nodes, edges, prefix_priority=["HGNC", "NCBIGene", "ENSEMBL"])
    ids = {r["id"] for r in n2.collect()}
    # leader HGNC:1 survives; members folded in
    assert ids == {"HGNC:1", "MONDO:9"}
    leader = n2.where(F.col("id") == "HGNC:1").first()
    assert leader["same_as"] == ["ENSEMBL:1", "NCBIGene:1"]
    # edges re-pointed to leader, same_as intra-clique edge dropped
    erows = e2.collect()
    assert all(r["predicate"] != "biolink:same_as" for r in erows)
    spo = {(r["subject"], r["predicate"], r["object"]) for r in erows}
    assert ("HGNC:1", "biolink:related_to", "MONDO:9") in spo
    assert ("MONDO:9", "biolink:affected_by", "HGNC:1") in spo
    # provenance stamps (clique_merge.py:303-347)
    stamped = e2.where(F.col("_original_subject").isNotNull()).collect()
    assert any(r["_original_subject"] == "ENSEMBL:1" for r in stamped)
    # mapping covers both non-leader members
    m = {r["id"]: r["leader"] for r in mapping.collect()}
    assert m == {"NCBIGene:1": "HGNC:1", "ENSEMBL:1": "HGNC:1"}


def test_clique_merge_alphabetical_fallback(spark, clique_graph):
    nodes, edges = clique_graph
    n2, _, _ = clique_merge(nodes, edges)  # no priority → alphabetical prefix
    ids = {r["id"] for r in n2.collect()}
    assert "ENSEMBL:1" in ids  # 'ENSEMBL' < 'HGNC' < 'NCBIGene'


def test_strict_mode_eviction_semantics(spark):
    """Reference eviction semantics (clique_merge.py:443-472 + 185-200):
    an UNKNOWN category is only annotated (`invalid_categories`) — never
    evicts; a node with CONFLICTING known categories (Gene + Disease)
    evicts under strict; a node whose anchor is DISJOINT from the clique
    category evicts regardless of strict."""
    from kgx_spark.operators.clique import clique_merge

    nodes = spark.createDataFrame(
        [
            ("HGNC:1", ["biolink:Gene"], ["NCBIGene:1"]),
            ("NCBIGene:1", ["biolink:Gene"], None),
            ("BAD:1", ["biolink:Zebra"], ["HGNC:1"]),  # unknown class — annotated only
            ("CONF:1", ["biolink:Gene", "biolink:Disease"], ["HGNC:1"]),  # conflicting
            ("DISJ:1", ["biolink:Disease"], ["HGNC:1"]),  # disjoint anchor
        ],
        "id string, category array<string>, same_as array<string>",
    )
    edges = spark.createDataFrame([], "subject string, predicate string, object string")
    n, _, _ = clique_merge(nodes, edges, prefix_priority=["HGNC"], strict=True)
    ids = {r["id"] for r in n.collect()}
    # BAD:1 merges (unknown cat borrows neighbor anchor); CONF:1 evicted
    # (strict invalid-biolink); DISJ:1 evicted (anchor outside clique closure)
    assert ids == {"HGNC:1", "CONF:1", "DISJ:1"}
    n2, _, _ = clique_merge(nodes, edges, prefix_priority=["HGNC"], strict=False)
    # lenient keeps CONF:1 (anchor Gene fits); DISJ:1 still evicted
    assert {r["id"] for r in n2.collect()} == {"HGNC:1", "DISJ:1"}
