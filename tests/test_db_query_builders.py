"""Neo4j Cypher generation and ArangoDB record-shaping parity (no servers,
no drivers — the query TEXT is the testable semantic core; the reference
shapes are kgx/source/neo_source.py:102-301,483-594,
kgx/sink/neo_sink.py:188-241, kgx/sink/arango_sink.py:296-311).

Runtime I/O is import-gated (drivers absent in this sandbox) and raises a
clear ImportError — also pinned here."""

from __future__ import annotations

import pytest

from kgx_spark.sinks.arango_sink import edge_doc, node_doc, sanitize_key
from kgx_spark.sinks.neo_sink import (
    create_constraint_query,
    generate_unwind_edge_query,
    generate_unwind_node_query,
    sanitize_category,
)
from kgx_spark.sources.neo_source import (
    build_count_query,
    build_edges_query,
    build_nodes_query,
    format_edge_filter,
    format_node_filter,
    page_plan,
)


# ------------------------------------------------------------------ Cypher


def test_nodes_query_unfiltered_paging():
    assert build_nodes_query(skip=0) == "MATCH (n) RETURN n SKIP 0"
    assert build_nodes_query(skip=100000, limit=50000) == (
        "MATCH (n) RETURN n SKIP 100000 LIMIT 50000"
    )


def test_nodes_query_category_labels_and_provenance():
    q = build_nodes_query(
        {"category": {"biolink:Gene", "biolink:Disease"}, "provided_by": {"infores:a"}},
        skip=0, limit=10,
    )
    # category → OR of label matches; provided_by → list membership
    assert "(n:`biolink:Disease` OR n:`biolink:Gene`)" in q
    assert "('infores:a' IN n.provided_by)" in q
    assert " WHERE " in q and q.endswith("RETURN n SKIP 0 LIMIT 10")


def test_edges_query_filters_all_positions():
    q = build_edges_query(
        {
            "subject_category": {"biolink:Gene"},
            "object_category": {"biolink:Disease"},
            "predicate": {"biolink:interacts_with"},
            "primary_knowledge_source": {"infores:x"},
        },
        skip=50, limit=25,
    )
    assert q.startswith("MATCH (s)-[p]->(o) WHERE ")
    assert "(s:`biolink:Gene`)" in q
    assert "(o:`biolink:Disease`)" in q
    assert "(p.predicate = 'biolink:interacts_with')" in q
    assert "('infores:x' IN p.primary_knowledge_source)" in q
    assert q.endswith("RETURN s, p, o SKIP 50 LIMIT 25")


def test_count_query_and_direction():
    assert build_count_query() == "MATCH (s)-[p]->(o) RETURN COUNT(*) AS count"
    assert build_count_query(is_directed=False).startswith("MATCH (s)-[p]-(o)")


def test_format_filters_string_vs_set():
    # plain strings take the equality branch VERBATIM, prefix included —
    # the reference's literal behavior (neo_source.py:531-533)
    assert format_node_filter({"category": "biolink:Gene"}, "category", "n", ":") == (
        "n:category = 'biolink:Gene'"
    )
    assert format_edge_filter({"predicate": {"a", "b"}}, "predicate", "p", ".") == (
        "p.predicate = 'a' OR p.predicate = 'b'"
    )


def test_page_plan_covers_total():
    plan = page_plan(120_001, 50_000)
    assert plan == [(0, 50_000), (50_000, 50_000), (100_000, 50_000)]
    assert page_plan(0) == []


def test_unwind_queries_match_reference_shapes():
    nq = generate_unwind_node_query("`biolink:Gene`")
    assert "UNWIND $nodes AS node" in nq
    assert "MERGE (n:`biolink:NamedThing` {id: node.id})" in nq
    assert "ON CREATE SET n += node, n:`biolink:Gene`" in nq
    eq = generate_unwind_edge_query("biolink:related_to")
    assert "UNWIND $edges AS edge" in eq
    assert "MATCH (s:`biolink:NamedThing` {id: edge.subject})" in eq
    assert "MERGE (s)-[r:`biolink:related_to`]->(o)" in eq
    assert sanitize_category(["biolink:Gene"]) == ["`biolink:Gene`"]
    assert "REQUIRE n.id IS UNIQUE" in create_constraint_query("`biolink:Gene`")


def test_ordered_paging_queries():
    """Distributed paging must carry a stable sort key: each page runs in an
    independent bolt session, and unordered SKIP/LIMIT across transactions
    can duplicate or miss rows (round-3 ADVICE). Default stays unordered —
    the reference's exact single-session text."""
    from kgx_spark.sources.neo_source import build_edges_query, build_nodes_query

    nq = build_nodes_query({"category": {"biolink:Gene"}}, skip=50000, limit=50000, ordered=True)
    assert "RETURN n ORDER BY id(n) SKIP 50000 LIMIT 50000" in nq
    eq = build_edges_query(skip=0, limit=50000, ordered=True)
    assert "RETURN s, p, o ORDER BY id(p) SKIP 0 LIMIT 50000" in eq
    # reference-parity text unchanged when unordered
    assert "ORDER BY" not in build_nodes_query(skip=0, limit=10)
    assert "ORDER BY" not in build_edges_query(skip=0, limit=10)


def test_multi_category_cache_key_to_cypher_label():
    """Multi-category nodes: the '|'-joined cache key must convert to ':' in
    label position (reference neo_sink.py:87-89 — raw '|' between labels is
    invalid Cypher), and constraint DDL takes one backticked label at a time
    (neo_sink.py:243-261)."""
    from kgx_spark.sinks.neo_sink import CATEGORY_DELIMITER, CYPHER_CATEGORY_DELIMITER

    key = CATEGORY_DELIMITER.join(sanitize_category(["biolink:Disease", "biolink:Gene"]))
    assert key == "`biolink:Disease`|`biolink:Gene`"
    cypher_key = key.replace(CATEGORY_DELIMITER, CYPHER_CATEGORY_DELIMITER)
    nq = generate_unwind_node_query(cypher_key)
    assert "ON CREATE SET n += node, n:`biolink:Disease`:`biolink:Gene`" in nq
    assert "|" not in nq
    cq = create_constraint_query("`biolink:Gene`")
    assert "FOR (n:`biolink:Gene`)" in cq


# ------------------------------------------------------------------ docs


def test_arango_doc_shaping():
    assert sanitize_key("a/b:1") == "a_b:1"
    n = node_doc({"id": "HGNC:1", "name": "g"})
    assert n["_key"] == "HGNC:1" and n["name"] == "g"
    e = edge_doc({"subject": "HGNC:1", "predicate": "biolink:treats", "object": "MONDO:2"})
    assert e["_from"] == "nodes/HGNC:1" and e["_to"] == "nodes/MONDO:2"
    assert e["_key"] == "HGNC:1-biolink:treats-MONDO:2"


# ------------------------------------------------------------------ gating


def _assert_runtime_io_gated(spark):
    """Each connector is gated on its own driver: absent, every call raises
    ImportError; present, read_arango raises NotImplementedError (there is
    no ArangoDB reader) and write_arango with nothing to write returns."""
    import importlib.util

    from kgx_spark.sinks.arango_sink import write_arango
    from kgx_spark.sinks.neo_sink import write_neo
    from kgx_spark.sources.arango_source import read_arango
    from kgx_spark.sources.neo_source import read_neo

    neo = dict(uri="bolt://x", username="u", password="p")
    if importlib.util.find_spec("neo4j") is None:
        with pytest.raises(ImportError):
            read_neo(spark=spark, **neo)
        with pytest.raises(ImportError):
            write_neo(nodes=None, edges=None, **neo)
    arango = dict(nodes=None, edges=None, hosts="http://x", database="d",
                  username="u", password="p")
    if importlib.util.find_spec("arango") is None:
        with pytest.raises(ImportError):
            read_arango()
        with pytest.raises(ImportError):
            write_arango(**arango)
    else:
        with pytest.raises(NotImplementedError):
            read_arango()
        assert write_arango(**arango) is None


def test_runtime_io_is_import_gated(spark):
    _assert_runtime_io_gated(spark)


def test_runtime_io_gating_with_arango_driver_present(spark, monkeypatch):
    """A stub `arango` module stands in for python-arango, so the
    driver-present branch runs without the driver installed."""
    import importlib.machinery
    import sys
    import types

    stub = types.ModuleType("arango")
    stub.__spec__ = importlib.machinery.ModuleSpec("arango", None)
    monkeypatch.setitem(sys.modules, "arango", stub)
    _assert_runtime_io_gated(spark)
