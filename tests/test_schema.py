"""Schema conventions (kgx/sink/tsv_sink.py:162-238 ordering, type maps)."""

from kgx_spark.schema import (
    EDGE_CORE_ORDER,
    MULTIVALUED_PROPERTIES,
    NODE_CORE_ORDER,
    ordered_columns,
)


def test_node_column_ordering():
    # mirrors _order_node_columns (tsv_sink.py:179-182): xref IS a core column
    cols = ["taxon", "name", "_private", "id", "category", "xref"]
    assert ordered_columns(cols, NODE_CORE_ORDER) == [
        "id", "category", "name", "xref",  # reference core order first
        "taxon",                           # then sorted non-core
        "_private",                        # '_'-internal last
    ]


def test_core_order_matches_reference():
    # the reference's exact OrderedSet contents (tsv_sink.py:179-182, 216-225)
    assert NODE_CORE_ORDER == [
        "id", "category", "name", "description", "xref", "provided_by",
        "synonym", "exact_synonym", "broad_synonym", "narrow_synonym",
        "related_synonym",
    ]
    assert EDGE_CORE_ORDER == [
        "id", "subject", "predicate", "object", "category", "relation", "provided_by",
    ]


def test_edge_column_ordering():
    cols = ["object", "knowledge_level", "subject", "id", "predicate", "_orig"]
    assert ordered_columns(cols, EDGE_CORE_ORDER) == [
        "id", "subject", "predicate", "object", "knowledge_level", "_orig"
    ]


def test_multivalued_convention():
    assert {"category", "publications"} <= MULTIVALUED_PROPERTIES
    assert not {"predicate", "name"} & MULTIVALUED_PROPERTIES
