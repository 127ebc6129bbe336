"""Column-type conventions of the KGX format.

Reference semantics:
- node/edge record shapes: /root/reference/docs/kgx_format.md:49-127,
  kgx/schema/kgx.yaml:13-57
- core (immutable-on-merge) properties: kgx/utils/kgx_utils.py:34-35
- column_types / multivalued conventions: kgx/utils/kgx_utils.py:50-113
- TSV list delimiter '|': kgx/source/tsv_source.py:18

The reference has NO fixed table schema — each source accumulates observed
property names (kgx/source/source.py:25-26). We keep a typed core plus the
long tail of dynamic properties: any unknown column survives as-is (Spark
DataFrames are schema-on-write, so the union of observed columns is simply
the DataFrame schema; ``unionByName(allowMissingColumns=True)`` reproduces
the accumulate-and-union behavior).
"""

from __future__ import annotations


LIST_DELIMITER = "|"

# Core properties are never modified on merge (kgx/utils/kgx_utils.py:34-35).
CORE_NODE_PROPERTIES = frozenset({"id", "name"})
CORE_EDGE_PROPERTIES = frozenset({"id", "subject", "predicate", "object", "type"})

# Properties that are multivalued (array<string>) — kgx/utils/kgx_utils.py:60-69, 87-113.
MULTIVALUED_PROPERTIES = frozenset(
    {
        "category",
        "publications",
        "qualifiers",
        "synonym",
        "same_as",
        "xref",
        "xrefs",
        "provided_by",
        "aggregator_knowledge_source",
        "supporting_data_source",
    }
)

# Properties that are explicitly single-valued even if they look list-ish
# (kgx/utils/kgx_utils.py:87-103). NB `knowledge_source` follows the
# reference's column_types (kgx_utils.py:50-56 — `str`, which drives its
# sanitizer) and so stays scalar at ingest; the reference's multivalued map
# (:87-94) disagrees, so the VALIDATOR accepts both shapes for this one slot
# (validator._SCALAR_OR_LIST_SLOTS) rather than flagging data the
# reference's own pipeline emits.
SINGLE_VALUED_PROPERTIES = frozenset(
    {
        "id",
        "subject",
        "object",
        "predicate",
        "relation",
        "name",
        "type",
        "iri",
        "description",
        "knowledge_source",
        "primary_knowledge_source",
        "knowledge_level",
        "agent_type",
        "url",
    }
)

BOOLEAN_PROPERTIES = frozenset({"negated"})  # kgx/utils/kgx_utils.py:66

DEFAULT_NODE_CATEGORY = "biolink:NamedThing"  # kgx/source/source.py:305-309

# Deterministic output column order for TSV export — the reference's exact
# OrderedSet contents (kgx/sink/tsv_sink.py:179-182 _order_node_columns,
# 216-225 _order_edge_columns: core first, then sorted, '_'-internal last).
NODE_CORE_ORDER = [
    "id", "category", "name", "description", "xref", "provided_by", "synonym",
    "exact_synonym", "broad_synonym", "narrow_synonym", "related_synonym",
]
EDGE_CORE_ORDER = ["id", "subject", "predicate", "object", "category", "relation", "provided_by"]


def ordered_columns(columns: list[str], core_order: list[str]) -> list[str]:
    """Deterministic export ordering: core-first, then sorted, '_'-internal last.

    Mirrors kgx/sink/tsv_sink.py:162-238 (_order_node_columns/_order_edge_columns).
    """
    cols = set(columns)
    out = [c for c in core_order if c in cols]
    rest = sorted(c for c in cols if c not in out and not c.startswith("_"))
    internal = sorted(c for c in cols if c.startswith("_"))
    return out + rest + internal
