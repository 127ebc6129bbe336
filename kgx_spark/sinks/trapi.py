"""TRAPI knowledge-graph JSON sink.

Reference: kgx/sink/trapi_sink.py:33-426 — node/edge properties re-nested
into TRAPI shape:
- node: name, categories (biolink:-prefixed, default NamedThing —
  trapi_sink.py:179-210), attributes[] with per-slot value_type_id for
  provided_by/xref/synonym/description (212-278)
- edge: predicate/subject/object, attributes[] (280-331, skip set at
  299-301), sources[] — primary_knowledge_source (infores:-prefixed,
  'infores:unknown' fallback) + one aggregator_knowledge_source entry per
  provided_by value != primary (333-398)
- qualifiers[] from flattened '*_qualifier' columns (400-426); NB the
  reference ALSO emits those columns as generic attributes (they are not in
  the 299-301 skip set) — mirrored here for parity.

Spark design: rows → JSON strings per entity assembled from typed
to_json(struct(...)) fragments (attribute structs are heterogeneous — some
carry value_type_id, some hold array values — so the body is concat'd from
per-attribute JSON pieces, all JVM-side), then a driver-side wrap into the
single {"knowledge_graph": {nodes, edges}} document (TRAPI is a
monolithic-JSON format; the wrap is O(output) stream concatenation, the
heavy lifting — serialization — is distributed).
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgx_spark.utils import qcol
from pyspark.sql import types as T

# trapi_sink.py:227-228 / 299-301
_SKIP_NODE = {"id", "name", "category", "is_set"}
_SKIP_EDGE = {
    "id", "subject", "predicate", "object", "relation", "sources",
    "primary_knowledge_source", "knowledge_level", "agent_type",
    "pks_record_urls", "qualifiers",
}
# per-slot value_type_id annotations — NODE attributes only
# (trapi_sink.py:236-266 _create_node_attributes)
_NODE_VALUE_TYPES = {
    "provided_by": "biolink:Agent",
    "xref": "EDAM:data_0896",
    "synonym": "biolink:Phenomenon",
    "description": "biolink:Phenomenon",
}
_NODE_LIST_WRAP = frozenset({"provided_by", "xref", "synonym"})
# the EDGE path special-cases only provided_by (trapi_sink.py:300-312
# _create_edge_attributes): value_type_id biolink:Agent + list-wrapping;
# xref/synonym/description on edges are generic attributes (round-3 ADVICE)
_EDGE_VALUE_TYPES = {"provided_by": "biolink:Agent"}
_EDGE_LIST_WRAP = frozenset({"provided_by"})


def _infores(col: Column) -> Column:
    """Prefix 'infores:' unless already present (trapi_sink.py:349-351)."""
    return F.when(col.startswith("infores:"), col).otherwise(
        F.concat(F.lit("infores:"), col)
    )


def _attr_json(
    df: DataFrame,
    name: str,
    value_types: dict[str, str],
    list_wrap: frozenset[str] = _NODE_LIST_WRAP,
) -> Column:
    """One attribute object as a JSON string (null when the value is absent),
    mirroring _create_node_attributes/_create_edge_attributes: list slots keep
    array values, known slots carry value_type_id, other slots are generic
    biolink:<key> attributes. ``value_types``/``list_wrap`` differ per entity
    kind — the edge path special-cases only provided_by."""
    dtype = dict(df.dtypes)[name]
    c = qcol(name)
    type_id = name if name.startswith("biolink:") else f"biolink:{name}"
    fields = [F.lit(type_id).alias("attribute_type_id")]
    if name in list_wrap and not dtype.startswith("array"):
        # reference wraps these in a list if scalar (trapi_sink.py:240,249,258)
        fields.append(F.array(c.cast("string")).alias("value"))
    else:
        fields.append(c.alias("value"))
    if name in value_types:
        fields.append(F.lit(value_types[name]).alias("value_type_id"))
    present = c.isNotNull()
    if dtype.startswith("array"):
        present = present & (F.size(c) > 0)
    return F.when(present, F.to_json(F.struct(*fields)))


def _json_array(pieces: list[Column]) -> Column:
    """Assemble non-null JSON fragments into a JSON array string."""
    if not pieces:
        return F.lit("[]")
    kept = F.filter(F.array(*pieces), lambda x: x.isNotNull())
    return F.concat(F.lit("["), F.array_join(kept, ","), F.lit("]"))


def _categories(df: DataFrame) -> Column:
    """biolink:-prefixed categories, default [biolink:NamedThing]
    (trapi_sink.py:179-210)."""
    if "category" not in df.columns:
        return F.array(F.lit("biolink:NamedThing"))
    c = F.col("category")
    if not dict(df.dtypes)["category"].startswith("array"):
        c = F.array(c)
    prefixed = F.transform(
        c, lambda x: F.when(x.startswith("biolink:"), x).otherwise(F.concat(F.lit("biolink:"), x))
    )
    return F.when(
        prefixed.isNull() | (F.size(prefixed) == 0),
        F.array(F.lit("biolink:NamedThing")),
    ).otherwise(prefixed)


def _splice(head: Column, *tail: Column) -> Column:
    """Append JSON fragments inside a to_json(struct(...))-built object:
    '{...}' + fragments + '}' — keeps the homogeneous fields in one typed
    to_json (proper escaping) and concats only the heterogeneous parts."""
    return F.concat(head.substr(F.lit(1), F.length(head) - 1), *tail, F.lit("}"))


def _node_entry(nodes: DataFrame) -> DataFrame:
    extra = [
        f.name for f in nodes.schema.fields
        if f.name not in _SKIP_NODE and not f.name.startswith("_")
    ]
    attrs = _json_array([_attr_json(nodes, c, _NODE_VALUE_TYPES) for c in extra])
    name = (
        F.coalesce(F.col("name").cast("string"), F.lit(""))
        if "name" in nodes.columns else F.lit("")
    )
    head_fields = [name.alias("name"), _categories(nodes).alias("categories")]
    if "is_set" in nodes.columns:
        # only emitted when present, like the reference (trapi_sink.py:88-90;
        # to_json drops null fields)
        head_fields.append(F.col("is_set").alias("is_set"))
    head = F.to_json(F.struct(*head_fields))
    body = _splice(head, F.lit(',"attributes":'), attrs)
    return nodes.select(F.col("id").alias("k"), body.alias("v"))


def _sources_json(edges: DataFrame) -> Column:
    """TRAPI sources[]: primary (infores:-prefixed; 'infores:unknown'
    fallback) + aggregator entries from provided_by values != primary
    (trapi_sink.py:333-398)."""
    cols = set(edges.columns)
    primary_raw = F.col("primary_knowledge_source") if "primary_knowledge_source" in cols else F.lit(None).cast("string")
    primary_fields = [
        _infores(F.coalesce(primary_raw, F.lit("unknown"))).alias("resource_id"),
        F.lit("primary_knowledge_source").alias("resource_role"),
    ]
    if "pks_record_urls" in cols:
        urls = F.col("pks_record_urls")
        if not dict(edges.dtypes)["pks_record_urls"].startswith("array"):
            urls = F.array(urls.cast("string"))
        primary_fields.append(urls.alias("source_record_urls"))
    primary_json = F.to_json(F.struct(*primary_fields))
    pieces = [primary_json]
    if "provided_by" in cols:
        pb = F.col("provided_by")
        if not dict(edges.dtypes)["provided_by"].startswith("array"):
            pb = F.array(pb.cast("string"))
        # raw (unprefixed) comparison against primary, like the reference
        aggs = F.transform(
            F.filter(
                F.coalesce(pb, F.array()),
                lambda p: p.isNotNull() & (primary_raw.isNull() | (p != primary_raw)),
            ),
            lambda p: F.to_json(
                F.struct(
                    _infores(p).alias("resource_id"),
                    F.lit("aggregator_knowledge_source").alias("resource_role"),
                )
            ),
        )
        return F.concat(
            F.lit("["), F.array_join(F.concat(F.array(primary_json), aggs), ","), F.lit("]")
        )
    return _json_array(pieces)


def _qualifiers_json(edges: DataFrame) -> Column:
    """qualifiers[] from flattened '*_qualifier' columns (trapi_sink.py:
    400-426): {"qualifier_type_id": "biolink:<col>", "qualifier_value": v}.
    Returns the full ',"qualifiers":[...]' fragment, or '' when none apply
    (the reference only adds the key when non-empty)."""
    qcols = [c for c in edges.columns if c.endswith("_qualifier")]
    if not qcols:
        return F.lit("")
    pieces = [
        F.when(
            qcol(c).isNotNull(),
            F.to_json(
                F.struct(
                    F.lit(c if c.startswith("biolink:") else f"biolink:{c}").alias("qualifier_type_id"),
                    qcol(c).cast("string").alias("qualifier_value"),
                )
            ),
        )
        for c in qcols
    ]
    kept = F.filter(F.array(*pieces), lambda x: x.isNotNull())
    return F.when(
        F.size(kept) > 0,
        F.concat(F.lit(',"qualifiers":['), F.array_join(kept, ","), F.lit("]")),
    ).otherwise(F.lit(""))


def _edge_entry(edges: DataFrame) -> DataFrame:
    cols = set(edges.columns)
    extra = [
        f.name for f in edges.schema.fields
        if f.name not in _SKIP_EDGE and not f.name.startswith("_")
    ]
    attrs = _json_array([
        _attr_json(edges, c, _EDGE_VALUE_TYPES, _EDGE_LIST_WRAP) for c in extra
    ])
    head = F.to_json(
        F.struct(F.col("predicate"), F.col("subject"), F.col("object"))
    )
    body = _splice(
        head,
        F.lit(',"attributes":'), attrs,
        F.lit(',"sources":'), _sources_json(edges),
        _qualifiers_json(edges),
    )
    key = F.coalesce(
        F.col("id") if "id" in cols else F.lit(None),
        F.concat_ws("-", "subject", "predicate", "object"),
    )
    return edges.select(key.alias("k"), body.alias("v"))


def write_trapi(nodes: DataFrame, edges: DataFrame, path: str) -> None:
    with open(path, "w") as fh:
        fh.write('{"knowledge_graph": {"nodes": {')
        first = True
        for row in _node_entry(nodes).toLocalIterator():
            fh.write(("" if first else ",") + json.dumps(row["k"]) + ":" + row["v"])
            first = False
        fh.write('}, "edges": {')
        first = True
        for row in _edge_entry(edges).toLocalIterator():
            fh.write(("" if first else ",") + json.dumps(row["k"]) + ":" + row["v"])
            first = False
        fh.write("}}}")


def write_kgx_json(nodes: DataFrame, edges: DataFrame, path: str) -> None:
    """Monolithic KGX JSON {"nodes":[...], "edges":[...]}
    (kgx/sink/json_sink.py:13-101) — same streamed-wrap strategy."""
    with open(path, "w") as fh:
        fh.write('{"nodes": [')
        first = True
        for row in nodes.select(F.to_json(F.struct(*nodes.columns)).alias("v")).toLocalIterator():
            fh.write(("" if first else ",") + row["v"])
            first = False
        fh.write('], "edges": [')
        first = True
        for row in edges.select(F.to_json(F.struct(*edges.columns)).alias("v")).toLocalIterator():
            fh.write(("" if first else ",") + row["v"])
            first = False
        fh.write("]}")
