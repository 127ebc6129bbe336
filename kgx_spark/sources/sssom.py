"""SSSOM mapping-set source.

Reference: kgx/source/sssom_source.py:68-149 (YAML '#' header block →
curie_map + set-level metadata) and 204-292 (each mapping row fans out to
two node records + one edge record; set metadata copied onto every edge).

Spark design: `spark.read.option("comment","#")` distributed scan for the
rows; the small '#' header is read driver-side (it's bounded metadata, not
data). Row fan-out = two projections unioned for nodes + one projection for
edges — no per-row Python.
"""

from __future__ import annotations

import yaml
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgx_spark.utils import qcol

from kgx_spark.functions.keys import generate_edge_identifiers
from kgx_spark.operators.validate import validate_edges, validate_nodes

# mapping columns that are not propagated as edge properties
_CORE_MAPPING_COLS = {"subject_id", "subject_label", "subject_category",
                      "predicate_id", "object_id", "object_label", "object_category"}


def read_sssom_metadata(path: str) -> dict:
    """Driver-side parse of the '#'-prefixed YAML header (sssom_source.py:98-124)."""
    lines = []
    with open(path) as fh:
        for line in fh:
            if not line.startswith("#"):
                break
            lines.append(line.lstrip("#"))
    return yaml.safe_load("".join(lines)) or {} if lines else {}


def read_sssom(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame, dict]:
    """→ (nodes, edges, set_metadata).

    Nodes: subject side ∪ object side (id, name, category).
    Edges: (subject, predicate, object) + long-tail mapping columns +
    set-level metadata (e.g. mapping_provider) on every edge
    (sssom_source.py:255-292).
    """
    meta = read_sssom_metadata(path)
    rows = (
        spark.read.option("header", "true")
        .option("sep", "\t")
        .option("comment", "#")
        .option("nullValue", "")
        .csv(path)
    )
    cols = set(rows.columns)

    def side(prefix: str) -> DataFrame:
        sel = [F.col(f"{prefix}_id").alias("id")]
        sel.append(
            (F.col(f"{prefix}_label") if f"{prefix}_label" in cols else F.lit(None).cast("string")).alias("name")
        )
        cat = (
            F.array(F.col(f"{prefix}_category"))
            if f"{prefix}_category" in cols
            else F.lit(None).cast("array<string>")
        )
        sel.append(cat.alias("category"))
        return rows.select(*sel)

    nodes = side("subject").unionByName(side("object")).distinct()

    # predicate resolution (sssom_source.py:219-233): process_predicate,
    # then element_uri → predicate → property_name — WITHOUT rdf_source's
    # related_to prefix gate, so an unmapped CURIE passes through as-is.
    # Distinct predicate_ids are a vocabulary-bounded collect (the SSSOM
    # spec itself enumerates mapping predicates), resolved driver-side by
    # the shared rdf_dispatch kernel and baked into one literal map.
    from kgx_spark.sources.rdf_dispatch import build_rdf_prefix_map, process_predicate

    pm = build_rdf_prefix_map(
        {k: v for k, v in (meta.get("curie_map") or {}).items() if isinstance(v, str)}
    )
    pred_ids = [r[0] for r in rows.select("predicate_id").distinct().collect() if r[0]]
    resolved = {}
    for p in pred_ids:
        info = process_predicate(p, pm)
        resolved[p] = info.element_uri or info.predicate or info.property_name
    if resolved:
        pred_map = F.create_map(*[F.lit(x) for kv in sorted(resolved.items()) for x in kv])
        pred_expr = F.coalesce(F.element_at(pred_map, F.col("predicate_id")), F.col("predicate_id"))
    else:
        pred_expr = F.col("predicate_id")
    edge_sel = [
        F.col("subject_id").alias("subject"),
        pred_expr.alias("predicate"),
        F.col("object_id").alias("object"),
    ]
    for c in sorted(cols - _CORE_MAPPING_COLS):
        edge_sel.append(qcol(c))
    # set-level metadata copied onto every edge (sssom_source.py:282-292)
    for k, v in sorted(meta.items()):
        if isinstance(v, (str, int, float, bool)) and k not in cols:
            edge_sel.append(F.lit(str(v)).alias(k))
    nodes, _ = validate_nodes(nodes)
    edges, _ = validate_edges(generate_edge_identifiers(rows.select(*edge_sel)))
    return nodes, edges, meta
