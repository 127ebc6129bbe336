"""OBO Graph JSON source.

Reference: kgx/source/obograph_source.py:32-374
- nodes (read_node:100-155 + parse_meta:312-374): `lbl` → name, raw id →
  `iri`, `meta.definition.val` → description, `meta.subsets` with the
  '#'-fragment taken, ALL synonyms → `synonym` plus the four scope-filtered
  lists (exact/related/broad/narrow_synonym), xrefs, skos:exactMatch
  basicPropertyValues → same_as, deprecated flag
- category (get_category:246-311): the LAST hasOBONamespace
  basicPropertyValue resolved against the Biolink model (the three GO
  namespaces are aliases of MolecularActivity / BiologicalProcess /
  CellularComponent); when that yields nothing or OntologyClass, the exact
  prefix fallback list (HP/CHEBI/MONDO/UBERON/SO/CL/PR/NCBITaxon), default
  biolink:OntologyClass
- edges (read_edge:183-244): non-IRI preds special-case is_a/has_part/
  part_of (with rdfs:subClassOf / BFO relation CURIEs) else
  `biolink:{pred}` with relation = raw pred; IRI preds contract to a CURIE,
  resolve against Biolink slot mappings (else biolink:related_to) with
  relation = the CURIE

Spark design: `multiLine` json read of `graphs[]`, explode nodes/edges,
nested-array transforms for meta fields, when-chains for predicate/category
normalization (broadcastable literal maps — the reference's toolkit lookups
are cached dict hits too, ecache:222).

Scoped synonym lists and subsets keep file order (they are NOT in the
reference's column_types, so its sanitize_import leaves them unsorted —
kgx_utils.py:885-890); `synonym` IS declared and sorts (kgx_utils.py:871).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgx_spark.functions.curie import contract
from kgx_spark.functions.keys import generate_edge_identifiers
from kgx_spark.operators.sanitize import sanitize_import
from kgx_spark.operators.validate import validate_edges, validate_nodes

HAS_OBO_NAMESPACE = "http://www.geneontology.org/formats/oboInOwl#hasOBONamespace"

# hasOBONamespace value → Biolink class (obograph_source.py:264-283: the
# toolkit resolves these as class aliases in the public biolink-model yaml —
# 'molecular function' aliases molecular activity; biological process and
# cellular component are class names)
_OBO_NAMESPACE_CATEGORY = {
    "molecular_function": "biolink:MolecularActivity",
    "biological_process": "biolink:BiologicalProcess",
    "cellular_component": "biolink:CellularComponent",
}

# prefix → category fallback, the reference's exact list + spellings
# (obograph_source.py:287-303; note ChemicalSubstance, not ChemicalEntity)
_PREFIX_CATEGORY = {
    "HP": "biolink:PhenotypicFeature",
    "CHEBI": "biolink:ChemicalSubstance",
    "MONDO": "biolink:Disease",
    "UBERON": "biolink:AnatomicalEntity",
    "SO": "biolink:SequenceFeature",
    "CL": "biolink:Cell",
    "PR": "biolink:Protein",
    "NCBITaxon": "biolink:OrganismTaxon",
}

# IRI predicates (obograph_source.py:201-224): the reference contracts the
# IRI to a CURIE and consults the toolkit — but get_element takes
# names/aliases (not CURIE mappings) and the get_element_by_mapping fallback
# receives the RAW IRI while model mappings are CURIE strings, so BOTH
# lookups miss for every IRI pred in practice and the predicate lands on
# biolink:related_to with relation = the CURIE. Pinned empirically: the
# reference's own goslim test expects 205 edge keys, which only holds when
# RO_0002211 and BFO_0000050 between the same (s, o) BOTH map to related_to
# (tests/test_reference_fixture_parity.py::test_obograph_goslim_counts).


def _map_expr(col, mapping: dict[str, str], default):
    expr = None
    for k, v in mapping.items():
        cond = col == k
        expr = F.when(cond, v) if expr is None else expr.when(cond, v)
    return default if expr is None else expr.otherwise(default)


def _synonyms_by_scope(syns, scope: str):
    return F.transform(
        F.filter(syns, lambda s: s.getField("pred") == scope),
        lambda s: s.getField("val"),
    )


def read_obograph(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    doc = spark.read.option("multiLine", "true").json(path)
    g = doc.select(F.explode("graphs").alias("g"))

    raw_nodes = g.select(F.explode("g.nodes").alias("n")).select("n.*")
    ncols = set(raw_nodes.columns)
    meta = ncols.__contains__("meta")
    meta_fields = (
        {f.name for f in raw_nodes.schema["meta"].dataType.fields}  # type: ignore[union-attr]
        if meta
        else set()
    )

    def mf(name):
        return F.col("meta").getField(name) if name in meta_fields else F.lit(None)

    # category (get_category:246-311): last hasOBONamespace wins; a miss or
    # OntologyClass falls through to the prefix list, then OntologyClass
    curie_id = contract(F.col("id"))
    if "basicPropertyValues" in meta_fields:
        # try_: a node whose basicPropertyValues carry no namespace yields an
        # empty array, which plain element_at faults on under ANSI mode
        ns_val = F.try_element_at(
            F.transform(
                F.filter(
                    mf("basicPropertyValues"),
                    lambda b: b.getField("pred") == HAS_OBO_NAMESPACE,
                ),
                lambda b: b.getField("val"),
            ),
            F.lit(-1),
        )
    else:
        ns_val = F.lit(None).cast("string")
    ns_cat = F.when(
        ns_val.isNotNull(),
        _map_expr(ns_val, _OBO_NAMESPACE_CATEGORY, F.lit("biolink:OntologyClass")),
    )
    prefix_cat = _map_expr(
        F.split_part(curie_id, F.lit(":"), F.lit(1)),
        _PREFIX_CATEGORY,
        F.lit(None).cast("string"),
    )
    category = F.when(
        ns_cat.isNotNull() & (ns_cat != "biolink:OntologyClass"), ns_cat
    ).otherwise(F.coalesce(prefix_cat, F.lit("biolink:OntologyClass")))

    sel = [
        curie_id.alias("id"),
        (F.col("lbl") if "lbl" in ncols else F.lit(None).cast("string")).alias("name"),
        F.col("id").alias("iri"),  # read_node:116 keeps the raw IRI
        F.array(category).alias("category"),
    ]
    if meta:
        syns = mf("synonyms") if "synonyms" in meta_fields else None
        sel += [
            (mf("definition").getField("val") if "definition" in meta_fields else F.lit(None).cast("string")).alias("description"),
            (
                F.transform(
                    mf("subsets"),
                    lambda x: F.when(
                        x.contains("#"), F.element_at(F.split(x, "#"), 2)
                    ).otherwise(x),
                )
                if "subsets" in meta_fields
                else F.lit(None).cast("array<string>")
            ).alias("subsets"),
        ]
        if syns is not None:
            sel += [
                F.transform(
                    F.filter(syns, lambda s: s.getField("val").isNotNull()),
                    lambda s: s.getField("val"),
                ).alias("synonym"),
                _synonyms_by_scope(syns, "hasExactSynonym").alias("exact_synonym"),
                _synonyms_by_scope(syns, "hasRelatedSynonym").alias("related_synonym"),
                _synonyms_by_scope(syns, "hasBroadSynonym").alias("broad_synonym"),
                _synonyms_by_scope(syns, "hasNarrowSynonym").alias("narrow_synonym"),
            ]
        else:
            sel += [F.lit(None).cast("array<string>").alias(c) for c in (
                "synonym", "exact_synonym", "related_synonym", "broad_synonym", "narrow_synonym")]
        sel += [
            F.transform(mf("xrefs"), lambda x: x.getField("val")).alias("xref")
            if "xrefs" in meta_fields else F.lit(None).cast("array<string>").alias("xref"),
            (
                F.filter(
                    F.transform(
                        mf("basicPropertyValues"),
                        lambda b: F.when(
                            b.getField("pred").contains("exactMatch"), contract(b.getField("val"))
                        ),
                    ),
                    lambda v: v.isNotNull(),
                )
                if "basicPropertyValues" in meta_fields
                else F.lit(None).cast("array<string>")
            ).alias("same_as"),
            (F.coalesce(mf("deprecated").cast("boolean"), F.lit(False))
             if "deprecated" in meta_fields else F.lit(False)).alias("deprecated"),
        ]
    nodes = sanitize_import(raw_nodes.select(*sel))

    # an edge-less document (e.g. the reference's phenio.json fixture, whose
    # graphs carry `edges: []`) infers a non-struct element type that cannot
    # star-expand — treat it as zero edges
    exploded = g.select(F.explode("g.edges").alias("e"))
    if isinstance(exploded.schema["e"].dataType, T.StructType):
        raw_edges = exploded.select("e.*")
    else:
        raw_edges = spark.createDataFrame([], "sub string, pred string, obj string")
    pred = F.col("pred")
    is_iri = pred.startswith("http://") | pred.startswith("https://")
    pred_curie = contract(pred)
    non_iri_predicate = (
        F.when(pred == "is_a", "biolink:subclass_of")
        .when(pred == "has_part", "biolink:has_part")
        .when(pred == "part_of", "biolink:part_of")
        .otherwise(F.concat(F.lit("biolink:"), F.regexp_replace(pred, " ", "_")))
    )
    non_iri_relation = (
        F.when(pred == "is_a", "rdfs:subClassOf")
        .when(pred == "has_part", "BFO:0000051")
        .when(pred == "part_of", "BFO:0000050")
        .otherwise(pred)
    )
    edges = raw_edges.select(
        contract(F.col("sub")).alias("subject"),
        F.when(is_iri, F.lit("biolink:related_to"))
        .otherwise(non_iri_predicate).alias("predicate"),
        contract(F.col("obj")).alias("object"),
        F.when(is_iri, pred_curie).otherwise(non_iri_relation).alias("relation"),
    )
    nodes, _ = validate_nodes(nodes)
    edges, _ = validate_edges(generate_edge_identifiers(edges))
    return nodes, edges
