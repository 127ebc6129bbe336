"""OWL semantics over the distributed N-Triples path (rdflib-free).

Reference: kgx/source/owl_source.py:36-208 loads the whole ontology into
rdflib and walks it: plain ``rdfs:subClassOf`` between named classes becomes
an edge (:110-137); a subClassOf whose object is a BLANK NODE is an OWL
restriction — ``owl:onProperty`` gives the predicate, ``owl:someValuesFrom``
/ ``owl:allValuesFrom`` gives the parent and the OWLSTAR logical
interpretation — and is emitted as a REIFIED edge carrying
``logical_interpretation`` (:117-157); ``owl:equivalentClass`` between named
classes becomes an edge (:158-163).

Spark design: OWL ontologies serialized as N-Triples parse on the existing
distributed line scan (blank nodes included); restriction stanzas are
reassembled with ONE groupBy over the blank-node subjects and joined back to
the subClassOf triples — no driver-side ontology object, no rdflib.
``owl_source.read_owl`` handles RDF/XML inputs (stdlib converter in
sources/rdf_xml.py) and feeds this module; this is
the scale path for all OWL ingestion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgx_spark.functions.curie import contract
from kgx_spark.functions.keys import generate_edge_identifiers
from kgx_spark.sources.rdf_dispatch import build_rdf_prefix_map
from kgx_spark.sources.rdf_nt import parse_ntriples, shape_triples

_RDFS_SUBCLASS = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
_OWL = "http://www.w3.org/2002/07/owl#"
_ON_PROPERTY = _OWL + "onProperty"
_SOME_VALUES = _OWL + "someValuesFrom"
_ALL_VALUES = _OWL + "allValuesFrom"
_EQUIV_CLASS = _OWL + "equivalentClass"

# OWLSTAR interpretation CURIEs (owl_source.py:30-34, 122-127)
_ALL_SOME = "OWLSTAR:AllSomeInterpretation"
_ALL_ONLY = "OWLSTAR:AllOnlyInterpretation"


def restriction_table(triples: DataFrame) -> DataFrame:
    """Blank-node restriction stanzas → (bnode, on_property, filler,
    logical_interpretation). One map-side-combinable groupBy over the
    stanza's blank-node subject (owl_source.py:117-134 walks the same three
    predicates per BNode)."""
    r = triples.where(
        F.col("subject_iri").startswith("_:")
        & F.col("predicate_iri").isin(_ON_PROPERTY, _SOME_VALUES, _ALL_VALUES)
    )
    return (
        r.groupBy(F.col("subject_iri").alias("bnode"))
        .agg(
            F.max(F.when(F.col("predicate_iri") == _ON_PROPERTY, F.col("object_iri"))).alias("on_property"),
            F.max(F.when(F.col("predicate_iri") == _SOME_VALUES, F.col("object_iri"))).alias("some_filler"),
            F.max(F.when(F.col("predicate_iri") == _ALL_VALUES, F.col("object_iri"))).alias("all_filler"),
        )
        .select(
            "bnode",
            "on_property",
            F.coalesce("some_filler", "all_filler").alias("filler"),
            F.when(F.col("some_filler").isNotNull(), F.lit(_ALL_SOME))
            .when(F.col("all_filler").isNotNull(), F.lit(_ALL_ONLY))
            .alias("logical_interpretation"),
        )
        .where(F.col("on_property").isNotNull() & F.col("filler").isNotNull())
    )


def unpack_owl_edges(
    triples: DataFrame, prefix_map: dict[str, str] | None = None
) -> DataFrame:
    """→ edges(id, subject, predicate, object, logical_interpretation,
    category) from subClassOf / restriction / equivalentClass triples.

    - named C subClassOf named D → plain ``biolink:subclass_of`` edge
      (owl_source.py:135-137 keeps rdfs:subClassOf; predicate normalization
      to biolink follows obograph_source's is_a mapping);
    - C subClassOf _:restriction → edge (C, onProperty, filler) with
      ``logical_interpretation`` and category ``biolink:Association``
      (owl_source.py:138-156 reifies exactly these; the reference's
      rdf:Statement round-trip dereifies back into one edge — we emit the
      dereified edge directly, with a DETERMINISTIC id replacing the
      reference's uuid4, per SURVEY §7.3 determinism);
    - named A equivalentClass named B → edge (owl_source.py:158-163).
    """
    named_subj = ~F.col("subject_iri").startswith("_:")
    named_obj = ~F.col("object_iri").startswith("_:")

    from kgx_spark.sources.rdf_nt import _resolve_stated_predicate

    pm = build_rdf_prefix_map(prefix_map)
    sub = triples.where((F.col("predicate_iri") == _RDFS_SUBCLASS) & named_subj)
    plain = sub.where(named_obj).select(
        contract(F.col("subject_iri"), pm).alias("subject"),
        F.lit("biolink:subclass_of").alias("predicate"),
        contract(F.col("object_iri"), pm).alias("object"),
        F.lit("rdfs:subClassOf").alias("relation"),
        F.lit(None).cast("string").alias("logical_interpretation"),
        F.lit(None).cast("string").alias("category"),
    )

    on_prop = contract(F.col("on_property"), pm)
    restricted = (
        sub.where(~named_obj)
        .select("subject_iri", F.col("object_iri").alias("bnode"))
        .join(restriction_table(triples), on="bnode")
        .select(
            contract(F.col("subject_iri"), pm).alias("subject"),
            # the reference reifies then DEREIFIES these through add_edge,
            # which resolves the property against the model and gates
            # unknown prefixes to related_to (rdf_source.py:495-527); the
            # raw CURIE rides on `relation`
            _resolve_stated_predicate(on_prop, pm).alias("predicate"),
            contract(F.col("filler"), pm).alias("object"),
            on_prop.alias("relation"),
            F.col("logical_interpretation"),
            F.lit("biolink:Association").alias("category"),
        )
    )

    equiv = triples.where(
        (F.col("predicate_iri") == _EQUIV_CLASS) & named_subj & named_obj
    ).select(
        contract(F.col("subject_iri"), pm).alias("subject"),
        F.lit("biolink:same_as").alias("predicate"),
        contract(F.col("object_iri"), pm).alias("object"),
        F.lit("owl:equivalentClass").alias("relation"),
        F.lit(None).cast("string").alias("logical_interpretation"),
        F.lit(None).cast("string").alias("category"),
    )

    edges = plain.unionByName(restricted).unionByName(equiv)
    return edges.withColumn(
        "id",
        F.sha2(
            F.concat_ws(
                "-", "subject", "predicate", "object",
                F.coalesce("logical_interpretation", F.lit("")),
            ),
            256,
        ),
    )


def read_owl_nt(
    spark: SparkSession, path: str, prefix_map: dict[str, str] | None = None
) -> tuple[DataFrame, DataFrame]:
    """NT-serialized OWL → (nodes, edges) with restrictions unpacked.

    Structural triples (subClassOf incl blank-node restrictions,
    equivalentClass) go through `unpack_owl_edges`; every OTHER
    named-subject triple goes through the SAME per-predicate dispatch as
    the N-Triples source (owl_source.py:173-183's catch-all loop feeds
    RdfSource.triple), so annotation properties land as node attributes
    under the reference's key names (has_exact_synonym, has_alternative_id,
    comment, description via IAO:0000115, ...) and object-valued
    non-structural predicates become edges.
    """
    triples = parse_ntriples(spark, path, include_bnodes=True).cache()
    struct_edges = unpack_owl_edges(triples, prefix_map)

    named_subj = ~F.col("subject_iri").startswith("_:")
    named_obj = F.col("object_iri").isNull() | ~F.col("object_iri").startswith("_:")
    rest = triples.where(
        named_subj
        & named_obj
        & ~F.col("predicate_iri").isin(_RDFS_SUBCLASS, _EQUIV_CLASS)
    )
    attr_nodes, attr_edges = shape_triples(rest, prefix_map, validate=False)

    edges = attr_edges.unionByName(struct_edges, allowMissingColumns=True)
    edges = generate_edge_identifiers(edges)

    mentioned = (
        struct_edges.select(F.col("subject").alias("id"))
        .unionByName(struct_edges.select(F.col("object").alias("id")))
        .distinct()
    )
    nodes = attr_nodes.join(mentioned.withColumn("_m", F.lit(True)), "id", "full_outer")
    # endpoints the attribute pass never saw still get the NamedThing
    # default (add_node, rdf_source.py:424-466)
    nodes = nodes.withColumn(
        "category",
        F.when(
            F.col("_m") & (F.col("category").isNull() | (F.size("category") == 0)),
            F.array(F.lit("biolink:NamedThing")),
        ).otherwise(F.col("category")),
    ).drop("_m")
    return nodes, edges
