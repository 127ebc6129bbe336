"""SSSOM + OBOGraph sources and traversal ops."""

import json

import pyspark.sql.functions as F
import pytest

from kgx_spark.operators.traverse import get_ancestors, get_parents
from kgx_spark.sources.obograph import read_obograph
from kgx_spark.sources.sssom import read_sssom

SSSOM = """#curie_map:
#  HP: http://purl.obolibrary.org/obo/HP_
#  MP: http://purl.obolibrary.org/obo/MP_
#mapping_provider: https://example.org
subject_id\tsubject_label\tpredicate_id\tobject_id\tobject_label
HP:0000175\tCleft palate\tskos:exactMatch\tMP:0000111\tcleft palate
HP:0000252\tMicrocephaly\tskos:exactMatch\tMP:0000433\tmicrocephaly
"""


def test_sssom(spark, tmp_path):
    p = tmp_path / "m.sssom.tsv"
    p.write_text(SSSOM)
    nodes, edges, meta = read_sssom(spark, str(p))
    assert meta["mapping_provider"] == "https://example.org"
    assert meta["curie_map"]["HP"].startswith("http://purl.obolibrary")
    assert nodes.count() == 4  # 2 subjects + 2 objects
    assert edges.count() == 2
    e = edges.orderBy("subject").first()
    # skos:exactMatch resolves through the model mappings
    # (sssom_source.py:219-233 via process_predicate)
    assert (e["subject"], e["predicate"], e["object"]) == ("HP:0000175", "biolink:exact_match", "MP:0000111")
    # set-level metadata copied onto every edge (sssom_source.py:282-292)
    assert e["mapping_provider"] == "https://example.org"


OBO = {
    "graphs": [
        {
            "nodes": [
                {
                    "id": "http://purl.obolibrary.org/obo/GO_0008150",
                    "lbl": "biological_process",
                    "meta": {
                        "definition": {"val": "A process."},
                        "synonyms": [{"pred": "hasExactSynonym", "val": "bp"}],
                        "xrefs": [{"val": "Wikipedia:Biological_process"}],
                        "basicPropertyValues": [
                            {"pred": "http://www.w3.org/2004/02/skos/core#exactMatch",
                             "val": "http://identifiers.org/hgnc/42"},
                            {"pred": "http://www.geneontology.org/formats/oboInOwl#hasOBONamespace",
                             "val": "biological_process"},
                        ],
                    },
                },
                {"id": "http://purl.obolibrary.org/obo/GO_0008151", "lbl": "child process"},
            ],
            "edges": [
                {"sub": "http://purl.obolibrary.org/obo/GO_0008151",
                 "pred": "is_a",
                 "obj": "http://purl.obolibrary.org/obo/GO_0008150"}
            ],
        }
    ]
}


def test_obograph(spark, tmp_path):
    p = tmp_path / "o.json"
    p.write_text(json.dumps(OBO))
    nodes, edges = read_obograph(spark, str(p))
    n = {r["id"]: r for r in nodes.collect()}
    assert set(n) == {"GO:0008150", "GO:0008151"}
    root = n["GO:0008150"]
    assert root["name"] == "biological_process"
    assert root["description"] == "A process."
    assert root["synonym"] == ["bp"]
    assert root["same_as"] == ["HGNC:42"]
    # hasOBONamespace resolves through the model (obograph_source.py:264-283)
    assert root["category"] == ["biolink:BiologicalProcess"]
    # no namespace property + GO absent from the prefix fallback list
    # (obograph_source.py:287-303) → the reference's OntologyClass default
    assert n["GO:0008151"]["category"] == ["biolink:OntologyClass"]
    e = edges.first()
    assert (e["subject"], e["predicate"], e["object"]) == ("GO:0008151", "biolink:subclass_of", "GO:0008150")
    assert e["relation"] == "rdfs:subClassOf"  # read_edge:226-228


def test_traversal(spark):
    edges = spark.createDataFrame(
        [
            ("C:1", "biolink:subclass_of", "B:1"),
            ("B:1", "biolink:subclass_of", "A:1"),
            ("A:1", "biolink:subclass_of", "ROOT:0"),
            ("C:1", "biolink:related_to", "X:9"),  # wrong predicate — ignored
        ],
        "subject string, predicate string, object string",
    )
    start = spark.createDataFrame([("C:1",)], "id string")
    parents = {r["id"] for r in get_parents(edges, start).collect()}
    assert parents == {"B:1"}
    anc = {(r["ancestor"], r["hops"]) for r in get_ancestors(edges, start).collect()}
    assert anc == {("B:1", 1), ("A:1", 2), ("ROOT:0", 3)}


# --- process_predicate parity: the reference's full rdf_utils table --------
# (tests/unit/test_rdf_utils.py::test_process_predicate — every row, same
# expected 4-tuple (element_uri, canonical_uri, predicate, property_name))
@pytest.mark.parametrize(
    "p, element_uri, canonical_uri, predicate, property_name",
    [
        (
            "http://purl.org/oban/association_has_object",
            "biolink:object", "rdf:object",
            "OBAN:association_has_object", "association_has_object",
        ),
        (
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            "biolink:type", "rdf:type", "rdf:type", "type",
        ),
        (
            "https://monarchinitiative.org/frequencyOfPhenotype",
            None, None, "MONARCH:frequencyOfPhenotype", "frequencyOfPhenotype",
        ),
        (
            "http://purl.obolibrary.org/obo/RO_0002200",
            "biolink:has_phenotype", "biolink:has_phenotype",
            "RO:0002200", "0002200",
        ),
        (
            "http://www.w3.org/2002/07/owl#equivalentClass",
            "biolink:same_as", "biolink:same_as", "owl:equivalentClass",
            "equivalentClass",
        ),
        (
            "https://www.example.org/UNKNOWN/new_prop",
            None, None, ":new_prop", "new_prop",
        ),
        (
            "http://purl.obolibrary.org/obo/RO_0000091",
            None, None, "RO:0000091", "0000091",
        ),
        ("RO:0000091", None, None, "RO:0000091", "0000091"),
        ("category", "biolink:category", "biolink:category", ":category", "category"),
        ("predicate", "biolink:predicate", "rdf:predicate", ":predicate", "predicate"),
        ("type", "biolink:type", "rdf:type", ":type", "type"),
        ("name", "biolink:name", "rdfs:label", ":name", "name"),
    ],
)
def test_process_predicate_reference_table(
    p, element_uri, canonical_uri, predicate, property_name
):
    from kgx_spark.sources.rdf_dispatch import build_rdf_prefix_map, process_predicate

    info = process_predicate(p, build_rdf_prefix_map())
    assert info.element_uri == element_uri
    assert info.canonical_uri == canonical_uri
    assert info.predicate == predicate
    assert info.property_name == property_name


# --- curie_lookup parity (tests/unit/test_graph_utils.py::test_curie_lookup
# + the OIO/OWL/owl/OBO/rdfs underscore branch, graph_utils.py:148-157) ----
@pytest.mark.parametrize(
    "curie, label",
    [
        ("rdfs:subClassOf", "sub_class_of"),
        ("owl:equivalentClass", "equivalent_class"),
        ("RO:0000091", "has_disposition"),
        ("owl:versionIRI", "version_iri"),  # inflection acronym handling
        ("OIO:hasExactSynonym", "has_exact_synonym"),
        ("BFO:0000054", "realized_in"),
        ("FOO:bar", None),  # no special prefix, not in the service map
    ],
)
def test_curie_lookup_reference_table(curie, label):
    from kgx_spark.sources.rdf_dispatch import curie_lookup

    assert curie_lookup(curie) == label


# --- CurieLookupService parity (tests/unit/test_curie_lookup_service.py) --
@pytest.mark.parametrize(
    "curie, label",
    [
        # the reference's own parametrized lookup rows (RO/BFO rdfs:labels
        # its service loads from the configured OBO ontologies)
        ("RO:0002410", "causally_related_to"),
        ("RO:0002334", "regulated_by"),
        ("BFO:0000003", "occurrent"),
    ],
)
def test_curie_lookup_service_reference_rows(curie, label):
    from kgx_spark.sources.rdf_dispatch import CURIE_LOOKUP, curie_lookup

    assert curie in CURIE_LOOKUP
    assert curie_lookup(curie) == label

