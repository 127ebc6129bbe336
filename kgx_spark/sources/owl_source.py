"""OWL (RDF/XML) source.

Reference: kgx/source/owl_source.py:36-208 — loads the full ontology via
rdflib, emits rdfs:subClassOf edges, unpacks OWL existential/universal
restrictions into reified edges with `logical_interpretation`, and
owl:equivalentClass edges.

SURVEY.md §2.1 marks the whole-ontology load out of distributed scope: the
parse happens ON THE DRIVER (ontologies are metadata-sized, not
corpus-sized), mirroring the reference's design, and the resulting triples
feed the DISTRIBUTED OWL N-Triples pipeline (sources/owl_nt.py, which
unpacks the restrictions).

The RDF/XML → N-Triples conversion is the self-contained stdlib converter
in sources/rdf_xml.py (the same subset of the W3C syntax real ontology
dumps use). Like the reference's OwlSource, the input is always read as
RDF/XML, whatever its file extension.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession


def owl_to_nt_path(path: str) -> str:
    """RDF/XML file → temp .nt file path (deterministic for a given input)."""
    from kgx_spark.sources.rdf_xml import rdfxml_to_nt

    with tempfile.NamedTemporaryFile(
        suffix=".nt", delete=False, mode="w", encoding="utf-8"
    ) as fh:
        fh.write(rdfxml_to_nt(path))
        return fh.name


def read_owl(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """OWL RDF/XML → (nodes, edges): driver-side parse → NT → distributed
    scan with OWL restriction unpacking (owl_nt.read_owl_nt)."""
    from kgx_spark.sources.owl_nt import read_owl_nt

    return read_owl_nt(spark, owl_to_nt_path(path))
