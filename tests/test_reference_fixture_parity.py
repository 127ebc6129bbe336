"""Golden-fixture parity: the reference's OWN test resource files parsed by
our sources, pinned to the reference's OWN test assertions.

Self-roundtrips (our sink → our source) are blind to format divergence from
the reference; these tests close that gap by reading the byte-identical
fixture files the reference's unit tests read
(/root/reference/tests/resources) and asserting what those tests assert:

- TSV keeps literal quotes (csv.QUOTE_NONE — test_tsv_source.py:8-40:
  description == '"Node of type Disease, CURIE:456"'), CSV unquotes
  (test_read_csv:43-77).
- tar / tar.gz archives, including edge-file-first member order
  (test_read_tsv_tar_*:79-148).
- JSON / JSONL (test_json_source.py:8-41, test_jsonl_source.py:8-43):
  7 nodes, 5 edges, pinned names incl. a literal '|' inside a JSON string
  (PUBCHEM name '16|A-Methyl Prednisolone' must NOT be pipe-split).
- Obograph goslim_generic.json (test_obograph_source.py:12-71): 176
  nodes / 205 edges, hasOBONamespace category inference, scoped synonyms,
  subsets, xref.

The suite skips when the reference checkout is absent (the repo stays
standalone); in this sandbox it always runs.
"""

import os

import pytest
from pyspark.sql import functions as F

RES = "/root/reference/tests/resources"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(RES), reason="reference fixture checkout not present"
)


def _by_id(df, key="id"):
    return {r[key]: r.asDict() for r in df.collect()}


# ---------------------------------------------------------------- TSV / CSV


def test_tsv_nodes_keep_literal_quotes(spark):
    from kgx_spark.sources.tsv import read_nodes_tsv

    nodes = _by_id(read_nodes_tsv(spark, f"{RES}/test_nodes.tsv", fmt="tsv"))
    assert len(nodes) == 3
    n1 = nodes["CURIE:456"]
    assert n1["name"] == "Disease 456"
    assert "biolink:Disease" in n1["category"]
    assert "biolink:NamedThing" in n1["category"]
    # reference reads TSV with csv.QUOTE_NONE: quotes are DATA
    assert n1["description"] == '"Node of type Disease, CURIE:456"'


def test_tsv_edges(spark):
    from kgx_spark.sources.tsv import read_edges_tsv

    edges = read_edges_tsv(spark, f"{RES}/test_edges.tsv", fmt="tsv").collect()
    assert len(edges) == 1
    e1 = edges[0].asDict()
    assert e1["id"]
    assert e1["subject"] == "CURIE:123"
    assert e1["object"] == "CURIE:456"
    assert e1["predicate"] == "biolink:related_to"
    assert e1["relation"] == "biolink:related_to"
    assert "PMID:1" in e1["publications"] and "PMID:2" in e1["publications"]


def test_csv_nodes_unquote(spark):
    from kgx_spark.sources.tsv import read_nodes_tsv

    nodes = _by_id(read_nodes_tsv(spark, f"{RES}/test_nodes.csv", fmt="csv"))
    assert len(nodes) == 3
    n1 = nodes["CURIE:456"]
    assert n1["name"] == "Disease 456"
    assert "biolink:Disease" in n1["category"]
    # CSV quoting is syntax, not data (and the quoted comma survives)
    assert n1["description"] == "Node of type Disease, CURIE:456"


def test_csv_edges(spark):
    from kgx_spark.sources.tsv import read_edges_tsv

    e1 = read_edges_tsv(spark, f"{RES}/test_edges.csv", fmt="csv").collect()[0].asDict()
    assert e1["subject"] == "CURIE:123"
    assert e1["object"] == "CURIE:456"
    assert e1["predicate"] == "biolink:related_to"
    assert "PMID:1" in e1["publications"]


@pytest.mark.parametrize("archive", ["test.tar", "test.tar.gz", "test-inverse.tar.gz"])
def test_tsv_tar_archives(spark, archive):
    from kgx_spark.sources.tsv import read_kgx_tsv

    nodes, edges = read_kgx_tsv(spark, f"{RES}/{archive}", fmt="tsv")
    assert nodes.count() == 3
    assert edges.count() == 1


# ---------------------------------------------------------------- JSON(L)


def _check_valid_graph(nodes_df, edges_df):
    nodes = _by_id(nodes_df)
    assert len(nodes) == 7
    n = nodes["MONDO:0017148"]
    assert n["name"] == "heritable pulmonary arterial hypertension"
    assert n["category"][0] == "biolink:Disease"
    # a literal | inside a JSON string is NOT a list separator
    assert nodes["PUBCHEM.COMPOUND:10429502"]["name"] == "16|A-Methyl Prednisolone"

    edges = {(r["subject"], r["object"]): r.asDict() for r in edges_df.collect()}
    assert len(edges) == 5
    e = edges[("HGNC:11603", "MONDO:0017148")]
    assert e["predicate"] == "biolink:related_to"
    assert e["relation"] == "RO:0004013"


def test_json_valid_graph(spark):
    from kgx_spark.sources.json_source import read_kgx_json

    nodes, edges = read_kgx_json(spark, f"{RES}/valid.json")
    _check_valid_graph(nodes, edges)


def test_jsonl_valid_graph(spark):
    from kgx_spark.sources.jsonl import read_kgx_jsonl

    nodes, edges = read_kgx_jsonl(spark, f"{RES}/valid_nodes.jsonl")
    assert edges is None
    _, edges = read_kgx_jsonl(spark, f"{RES}/valid_edges.jsonl")
    _check_valid_graph(nodes, edges)


# ---------------------------------------------------------------- Obograph


@pytest.fixture(scope="module")
def goslim(spark):
    from kgx_spark.sources.obograph import read_obograph

    return read_obograph(spark, f"{RES}/goslim_generic.json")


def test_obograph_goslim_counts(goslim):
    nodes, edges = goslim
    assert nodes.count() == 176
    # the reference test's edge dict keys (s, o, edge_key): 206 raw rows,
    # 205 distinct (one duplicate triple) — test_obograph_source.py:31
    assert edges.select("subject", "predicate", "object").distinct().count() == 205


def test_obograph_goslim_node_pins(goslim):
    nodes, _ = goslim
    n = _by_id(nodes.where(F.col("id").isin("GO:0003677", "GO:0005575", "GO:0005975", "GO:0003924")))

    n1 = n["GO:0003677"]
    assert n1["name"] == "DNA binding"
    assert n1["description"].startswith("Any molecular function by which a gene product")
    # hasOBONamespace molecular_function → MolecularActivity (get_category)
    assert n1["category"] == ["biolink:MolecularActivity"]
    assert "structure-specific DNA binding" in n1["synonym"]
    assert "microtubule/chromatin interaction" in n1["synonym"]
    assert "plasmid binding" in n1["synonym"]
    # scoped synonyms keep FILE order (not in the reference's column_types,
    # so its sanitize never sorts them) — test_obograph_source.py:46-49
    assert n1["related_synonym"] == [
        "structure-specific DNA binding",
        "structure specific DNA binding",
        "microtubule/chromatin interaction",
    ]
    assert n1["narrow_synonym"] == ["plasmid binding"]

    n2 = n["GO:0005575"]
    assert n2["name"] == "cellular_component"
    assert n2["category"] == ["biolink:CellularComponent"]
    assert n2["xref"] == ["NIF_Subcellular:sao1337158144"]
    assert "goslim_chembl" in n2["subsets"]
    assert "goslim_generic" in n2["subsets"]
    assert n2["iri"] == "http://purl.obolibrary.org/obo/GO_0005575"

    assert n["GO:0005975"]["exact_synonym"] == ["carbohydrate metabolism"]
    assert n["GO:0003924"]["broad_synonym"][0].startswith("hydrolase activity")


def test_obograph_goslim_edge_semantics(goslim):
    _, edges = goslim
    rel = {(r["predicate"], r["relation"])
           for r in edges.select("predicate", "relation").distinct().collect()}
    # is_a → subclass_of with rdfs:subClassOf (read_edge:226-228); every IRI
    # pred → related_to with relation = the contracted CURIE (the reference's
    # toolkit lookups miss for IRIs — see the source's docstring; the 205
    # count above is the empirical pin)
    assert ("biolink:subclass_of", "rdfs:subClassOf") in rel
    assert ("biolink:related_to", "BFO:0000050") in rel
    assert ("biolink:related_to", "BFO:0000051") in rel
    assert ("biolink:related_to", "BFO:0000066") in rel
    assert ("biolink:related_to", "RO:0002211") in rel
    # non-IRI, non-special preds pass through as biolink:{pred}
    assert ("biolink:subPropertyOf", "subPropertyOf") in rel
    assert ("biolink:inverseOf", "inverseOf") in rel


# ---------------------------------------------------------------- RDF / NT


def test_rdf_nt1_dispatch(spark):
    """test_rdf_source.py::test_read_nt1 — node-property dispatch, rdf:type
    → `type`, NamedThing appended to edge endpoints, plain-edge predicate
    resolution with relation = the predicate CURIE."""
    from kgx_spark.sources.rdf_nt import read_ntriples

    nodes, edges = read_ntriples(spark, f"{RES}/rdf/test1.nt")
    n = _by_id(nodes)
    assert len(n) == 2
    n1 = n["ENSEMBL:ENSG0000000000001"]
    assert n1["type"] == ["SO:0000704"]
    assert len(n1["category"]) == 4
    for c in ("biolink:Gene", "biolink:GenomicEntity", "biolink:NamedThing"):
        assert c in n1["category"]
    assert n1["name"] == "Test Gene 123"
    assert n1["description"] == "This is a Test Gene 123"
    assert "Test Dataset" in n1["provided_by"]
    e = edges.collect()
    assert len(e) == 1
    e1 = e[0].asDict()
    assert (e1["subject"], e1["predicate"], e1["object"]) == (
        "ENSEMBL:ENSG0000000000001", "biolink:interacts_with", "ENSEMBL:ENSG0000000000002"
    )
    assert e1["relation"] == "biolink:interacts_with"


def test_rdf_nt2_dereification(spark):
    """test_read_nt3 (test2.nt) — rdf:Statement-style reified stanza keeps
    its id and type, extra statement properties land on the edge."""
    from kgx_spark.sources.rdf_nt import read_ntriples

    node_property_predicates = {
        f"https://www.example.org/UNKNOWN/{x}"
        for x in ["fusion", "homology", "combined_score", "cooccurence"]
    }
    nodes, edges = read_ntriples(
        spark, f"{RES}/rdf/test2.nt",
        node_property_predicates=node_property_predicates,
    )
    assert nodes.count() == 4
    e = {(r["subject"], r["object"]): r.asDict() for r in edges.collect()}
    assert len(e) == 3
    e1 = e[("ENSEMBL:ENSP0000000000001", "ENSEMBL:ENSP0000000000002")]
    assert e1["predicate"] == "biolink:interacts_with"
    assert e1["relation"] == "biolink:interacts_with"
    assert e1["type"] == ["biolink:Association"]
    assert e1["id"] == "urn:uuid:fcf76807-f909-4ccb-b40a-3b79b49aa518"
    assert e1["fusion"] == "0"
    assert e1["homology"] == "0.0"
    assert e1["combined_score"] == "490.0"
    assert e1["cooccurence"] == "332"


def test_rdf_nt3_predicate_resolution(spark):
    """test_read_nt4 (test3.nt) — owl:equivalentClass resolves to
    biolink:same_as via model mappings, RO:0002606 to biolink:treats, the
    duplicate triple collapses on the (s, p, o) edge key."""
    from kgx_spark.sources.rdf_nt import read_ntriples

    nodes, edges = read_ntriples(spark, f"{RES}/rdf/test3.nt")
    assert nodes.count() == 7
    assert edges.count() == 6
    e = {(r["subject"], r["object"]): r.asDict() for r in edges.collect()}
    e2 = e[("ENSEMBL:ENSP0000000000001", "UniProtKB:X0000001")]
    assert e2["predicate"] == "biolink:same_as"
    assert e2["relation"] == "owl:equivalentClass"
    e3 = e[("ENSEMBL:ENSP0000000000001", "MONDO:0000001")]
    assert e3["predicate"] == "biolink:treats"
    assert e3["relation"] == "RO:0002606"


def test_rdf_oban(spark):
    """test_read_nt5 (oban-test.nt) — OBAN association dereification with a
    user prefix map; endpoint-only nodes get exactly [biolink:NamedThing];
    RO:0002558 keys via the curie label lookup to `has_evidence`."""
    from kgx_spark.sources.rdf_nt import read_ntriples

    prefix_map = {
        "HGNC": "https://www.genenames.org/data/gene-symbol-report/#!/hgnc_id/",
        "OMIM": "http://omim.org/entry/",
    }
    node_property_predicates = {
        "http://purl.obolibrary.org/obo/RO_0002558",
        "http://purl.org/dc/elements/1.1/source",
        "https://monarchinitiative.org/frequencyOfPhenotype",
    }
    nodes, edges = read_ntriples(
        spark, f"{RES}/rdf/oban-test.nt",
        prefix_map=prefix_map,
        node_property_predicates=node_property_predicates,
    )
    assert nodes.count() == 14
    e = {(r["subject"], r["object"]): r.asDict() for r in edges.collect()}
    assert len(e) == 7
    assert _by_id(nodes)["HP:0000505"]["category"] == ["biolink:NamedThing"]
    e1 = e[("OMIM:166400", "HP:0000006")]
    assert e1["relation"] == "RO:0000091"
    assert e1["type"] == ["OBAN:association"]
    assert e1["has_evidence"] == ["ECO:0000501"]
    e2 = e[("ORPHA:93262", "HP:0000505")]
    assert e2["relation"] == "RO:0002200"
    assert e2["frequencyOfPhenotype"] == "HP:0040283"


def test_rdf_oban_predicate_mapping(spark):
    """test_read_nt6 — predicate_mapping renames an unmapped predicate's
    property."""
    from kgx_spark.sources.rdf_nt import read_ntriples

    nodes, edges = read_ntriples(
        spark, f"{RES}/rdf/oban-test.nt",
        prefix_map={"OMIM": "http://omim.org/entry/"},
        node_property_predicates={"https://monarchinitiative.org/frequencyOfPhenotype"},
        predicate_mapping={
            "https://monarchinitiative.org/frequencyOfPhenotype": "frequency_of_phenotype"
        },
    )
    e = {(r["subject"], r["object"]): r.asDict() for r in edges.collect()}
    assert e[("ORPHA:93262", "HP:0000505")]["frequency_of_phenotype"] == "HP:0040283"


# ---------------------------------------------------------------- SSSOM


def test_sssom_example1(spark):
    """test_sssom_source.py::test_load1 — owl:equivalentClass resolves to
    biolink:same_as; long-tail columns (confidence) ride on the edge."""
    from kgx_spark.sources.sssom import read_sssom

    nodes, edges, _ = read_sssom(spark, f"{RES}/sssom_example1.tsv")
    assert nodes.select("id").distinct().count() == 18
    e = {(r["subject"], r["object"]): r.asDict() for r in edges.collect()}
    assert len(e) == 9
    e1 = e[("MP:0012051", "HP:0001257")]
    assert e1["predicate"] == "biolink:same_as"
    assert e1["confidence"] == "1.0"


def test_sssom_example2(spark):
    """test_load2 — skos:exactMatch → biolink:exact_match; labels and
    reviewer metadata on edges."""
    from kgx_spark.sources.sssom import read_sssom

    nodes, edges, _ = read_sssom(spark, f"{RES}/sssom_example2.tsv")
    assert nodes.select("id").distinct().count() == 18
    e = {(r["subject"], r["object"]): r.asDict() for r in edges.collect()}
    assert len(e) == 9
    e1 = e[("MP:0002152", "HP:0012443")]
    assert e1["predicate"] == "biolink:exact_match"
    assert e1["match_type"] == "SSSOMC:Lexical"
    assert e1["reviewer_id"] == "orcid:0000-0000-0000-0000"
    n = _by_id(nodes)
    assert n["MP:0002152"]["name"] == "abnormal brain morphology"
    assert n["HP:0012443"]["name"] == "Abnormality of brain morphology"


def test_sssom_example3(spark):
    """test_load3 — '#' YAML header metadata copied onto every edge;
    curie_map itself must NOT become an edge column."""
    from kgx_spark.sources.sssom import read_sssom

    nodes, edges, meta = read_sssom(spark, f"{RES}/sssom_example3.tsv")
    assert nodes.select("id").distinct().count() == 20
    e = {(r["subject"], r["object"]): r.asDict() for r in edges.collect()}
    assert len(e) == 10
    e1 = e[("MA:0000168", "UBERON:0000955")]
    assert e1["mapping_provider"] == "https://www.mousephenotype.org"
    assert e1["mapping_set_group"] == "impc_mouse_morphology"
    assert e1["mapping_set_id"] == "ma_uberon_impc_pat"
    assert e1["mapping_set_title"].startswith("The IMPC Mouse Morphology Mappings")
    assert e1["creator_id"] == "https://orcid.org/0000-0000-0000-0000"
    assert e1["license"] == "https://creativecommons.org/publicdomain/zero/1.0/"
    assert "curie_map" not in e1


# ---------------------------------------------------------------- TRAPI


def test_trapi_legacy_rsa_sample(spark):
    """test_trapi_source.py::test_read_trapi_json1 — legacy Reasoner Std
    API shape: list nodes with `type` → category, source_id/target_id
    edges defaulting to biolink:related_to; duplicate node ids collapse."""
    from kgx_spark.sources.trapi import read_trapi

    nodes, edges = read_trapi(spark, f"{RES}/rsa_sample.json")
    n = _by_id(nodes)
    assert len(n) == 4
    assert n["HGNC:11603"]["name"] == "TBX4"
    assert n["HGNC:11603"]["category"] == ["biolink:Gene"]
    e = {(r["subject"], r["object"]): r.asDict() for r in edges.collect()}
    assert len(e) == 3
    e1 = e[("HGNC:11603", "MONDO:0005002")]
    assert e1["predicate"] == "biolink:related_to"
    assert e1["id"] == "a8575c4e-61a6-428a-bf09-fcb3e8d1644d"


def test_trapi_sample(spark):
    """trapi_sample.json — TRAPI 1.5 list-form edges (no nodes section):
    sources split into primary/aggregator knowledge sources, attributes
    flattened, explicit predicates preserved."""
    from kgx_spark.sources.trapi import read_trapi

    nodes, edges = read_trapi(spark, f"{RES}/trapi_sample.json")
    assert nodes.count() == 0
    rows = [r.asDict() for r in edges.collect()]
    assert len(rows) == 2
    assert all(r["predicate"] == "biolink:genetically_associated_with" for r in rows)
    assert any(r["primary_knowledge_source"] == "infores:uniprot" for r in rows)
    assert any(
        (r["aggregator_knowledge_source"] or []) == ["infores:diseases"] for r in rows
    )


# ---------------------------------------------------------------- OWL


def test_owl_goslim(spark):
    """test_owl_source.py::test_read_owl1 — annotation properties under the
    reference's key names, IAO:0000115 → description, subclass edges with
    rdfs:subClassOf relations."""
    from kgx_spark.sources.owl_source import read_owl

    nodes, edges = read_owl(spark, f"{RES}/goslim_generic.owl")
    n = _by_id(nodes)

    n1 = n["GO:0008150"]
    assert n1["name"] == "biological_process"
    assert n1["description"]
    assert n1["comment"]
    assert "physiological process" in n1["has_exact_synonym"]
    assert n1["has_alternative_id"]

    n2 = n["GO:0003674"]
    assert n2["has_exact_synonym"] and n2["description"] and n2["comment"]
    assert n2["has_alternative_id"]

    n3 = n["GO:0005575"]
    assert "GO:0008372" in n3["has_alternative_id"]

    e = {(r["subject"], r["object"]): r.asDict() for r in edges.collect()}
    e1 = e[("GO:0008289", "GO:0003674")]
    assert e1["predicate"] == "biolink:subclass_of"
    assert e1["relation"] == "rdfs:subClassOf"


def test_obograph_phenio_deprecated(spark):
    """test_obograph_source.py::test_read_deprecated_term_phenio — the
    deprecated flag survives, and an edge-less obograph document (its
    graphs carry `edges: []`) parses to zero edges."""
    from kgx_spark.sources.obograph import read_obograph

    nodes, edges = read_obograph(spark, f"{RES}/phenio.json")
    n1 = _by_id(nodes)["GO:0051370"]
    assert n1["name"] == "obsolete ZASP binding"
    assert n1["deprecated"] is True
    assert edges.count() == 0


def test_obograph_error_detection_fixture(spark):
    """test_obograph_source.py::test_error_detection — the malformed sample
    still parses into its 3 nodes / 2 edges."""
    from kgx_spark.sources.obograph import read_obograph

    nodes, edges = read_obograph(spark, f"{RES}/obo_error_detection.json")
    assert nodes.count() == 3
    assert edges.count() == 2


# ------------------------------------------------------------------- merge


def _merge_inputs(spark):
    from kgx_spark.sources.tsv import read_edges_tsv, read_nodes_tsv

    t1 = (
        read_nodes_tsv(spark, f"{RES}/merge/test1_nodes.tsv", fmt="tsv"),
        read_edges_tsv(spark, f"{RES}/merge/test1_edges.tsv", fmt="tsv"),
    )
    t2 = (
        read_nodes_tsv(spark, f"{RES}/merge/test2_nodes.tsv", fmt="tsv"),
        read_edges_tsv(spark, f"{RES}/merge/test2_edges.tsv", fmt="tsv"),
    )
    return t1, t2


def test_merge_fixture_preserve(spark):
    """tests/integration/test_graph_merge.py::test_merge — the reference's
    own merge/ TSV fixtures through our source + merge kernel: 6 nodes,
    8 edges; x1 keeps its name, unions categories, and its conflicting p1
    carries BOTH graphs' values ('a' and '1', here '|'-encoded)."""
    from kgx_spark.operators.merge import merge_graphs

    t1, t2 = _merge_inputs(spark)
    nodes, edges = merge_graphs([t1, t2], preserve=True)
    n = _by_id(nodes)
    assert len(n) == 6
    assert edges.count() == 8

    x1 = n["x1"]
    assert x1["name"] == "node x1"
    assert isinstance(x1["category"], list)
    assert "a" in x1["p1"].split("|")
    assert "1" in x1["p1"].split("|")

    x10 = n["x10"]
    assert x10["id"] == "x10"
    assert x10["name"] == "node x10"


def test_merge_fixture_no_preserve(spark):
    """::test_merge_no_preserve — overwrite mode: x1's category still unions
    (multivalued), but p1 resolves to the INCOMING graph's 'a' (the largest
    graph — test1, 5 edges — is the merge target; test2 overwrites it).
    The inputs are listed largest-first, the reference's merge order."""
    from kgx_spark.operators.merge import merge_graphs

    t1, t2 = _merge_inputs(spark)
    nodes, edges = merge_graphs([t1, t2], preserve=False)
    n = _by_id(nodes)
    assert len(n) == 6
    assert edges.count() == 8

    x1 = n["x1"]
    assert x1["name"] == "node x1"
    assert "biolink:Gene" in x1["category"]  # from test1
    assert "biolink:NamedThing" in x1["category"]  # from test2
    assert x1["p1"] == "a"


# ------------------------------------------------------ meta-knowledge-graph


def _graph_fixture(spark):
    # direct source reads yield RAW records, mirroring the reference's
    # Transformer(stream=True) in the meta-KG tests (records stream through
    # the inspector uninserted); graph-mode loads via transform.read_source
    # dedupe to 512/531
    from kgx_spark.sources.tsv import read_kgx_tsv

    return read_kgx_tsv(
        spark, [f"{RES}/graph_nodes.tsv", f"{RES}/graph_edges.tsv"], fmt="tsv"
    )


def test_meta_kg_graph_fixture_node_stats(spark):
    """test_meta_knowledge_graph.py::test_generate_meta_knowledge_graph_by_inspector
    node-side asserts: 512 distinct nodes (the fixture carries 22 exact
    duplicate records the reference skips), 8 categories, Gene count 178,
    the pinned id_prefix memberships."""
    from kgx_spark.operators.meta_kg import _catalog_nodes, meta_node_stats

    nodes, _ = _graph_fixture(spark)
    assert _catalog_nodes(nodes).count() == 512

    stats = {r["category"]: r.asDict() for r in meta_node_stats(nodes).collect()}
    assert len(stats) == 8
    assert stats["biolink:Gene"]["count"] == 178
    assert "NCBIGene" in stats["biolink:Gene"]["id_prefixes"]
    assert "REACT" in stats["biolink:Pathway"]["id_prefixes"]
    assert "HP" in stats["biolink:PhenotypicFeature"]["id_prefixes"]


def test_meta_kg_graph_fixture_edge_stats(spark):
    """::test_generate_meta_knowledge_graph_by_inspector edge-side asserts:
    13 (subject_category, predicate, object_category) mappings,
    Gene-interacts_with-Gene count 165, and the aggregator_knowledge_source
    facet counts (string 160, hpoa 111)."""
    from kgx_spark.operators.meta_kg import meta_edge_count_by_source, meta_edge_stats

    nodes, edges = _graph_fixture(spark)

    mappings = {
        (r["subject_category"], r["predicate"], r["object_category"]): r["count"]
        for r in meta_edge_stats(edges, nodes).collect()
    }
    assert len(mappings) == 13
    assert mappings[("biolink:Gene", "biolink:interacts_with", "biolink:Gene")] == 165

    cbs = {
        (r["subject_category"], r["predicate"], r["object_category"], r["source"]): r["count"]
        for r in meta_edge_count_by_source(
            edges, nodes, facet="aggregator_knowledge_source"
        ).collect()
    }
    g_i_g = {k[3]: v for k, v in cbs.items()
             if k[:3] == ("biolink:Gene", "biolink:interacts_with", "biolink:Gene")}
    assert set(g_i_g) == {"biogrid", "string"}
    assert g_i_g["string"] == 160
    g_p_p = {k[3]: v for k, v in cbs.items()
             if k[:3] == ("biolink:Gene", "biolink:has_phenotype", "biolink:PhenotypicFeature")}
    assert set(g_p_p) == {"omim", "orphanet", "hpoa"}
    assert g_p_p["hpoa"] == 111
    assert not any(
        k[:3] == ("biolink:Gene", "biolink:affects", "biolink:Disease") for k in cbs
    )


def test_meta_kg_multi_category_fixture(spark):
    """::test_meta_knowledge_graph_multiple_category_and_predicate_parsing —
    the Cartesian category-product semantics: 10 nodes / 7 categories /
    35 node-category mappings; 25 edge mappings / 100 edge counts across
    mappings."""
    from kgx_spark.operators.meta_kg import (
        _catalog_nodes,
        meta_edge_stats,
        meta_node_stats,
    )
    from kgx_spark.sources.tsv import read_kgx_tsv

    nodes, edges = read_kgx_tsv(
        spark,
        [f"{RES}/graph_multi_category_nodes.tsv", f"{RES}/graph_multi_category_edges.tsv"],
        fmt="tsv",
    )
    assert _catalog_nodes(nodes).count() == 10

    node_stats = {r["category"]: r["count"] for r in meta_node_stats(nodes).collect()}
    assert len(node_stats) == 7
    assert node_stats["biolink:Disease"] == 1
    assert node_stats["biolink:BiologicalEntity"] == 5
    assert "biolink:AnatomicalEntityEntity" not in node_stats
    assert sum(node_stats.values()) == 35

    edge_stats = meta_edge_stats(edges, nodes)
    rows = edge_stats.collect()
    assert len(rows) == 25
    assert sum(r["count"] for r in rows) == 100


# --------------------------------------------------- clique-merge integration


def test_clique_merge_integration_csv_fixture(spark):
    """tests/integration/test_clique_merge_operation.py::test_clique_generation
    + ::test_clique_merge — the cm_nodes/cm_edges CSV fixtures through our
    source + clique_merge with the category-keyed prefix map: 2 cliques,
    HGNC leaders elected via PREFIX_PRIORITIZATION, the Disease-categorized
    ENSEMBL:ENSG00000124151 evicted from its Gene clique's same_as."""
    from kgx_spark.operators.clique import clique_merge
    from kgx_spark.sources.tsv import read_kgx_tsv

    nodes, edges = read_kgx_tsv(
        spark, [f"{RES}/cm_nodes.csv", f"{RES}/cm_edges.csv"], fmt="csv"
    )
    n, _, mapping = clique_merge(
        nodes,
        edges,
        prefix_prioritization_map={
            "biolink:Gene": ["HGNC", "NCBIGene", "ENSEMBL", "OMIM"]
        },
    )
    leaders = sorted(r["leader"] for r in mapping.select("leader").distinct().collect())
    assert leaders == ["HGNC:35302", "HGNC:7670"]

    by_id = _by_id(n)
    n1 = by_id["HGNC:35302"]
    assert n1["election_strategy"] == "PREFIX_PRIORITIZATION"
    assert n1["clique_leader"]
    assert "NCBIGene:100302240" in n1["same_as"]
    assert "ENSEMBL:ENSG00000284458" in n1["same_as"]

    n2 = by_id["HGNC:7670"]
    assert n2["election_strategy"] == "PREFIX_PRIORITIZATION"
    assert "NCBIGene:8202" in n2["same_as"]
    assert "OMIM:601937" in n2["same_as"]
    assert "ENSEMBL:ENSG00000124151" not in n2["same_as"]
    # the evicted node survives as its own record
    assert "ENSEMBL:ENSG00000124151" in by_id


def test_clique_merge_integration_edge_consolidation(spark):
    """::test_clique_merge_edge_consolidation — cm_test2 TSV fixtures with
    annotated leaders: LEADER_ANNOTATION election, re-pointed edge fan
    (3 in / 6 out on HGNC:7670 — the duplicate subclass_of collapses, the
    same_as edge to the evicted Disease node survives)."""
    from kgx_spark.operators.clique import clique_merge
    from kgx_spark.sources.tsv import read_kgx_tsv

    nodes, edges = read_kgx_tsv(
        spark, [f"{RES}/cm_test2_nodes.tsv", f"{RES}/cm_test2_edges.tsv"], fmt="tsv"
    )
    n, e, mapping = clique_merge(
        nodes,
        edges,
        prefix_prioritization_map={
            "biolink:Gene": ["HGNC", "NCBIGene", "ENSEMBL", "OMIM"]
        },
        leader_annotation="clique_leader",
    )
    leaders = sorted(r["leader"] for r in mapping.select("leader").distinct().collect())
    assert leaders == ["HGNC:35302", "HGNC:7670"]

    by_id = _by_id(n)
    n1 = by_id["HGNC:35302"]
    assert n1["election_strategy"] == "LEADER_ANNOTATION"
    assert "NCBIGene:100302240" in n1["same_as"]
    assert "ENSEMBL:ENSG00000284458" in n1["same_as"]

    n2 = by_id["HGNC:7670"]
    assert n2["election_strategy"] == "LEADER_ANNOTATION"
    assert "NCBIGene:8202" in n2["same_as"]
    assert "OMIM:601937" in n2["same_as"]
    assert "ENSEMBL:ENSG00000124151" not in n2["same_as"]

    assert e.where(F.col("object") == "HGNC:7670").count() == 3
    assert e.where(F.col("subject") == "HGNC:7670").count() == 6


# --------------------------------------------------------- infores coercion


def _infores_transform(spark, **flags):
    from kgx_spark.transform import read_source

    return read_source(
        spark,
        {
            "filename": [
                f"{RES}/test_infores_coercion_nodes.tsv",
                f"{RES}/test_infores_coercion_edges.tsv",
            ],
            "format": "tsv",
            **flags,
        },
    )


def _infores_catalog(spark, **flags):
    from kgx_spark.functions.infores import transformer_infores_catalog
    from kgx_spark.sources.tsv import read_kgx_tsv

    nodes, edges = read_kgx_tsv(
        spark,
        [f"{RES}/test_infores_coercion_nodes.tsv", f"{RES}/test_infores_coercion_edges.tsv"],
        fmt="tsv",
    )
    return {
        r["knowledge_source"]: r["infores"]
        for r in transformer_infores_catalog(nodes, edges, flags).collect()
    }


def test_infores_basic_formatting(spark):
    """tests/integration/test_transform.py::test_transformer_infores_basic_formatting"""
    nodes, edges = _infores_transform(
        spark,
        provided_by=True,
        aggregator_knowledge_source=True,
        primary_knowledge_source=True,
    )
    n = _by_id(nodes)
    assert n["FlyBase:FBgn0000008"]["provided_by"] == ["infores:flybase-monarch-version-202012"]
    assert n["GO:0005912"]["provided_by"] == ["infores:gene-ontology-monarch-version-202012"]
    e = edges.collect()[0].asDict()
    assert "infores:gene-ontology-monarch-version-202012" in e["aggregator_knowledge_source"]
    assert e["primary_knowledge_source"] == "infores:monarch-initiative"


def test_infores_suppression(spark):
    """::test_transformer_infores_suppression — False drops the property."""
    nodes, edges = _infores_transform(
        spark,
        provided_by=False,
        aggregator_knowledge_source=False,
        primary_knowledge_source=False,
    )
    assert "provided_by" not in nodes.columns
    assert "aggregator_knowledge_source" not in edges.columns
    assert "primary_knowledge_source" not in edges.columns


def test_infores_parser_deletion_rewrite(spark):
    """::test_transformer_infores_parser_deletion_rewrite — regex matches
    deleted before coercion; catalog carries the reference's 3 entries
    (incl. the double-processed identity row)."""
    flags = dict(
        provided_by=(r"\(.+\)", ""), aggregator_knowledge_source=(r"\(.+\)", "")
    )
    nodes, edges = _infores_transform(spark, **flags)
    n = _by_id(nodes)
    assert n["FlyBase:FBgn0000008"]["provided_by"] == ["infores:flybase"]
    assert n["GO:0005912"]["provided_by"] == ["infores:gene-ontology"]
    e = edges.collect()[0].asDict()
    assert "infores:gene-ontology" in e["aggregator_knowledge_source"]
    assert e["primary_knowledge_source"] == "Monarch Initiative"  # unmapped: intact

    irc = _infores_catalog(spark, **flags)
    assert len(irc) == 3
    assert irc["Gene Ontology (Monarch version 202012)"] == "infores:gene-ontology"


def test_infores_parser_substitution_rewrite(spark):
    """::test_transformer_infores_parser_substitution_rewrite"""
    flags = dict(
        provided_by=(r"\(.+\)", "Monarch"),
        aggregator_knowledge_source=(r"\(.+\)", "Monarch"),
    )
    nodes, edges = _infores_transform(spark, **flags)
    n = _by_id(nodes)
    assert n["FlyBase:FBgn0000008"]["provided_by"] == ["infores:flybase-monarch"]
    assert n["GO:0005912"]["provided_by"] == ["infores:gene-ontology-monarch"]
    e = edges.collect()[0].asDict()
    assert "infores:gene-ontology-monarch" in e["aggregator_knowledge_source"]

    irc = _infores_catalog(spark, **flags)
    assert len(irc) == 3
    assert irc["Gene Ontology (Monarch version 202012)"] == "infores:gene-ontology-monarch"


def test_infores_parser_prefix_rewrite(spark):
    """::test_transformer_infores_parser_prefix_rewrite"""
    flags = dict(
        provided_by=(r"\(.+\)", "", "Monarch"),
        aggregator_knowledge_source=(r"\(.+\)", "", "Monarch"),
    )
    nodes, edges = _infores_transform(spark, **flags)
    n = _by_id(nodes)
    assert n["FlyBase:FBgn0000008"]["provided_by"] == ["infores:monarch-flybase"]
    assert n["GO:0005912"]["provided_by"] == ["infores:monarch-gene-ontology"]
    e = edges.collect()[0].asDict()
    assert "infores:monarch-gene-ontology" in e["aggregator_knowledge_source"]

    irc = _infores_catalog(spark, **flags)
    assert len(irc) == 3
    assert irc["Gene Ontology (Monarch version 202012)"] == "infores:monarch-gene-ontology"


def test_infores_simple_prefix_rewrite(spark):
    """::test_transformer_infores_simple_prefix_rewrite — empty regex means
    no substitution, prefix still applies."""
    flags = dict(
        provided_by=(r"", "", "Fixed"), aggregator_knowledge_source=(r"", "", "Fixed")
    )
    nodes, edges = _infores_transform(spark, **flags)
    n = _by_id(nodes)
    assert n["FlyBase:FBgn0000008"]["provided_by"] == ["infores:fixed-flybase-monarch-version-202012"]
    assert n["GO:0005912"]["provided_by"] == ["infores:fixed-gene-ontology-monarch-version-202012"]
    e = edges.collect()[0].asDict()
    assert "infores:fixed-gene-ontology-monarch-version-202012" in e["aggregator_knowledge_source"]

    irc = _infores_catalog(spark, **flags)
    assert len(irc) == 3
    assert (
        irc["Gene Ontology (Monarch version 202012)"]
        == "infores:fixed-gene-ontology-monarch-version-202012"
    )


def test_chebi_tsv_transform_with_knowledge_sources(spark, tmp_path):
    """tests/unit/test_cli_utils.py::test_transform_uncompressed_tsv_to_tsv —
    plain-string knowledge_sources specs fill missing slots and leave
    present values intact: every written edge row carries the filled
    'someks'/'someotherks', keeps its original 'chebiasc66dwf'
    knowledge_source, never gains 'newknowledge', and lands on the
    reference's 12-column layout."""
    import csv
    import glob

    from kgx_spark.transform import transform

    out = str(tmp_path / "chebi_snippet")
    transform(
        spark,
        {
            "filename": [
                f"{RES}/chebi_kgx_tsv_nodes.tsv",
                f"{RES}/chebi_kgx_tsv_edges.tsv",
            ],
            "format": "tsv",
            "aggregator_knowledge_source": "someks",
            "primary_knowledge_source": "someotherks",
            "knowledge_source": "newknowledge",
        },
        {"filename": out, "format": "tsv", "single_file": True},
    )
    assert os.path.exists(f"{out}_nodes.tsv")
    assert os.path.exists(f"{out}_edges.tsv")
    (part,) = glob.glob(f"{out}_edges.tsv/part-*")
    with open(part) as fd:
        rows = csv.reader(fd, delimiter="\t", quotechar='"')
        headings = next(rows)
        assert "aggregator_knowledge_source" in headings
        n = 0
        for row in rows:
            n += 1
            assert len(row) == 12
            assert "someks" in row
            assert "someotherks" in row
            assert "newknowledge" not in row
            assert "chebiasc66dwf" in row
        assert n > 0


def test_chebi_tar_gz_transform(spark, tmp_path):
    """::test_chebi_tsv_to_tsv_transform — the tar.gz-packaged chebi
    fileset transforms cleanly with rewrite-tuple knowledge sources."""
    from kgx_spark.transform import transform

    out = str(tmp_path / "test_chebi")
    nodes, edges = transform(
        spark,
        {
            "filename": [f"{RES}/chebi_kgx_tsv.tar.gz"],
            "format": "tsv",
            "aggregator_knowledge_source": ("test1",),
            "primary_knowledge_source": ("test2",),
        },
        {"filename": out, "format": "tsv", "single_file": True},
    )
    assert os.path.exists(f"{out}_nodes.tsv")
    assert os.path.exists(f"{out}_edges.tsv")
    assert nodes.count() > 0 and edges.count() > 0


def test_incomplete_nodes_fixture(spark):
    """tests/unit/test_source/test_tsv_source.py::test_incorrect_nodes — a
    node record with no 'id' column parses without crashing; validation
    routes it to the error side-output rather than the node stream."""
    from kgx_spark.operators.sanitize import sanitize_import
    from kgx_spark.operators.validate import validate_nodes
    from kgx_spark.sources.tsv import _read_table, read_nodes_tsv

    nodes = read_nodes_tsv(spark, f"{RES}/incomplete_nodes.tsv", fmt="tsv")
    assert nodes.count() == 0  # the single record lacks an id

    raw = sanitize_import(_read_table(spark, f"{RES}/incomplete_nodes.tsv", fmt="tsv"))
    _, errors = validate_nodes(raw)
    assert errors.count() >= 1


# ----------------------------------------------------------- YAML configs


def _patched_config(src_yaml, tmp_path):
    """Copy a reference YAML config, absolutizing inputs against the
    resource dir and pointing output_directory at tmp (the reference
    checkout is read-only here)."""
    import yaml

    with open(src_yaml) as fh:
        cfg = yaml.safe_load(fh)
    cfg.setdefault("configuration", {})["output_directory"] = str(tmp_path / "target")
    block = cfg.get("transform") or cfg.get("merged_graph")
    for sp in block["source"].values():
        sp["input"]["filename"] = [
            os.path.join(RES, f) for f in sp["input"]["filename"]
        ]
    # the reference merge-yaml stats op writes via an absolute-ish filename
    out = tmp_path / "cfg.yaml"
    out.write_text(yaml.safe_dump(cfg))
    return str(out)


def test_transform_yaml_fixture(spark, tmp_path):
    """tests/unit/test_cli_utils.py::test_transform2 — the reference's OWN
    test-transform.yaml through transform_config: three sources (tsv→json,
    tsv→tsv, json→tsv) all produce graphs and output files."""
    from kgx_spark.transform import transform_config

    cfg = _patched_config(f"{RES}/test-transform.yaml", tmp_path)
    results = transform_config(spark, cfg)
    assert set(results) == {"test_graph", "other_graph", "valid_graph"}
    n, e = results["test_graph"]
    assert n.count() == 512  # 534 records, 22 exact duplicates collapse at load
    assert e.count() == 531  # 539 records, 8 duplicate (s,o,key) collapse
    vn, ve = results["valid_graph"]
    assert vn.count() == 15 and ve.count() == 5
    target = tmp_path / "target"
    assert (target / "grapher.json").exists() or (target / "grapher").exists()


def test_merge_yaml_fixture(spark, tmp_path):
    """::test_merge_wrapper + integration test_merge1 — the reference's OWN
    test-merge.yaml through merge_config: category-filtered test_graph
    merges with valid.json; the legacy edge_label filter key (absent from
    edge data) drops every test_graph edge, exactly as the reference's
    check_edge_filter does; stats YAML lands with provided_by facets; both
    destinations are written."""
    import yaml

    from kgx_spark.transform import merge_config

    cfg = _patched_config(f"{RES}/test-merge.yaml", tmp_path)
    nodes, edges = merge_config(spark, cfg)

    # all 539 test_graph edges fail the edge_label filter; valid.json's 5 remain
    assert edges.count() == 5
    cats = {c for r in nodes.select("category").collect() for c in (r["category"] or [])}
    assert "biolink:Gene" in cats and "biolink:Disease" in cats

    target = tmp_path / "target"
    stats = yaml.safe_load((target / "merged-kg_stats.yaml").read_text())
    assert stats["graph_name"] == "Merged Graph"
    assert "provided_by" in stats["node_stats"]
    gene = stats["node_stats"]["count_by_category"]["biolink:Gene"]
    assert "provided_by" in gene and gene["count"] > 0
    assert "provided_by" in stats["edge_stats"]

    assert (target / "merged-graph_nodes.tsv").exists()
    assert (target / "merged-graph_edges.tsv").exists()
    assert (target / "merged-graph.json").exists()
    # checkpoint: true snapshots each source as TSV under its key
    assert (target / "test_graph_nodes.tsv").exists()


def test_transform_rdf_yaml_fixtures(spark, tmp_path):
    """::test_transform_rdf_to_tsv + ::test_transform_tsv_to_rdf — the
    reference's nt→tsv and tsv→nt transform YAMLs end-to-end."""
    from kgx_spark.transform import transform_config

    cfg = _patched_config(f"{RES}/test-transform-rdf-tsv.yaml", tmp_path)
    results = transform_config(spark, cfg)
    n, e = results["test_graph"]
    assert n.count() > 0 and e.count() > 0
    target = tmp_path / "target"
    assert (target / "test-transform-rdf_nodes.tsv").exists()
    assert (target / "test-transform-rdf_edges.tsv").exists()

    tmp2 = tmp_path / "second"
    tmp2.mkdir()
    cfg2 = _patched_config(f"{RES}/test-transform-tsv-rdf.yaml", tmp2)
    results2 = transform_config(spark, cfg2)
    n2, e2 = results2["test_graph"]
    assert n2.count() > 0 and e2.count() > 0
    assert (tmp2 / "target" / "test-tranform-tsv-rdf.nt").exists()


# ------------------------------------------------- stream-transform scenarios


def test_transform_filter_scenarios(spark, tmp_path):
    """tests/integration/test_stream_transform.py::test_transform1 — the six
    TSV-load scenarios with their exact node/edge counts: graph-mode loads
    dedupe (512/531), the category node filter cross-wires into edge
    subject/object_category (178/177), predicate composition (178/165), and
    an edge-category-only filter reduces the node stream too (133/13)."""
    from kgx_spark.transform import read_source

    files = [f"{RES}/graph_nodes.tsv", f"{RES}/graph_edges.tsv"]

    n, e = read_source(spark, {"filename": files, "format": "tsv"})
    assert (n.count(), e.count()) == (512, 531)

    n, e = read_source(
        spark,
        {"filename": files, "format": "tsv",
         "node_filters": {"category": {"biolink:Gene"}}},
    )
    assert (n.count(), e.count()) == (178, 177)

    n, e = read_source(
        spark,
        {"filename": files, "format": "tsv",
         "node_filters": {"category": {"biolink:Gene"}},
         "edge_filters": {"predicate": {"biolink:interacts_with"}}},
    )
    assert (n.count(), e.count()) == (178, 165)

    n, e = read_source(
        spark,
        {"filename": files, "format": "tsv",
         "edge_filters": {
             "subject_category": {"biolink:Disease"},
             "object_category": {"biolink:PhenotypicFeature"},
             "predicate": {"biolink:has_phenotype"},
         }},
    )
    assert (n.count(), e.count()) == (133, 13)


def test_transform_roundtrip_sinks(spark, tmp_path):
    """::test_transform1 roundtrip legs — the loaded graph writes to
    json/jsonl/nt and reads back with identical counts (512/531)."""
    from kgx_spark.transform import read_source, write_sink

    files = [f"{RES}/graph_nodes.tsv", f"{RES}/graph_edges.tsv"]
    nodes, edges = read_source(spark, {"filename": files, "format": "tsv"})

    for fmt, fname in (("json", "g1.json"), ("jsonl", "g2"), ("nt", "g3.nt")):
        out = str(tmp_path / fname)
        write_sink(nodes, edges, {"filename": out, "format": fmt})
        # the jsonl sink writes {base}_nodes.jsonl / {base}_edges.jsonl —
        # read back via glob, as the reference passes both files explicitly
        back = {"filename": f"{out}_*" if fmt == "jsonl" else out, "format": fmt}
        n2, e2 = read_source(spark, back)
        assert n2.count() == 512, fmt
        assert e2.count() == 531, fmt


def test_bfo_obojson_transform(spark, tmp_path):
    """tests/unit/test_cli_utils.py::test_transform_obojson_to_csv_wrapper —
    BFO_2_relaxed.json through the transform with plain-string knowledge
    sources: every written edge row carries the filled 'bioportal' and
    'justastring' defaults."""
    import csv
    import glob

    from kgx_spark.transform import transform

    out = str(tmp_path / "test_bfo_2_relaxed")
    transform(
        spark,
        {
            "filename": f"{RES}/BFO_2_relaxed.json",
            "format": "obojson",
            "aggregator_knowledge_source": "bioportal",
            "primary_knowledge_source": "justastring",
        },
        {"filename": out, "format": "tsv", "single_file": True},
    )
    (part,) = glob.glob(f"{out}_edges.tsv/part-*")
    with open(part) as fd:
        rows = csv.reader(fd, delimiter="\t", quotechar='"')
        headings = next(rows)
        assert "aggregator_knowledge_source" in headings
        n = 0
        for row in rows:
            n += 1
            assert "bioportal" in row
            assert "justastring" in row
        assert n > 0


def test_cli_graph_summary_kgx_map(tmp_path, capsys, spark):
    """tests/unit/test_cli_utils.py::test_kgx_graph_summary — the CLI
    kgx-map summary over the reference's graph fixture with facet
    properties. Note: the reference's streaming inspector counts raw edge
    records (539); our graph-mode load dedupes by (s,p,o) edge key (531)
    — the node side (512, deduped) matches either way."""
    import json as _json
    import shutil

    from kgx_spark.__main__ import main

    d = tmp_path / "in"
    d.mkdir()
    shutil.copy(f"{RES}/graph_nodes.tsv", d / "graph_nodes.tsv")
    shutil.copy(f"{RES}/graph_edges.tsv", d / "graph_edges.tsv")
    out = tmp_path / "graph_stats1.json"
    rc = main([
        "graph-summary",
        "-i", str(d),
        "--input-format", "tsv",
        "-o", str(out),
        "--node-facet-properties", "provided_by",
        "--edge-facet-properties", "aggregator_knowledge_source",
        "--report-type", "kgx-map",
        "--report-format", "json",
    ])
    assert rc == 0
    stats = _json.loads(out.read_text())
    assert stats["node_stats"]["total_nodes"] == 512
    assert "biolink:Gene" in stats["node_stats"]["node_categories"]
    assert "biolink:Disease" in stats["node_stats"]["node_categories"]
    assert stats["edge_stats"]["total_edges"] == 531
    assert "biolink:has_phenotype" in stats["edge_stats"]["predicates"]
    assert "biolink:interacts_with" in stats["edge_stats"]["predicates"]
    # facet blocks in the reference's nested shape
    assert "provided_by" in stats["node_stats"]
    assert "aggregator_knowledge_source" in stats["edge_stats"]
    gene = stats["node_stats"]["count_by_category"]["biolink:Gene"]
    assert gene["count"] == 178 and "provided_by" in gene


# ----------------------------------------------------------------- RDF sink


def test_rdf_sink_reference_graph(spark, tmp_path):
    """tests/unit/test_sink/test_rdf_sink.py::test_write_rdf1/3 — the
    reference's shared 6-node/6-edge graph through our NT sink:
    18 lines non-reified; 44 lines reified (direct triple + Association-
    typed statement node + role triples + the nested-attribute list's two
    elements), with the Association type fully expanded."""
    import glob

    from kgx_spark.sinks.rdf_nt import write_ntriples

    nodes = spark.createDataFrame(
        [(x, f"Node {x}", ["biolink:NamedThing"]) for x in "ABCDEF"],
        "id string, name string, category array<string>",
    )
    rows = [
        ("B", "biolink:sub_class_of", "A", None),
        ("C", "biolink:sub_class_of", "B", None),
        ("D", "biolink:sub_class_of", "C", None),
        ("D", "biolink:related_to", "A",
         [{"nested_attribute2": "value", "alternative_url": "url_value"},
          {"nested_attribute2": "value", "alternative_url": None}]),
        ("E", "biolink:sub_class_of", "D", None),
        ("F", "biolink:sub_class_of", "D", None),
    ]
    edges = spark.createDataFrame(
        rows,
        "subject string, predicate string, object string, "
        "nested_attribute1 array<struct<nested_attribute2:string,alternative_url:string>>",
    )

    def lines(p):
        out = []
        for f in glob.glob(p + "/part-*") if os.path.isdir(p) else [p]:
            out += open(f).read().splitlines()
        return out

    f1 = str(tmp_path / "g1.nt")
    write_ntriples(nodes, edges.drop("nested_attribute1"), f1, reify_all_edges=False)
    assert len(lines(f1)) == 18

    f3 = str(tmp_path / "g3.nt")
    write_ntriples(nodes, edges, f3, reify_all_edges=True)
    l3 = lines(f3)
    assert len(l3) == 44
    assert sum(1 for x in l3 if "<https://w3id.org/biolink/vocab/Association>" in x) == 6


# ------------------------------------------------------------ CLI wrappers


def test_cli_transform_obojson_to_tsv_knowledge_sources(spark, tmp_path):
    """test_cli_utils.py:181-211 (test_transform_obojson_to_csv_wrapper) —
    BFO_2_relaxed.json through transform with -k tuples: the edges TSV
    grows aggregator_knowledge_source/primary_knowledge_source columns and
    EVERY row carries the raw default strings."""
    import csv

    from kgx_spark.__main__ import main

    out = str(tmp_path / "test_bfo_2_relaxed")
    rc = main([
        "transform",
        "-i", f"{RES}/BFO_2_relaxed.json", "--input-format", "obojson",
        "-o", out, "--output-format", "tsv",
        "-k", "aggregator_knowledge_source", "bioportal",
        "-k", "primary_knowledge_source", "justastring",
    ])
    assert rc == 0
    import glob
    import io

    buf = "".join(
        open(f).read() for f in sorted(glob.glob(out + "_edges.tsv/part-*"))
    )
    rows = list(csv.reader(io.StringIO(buf), delimiter="\t", quotechar='"'))
    assert "aggregator_knowledge_source" in rows[0]
    assert "primary_knowledge_source" in rows[0]
    assert len(rows) > 1
    for row in rows[1:]:
        assert "bioportal" in row
        assert "justastring" in row


def test_cli_validate_exit_codes(spark, tmp_path):
    """test_cli_utils.py:414-453 — validate exit-code contract: a bad
    -b SemVer raises before any parsing (exit 2); a context-clean graph
    exits 0; CURIE:-prefixed ids (prefix absent from the JSON-LD context)
    exit 1."""
    from kgx_spark.__main__ import main

    rc = main([
        "validate", "-i", f"{RES}/graph_tiny_nodes.tsv",
        "--input-format", "tsv", "-b", "not.a.semver",
    ])
    assert rc == 2
    assert main([
        "validate", "-i", f"{RES}/graph_nodes.tsv", "--input-format", "tsv",
    ]) == 0
    report = str(tmp_path / "validation.log")
    assert main([
        "validate", "-i", f"{RES}/test_nodes.tsv", "--input-format", "tsv",
        "-o", report,
    ]) == 1
    assert "CURIE" in open(report).read()


# ------------------------------------------------------------- sink parity


def _six_graph(spark):
    """The reference test_sink suite's shared 6-node/6-edge graph."""
    nodes = spark.createDataFrame(
        [(x, f"Node {x}", ["biolink:NamedThing"]) for x in "ABCDEF"],
        "id string, name string, category array<string>",
    )
    edges = spark.createDataFrame(
        [
            ("B", "biolink:sub_class_of", "A"),
            ("C", "biolink:sub_class_of", "B"),
            ("D", "biolink:sub_class_of", "C"),
            ("D", "biolink:related_to", "A"),
            ("E", "biolink:sub_class_of", "D"),
            ("F", "biolink:sub_class_of", "D"),
        ],
        "subject string, predicate string, object string",
    )
    return nodes, edges


def test_tsv_sink_declared_property_sets(spark, tmp_path):
    """test_tsv_sink.py::test_write_tsv1 — with declared node_properties
    {id,name,category} and edge_properties {subject,predicate,object,
    relation}, every node line has exactly 3 tab fields and every edge
    line 4 (the declared-but-absent 'relation' column fills empty)."""
    import glob

    from kgx_spark.sinks.tsv import write_kgx_tsv

    nodes, edges = _six_graph(spark)
    base = str(tmp_path / "test_graph")
    write_kgx_tsv(
        nodes, edges, base, single_file=True,
        node_properties={"id", "name", "category"},
        edge_properties={"subject", "predicate", "object", "relation"},
    )

    def lines(path):
        (part,) = glob.glob(path + "/part-*")
        return open(part).read().splitlines()

    node_lines = lines(base + "_nodes.tsv")
    edge_lines = lines(base + "_edges.tsv")
    assert len(node_lines) == 7
    assert len(edge_lines) == 7
    assert all(len(n.split("\t")) == 3 for n in node_lines)
    assert all(len(e.split("\t")) == 4 for e in edge_lines)
    assert edge_lines[0] == "subject\tpredicate\tobject\trelation"


def test_sqlite_sink_reference_counts(spark, tmp_path):
    """test_sqlite_sink.py::test_write_sqlite/test_write_denormalized_sqlite
    — 2 tables, 6 nodes / 6 edges; denormalize=True widens the edges table
    with the model's denormalized association slots (left empty — the
    reference's _denormalize_edge is a declared stub, sql_sink.py:195-207)."""
    import sqlite3

    from kgx_spark.sinks.sql_sink import write_sql

    nodes, edges = _six_graph(spark)
    for denorm in (False, True):
        db = str(tmp_path / f"test_graph_{denorm}.db")
        write_sql(nodes, edges, db, denormalize=denorm)
        con = sqlite3.connect(db)
        tables = con.execute(
            "SELECT name FROM sqlite_master WHERE type='table'"
        ).fetchall()
        assert len(tables) == 2
        assert con.execute("SELECT count(*) FROM nodes").fetchone()[0] == 6
        assert con.execute("SELECT count(*) FROM edges").fetchone()[0] == 6
        cols = [r[1] for r in con.execute("PRAGMA table_info(edges)")]
        assert ("subject_category" in cols) == denorm
        if denorm:
            vals = con.execute("SELECT DISTINCT subject_category FROM edges").fetchall()
            assert vals == [("",)]
        con.close()


def test_cli_meta_knowledge_graph_json_and_yaml(tmp_path, spark):
    """tests/unit/test_cli_utils.py::test_meta_knowledge_graph_as_json /
    _as_yaml — the CLI meta-knowledge-graph report carries the graph name,
    honors the requested facet properties, serializes as JSON by default
    (MetaKnowledgeGraph.save, meta_knowledge_graph.py:944-965) and as YAML
    under --report-format yaml; kgx-map defaults to YAML
    (GraphSummary.save, summarize_graph.py:816-835)."""
    import json as _json
    import shutil

    import yaml as _yaml

    from kgx_spark.__main__ import main

    d = tmp_path / "in"
    d.mkdir()
    shutil.copy(f"{RES}/graph_nodes.tsv", d / "graph_nodes.tsv")
    shutil.copy(f"{RES}/graph_edges.tsv", d / "graph_edges.tsv")

    out_json = tmp_path / "meta-knowledge-graph.json"
    rc = main([
        "graph-summary",
        "-i", str(d),
        "--input-format", "tsv",
        "-o", str(out_json),
        "--report-type", "meta-knowledge-graph",
        "--node-facet-properties", "provided_by",
        "--edge-facet-properties", "aggregator_knowledge_source",
        "--graph-name", "Default Meta-Knowledge-Graph",
    ])
    assert rc == 0
    stats = _json.loads(out_json.read_text())  # JSON is the MKG default
    assert stats["name"] == "Default Meta-Knowledge-Graph"
    assert "nodes" in stats and "edges" in stats
    gene = stats["nodes"]["biolink:Gene"]
    assert gene["count"] == 178
    assert "provided_by" in gene["count_by_source"]
    g_i_g = next(
        e for e in stats["edges"]
        if (e["subject"], e["predicate"], e["object"])
        == ("biolink:Gene", "biolink:interacts_with", "biolink:Gene")
    )
    assert g_i_g["count_by_source"]["aggregator_knowledge_source"]["string"] == 160

    out_yaml = tmp_path / "meta-knowledge-graph.yaml"
    rc = main([
        "graph-summary",
        "-i", str(d),
        "--input-format", "tsv",
        "-o", str(out_yaml),
        "--report-type", "meta-knowledge-graph",
        "--report-format", "yaml",
    ])
    assert rc == 0
    ystats = _yaml.safe_load(out_yaml.read_text())
    assert ystats["name"] == "Graph"  # cli_utils.py:114-115 default
    assert "nodes" in ystats and "edges" in ystats

    out_map = tmp_path / "graph_stats.yaml"
    rc = main([
        "graph-summary",
        "-i", str(d),
        "--input-format", "tsv",
        "-o", str(out_map),
        "--report-type", "kgx-map",
    ])
    assert rc == 0
    mstats = _yaml.safe_load(out_map.read_text())  # YAML is the kgx-map default
    assert mstats["node_stats"]["total_nodes"] == 512


def test_parquet_sink_reference_counts(spark, tmp_path):
    """test_parquet_sink.py::test_write_parquet — six nodes / six edges
    land in {base}_nodes.parquet / {base}_edges.parquet (the reference
    writes single files; the distributed analogue is a part-file dir
    under the same name)."""
    from kgx_spark.sinks.parquet import write_kgx_parquet

    nodes, edges = _six_graph(spark)
    base = str(tmp_path / "test_graph")
    write_kgx_parquet(nodes, edges, base)
    assert spark.read.parquet(base + "_nodes.parquet").count() == 6
    assert spark.read.parquet(base + "_edges.parquet").count() == 6


def test_jsonl_sink_gz_reference_counts(spark, tmp_path):
    """test_jsonl_sink.py::test_write_jsonl_with_compression — gzip'd
    part files under {base}_nodes.jsonl / _edges.jsonl, six records each,
    readable back."""
    import glob

    from kgx_spark.sinks.jsonl import write_kgx_jsonl

    nodes, edges = _six_graph(spark)
    base = str(tmp_path / "test_graph")
    write_kgx_jsonl(nodes, edges, base, compression="gzip")
    for kind in ("nodes", "edges"):
        assert glob.glob(f"{base}_{kind}.jsonl/part-*.json.gz")
        assert spark.read.json(f"{base}_{kind}.jsonl").count() == 6


def test_trapi_sink_reference_structure(spark, tmp_path):
    """test_trapi_sink.py::test_write_trapi_json — the document is
    {"knowledge_graph": {nodes, edges}}; nodes key by id and carry
    categories/attributes/name; all six edges land, and the related_to
    edge keeps subject D / object A with attributes[] and sources[]."""
    import json as _json

    from kgx_spark.sinks.trapi import write_trapi

    nodes, edges = _six_graph(spark)
    out = str(tmp_path / "test_trapi_graph.json")
    write_trapi(nodes, edges, out)
    content = _json.loads(open(out).read())

    assert "knowledge_graph" in content
    kg = content["knowledge_graph"]
    assert "nodes" in kg and "edges" in kg
    assert len(kg["nodes"]) == 6
    assert "A" in kg["nodes"]
    assert "categories" in kg["nodes"]["A"]
    assert "attributes" in kg["nodes"]["A"]
    assert kg["nodes"]["A"]["name"] == "Node A"
    assert len(kg["edges"]) == 6
    related = [e for e in kg["edges"].values() if e["predicate"] == "biolink:related_to"]
    assert related
    for edge in related:
        assert edge["subject"] == "D"
        assert edge["object"] == "A"
        assert "attributes" in edge
        assert "sources" in edge
