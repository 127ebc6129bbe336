"""N-Triples RDF source — distributed line-wise triple parse with the
reference's full per-triple dispatch.

Reference: kgx/source/rdf_source.py:128-631 — a custom streaming NT parser
with per-triple dispatch (node property vs edge vs reified-statement),
CURIE contraction, Biolink element resolution for predicates, and
dereification of rdf:Statement / biolink:Association / OBAN:association
stanzas into property-carrying edges.

Spark design (no rdflib on executors):
- `spark.read.text` → one regexp per line extracts (s, p, o, o_is_literal);
  NT is line-delimited so the scan parallelizes perfectly;
- per-PREDICATE decisions (Biolink element resolution, attribute key
  mapping, node-prop-vs-edge dispatch, the add_edge predicate gate) are
  computed once on the driver by `rdf_dispatch.process_predicate` — the
  exact computation the reference LRU-caches per predicate
  (rdf_source.py:571) — and broadcast-joined in; predicates are
  vocabulary-bounded, so the collect is O(vocabulary), never O(rows);
- reified statement subjects are found set-wise (any reification-role
  predicate, or rdf:type to a reification class) — order-independent
  where the reference is stream-order-dependent, same result on stanzas;
- statement attrs and node attrs pivot via one groupBy each with
  per-key conditional aggregates (column set = vocabulary-derived);
- dereification (rdf_source.py:330-355): subject/object required,
  predicate defaults biolink:related_to, relation defaults to the stated
  predicate, the statement id and every other attribute (type,
  has_evidence, ...) carry onto the edge;
- edges dedupe on the reference's edge key (s, p, o)
  (edge_cache keyed by generate_edge_key, rdf_source.py:529-553).

Known divergences (deliberate):
- plain-edge ids are sha2(edge key), not the raw 's-p-o' string
  (functions/keys.py rationale); dereified edges keep the statement id,
  as the reference does.
- repeated single-valued attributes take the MIN value instead of the
  reference's prepare_data_dict list-promotion (deterministic under
  distribution; only reachable on malformed input).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kgx_spark.functions.curie import contract, curie_prefix, curie_reference, is_curie, is_iri
from kgx_spark.functions.keys import generate_edge_identifiers
from kgx_spark.operators.sanitize import sanitize_import
from kgx_spark.operators.validate import validate_edges, validate_nodes
from kgx_spark.sources.rdf_dispatch import (
    ALLOWED_PREDICATE_PREFIXES,
    DEFAULT_EDGE_PREDICATE,
    MAPPING_INDEX,
    NAME_INDEX,
    RDF_NS,
    REIFICATION_TYPES,
    build_rdf_prefix_map,
    default_node_property_predicates,
    process_predicate,
)

# <s>|_:b <p> <o>|_:b|"literal"(^^<dt>|@lang)? .
# groups: 1 s_iri, 2 s_bnode, 3 p, 4 o_iri, 5 o_bnode, 6 o_literal
_NT_RE = (
    r'^(?:<([^>]+)>|(_:\S+))\s+<([^>]+)>\s+'
    r'(?:<([^>]+)>|(_:\S+)|"((?:[^"\\]|\\.)*)"(?:\^\^<[^>]+>|@[A-Za-z\-]+)?)\s*\.\s*$'
)

#: is_property_multivalued (kgx/utils/rdf_utils.py:32-52 + the provenance
#: update in kgx_utils.py:87-98) — drives whether an attribute pivots to a
#: list or a scalar BEFORE sanitize applies the declared column types.
_IS_MULTIVALUED = frozenset(
    {
        "synonym",
        "exact_synonym",
        "narrow_synonym",
        "relation_synonym",
        "broad_synonym",
        "same_as",
        "provided_by",
        "category",
        "publications",
        "knowledge_source",
        "aggregator_knowledge_source",
        "supporting_data_source",
        # not in the reference's static map, but its repeated-key promotion
        # (prepare_data_dict:555-650) makes these lists in practice on any
        # real ontology — a static column type must pick the list side or
        # silently drop all but one value
        "has_exact_synonym",
        "has_related_synonym",
        "has_narrow_synonym",
        "has_broad_synonym",
        "has_alternative_id",
        "in_subset",
        "xref",
    }
)

_DEREIFY_CORE = ("subject", "predicate", "object", "relation")


def parse_ntriples(spark: SparkSession, path: str, include_bnodes: bool = False) -> DataFrame:
    """path → triples(subject_iri, predicate_iri, object_iri, object_literal).

    Blank-node subjects/objects (`_:b…`) carry through in the iri columns
    when ``include_bnodes=True`` (the OWL-in-NT reader needs restriction
    stanzas); the default drops them — plain KGX NT has none
    (rdf_source.py:223-328 likewise skips what it can't dispatch).
    """
    lines = spark.read.text(path)
    out = lines.select(
        F.nullif(
            F.coalesce(
                F.nullif(F.regexp_extract("value", _NT_RE, 1), F.lit("")),
                F.regexp_extract("value", _NT_RE, 2),
            ),
            F.lit(""),
        ).alias("subject_iri"),
        F.regexp_extract("value", _NT_RE, 3).alias("predicate_iri"),
        F.nullif(
            F.coalesce(
                F.nullif(F.regexp_extract("value", _NT_RE, 4), F.lit("")),
                F.regexp_extract("value", _NT_RE, 5),
            ),
            F.lit(""),
        ).alias("object_iri"),
        # unescape \" and \\ — the exact inverse of the sink's literal
        # escaping (reference NT parsers likewise unescape on read); other
        # NT escapes (\n, \uXXXX) are never produced by the sink and pass
        # through untouched
        F.nullif(
            F.regexp_replace(
                F.regexp_extract("value", _NT_RE, 6), r'\\(["\\])', r"$1"
            ),
            F.lit(""),
        ).alias("object_literal"),
    ).where(F.col("subject_iri").isNotNull())
    if not include_bnodes:
        out = out.where(
            ~F.col("subject_iri").startswith("_:")
            & (F.col("object_iri").isNull() | ~F.col("object_iri").startswith("_:"))
        )
    return out


def read_ntriples(
    spark: SparkSession,
    path: str,
    prefix_map: dict[str, str] | None = None,
    node_property_predicates: set[str] | None = None,
    predicate_mapping: dict[str, str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    return shape_triples(
        parse_ntriples(spark, path),
        prefix_map,
        node_property_predicates=node_property_predicates,
        predicate_mapping=predicate_mapping,
    )


def _resolve_stated_predicate(col: Column, pm: dict[str, str]) -> Column:
    """add_edge's predicate resolution (rdf_source.py:495-527) as a column
    expression, for DEREIFIED edges whose predicate is a stated VALUE
    (data-dependent, so it cannot be resolved driver-side like plain-edge
    predicates): contract, try the model by reference name then by
    mapping, then gate non-{biolink,rdf,rdfs,skos,owl} CURIEs to
    biolink:related_to."""
    c = F.when(is_iri(col), contract(col, pm)).otherwise(col)
    name_map = F.create_map(
        *[F.lit(x) for name, (uri, _k) in sorted(NAME_INDEX.items()) for x in (name, uri)]
    )
    mapping_map = F.create_map(
        *[
            F.lit(x)
            for m, name in sorted(MAPPING_INDEX.items())
            if name in NAME_INDEX
            for x in (m, NAME_INDEX[name][0])
        ]
    )
    elem = F.coalesce(
        F.element_at(name_map, F.coalesce(curie_reference(c), c)),
        F.element_at(mapping_map, c),
    )
    gated = F.when(
        is_curie(c) & ~curie_prefix(c).isin(*sorted(ALLOWED_PREDICATE_PREFIXES)),
        F.lit(DEFAULT_EDGE_PREDICATE),
    ).otherwise(c)
    return F.coalesce(elem, gated)


def _agg_for(key: str, value: Column, cond: Column) -> Column:
    hit = F.when(cond, value)
    if key in _IS_MULTIVALUED:
        return F.array_sort(F.collect_set(hit)).alias(key)
    return F.min(hit).alias(key)


def shape_triples(
    triples: DataFrame,
    prefix_map: dict[str, str] | None = None,
    validate: bool = True,
    node_property_predicates: set[str] | None = None,
    predicate_mapping: dict[str, str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """triples(subject_iri, predicate_iri, object_iri, object_literal) →
    (nodes, edges): the serialization-independent KGX shaping shared by
    the NT and Jelly sources — both produce the same 4-column frame."""
    spark = triples.sparkSession
    pm = build_rdf_prefix_map(prefix_map)
    npp = set(default_node_property_predicates())
    if node_property_predicates:
        npp |= set(node_property_predicates)

    triples = triples.cache()

    # --- vocabulary collect: one dispatch row per distinct predicate ---
    pred_iris = [r[0] for r in triples.select("predicate_iri").distinct().collect()]
    disp = {
        p: process_predicate(p, pm, frozenset(npp), predicate_mapping) for p in pred_iris
    }
    disp_df = spark.createDataFrame(
        [
            (p, i.mapped_key, i.is_node_prop, i.reify_marker, i.edge_predicate, i.relation)
            for p, i in sorted(disp.items())
        ],
        "predicate_iri string, mapped_key string, is_node_prop boolean, "
        "reify_marker boolean, edge_predicate string, edge_relation string",
    )

    t = (
        triples.join(F.broadcast(disp_df), "predicate_iri", "left")
        .select(
            contract(F.col("subject_iri"), pm).alias("_s"),
            F.col("predicate_iri"),
            F.when(
                F.col("object_iri").isNotNull(), contract(F.col("object_iri"), pm)
            )
            .otherwise(F.col("object_literal"))
            .alias("_o"),
            F.col("object_iri"),
            F.col("object_literal").isNotNull().alias("_lit"),
            "mapped_key",
            "is_node_prop",
            "reify_marker",
            "edge_predicate",
            "edge_relation",
        )
        # rdf_source.py:249-250: subjects contracting into the biolink /
        # OBAN vocabularies are skipped outright
        .where(~F.col("_s").startswith("biolink") & ~F.col("_s").startswith("OBAN"))
    )

    # --- reified statement subjects (set-wise; rdf_source.py:253-269) ---
    is_marker = F.col("reify_marker") | (
        (F.col("predicate_iri") == RDF_NS + "type")
        & F.col("object_iri").isin(*sorted(REIFICATION_TYPES))
    )
    stmt_ids = (
        t.where(is_marker).select(F.col("_s").alias("_stmt")).distinct()
    )
    t = t.join(
        stmt_ids, t["_s"] == stmt_ids["_stmt"], "left"
    ).withColumn("_is_stmt", F.col("_stmt").isNotNull()).drop("_stmt").cache()

    # --- statement attrs → dereified edges (rdf_source.py:330-355) ---
    stmt_keys = sorted(
        {
            r[0]
            for r in t.where(F.col("_is_stmt")).select("mapped_key").distinct().collect()
        }
        - {"id"}
    )
    if stmt_keys:
        stmt = (
            t.where(F.col("_is_stmt"))
            .groupBy(F.col("_s"))
            .agg(*[_agg_for(k, F.col("_o"), F.col("mapped_key") == k) for k in stmt_keys])
        )
        for k in _DEREIFY_CORE:
            if k not in stmt_keys:
                stmt = stmt.withColumn(k, F.lit(None).cast("string"))
        stated_pred = F.coalesce(F.col("predicate"), F.lit(DEFAULT_EDGE_PREDICATE))
        dereified = (
            stmt.where(F.col("subject").isNotNull() & F.col("object").isNotNull())
            .withColumn("relation", F.coalesce(F.col("relation"), stated_pred))
            .withColumn("predicate", _resolve_stated_predicate(stated_pred, pm))
            .withColumnRenamed("_s", "id")
        )
    else:
        dereified = spark.createDataFrame(
            [], "subject string, predicate string, object string, relation string, id string"
        )

    # --- node attributes (non-statement; rdf_source.py:271-283) ---
    node_rows = t.where(
        ~F.col("_is_stmt") & (F.col("is_node_prop") | F.col("_lit"))
    )
    node_keys = sorted(
        {r[0] for r in node_rows.select("mapped_key").distinct().collect()} - {"id"}
    )
    if node_keys:
        prop_nodes = node_rows.groupBy(F.col("_s").alias("id")).agg(
            *[_agg_for(k, F.col("_o"), F.col("mapped_key") == k) for k in node_keys]
        )
    else:
        prop_nodes = spark.createDataFrame([], "id string")

    # --- plain edges (rdf_source.py:284-285) ---
    plain = (
        t.where(~F.col("_is_stmt") & ~F.col("is_node_prop") & ~F.col("_lit"))
        .select(
            F.col("_s").alias("subject"),
            F.col("edge_predicate").alias("predicate"),
            F.col("_o").alias("object"),
            F.col("edge_relation").alias("relation"),
        )
    )
    edges = plain.unionByName(dereified, allowMissingColumns=True)
    # the reference's edge_cache is keyed by generate_edge_key(s, p, o)
    # (rdf_source.py:529-553): same-key edges collapse
    edges = edges.dropDuplicates(["subject", "predicate", "object"])
    edges = generate_edge_identifiers(edges)

    # --- node catalog: attribute subjects ∪ edge endpoints -------------
    # add_node (rdf_source.py:424-466) appends biolink:NamedThing to every
    # node it creates — i.e. every edge ENDPOINT; attribute-only subjects
    # keep their stated categories untouched.
    endpoints = (
        edges.select(F.col("subject").alias("id"))
        .unionByName(edges.select(F.col("object").alias("id")))
        .distinct()
        .withColumn("_endpoint", F.lit(True))
    )
    nodes = prop_nodes.join(endpoints, on="id", how="full_outer")
    named_thing = F.array(F.lit("biolink:NamedThing"))
    if "category" in node_keys:
        nodes = nodes.withColumn(
            "category",
            F.when(
                F.col("_endpoint"),
                F.array_union(F.coalesce(F.col("category"), F.array()), named_thing),
            ).otherwise(F.col("category")),
        )
    else:
        nodes = nodes.withColumn(
            "category", F.when(F.col("_endpoint"), named_thing)
        )
    # wrap_slots: the reference's RDF path calls sanitize_import with NO
    # list delimiter (rdf_source.py:186-221), so model-multivalued slots
    # wrap rather than split
    nodes = sanitize_import(nodes.drop("_endpoint"), wrap_slots=True)
    edges = sanitize_import(edges, wrap_slots=True)

    if validate:
        nodes, _ = validate_nodes(nodes)
        edges, _ = validate_edges(edges)
    return nodes, edges
