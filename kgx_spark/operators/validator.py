"""Biolink validation battery ('kgx validate').

Reference: kgx/validator.py:26-745
- required node properties (validator.py:216-243: model-required slots +
  category) / edge properties (validator.py:246-273: model-required slots
  with 'id' force-appended — the executable battery in
  tests/unit/test_validator.py:30-38,94-105 pins {id, subject, predicate,
  object}: its all-of-those-present case passes with zero errors, so
  knowledge_level/agent_type are NOT required by the pinned model)
- property value TYPES per Biolink slot metadata (string/double/uriorcurie,
  multivalued-ness): 402-558
- value-shape checks: id is CURIE + prefix in JSON-LD context (560-585),
  categories are CURIE-stripped then CamelCase-checked bare and resolved
  against the model by sentence-case name (629-684), predicates are
  CURIE-stripped then snake_case-checked bare and resolved against the
  model (686-744)
- errors aggregated [level][error_type][message] → [entities]
  (kgx/error_detection.py:48-174)

Semantics are mirrored from the reference's own executable test battery
(tests/unit/test_validator.py) — bare 'NamedThing' categories and bare
'related_to' predicates are VALID (the reference strips any CURIE prefix
and validates the bare name against the model), and unknown categories /
predicates are ERRORs, not warnings. Message texts are the reference's
verbatim (including its f"{list}" → "<class 'list'>" rendering on the
node side vs plain 'list' on the edge side, and the node prefix message's
missing 'that').

Deliberate divergences (each pinned in tests/test_validator_reference_semantics.py):
- D-V1 presence: the reference checks `key not in data` per record; a
  DataFrame row's only absence representation is NULL, so NULL = missing
  (an empty list is PRESENT, matching the reference's data.get behavior).
- D-V2 uriorcurie values: the reference's type check
  (validator.py:437-441, `not isinstance(value, str) and not
  validators.url(value)`) accepts ANY string and flags ANY list — even a
  list of valid CURIEs — because validators.url receives the whole list.
  We validate per-element CURIE/URL shape instead of reproducing that bug.
- D-V3 aliases: the reference errors when a category/predicate is an alias
  of a model element (validator.py:676-684,731-744); the offline model
  snapshot carries no alias table, so the alias check is not performed.

Spark design: each rule is a where() producing rows of the shared errors
schema (entity, level, error_type, message); rules union into one errors
DataFrame; the report is a groupBy collect_list. All Biolink knowledge
(known classes/predicates/mixins, slot types, context prefixes) comes from
the precomputed model snapshot in kgx_spark.functions.biolink — no runtime
bmt.Toolkit on executors (SURVEY.md §7.0). Type checks that the reference
performs per-value on Python dicts become schema checks (a DataFrame column
has ONE type) plus per-value shape checks for uriorcurie slots.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgx_spark.functions.biolink import (
    KNOWN_CLASSES,
    KNOWN_MIXINS,
    KNOWN_PREDICATES,
    SLOT_TYPES,
    context_prefixes,
)
from kgx_spark.functions.curie import CURIE_REGEX, curie_reference, is_curie
from kgx_spark.functions.text import sentence_case

REQUIRED_NODE_PROPERTIES = ("id", "category")  # validator.py:216-243
# validator.py:246-273 + the executable battery (see module docstring)
REQUIRED_EDGE_PROPERTIES = ("id", "subject", "predicate", "object")

_ERR_SCHEMA = "entity string, level string, error_type string, message string"

# The model release the offline snapshot was curated against — the same
# default the reference pins when no release is requested (validator.py:69).
SNAPSHOT_RELEASE = "v4.1.6"


def set_biolink_release(version: str | None) -> str:
    """Mirror ``Validator.set_biolink_model`` (reference validator.py:132-136):
    the release string goes to ``bmt.get_toolkit``, which raises on a
    non-SemVer or un-downloadable release — and the validate CLI maps ANY
    exception to exit code 2 (cli/__init__.py:201-208,
    test_cli_utils.py:414-431). This engine's model knowledge is a pinned
    offline snapshot, so the only *available* release is SNAPSHOT_RELEASE:
    a malformed SemVer raises (the reference's ``not.a.semver`` case), and a
    well-formed but different release raises too (the reference would try to
    fetch it; offline we fail loudly rather than validate against the wrong
    model)."""
    if version is None:
        return SNAPSHOT_RELEASE
    v = str(version).strip()
    if not re.fullmatch(r"v?\d+\.\d+\.\d+([.-][0-9A-Za-z.-]+)?", v):
        raise ValueError(f"invalid Biolink Model release (not SemVer): {version!r}")
    if v.lstrip("v") != SNAPSHOT_RELEASE.lstrip("v"):
        raise ValueError(
            f"Biolink Model release {version!r} is not available in the "
            f"offline model snapshot (pinned: {SNAPSHOT_RELEASE})"
        )
    return SNAPSHOT_RELEASE

# validator.py:664 — applied to the CURIE-stripped bare category
_CAMELCASE_RE = r"^([A-Z][a-z\d]+)+$"
# validator.py:725 — applied to the CURIE-stripped bare predicate
_SNAKECASE_PRED_RE = r"^([a-z_][^A-Z\s]+_?[a-z_][^A-Z\s]+)+$"

# Slots where the reference's own declarations disagree on multivalued-ness:
# column_types (kgx/utils/kgx_utils.py:50-56, drives its sanitizer) types
# knowledge_source `str`, while is_provenance_property_multivalued (:87-94,
# mirrored in SLOT_TYPES) says list. Reference-sanitized graphs therefore
# legitimately carry EITHER shape — the type battery accepts both instead of
# flagging scalars the reference's own pipeline produces (round-3 ADVICE).
_SCALAR_OR_LIST_SLOTS = frozenset({"knowledge_source"})


def _sentencecase_py(name: str) -> str:
    """Driver-side stringcase.sentencecase(s).lower() for the snapshot's
    CamelCase class/mixin names (no separators, so the kernel reduces to a
    space before every non-initial capital) — the normalization the
    reference applies to model names before is_category/is_mixin lookups."""
    return re.sub(r"(?<=.)([A-Z])", r" \1", name).strip().lower()


def _bare_names(curies) -> list[str]:
    return [c.split(":", 1)[1] if ":" in c else c for c in sorted(curies)]


def _emit(
    df: DataFrame, cond: Column, entity: Column, level: str, error_type: str, message
) -> DataFrame:
    msg = message if isinstance(message, Column) else F.lit(message)
    return df.where(cond).select(
        entity.alias("entity"),
        F.lit(level).alias("level"),
        F.lit(error_type).alias("error_type"),
        msg.alias("message"),
    )


#: Bare element names the reference resolves without a prefix: the model's
#: class and predicate names with the ``biolink:`` prefix stripped.
_BARE_ELEMENT_NAMES: frozenset[str] = frozenset(
    n.split(":", 1)[1] for n in KNOWN_CLASSES | KNOWN_PREDICATES
)


def _is_uri_or_curie(col: Column) -> Column:
    """uriorcurie shape: CURIE regex, an http(s) URL, or a bare Biolink
    element name (divergence D-V2 — the reference's per-slot typeof branch
    is dead code (SlotDefinition has no ``typeof``, validator.py:432), so it
    accepts ANY value; we keep the shape lint but must not flag values the
    reference's own integration suite requires to validate clean, e.g.
    ``category: ["Protein"]`` in tests/integration/test_validator.py:26-55)."""
    return (
        col.rlike(CURIE_REGEX)
        | col.startswith("http://")
        | col.startswith("https://")
        | col.isin(*_BARE_ELEMENT_NAMES)
    )


def _strip_prefix(col: Column) -> Column:
    """PrefixManager.get_reference when CURIE-shaped, else unchanged — the
    reference reassigns `category` / `edge_predicate` to the bare reference
    part before every shape/model check (validator.py:661-663,722-724)."""
    return F.when(is_curie(col), curie_reference(col)).otherwise(col)


def validate_property_types(df: DataFrame, kind: str = "node") -> DataFrame:
    """The type battery (validator.py:402-558), Spark-shaped.

    - id (nodes) and subject/object (edges) columns must be strings
      (validator.py:425-427,484-494);
    - for every other column matching a known Biolink slot: multivalued
      slots must be array columns; single-valued must not be (the reference
      checks isinstance(value, list) per record — here the column type
      decides, and a mismatch errors every non-null row);
    - `string` slots must be string-typed; `double` slots must hold numeric
      values (non-castable strings error);
    - `uriorcurie` slots must hold CURIE- or URL-shaped values (per element
      for arrays — divergence D-V2).

    Message-text note: the reference renders the node-side multivalued /
    single-valued messages with f"{list}" / f"{str}" ("<class 'list'>") and
    the edge-side ones with plain 'list' / 'str' (validator.py:452,457 vs
    543,552) — both reproduced verbatim.
    """
    spark = df.sparkSession
    out = spark.createDataFrame([], _ERR_SCHEMA)
    dtypes = dict(df.dtypes)
    if kind == "node":
        ent = F.coalesce(F.col("id").cast("string"), F.lit("<no id>")) if "id" in df.columns else F.lit("<no id>")
        error_type = "INVALID_NODE_PROPERTY_VALUE_TYPE"
        list_t, str_t = "<class 'list'>", "<class 'str'>"
        if "id" in df.columns and dtypes["id"] != "string":
            out = out.unionByName(_emit(
                df, F.col("id").isNotNull(), ent, "ERROR", error_type,
                "Node property 'id' is expected to be of type 'string'"))
    else:
        ent = _edge_entity(df)
        error_type = "INVALID_EDGE_PROPERTY_VALUE_TYPE"
        list_t, str_t = "list", "str"
        for endpoint in ("subject", "object"):
            if endpoint in df.columns and dtypes[endpoint] != "string":
                out = out.unionByName(_emit(
                    df, F.lit(True), ent, "ERROR", error_type,
                    f"'{endpoint}' of an edge is expected to be of type 'string'"))

    for col in df.columns:
        if col not in SLOT_TYPES or col in ("id", "subject", "object"):
            continue
        typeof, multivalued = SLOT_TYPES[col]
        is_array = dtypes[col].startswith("array")
        c = F.col(col)
        if col in _SCALAR_OR_LIST_SLOTS:
            # either shape is valid; fall through to the value checks below
            multivalued = is_array
        if multivalued and not is_array:
            out = out.unionByName(_emit(
                df, c.isNotNull(), ent, "ERROR", error_type,
                f"Multi-valued {kind} property '{col}' is expected to be of type '{list_t}'"))
            continue
        if not multivalued and is_array:
            out = out.unionByName(_emit(
                df, c.isNotNull(), ent, "ERROR", error_type,
                f"Single-valued {kind} property '{col}' is expected to be of type '{str_t}'"))
            continue
        if typeof == "string" and not is_array and dtypes[col] != "string":
            out = out.unionByName(_emit(
                df, c.isNotNull(), ent, "ERROR", error_type,
                f"{kind.capitalize()} property '{col}' is expected to be of type 'string'"))
        elif typeof == "double" and not is_array:
            bad = c.isNotNull() & c.cast("double").isNull()
            out = out.unionByName(_emit(
                df, bad, ent, "ERROR", error_type,
                f"{kind.capitalize()} property '{col}' is expected to be of type 'double'"))
        elif typeof == "uriorcurie" and dtypes[col] in ("string", "array<string>"):
            if is_array:
                bad = F.exists(c, lambda x: ~_is_uri_or_curie(x))
            else:
                bad = c.isNotNull() & ~_is_uri_or_curie(c)
            out = out.unionByName(_emit(
                df, bad, ent, "ERROR", error_type,
                f"{kind.capitalize()} property '{col}' is expected to be of type 'uri' or 'CURIE'"))
    return out


def validate_categories(nodes: DataFrame) -> DataFrame:
    """``category`` battery, reference-exact (validator.py:629-684):

    - no category → "Node does not have a 'category' property";
    - category not a list → type message (the f"{list}" rendering);
    - per element: strip any CURIE prefix, CamelCase-check the bare name
      (a failed CamelCase check does NOT suppress the model checks — the
      reference keeps going), then mixin-vs-class resolution by
      sentence-case name (if mixin → error; elif not a class → error).

    Bare 'NamedThing' is valid; bare lowercase 'gene' draws only the
    CamelCase error (its sentence-case form resolves to the Gene class) —
    both pinned by the reference battery (tests/unit/test_validator.py:447-484).
    """
    spark = nodes.sparkSession
    out = spark.createDataFrame([], _ERR_SCHEMA)
    ent = F.coalesce(F.col("id").cast("string"), F.lit("<no id>")) if "id" in nodes.columns else F.lit("<no id>")
    error_type = "INVALID_CATEGORY"

    if "category" not in nodes.columns:
        return out.unionByName(_emit(
            nodes, F.lit(True), ent, "ERROR", error_type,
            "Node does not have a 'category' property"))

    out = out.unionByName(_emit(
        nodes, F.col("category").isNull(), ent, "ERROR", error_type,
        "Node does not have a 'category' property"))
    if not dict(nodes.dtypes)["category"].startswith("array"):
        return out.unionByName(_emit(
            nodes, F.col("category").isNotNull(), ent, "ERROR", error_type,
            f"Node property 'category' is expected to be of type {list}"))

    class_sentence = F.array(*[
        F.lit(_sentencecase_py(n)) for n in _bare_names(KNOWN_CLASSES)])
    mixin_sentence = F.array(*[
        F.lit(_sentencecase_py(n)) for n in _bare_names(KNOWN_MIXINS)])

    cats = nodes.select(ent.alias("_ent"), F.explode("category").alias("cat"))
    bare = _strip_prefix(F.col("cat"))
    cats = cats.select("_ent", bare.alias("bare"), sentence_case(bare).alias("sc"))
    out = out.unionByName(_emit(
        cats, ~F.col("bare").rlike(_CAMELCASE_RE), F.col("_ent"), "ERROR", error_type,
        F.concat(F.lit("Category '"), F.col("bare"), F.lit("' is not in CamelCase form"))))
    is_mixin = F.array_contains(mixin_sentence, F.col("sc"))
    is_class = F.array_contains(class_sentence, F.col("sc"))
    out = out.unionByName(_emit(
        cats, is_mixin, F.col("_ent"), "ERROR", error_type,
        F.concat(F.lit("Category '"), F.col("bare"),
                 F.lit("' is a mixin in the Biolink Model"))))
    out = out.unionByName(_emit(
        cats, ~is_mixin & ~is_class, F.col("_ent"), "ERROR", error_type,
        F.concat(F.lit("Category '"), F.col("bare"),
                 F.lit("' is unknown in the current Biolink Model"))))
    return out


def _edge_entity(edges: DataFrame) -> Column:
    """f"{subject}->{object}" — the reference's edge log_error entity,
    including Python's 'None' rendering for a missing endpoint."""
    def side(name: str) -> Column:
        if name not in edges.columns:
            return F.lit("None")
        return F.coalesce(F.col(name).cast("string"), F.lit("None"))
    return F.concat(side("subject"), F.lit("->"), side("object"))


def validate_edge_predicates(edges: DataFrame) -> DataFrame:
    """``predicate`` battery, reference-exact (validator.py:686-744): strip
    any CURIE prefix, snake_case-check the bare name
    (``^([a-z_][^A-Z\\s]+_?[a-z_][^A-Z\\s]+)+$``), resolve survivors against
    the model's predicates — bare 'related_to' is valid, unknown predicates
    are ERRORs (tests/unit/test_validator.py:487-543)."""
    spark = edges.sparkSession
    out = spark.createDataFrame([], _ERR_SCHEMA)
    ent = _edge_entity(edges)
    error_type = "INVALID_EDGE_PREDICATE"

    if "predicate" not in edges.columns:
        return out.unionByName(_emit(
            edges, F.lit(True), ent, "ERROR", error_type,
            "Edge does not have an 'predicate' property"))
    out = out.unionByName(_emit(
        edges, F.col("predicate").isNull(), ent, "ERROR", error_type,
        "Edge does not have an 'predicate' property"))
    if dict(edges.dtypes)["predicate"] != "string":
        return out.unionByName(_emit(
            edges, F.col("predicate").isNotNull(), ent, "ERROR", error_type,
            "Edge property 'edge_predicate' is expected to be of type 'string'"))

    bare = _strip_prefix(F.col("predicate"))
    known = F.array(*[F.lit(p) for p in _bare_names(KNOWN_PREDICATES)])
    snake_ok = bare.rlike(_SNAKECASE_PRED_RE)
    present = F.col("predicate").isNotNull()
    out = out.unionByName(_emit(
        edges, present & ~snake_ok, ent, "ERROR", error_type,
        F.concat(F.lit("Edge predicate '"), bare, F.lit("' is not in snake_case form"))))
    out = out.unionByName(_emit(
        edges, present & snake_ok & ~F.array_contains(known, bare), ent, "ERROR", error_type,
        F.concat(F.lit("Edge predicate '"), bare, F.lit("' is not in Biolink Model"))))
    return out


def validate_node_records(
    nodes: DataFrame, check_types: bool = False, check_prefixes: bool = False
) -> DataFrame:
    """→ errors DataFrame; empty when the graph is valid."""
    spark = nodes.sparkSession
    out = spark.createDataFrame([], _ERR_SCHEMA)
    ent = F.coalesce(F.col("id").cast("string"), F.lit("<no id>")) if "id" in nodes.columns else F.lit("<no id>")

    for prop in REQUIRED_NODE_PROPERTIES:
        if prop not in nodes.columns:
            # whole-column absence: every node errors
            out = out.unionByName(_emit(nodes, F.lit(True), ent, "ERROR",
                                        "MISSING_NODE_PROPERTY", f"Required node property '{prop}' is missing"))
            continue
        # presence check (divergence D-V1: NULL = absent; an empty list is
        # present, as it is for the reference's `p not in data`)
        out = out.unionByName(_emit(nodes, F.col(prop).isNull(), ent, "ERROR",
                                    "MISSING_NODE_PROPERTY", f"Required node property '{prop}' is missing"))

    # id must be a CURIE (validator.py:570-585)
    if "id" in nodes.columns and dict(nodes.dtypes)["id"] == "string":
        out = out.unionByName(_emit(
            nodes, F.col("id").isNotNull() & ~F.col("id").rlike(CURIE_REGEX),
            ent, "ERROR", "INVALID_NODE_PROPERTY_VALUE",
            "Node property 'id' is expected to be of type 'CURIE'"))

        if check_prefixes:
            # CURIE prefix must be registered in the Biolink JSON-LD context
            # (validator.py:577-584) — broadcastable literal set; the message
            # is the reference's verbatim (note its missing 'that').
            prefix = F.split_part("id", F.lit(":"), F.lit(1))
            known_prefix = F.array_contains(
                F.array(*[F.lit(p) for p in sorted(context_prefixes())]), prefix
            )
            out = out.unionByName(_emit(
                nodes, F.col("id").isNotNull() & F.col("id").rlike(CURIE_REGEX) & ~known_prefix,
                ent, "ERROR", "INVALID_NODE_PROPERTY_VALUE",
                F.concat(F.lit("Node property 'id' has a value '"), F.col("id"),
                         F.lit("' with a CURIE prefix '"), prefix,
                         F.lit("' is not represented in Biolink Model JSON-LD context"))))

    out = out.unionByName(validate_categories(nodes))
    if check_types:
        out = out.unionByName(validate_property_types(nodes, "node"))
    return out


def validate_edge_records(
    edges: DataFrame, check_types: bool = False, check_prefixes: bool = False
) -> DataFrame:
    spark = edges.sparkSession
    out = spark.createDataFrame([], _ERR_SCHEMA)
    ent = _edge_entity(edges)
    dtypes = dict(edges.dtypes)

    for prop in REQUIRED_EDGE_PROPERTIES:
        if prop not in edges.columns:
            out = out.unionByName(_emit(edges, F.lit(True), ent, "ERROR",
                                        "MISSING_EDGE_PROPERTY", f"Required edge property '{prop}' is missing"))
            continue
        out = out.unionByName(_emit(edges, F.col(prop).isNull(), ent, "ERROR",
                                    "MISSING_EDGE_PROPERTY", f"Required edge property '{prop}' is missing"))

    # subject/object CURIE-ness + prefix-vs-context (validator.py:586-627)
    prefixes = F.array(*[F.lit(p) for p in sorted(context_prefixes())])
    for prop in ("subject", "object"):
        if prop not in edges.columns or dtypes[prop] != "string":
            continue
        c = F.col(prop)
        out = out.unionByName(_emit(
            edges, c.isNotNull() & ~c.rlike(CURIE_REGEX),
            ent, "ERROR", "INVALID_EDGE_PROPERTY_VALUE",
            F.concat(F.lit(f"Edge property '{prop}' has a value '"), c,
                     F.lit("' which is not a proper CURIE"))))
        if check_prefixes:
            prefix = F.split_part(prop, F.lit(":"), F.lit(1))
            out = out.unionByName(_emit(
                edges, c.isNotNull() & c.rlike(CURIE_REGEX) & ~F.array_contains(prefixes, prefix),
                ent, "ERROR", "INVALID_EDGE_PROPERTY_VALUE",
                F.concat(F.lit(f"Edge property '{prop}' has a value '"), c,
                         F.lit("' with a CURIE prefix '"), prefix,
                         F.lit("' that is not represented in Biolink Model JSON-LD context"))))

    out = out.unionByName(validate_edge_predicates(edges))
    if check_types:
        out = out.unionByName(validate_edge_records_types(edges))
    return out


def validate_edge_records_types(edges: DataFrame) -> DataFrame:
    return validate_property_types(edges, "edge")


def error_report(errors: DataFrame) -> DataFrame:
    """[level][error_type][message] → sorted entity list
    (kgx/error_detection.py:130-174 aggregation shape)."""
    return errors.groupBy("level", "error_type", "message").agg(
        F.array_sort(F.collect_set("entity")).alias("entities"),
        F.count("*").alias("count"),
    )

