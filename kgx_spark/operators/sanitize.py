"""Ingest/export sanitization as column expressions.

Reference: kgx/utils/kgx_utils.py
- sanitize_import (split lists, dedupe+sort, coerce bool, strip \\n\\t,
  remove nulls): 796-909
- build_export_row / _sanitize_export_property (inverse): 912-1005
- is_null / remove_null (None/nan/NA/NaT/''/' ' all null): 1008-1064

The reference runs these per record dict; here each rule is one Column
expression applied per declared column — whole-stage-codegen'd JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgx_spark.schema import (
    BOOLEAN_PROPERTIES,
    LIST_DELIMITER,
    MULTIVALUED_PROPERTIES,
    SINGLE_VALUED_PROPERTIES,
)

from kgx_spark.utils import qcol as _qcol

_NULLISH = ("", " ")


def clean_string(col: Column) -> Column:
    """Strip newlines/tabs → space (kgx_utils.py:853-862), null out ''/' '."""
    cleaned = F.regexp_replace(col, r"[\n\t\r]", " ")
    return F.when(cleaned.isin(*_NULLISH), F.lit(None)).otherwise(cleaned)


def clean_array(col: Column) -> Column:
    """Dedupe + sort + null-scrub a string array (kgx_utils.py:864-882, 1008-1042).

    The reference sorts list values on import (kgx_utils.py:871 sorted()), so
    array ordering is deterministic by construction.
    """
    scrubbed = F.filter(
        F.transform(col, lambda x: F.regexp_replace(x, r"[\n\t\r]", " ")),
        lambda x: x.isNotNull() & ~x.isin(*_NULLISH),
    )
    return F.array_sort(F.array_distinct(scrubbed))


def split_list_column(col: Column) -> Column:
    """'a|b|a' → sorted distinct array (kgx_utils.py:884-899 + 871)."""
    return clean_array(F.split(col, "\\" + LIST_DELIMITER))


def coerce_boolean(col: Column) -> Column:
    """String → bool for `negated` (kgx_utils.py:899-901 via eval/str2bool)."""
    return F.when(F.lower(col.cast("string")).isin("true", "t", "1", "yes", "y"), F.lit(True)).when(
        F.lower(col.cast("string")).isin("false", "f", "0", "no", "n"), F.lit(False)
    )


def biolink_multivalued_slots() -> frozenset[str]:
    """Slots the Biolink model marks multivalued — the snapshot stand-in for
    the reference's tk.get_all_multivalued_slots() (kgx_utils.py:822-824)."""
    from kgx_spark.functions.biolink_model import SLOT_TYPES

    return frozenset(s for s, (_, mv) in SLOT_TYPES.items() if mv)


def sniff_list_columns(df: DataFrame) -> set[str]:
    """Dynamic delimiter sniffing for undeclared long-tail properties
    (kgx/utils/kgx_utils.py:884-899): the reference splits ANY undeclared
    string value containing the list delimiter and wraps values of Biolink
    multivalued slots in lists.

    A DataFrame column has one type, so the per-value decision becomes a
    per-column one:
    - an undeclared string column named like a Biolink multivalued slot is
      ALWAYS list-typed (no scan needed);
    - any other undeclared string column is list-typed iff the delimiter
      appears anywhere in it — ONE aggregate job probes all candidate
      columns together (column-pruned, codegen'd; at ingest this is a single
      extra pass over just the undeclared columns — at very large scale,
      sample or declare the schema instead).

    Declared columns (MULTIVALUED_PROPERTIES / SINGLE_VALUED_PROPERTIES /
    BOOLEAN_PROPERTIES) are never sniffed — exactly the reference's
    `key in column_types` fast path (kgx_utils.py:850).
    """
    declared = MULTIVALUED_PROPERTIES | SINGLE_VALUED_PROPERTIES | BOOLEAN_PROPERTIES
    undeclared = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.StringType) and f.name not in declared
    ]
    wrapped = {c for c in undeclared if c in biolink_multivalued_slots()}
    probe = [c for c in undeclared if c not in wrapped]
    if probe:
        row = df.agg(
            *[F.max(_qcol(c).contains(LIST_DELIMITER)).alias(c) for c in probe]
        ).first()
        if row is not None:
            wrapped |= {c for c in probe if row[c]}
    return wrapped


#: The reference's declared column_types keys (kgx_utils.py:50-69) — the
#: fast path in _sanitize_import_property; everything ELSE falls through to
#: the model-multivalued-slot wrap (kgx_utils.py:885-899).
REFERENCE_COLUMN_TYPES = frozenset(
    {
        "publications",
        "qualifiers",
        "category",
        "synonym",
        "same_as",
        "negated",
        "xrefs",
        "knowledge_source",
        "primary_knowledge_source",
        "original_knowledge_source",
        "aggregator_knowledge_source",
        "supporting_data_source",
        "provided_by",
    }
)


def sanitize_import(df: DataFrame, sniff: bool = False, wrap_slots: bool = False) -> DataFrame:
    """Apply the reference's per-property import coercions to a whole DataFrame.

    - declared multivalued columns arriving as strings are split on '|';
    - multivalued columns already arrays are deduped/sorted/null-scrubbed;
    - `negated` is coerced to boolean;
    - all other strings get \\n/\\t stripped and empty→null;
    - with ``sniff=True``, undeclared delimiter-bearing string columns and
      Biolink-multivalued slots also become lists (kgx_utils.py:884-899);
    - with ``wrap_slots=True`` (the reference's NO-delimiter sources — RDF,
      where list_delimiter is None, kgx_utils.py:890-897), undeclared
      columns named like Biolink multivalued slots (`type`, `has_evidence`,
      singular `xref`) WRAP their scalar value into a one-element list
      instead of splitting — a literal '|' inside an RDF literal is data.
    """
    listcols = set(MULTIVALUED_PROPERTIES)
    if sniff:
        listcols |= sniff_list_columns(df)
    wrapcols: set[str] = set()
    if wrap_slots:
        wrapcols = set(biolink_multivalued_slots()) - REFERENCE_COLUMN_TYPES - listcols
    out = []
    for field in df.schema.fields:
        c = _qcol(field.name)
        if field.name in BOOLEAN_PROPERTIES:
            expr = c if isinstance(field.dataType, T.BooleanType) else coerce_boolean(c)
        elif field.name in listcols:
            if isinstance(field.dataType, T.ArrayType):
                expr = clean_array(c)
            else:
                expr = split_list_column(c.cast("string"))
        elif field.name in wrapcols:
            if isinstance(field.dataType, T.ArrayType):
                expr = clean_array(c)
            else:
                expr = F.when(
                    c.isNotNull(), clean_array(F.array(c.cast("string")))
                )
        elif isinstance(field.dataType, T.StringType):
            expr = clean_string(c)
        else:
            expr = c
        out.append(expr.alias(field.name))
    return df.select(*out)


def _export_scrub(col: Column) -> Column:
    """The reference's export-side string scrub (kgx_utils.py:963-1005
    _sanitize_export_property): '\\n'/'\\t' → space and literal
    backslash-quote sequences removed."""
    return F.regexp_replace(F.regexp_replace(col, r"[\n\t]", " "), r'\\"', "")


def sanitize_export(df: DataFrame) -> DataFrame:
    """Inverse: arrays → '|'-joined strings, everything stringified, strings
    scrubbed (kgx_utils.py:912-1005). Used by the TSV sink.

    Documented divergence (tests/test_sanitize_differential.py): the
    reference's build_export_row drops FALSY values (`if new_value:` —
    kgx_utils.py:930), so `negated=False` and empty strings vanish from its
    output; here False exports as "False" — silently deleting a negation
    flag is data loss we choose not to reproduce."""
    out = []
    for field in df.schema.fields:
        c = _qcol(field.name)
        if isinstance(field.dataType, T.ArrayType):
            expr = F.array_join(F.transform(c, _export_scrub), LIST_DELIMITER)
        elif isinstance(field.dataType, T.BooleanType):
            expr = F.when(c, "True").when(~c, "False")  # python str(bool)
        elif isinstance(field.dataType, T.StringType):
            expr = _export_scrub(c)
        else:
            expr = c.cast("string")
        out.append(expr.alias(field.name))
    return df.select(*out)
