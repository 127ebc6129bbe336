"""Infores (information-resource) CURIE rewriting.

Reference: kgx/utils/infores.py:135-168 (processor), catalog 109-133,
default provenance fill 326-459.

The reference memoizes a per-process catalog; here the rewrite is a pure
deterministic string pipeline (so no memoization is needed — Catalyst
common-subexpression-eliminates it) and the catalog is a groupBy side-output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Python's str.strip() / re.sub(r"\s+") are UNICODE-aware; Java's \s and
# RE2's \s are ASCII-only. This class spells Python's whitespace set in
# syntax both Java (Spark) and RE2 (the DuckDB oracle) accept: ASCII
# control whitespace + \x1C-\x1F + NEL + the Z* separator categories.
_WS = r"[\t\n\x0B\f\r \x1C-\x1F\x85\p{Zs}\p{Zl}\p{Zp}]"


def infores_curie(
    col: Column, rewrite: tuple[str, ...] | list[str] | None = None
) -> Column:
    """Knowledge-source name → ``infores:`` CURIE.

    Exact reference pipeline (kgx/utils/infores.py:135-168 _process_infores,
    applied substitution-for-substitution): optional rewrite → optional
    prefix prepend → strip → lowercase → ``\\s+`` → '_' → ``\\.+`` → '_' →
    strip non-word chars (hyphens included — ``[\\W]``) → '_' → '-' →
    prefix 'infores:'. Values already infores CURIEs pass through untouched
    (checked BEFORE the rewrite, as the reference does).

    ``rewrite`` is the reference's optional ``(regex, substitution[,
    prefix])`` tuple from knowledge-source filters (infores.py:86-107):
    ``regex`` matches are replaced by ``substitution`` (all occurrences, on
    the RAW value before case folding; empty/missing substitution deletes
    the matches), then ``prefix`` — the third element — is prepended as a
    separate word. A falsy regex skips the substitution but still applies
    the prefix.
    """
    out = col
    if rewrite:
        regex = rewrite[0]
        substitution = rewrite[1] if len(rewrite) > 1 else ""
        prefix = rewrite[2] if len(rewrite) > 2 else ""
        if regex:
            out = F.regexp_replace(out, regex, substitution)
        if prefix:
            out = F.concat(F.lit(prefix + " "), out)
    # Unicode-aware strip + \s+, matching Python's (F.trim strips only
    # ASCII spaces and Java \s is ASCII-only — 'Name\t' and 'a b'
    # would diverge from the reference otherwise)
    out = F.lower(F.regexp_replace(out, f"^{_WS}+|{_WS}+$", ""))
    out = F.regexp_replace(out, f"{_WS}+", "_")
    out = F.regexp_replace(out, r"\.+", "_")
    # the reference's re.sub(r"[\W]", "") is UNICODE-aware: Python \w =
    # letters (L*), decimal/letter/other numbers (Nd/Nl/No) and '_', so
    # 'café' keeps its é. \p-classes spell that same set in both Java
    # (Spark) and RE2 (the DuckDB oracle).
    out = F.regexp_replace(out, r"[^\p{L}\p{Nd}\p{Nl}\p{No}_]", "")
    out = F.regexp_replace(out, "_", "-")
    out = F.concat(F.lit("infores:"), out)
    return F.when(col.startswith("infores:"), col).otherwise(out)


def infores_catalog(df: DataFrame) -> DataFrame:
    """Side-output catalog mapping raw ``knowledge_source`` name → infores
    CURIE.

    Mirrors the reference's write_catalog (kgx/utils/infores.py:109-133) as a
    distinct projection instead of a driver-side dict.
    """
    return (
        df.select("knowledge_source")
        .where(F.col("knowledge_source").isNotNull())
        .distinct()
        .withColumn("infores", infores_curie(F.col("knowledge_source")))
    )


#: kgx/utils/kgx_utils.py:62-71 provenance_slot_types — the knowledge-source
#: slots the provenance map may coerce, with their list-ness
PROVENANCE_SLOTS: dict[str, bool] = {
    "knowledge_source": False,
    "primary_knowledge_source": False,
    "original_knowledge_source": False,
    "aggregator_knowledge_source": True,
    "supporting_data_source": True,
    "provided_by": True,
}


def _spec_mode(spec) -> str:
    """Classify a provenance-map entry (infores.py:290-311
    set_provenance_map_entry): True/'true' → coerce, False/'false' →
    suppress, tuple/list → rewrite-coerce, other string → default fill."""
    if isinstance(spec, bool):
        return "coerce" if spec else "suppress"
    if isinstance(spec, (list, tuple)):
        return "rewrite"
    if isinstance(spec, str):
        s = spec.strip().lower()
        if s == "true":
            return "coerce"
        if s == "false":
            return "suppress"
        return "fill"
    return "fill"


def apply_provenance_map(
    df: DataFrame, specs: dict, is_node: bool
) -> DataFrame:
    """The reference Transformer's knowledge-source coercion
    (kgx/utils/infores.py:326-459): input_args entries named after
    provenance slots rewrite those columns at ingest.

    - nodes process ONLY ``provided_by`` (set_node_provenance :430-440);
    - edges process every spec'd slot (set_edge_provenance :442-459);
    - coerce/rewrite → each present value through infores_curie (list
      slots element-wise); suppress → the column is dropped (the
      reference pops values that became empty — :427-428); a plain
      string → fill missing values only, raw.
    """
    for ksf, spec in specs.items():
        if ksf not in PROVENANCE_SLOTS:
            continue
        if is_node and ksf != "provided_by":
            continue
        mode = _spec_mode(spec)
        if mode == "suppress":
            if ksf in df.columns:
                df = df.drop(ksf)
            continue
        if mode == "fill":
            # a plain string fills missing values — creating the column
            # when absent, as set_provenance's ksf-not-in-data branch does
            # (infores.py:385-390)
            df = default_provenance(df, str(spec), slot=ksf, multivalued=PROVENANCE_SLOTS[ksf])
            continue
        if ksf not in df.columns:
            continue
        rewrite = tuple(spec) if mode == "rewrite" else None
        if mode in ("coerce", "rewrite"):
            if dict(df.dtypes).get(ksf, "").startswith("array"):
                df = df.withColumn(
                    ksf, F.transform(F.col(ksf), lambda x: infores_curie(x, rewrite=rewrite))
                )
            else:
                df = df.withColumn(ksf, infores_curie(F.col(ksf), rewrite=rewrite))
    return df


def transformer_infores_catalog(
    nodes: DataFrame | None, edges: DataFrame | None, specs: dict
) -> DataFrame:
    """Raw knowledge-source name → infores CURIE catalog for a provenance
    map, the reference's Transformer.get_infores_catalog()
    (transformer.py:313-319 aggregation; infores.py:110-133 _get_infores
    population).

    Reproduces a reference quirk the integration tests pin:
    set_edge_provenance runs mapped slots through set_provenance TWICE
    (once in the data-field loop :455-456, again in the mapping loop
    :457-459), so an edge slot's already-coerced ``infores:*`` values are
    re-catalogued as identity entries — hence the catalog also contains
    (infores:x → infores:x) rows for edge-coerced slots.
    """
    frames = []

    def raw_to_infores(df: DataFrame, ksf: str, rewrite) -> DataFrame:
        col = (
            F.explode(ksf)
            if dict(df.dtypes).get(ksf, "").startswith("array")
            else F.col(ksf)
        )
        raw = df.select(col.alias("knowledge_source")).where(
            F.col("knowledge_source").isNotNull()
        ).distinct()
        return raw.withColumn(
            "infores", infores_curie(F.col("knowledge_source"), rewrite=rewrite)
        )

    for ksf, spec in specs.items():
        mode = _spec_mode(spec)
        if ksf not in PROVENANCE_SLOTS or mode not in ("coerce", "rewrite"):
            continue
        rewrite = tuple(spec) if mode == "rewrite" else None
        if ksf == "provided_by" and nodes is not None and ksf in nodes.columns:
            frames.append(raw_to_infores(nodes, ksf, rewrite))
        if edges is not None and ksf in edges.columns:
            mapped = raw_to_infores(edges, ksf, rewrite)
            frames.append(mapped)
            if ksf != "provided_by":  # the second-pass loop skips provided_by
                frames.append(
                    mapped.select(F.col("infores").alias("knowledge_source"), "infores")
                )
    if not frames:
        spark = (nodes or edges).sparkSession
        return spark.createDataFrame([], "knowledge_source string, infores string")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.distinct()


def default_provenance(
    df: DataFrame, default: str | Column, slot: str = "provided_by", multivalued: bool = True
) -> DataFrame:
    """Fill missing provenance with a default (kgx/utils/infores.py:326-459),
    creating the slot when absent; a multivalued slot also fills empty
    lists.

    ``default`` is a string, or a Column of the slot's type: the reference
    derives the default from the input filename (transformer.py:211), which
    ``transform.read_source`` passes per row.
    """
    if isinstance(default, str):
        default = F.array(F.lit(default)) if multivalued else F.lit(default)
    if slot not in df.columns:
        return df.withColumn(slot, default)
    cur = F.col(slot)
    missing = cur.isNull() | (F.size(cur) == 0) if multivalued else cur.isNull()
    return df.withColumn(slot, F.when(missing, default).otherwise(cur))
