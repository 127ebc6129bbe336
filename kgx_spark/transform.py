"""Transformer orchestration: the `kgx transform` / `kgx merge` surface.

Reference: kgx/transformer.py:135-299 (transform), kgx/cli/cli_utils.py:552-901
(transform/merge entry points), kgx/utils/kgx_utils.py:1067-1085
(apply_graph_operations dotted-name dispatch).

Differences by design (SURVEY.md §3.1): no stream/non-stream split — a
DataFrame plan is always lazy ("streaming" in KGX's bounded sense); no
multiprocessing pool — partition parallelism subsumes it; the per-source
provenance default (input filename) is applied as a column expression.
"""

from __future__ import annotations

import os
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F
from kgx_spark.operators import graph_ops
from kgx_spark.operators.clique import clique_merge
from kgx_spark.operators.filters import apply_edge_filters, apply_node_filters
from kgx_spark.operators.merge import merge_graphs

Graph = tuple[DataFrame, DataFrame]


def read_source(spark: SparkSession, input_args: dict[str, Any]) -> Graph:
    """SOURCE_MAP dispatch (kgx/transformer.py:43-60, 411-430).

    ``filename`` may be a single path (dir/glob/file/tar) or, as in the
    reference's YAML configs, a LIST of files (e.g. ``[graph_nodes.tsv,
    graph_edges.tsv]`` — cli_utils.py:585-596 passes the list through).
    """
    fmt = input_args["format"]
    path = input_args["filename"]
    if isinstance(path, (list, tuple)) and fmt not in ("tsv", "csv"):
        if len(path) != 1:
            raise ValueError(
                f"format {fmt} takes one input path, got {len(path)}: {path}"
            )
        path = path[0]
    if fmt in ("tsv", "csv"):
        from kgx_spark.sources.tsv import read_kgx_tsv

        nodes, edges = read_kgx_tsv(spark, path, fmt=fmt)
    elif fmt == "jsonl":
        from kgx_spark.sources.jsonl import read_kgx_jsonl

        nodes, edges = read_kgx_jsonl(spark, path)
    elif fmt == "json":
        from kgx_spark.sources.json_source import read_kgx_json

        nodes, edges = read_kgx_json(spark, path)
    elif fmt == "parquet":
        from kgx_spark.sources.parquet import read_kgx_parquet

        nodes, edges = read_kgx_parquet(spark, path)
    elif fmt in ("obojson", "obograph-json"):
        from kgx_spark.sources.obograph import read_obograph

        nodes, edges = read_obograph(spark, path)
    elif fmt == "sssom":
        from kgx_spark.sources.sssom import read_sssom

        nodes, edges, _ = read_sssom(spark, path)
    elif fmt == "nt":
        from kgx_spark.sources.rdf_nt import read_ntriples

        nodes, edges = read_ntriples(spark, path)
    elif fmt == "jelly":
        # reference routes format="jelly" into the shared RDF triple path
        # (rdf_source.py:163-166)
        from kgx_spark.sources.jelly import read_jelly

        nodes, edges = read_jelly(spark, path)
    elif fmt in ("trapi", "trapi:jsonl"):
        # the reference's TrapiSource parse(format=...) json/jsonl split
        # (trapi_source.py:29-67)
        from kgx_spark.sources.trapi import read_trapi

        nodes, edges = read_trapi(
            spark, path, format="jsonl" if fmt == "trapi:jsonl" else "json"
        )
    elif fmt == "owl":
        from kgx_spark.sources.owl_source import read_owl

        nodes, edges = read_owl(spark, path)
    elif fmt == "owl:nt":
        # OWL serialized as N-Triples: the distributed, rdflib-free path
        # (restriction unpacking — owl_source.py:117-157 semantics)
        from kgx_spark.sources.owl_nt import read_owl_nt

        nodes, edges = read_owl_nt(spark, path)
    elif fmt == "duckdb":
        from kgx_spark.sources.duckdb_source import read_duckdb

        nodes, edges = read_duckdb(
            spark, path,
            node_filters=input_args.get("node_filters"),
            edge_filters=input_args.get("edge_filters"),
        )
    else:
        raise ValueError(f"unknown source format: {fmt}")

    # knowledge-source coercion knobs (the reference Transformer's
    # input_args provenance map — kgx/utils/infores.py:326-459): entries
    # named after provenance slots coerce/suppress/rewrite those columns
    from kgx_spark.functions.infores import PROVENANCE_SLOTS, _spec_mode, apply_provenance_map, default_provenance

    prov_specs = {k: input_args[k] for k in PROVENANCE_SLOTS if k in input_args}
    pb_suppressed = _spec_mode(prov_specs["provided_by"]) == "suppress" if "provided_by" in prov_specs else False
    if prov_specs:
        if nodes is not None:
            nodes = apply_provenance_map(nodes, prov_specs, is_node=True)
        if edges is not None:
            edges = apply_provenance_map(edges, prov_specs, is_node=False)

    # per-source provenance default from the record's own input filename
    # (transformer.py:211 uses os.path.basename(f); input_file_name() is the
    # distributed equivalent and is resolved at scan time, per row).
    # Node records always default `provided_by` (set_node_provenance +
    # the unconditional provided_by mapping — infores.py:371-372,430-440);
    # edge records default the generic `knowledge_source` slot instead,
    # and ONLY when no provenance spec was given (the ksf_found==0 branch,
    # infores.py:364-370 — any explicit spec replaces the generic default).
    default = input_args.get("default_provenance")
    if fmt in ("tsv", "csv"):
        # direct file scans: per-row filename (a fileset mixes
        # {base}_nodes/{base}_edges files — each row names its own)
        base = F.split_part(
            F.element_at(F.split(F.input_file_name(), "/"), -1), F.lit("."), F.lit(1)
        )
    else:
        # derived frames (NT/obograph/TRAPI nodes come from unions and
        # aggregations — input_file_name() rejects multi-source lineage):
        # one driver-side literal from the input path, the same value the
        # reference computes once per parse (transformer.py:211)
        first = path[0] if isinstance(path, (list, tuple)) else path
        base = F.lit(os.path.basename(str(first)).split(".")[0])
    if default:
        # str or list — a multi-valued provenance stamps EVERY value on
        # nodes, its first on the scalar edge slot
        values = [F.lit(v) for v in (default if isinstance(default, (list, tuple)) else [default])]
    else:
        values = [base]
    if nodes is not None and not pb_suppressed:
        nodes = default_provenance(nodes, F.array(*values))
    if edges is not None and not prov_specs:
        edges = default_provenance(edges, values[0], slot="knowledge_source", multivalued=False)

    # graph-insertion dedup (the reference Transformer keys its graph by
    # node id and by generate_edge_key(s, predicate, o) — ALWAYS (s,p,o),
    # even when the record carries an id, tsv_source.py:273 — so its graph
    # fixture's 534/539 records load as 512 nodes / 531 edges). Reference
    # rule is last-record-wins; dropDuplicates keeps an arbitrary record —
    # identical on exact duplicates, documented divergence otherwise (no
    # stable record order exists in a distributed scan). Runs AFTER the
    # provenance fill (input_file_name() cannot survive the dedup
    # exchange) and only for TSV/CSV — the structured sources
    # (RDF/obograph/TRAPI) already dedupe by their own pinned keys.
    if fmt in ("tsv", "csv"):
        if nodes is not None:
            nodes = nodes.dropDuplicates(["id"])
        if edges is not None:
            edges = edges.dropDuplicates(["subject", "predicate", "object"])

    # filters (transformer.py:177-209 wiring). The reference CROSS-WIRES
    # category filters (source.py:136-245): a node 'category' filter also
    # sets the edge subject_category/object_category filters, and either
    # of those merges back into the node 'category' filter — so
    # edge-category-only queries reduce the node stream too (its
    # stream-transform test 6 pins 133 nodes from a category-less
    # node_filters input).
    node_filters = dict(input_args.get("node_filters") or {})
    edge_filters = dict(input_args.get("edge_filters") or {})
    cat = set(node_filters.get("category") or ())
    sc = set(edge_filters.get("subject_category") or ())
    oc = set(edge_filters.get("object_category") or ())
    if cat:
        edge_filters["subject_category"] = sc | cat
        edge_filters["object_category"] = oc | cat
    if sc or oc:
        node_filters["category"] = cat | sc | oc
    if node_filters and nodes is not None:
        nodes = apply_node_filters(nodes, node_filters)
    if edge_filters and edges is not None:
        edges = apply_edge_filters(edges, edge_filters, nodes=nodes)
    if node_filters and nodes is not None and edges is not None:
        # edges must connect surviving nodes (seen-node gating,
        # transformer.py:349-374)
        from kgx_spark.operators.filters import remove_dangling_edges

        edges = remove_dangling_edges(edges, nodes)
    return nodes, edges


def write_sink(nodes: DataFrame | None, edges: DataFrame | None, output_args: dict[str, Any]) -> None:
    """SINK_MAP dispatch (kgx/transformer.py:62-75, 432-460)."""
    fmt = output_args["format"]
    path = output_args["filename"]
    if fmt in ("tsv", "csv"):
        from kgx_spark.sinks.tsv import write_kgx_tsv

        write_kgx_tsv(
            nodes, edges, path, fmt=fmt,
            single_file=output_args.get("single_file", False),
            compression=output_args.get("compression"),
            node_properties=output_args.get("node_properties"),
            edge_properties=output_args.get("edge_properties"),
        )
    elif fmt == "jsonl":
        from kgx_spark.sinks.jsonl import write_kgx_jsonl

        write_kgx_jsonl(nodes, edges, path, compression=output_args.get("compression"))
    elif fmt == "parquet":
        from kgx_spark.sinks.parquet import write_kgx_parquet

        write_kgx_parquet(nodes, edges, path, partition_by=output_args.get("partition_by"))
    elif fmt == "nt":
        from kgx_spark.sinks.rdf_nt import write_ntriples

        write_ntriples(nodes, edges, path, reify_all_edges=output_args.get("reify_all_edges", False))
    elif fmt == "jelly":
        from kgx_spark.sinks.jelly import write_jelly

        write_jelly(nodes, edges, path, reify_all_edges=output_args.get("reify_all_edges", False))
    elif fmt == "json":
        from kgx_spark.sinks.trapi import write_kgx_json

        write_kgx_json(nodes, edges, path)
    elif fmt == "trapi":
        from kgx_spark.sinks.trapi import write_trapi

        write_trapi(nodes, edges, path)
    elif fmt in ("sql", "sqlite"):
        from kgx_spark.sinks.sql_sink import write_sql

        write_sql(
            nodes, edges, path,
            node_properties=output_args.get("node_properties"),
            edge_properties=output_args.get("edge_properties"),
            denormalize=output_args.get("denormalize", False),
        )
    elif fmt == "null":
        # NullSink (kgx/sink/null_sink.py): force evaluation, discard
        for df in (nodes, edges):
            if df is not None:
                df.write.format("noop").mode("overwrite").save()
    else:
        raise ValueError(f"unknown sink format: {fmt}")


# --- graph operations registry (kgx_utils.py:1067-1085 dotted-name dispatch) ---

def _op_clique_merge(nodes: DataFrame, edges: DataFrame, **kw) -> Graph:
    n, e, _ = clique_merge(
        nodes, edges,
        prefix_priority=kw.get("prefix_prioritization"),
        leader_annotation=kw.get("leader_annotation"),
        strict=kw.get("strict", True),
        prefix_prioritization_map=kw.get("prefix_prioritization_map"),
    )
    return n, e


OPERATIONS: dict[str, Callable[..., Graph]] = {
    "remap_node_identifier": lambda n, e, **kw: graph_ops.remap_node_identifier(n, e, **kw),
    "remap_node_property": lambda n, e, **kw: (graph_ops.remap_node_property(n, **kw), e),
    "remap_edge_property": lambda n, e, **kw: (n, graph_ops.remap_edge_property(e, **kw)),
    "fold_predicate": lambda n, e, **kw: graph_ops.fold_predicate(n, e, **kw),
    "unfold_node_property": lambda n, e, **kw: graph_ops.unfold_node_property(n, e, **kw),
    "remove_singleton_nodes": lambda n, e, **kw: (graph_ops.remove_singleton_nodes(n, e), e),
    "clique_merge": _op_clique_merge,
}


def apply_graph_operations(nodes: DataFrame, edges: DataFrame, operations: list[dict]) -> Graph:
    """operations: [{"name": ..., "args": {...}}, ...] applied in order
    (kgx_utils.py:1067-1085; YAML `operations:` block in kgx transform)."""
    for op in operations:
        name = op["name"].rsplit(".", 1)[-1]  # tolerate dotted paths
        if name not in OPERATIONS:
            raise ValueError(f"unknown graph operation: {name}")
        nodes, edges = OPERATIONS[name](nodes, edges, **(op.get("args") or {}))
    return nodes, edges


def transform(
    spark: SparkSession,
    input_args: dict[str, Any],
    output_args: dict[str, Any],
    operations: list[dict] | None = None,
    cache_graph: bool = False,
) -> Graph:
    """kgx transform: source → filters → operations → sink
    (kgx/transformer.py:135-299).

    ``cache_graph`` caches nodes/edges BEFORE the sink write, so a caller
    that inspects the returned frames afterwards (the CLI prints counts)
    reuses the write's evaluation instead of re-running the whole
    read/filter/operations plan per action.
    """
    nodes, edges = read_source(spark, input_args)
    if operations:
        nodes, edges = apply_graph_operations(nodes, edges, operations)
    if cache_graph:
        nodes = nodes.cache() if nodes is not None else None
        edges = edges.cache() if edges is not None else None
    write_sink(nodes, edges, output_args)
    return nodes, edges


class _ConfigFile:
    """A `kgx transform` / `kgx merge` YAML config: the steps both verbs
    take (cli_utils.py:552-901). ``block`` names the verb's top-level block
    (``transform`` or ``merged_graph``); a config without it is refused
    before anything is written. Relative input paths resolve against the
    config file's directory, outputs against ``output_directory`` (itself
    relative to the config file; default ``output``) — the reference's cwd
    rules (cli_utils.py:612-640, prepare_output_args)."""

    def __init__(self, path: str, block: str):
        import yaml

        self.dir = os.path.dirname(os.path.abspath(path))
        with open(path) as fh:
            cfg = yaml.safe_load(fh)
        if not isinstance(cfg, dict) or block not in cfg:
            raise ValueError(f"{path} has no '{block}' block")
        self.block = cfg[block]
        self.conf = cfg.get("configuration") or {}
        self.output_directory = os.path.normpath(
            os.path.join(self.dir, self.conf.get("output_directory") or "output")
        )
        os.makedirs(self.output_directory, exist_ok=True)

    @staticmethod
    def keys(blocks: dict, chosen: list[str] | None, flag: str) -> list[str]:
        """The keys of ``blocks`` to run: all, or those the ``--{flag}``
        flag names."""
        keys = list(chosen) if chosen else list(blocks)
        unknown = [k for k in keys if k not in blocks]
        if unknown:
            raise ValueError(f"unknown {flag} keys in --{flag}: {unknown}")
        return keys

    def input_args(
        self, key: str, inp: dict, filters: dict, provenance: str | list | None
    ) -> dict[str, Any]:
        """read_source arguments for source ``key``'s ``input`` block, with
        the verb's own filters and provenance default."""
        filenames = inp.get("filename")
        if isinstance(filenames, str):
            filenames = [filenames]
        if not filenames:
            raise ValueError(f"source '{key}' has no input filenames")
        resolved = [os.path.normpath(os.path.join(self.dir, f)) for f in filenames]
        args: dict[str, Any] = {
            "filename": resolved if len(resolved) != 1 else resolved[0],
            "format": inp["format"],
        }
        for name in ("node_filters", "edge_filters"):
            if filters.get(name):
                args[name] = filters[name]
        if provenance:
            args["default_provenance"] = provenance
        return args

    def output_path(self, out: dict, key: str) -> str:
        """An output block's filename (its first, when a list; else the
        key) under ``output_directory``."""
        ofn = out.get("filename") or key
        if isinstance(ofn, list):
            ofn = ofn[0]
        return os.path.join(self.output_directory, ofn)


def transform_config(
    spark: SparkSession,
    config_path: str,
    source: list[str] | None = None,
    cache_graph: bool = False,
) -> dict[str, Graph]:
    """`kgx transform --transform-config` YAML orchestration
    (kgx/cli/cli_utils.py:552-720): multi-source fan-out, each source with
    its own input/output blocks, per-source filters, optional operations.

    YAML shape (reference fixture tests/resources/test-transform.yaml):

        configuration:
          output_directory: ../target       # relative → resolved vs config
        transform:
          source:
            <key>:
              name: "..."
              input:
                format: tsv
                filename: [graph_nodes.tsv, graph_edges.tsv]  # vs config dir
                filters: {node_filters: {...}, edge_filters: {...}}
              output: {format: json, filename: [grapher]}
              operations: [{name: ..., args: {...}}]          # optional

    ``source`` restricts the run to the named keys (the reference's
    ``--source`` flag). Paths resolve as ``_ConfigFile`` describes.
    Sources run sequentially — the reference's multiprocessing pool is
    subsumed by partition parallelism within each Spark job (SURVEY.md §3.1);
    a 1000-executor cluster saturates on one source's scan+shuffle, so
    inter-source concurrency adds nothing but contention at scale.
    → dict of source key → (nodes, edges).
    """
    config = _ConfigFile(config_path, "transform")
    sources_cfg = config.block["source"]
    # checkpoint writes the SAME frames a second time — without a cache
    # that second action re-runs the whole read/filter/operations plan,
    # so force the cache whenever a checkpoint snapshot will follow
    checkpoint = bool(config.conf.get("checkpoint"))
    forced_cache = checkpoint and not cache_graph

    results: dict[str, Graph] = {}
    for key in config.keys(sources_cfg, source, "source"):
        sp = sources_cfg[key]
        inp = sp["input"]
        # explicit per-source provenance (the reference's provided_by kwarg —
        # transformer.py set_provenance_map); a LIST passes through whole
        # (every value is stamped), otherwise read_source defaults from the
        # input filename, as the reference does
        input_args = config.input_args(
            key, inp, inp.get("filters") or {},
            inp.get("provided_by") or inp.get("default_provenance"),
        )
        out = sp["output"]
        output_args: dict[str, Any] = {
            "filename": config.output_path(out, key), "format": out["format"],
        }
        for opt in ("single_file", "compression", "partition_by", "reify_all_edges",
                    "node_properties", "edge_properties", "denormalize"):
            if opt in out:
                output_args[opt] = out[opt]

        results[key] = transform(
            spark, input_args, output_args, sp.get("operations"),
            cache_graph=cache_graph or forced_cache,
        )
        if checkpoint:
            # per-source TSV snapshot alongside the output
            # (cli_utils.py:953-956: "{output_directory}/{key}" in tsv)
            write_sink(*results[key], {
                "filename": os.path.join(config.output_directory, key), "format": "tsv",
            })
        if forced_cache:
            # the caller didn't ask for cached frames — don't pin every
            # source's graph in executor memory for the rest of the session
            for frame in results[key]:
                if frame is not None:
                    frame.unpersist()
    return results


def merge_config(
    spark: SparkSession,
    config_path: str,
    source: list[str] | None = None,
    destination: list[str] | None = None,
) -> Graph:
    """`kgx merge --merge-config` YAML orchestration (cli_utils.py:723-901),
    accepting the reference's exact config shape
    (tests/resources/test-merge.yaml):

        configuration: {output_directory, checkpoint}
        merged_graph:
          name: ...
          source:
            <key>: {name, input: {format, filename: [...],
                                  filters: {node_filters, edge_filters}}}
          operations:
            - name: kgx.graph_operations.summarize_graph.generate_graph_stats
              args: {graph_name, filename, node/edge_facet_properties}
          destination:
            <key>: {format, compression, filename: [...]}

    Paths resolve as ``_ConfigFile`` describes, stats files against
    ``output_directory`` too; ``checkpoint: true`` snapshots each source as
    TSV into the output directory under its key (cli_utils.py:953-956). A
    source's provenance default is its input's ``provided_by``, else its
    ``name``, else its input filename. ``source``/``destination`` restrict to the named keys (the
    reference's CLI flags). Sources merge in the configured order: the
    reference's merge_all_graphs puts the largest edge count first, which
    only scalar-conflict resolution observes, and counting edges would be a
    full scan per source. The merged graph is cached across the N
    destination writes so each sink reuses one evaluation.
    """
    import yaml

    config = _ConfigFile(config_path, "merged_graph")
    mg = config.block
    sources_cfg = mg["source"]
    checkpoint = bool(config.conf.get("checkpoint"))
    graphs: list[Graph] = []
    for key in config.keys(sources_cfg, source, "source"):
        sp = sources_cfg[key]
        inp = sp["input"]
        g = read_source(spark, config.input_args(
            key, inp, sp.get("filters") or inp.get("filters") or {},
            inp.get("provided_by") or sp.get("name"),
        ))
        if checkpoint:
            write_sink(*g, {"filename": os.path.join(config.output_directory, key), "format": "tsv"})
        graphs.append(g)

    nodes, edges = merge_graphs(graphs, preserve=True)

    for op in mg.get("operations") or []:
        opname = op["name"].rsplit(".", 1)[-1]
        args = dict(op.get("args") or {})
        if opname == "generate_graph_stats":
            # the reference's merge-YAML stats operation (cli_utils.py:870-886):
            # summarize the merged graph, dump YAML into the output directory
            from kgx_spark.operators.summary import summarize_graph

            stats = summarize_graph(
                nodes,
                edges,
                name=args.get("graph_name"),
                node_facet_properties=args.get("node_facet_properties"),
                edge_facet_properties=args.get("edge_facet_properties"),
            )
            stats_path = os.path.join(
                config.output_directory, args.get("filename") or "graph_stats.yaml"
            )
            with open(stats_path, "w") as fh:
                yaml.safe_dump(stats, fh)
        else:
            nodes, edges = apply_graph_operations(nodes, edges, [op])

    dests = mg.get("destination") or {}
    dkeys = config.keys(dests, destination, "destination")
    if len(dkeys) > 1:
        nodes = nodes.cache() if nodes is not None else None
        edges = edges.cache() if edges is not None else None
    for key in dkeys:
        d = dests[key]
        out_args: dict[str, Any] = {"filename": config.output_path(d, key), "format": d["format"]}
        comp = d.get("compression")
        if comp and str(comp) != "None":
            out_args["compression"] = comp
        write_sink(nodes, edges, out_args)
    return nodes, edges
