"""CLI mirroring the reference's `kgx` entry points (kgx/cli/__init__.py):

    python -m kgx_spark transform --input-format tsv -i graph_dir \
        --output-format jsonl -o out/graph
    python -m kgx_spark merge --config merge.yaml   # the reference's merged_graph YAML
    python -m kgx_spark graph-summary --input-format tsv -i graph_dir -o stats.yaml
    python -m kgx_spark validate --input-format jsonl -i graph_dir
"""

from __future__ import annotations

import argparse
import json
import sys

from kgx_spark.session import get_spark


def _io_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("-i", "--input", required=True)
    p.add_argument("--input-format", required=True)
    p.add_argument("--node-filters", default=None, help="JSON dict, e.g. '{\"category\": [\"biolink:Gene\"]}'")
    p.add_argument("--edge-filters", default=None)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="kgx_spark")
    ap.add_argument("--master", default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    t = sub.add_parser("transform", help="kgx transform (kgx/cli/__init__.py:734)")
    t.add_argument("-i", "--input", default=None)
    t.add_argument("--input-format", default=None)
    t.add_argument("--node-filters", default=None, help="JSON dict, e.g. '{\"category\": [\"biolink:Gene\"]}'")
    t.add_argument("--edge-filters", default=None)
    t.add_argument("-o", "--output", default=None)
    t.add_argument("--output-format", default=None)
    t.add_argument("--operations", default=None, help="JSON list of {name, args}")
    t.add_argument(
        "-k", "--knowledge-sources", nargs=2, action="append", default=None,
        metavar=("KSF", "SPEC"),
        help="named knowledge-source spec (cli/__init__.py:715-722; "
             "cli_utils.py:530-549): SPEC is true/false, a default string, "
             "or an 'old,new' InfoRes rewrite tuple; repeatable",
    )
    t.add_argument(
        "--transform-config", default=None,
        help="multi-source transform YAML (cli_utils.py:552-720); "
             "mutually exclusive with -i/-o",
    )
    t.add_argument(
        "--source", action="append", default=None,
        help="restrict --transform-config to these source keys (repeatable)",
    )

    m = sub.add_parser("merge", help="kgx merge (kgx/cli/__init__.py:833)")
    m.add_argument(
        "--config", required=True,
        help="the reference's merge YAML (cli_utils.py:723-901): {configuration: "
             "{..}, merged_graph: {source: {..}, operations: [..], destination: {..}}}",
    )

    g = sub.add_parser("graph-summary", help="kgx graph-summary (cli_utils.py:68-164)")
    _io_args(g)
    g.add_argument("-o", "--output", default=None)
    g.add_argument(
        "--report-type", default="kgx-map",
        choices=["kgx-map", "meta-knowledge-graph"],
        help="summary report type (cli_utils.py:21 summary_report_types)",
    )
    g.add_argument(
        "--node-facet-properties", default=None,
        help="comma-separated node facet properties (cli_utils.py:92-99)",
    )
    g.add_argument(
        "--edge-facet-properties", default=None,
        help="comma-separated edge facet properties",
    )
    g.add_argument(
        "--report-format", default=None, choices=["json", "yaml"],
        help="report serialization (cli_utils.py:117 get_report_format_types; "
        "unset = each report type's save() default: yaml for kgx-map, "
        "json for meta-knowledge-graph)",
    )
    g.add_argument(
        "--graph-name", default=None,
        help="name stamped into the report (cli_utils.py:114-115 defaults 'Graph')",
    )

    v = sub.add_parser("validate", help="kgx validate (cli_utils.py:167-229)")
    _io_args(v)
    v.add_argument("-o", "--output", default=None,
                   help="file to write the validation report to (stdout otherwise)")
    v.add_argument(
        "-b", "--biolink-release", default=None,
        help="Biolink Model release (SemVer); anything but the pinned "
             "snapshot release raises → exit 2 (cli/__init__.py:172-210)",
    )

    # connector verbs (kgx/cli/__init__.py:218-661) — wired to the
    # import-gated distributed connectors; without the bolt/arango drivers
    # they exit 1 with the gate's message. arangodb-download has no reader
    # and exits 1 with "not supported" even with the driver installed
    nd = sub.add_parser("neo4j-download", help="kgx neo4j-download (cli/__init__.py:218-322)")
    nd.add_argument("--uri", "-l", required=True)
    nd.add_argument("--username", "-u", required=True)
    nd.add_argument("--password", "-p", required=True)
    nd.add_argument("-o", "--output", required=True)
    nd.add_argument("--output-format", required=True)
    nd.add_argument("--node-filters", default=None)
    nd.add_argument("--edge-filters", default=None)

    nu = sub.add_parser("neo4j-upload", help="kgx neo4j-upload (cli/__init__.py:324-404)")
    nu.add_argument("--uri", "-l", required=True)
    nu.add_argument("--username", "-u", required=True)
    nu.add_argument("--password", "-p", required=True)
    nu.add_argument("-i", "--input", required=True)
    nu.add_argument("--input-format", required=True)

    ad = sub.add_parser("arangodb-download", help="kgx arangodb-download (cli/__init__.py:406-544)")
    ad.add_argument("--uri", "-l", required=True)
    ad.add_argument("--database", "-d", required=True)
    ad.add_argument("--username", "-u", required=True)
    ad.add_argument("--password", "-p", required=True)
    ad.add_argument("-o", "--output", required=True)
    ad.add_argument("--output-format", required=True)

    au = sub.add_parser("arangodb-upload", help="kgx arangodb-upload (cli/__init__.py:546-661)")
    au.add_argument("--uri", "-l", required=True)
    au.add_argument("--database", "-d", required=True)
    au.add_argument("--username", "-u", required=True)
    au.add_argument("--password", "-p", required=True)
    au.add_argument("-i", "--input", required=True)
    au.add_argument("--input-format", required=True)

    args = ap.parse_args(argv)
    spark = get_spark("kgx_spark_cli", master=args.master)

    def input_args():
        d = {"filename": args.input, "format": args.input_format}
        if args.node_filters:
            d["node_filters"] = {k: set(v) if isinstance(v, list) else v
                                 for k, v in json.loads(args.node_filters).items()}
        if args.edge_filters:
            d["edge_filters"] = {k: set(v) if isinstance(v, list) else v
                                 for k, v in json.loads(args.edge_filters).items()}
        return d

    if args.cmd == "transform":
        if args.transform_config:
            # cli_utils.py:607-608 — and reject ALL single-source flags, not
            # just -i: silently ignoring -o/--operations/filters would make
            # the user think they were applied
            conflicting = [
                flag for flag, val in (
                    ("-i/--input", args.input),
                    ("--input-format", args.input_format),
                    ("-o/--output", args.output),
                    ("--output-format", args.output_format),
                    ("--operations", args.operations),
                    ("--node-filters", args.node_filters),
                    ("--edge-filters", args.edge_filters),
                    ("-k/--knowledge-sources", args.knowledge_sources),
                ) if val
            ]
            if conflicting:
                ap.error(
                    "Can accept either --transform-config OR single-source "
                    f"flags, not both (got: {', '.join(conflicting)})"
                )
        if args.transform_config:
            from kgx_spark.transform import transform_config

            # cache_graph: the counts below reuse the sinks' evaluation
            # instead of re-running every source's read/filter/ops plan
            graphs = transform_config(
                spark, args.transform_config, source=args.source, cache_graph=True
            )
            print(json.dumps({
                k: {"nodes": n.count() if n is not None else 0,
                    "edges": e.count() if e is not None else 0}
                for k, (n, e) in graphs.items()
            }))
            return 0
        if not (args.input and args.input_format and args.output and args.output_format):
            ap.error("transform requires -i/--input-format/-o/--output-format "
                     "unless --transform-config is given")
        from kgx_spark.transform import transform

        ops = json.loads(args.operations) if args.operations else None
        ia = input_args()
        if args.knowledge_sources:
            # _process_knowledge_source (cli_utils.py:530-549): true/false →
            # bool, single token → default string, comma list → rewrite tuple
            # (>3 parts truncates to the first two); unknown fields warn and
            # are ignored
            from kgx_spark.functions.infores import PROVENANCE_SLOTS

            for ksf, spec in args.knowledge_sources:
                if ksf not in PROVENANCE_SLOTS:
                    print(f"Unknown Knowledge Source Field: {ksf}... ignoring!",
                          file=sys.stderr)
                    continue
                if spec.lower() in ("true", "false"):
                    ia[ksf] = spec.lower() == "true"
                else:
                    parts = spec.split(",")
                    ia[ksf] = parts[0] if len(parts) == 1 else tuple(
                        parts[:2] if len(parts) > 3 else parts
                    )
        nodes, edges = transform(
            spark, ia,
            {"filename": args.output, "format": args.output_format}, ops,
            cache_graph=True,
        )
        print(json.dumps({"nodes": nodes.count() if nodes is not None else 0,
                          "edges": edges.count() if edges is not None else 0}))
    elif args.cmd == "merge":
        from kgx_spark.transform import merge_config

        try:
            nodes, edges = merge_config(spark, args.config)
        except ValueError as e:
            # a config error (no merged_graph block, a source without input
            # filenames, an unknown format or operation): one line, no traceback
            print(f"kgx merge: {e}", file=sys.stderr)
            return 2
        print(json.dumps({"nodes": nodes.count(), "edges": edges.count()}))
    elif args.cmd == "graph-summary":
        from kgx_spark.transform import read_source

        nodes, edges = read_source(spark, input_args())
        node_facets = args.node_facet_properties.split(",") if args.node_facet_properties else None
        edge_facets = args.edge_facet_properties.split(",") if args.edge_facet_properties else None
        graph_name = args.graph_name or "Graph"  # cli_utils.py:114-115
        if args.report_type == "meta-knowledge-graph":
            from kgx_spark.operators.meta_kg import meta_knowledge_graph

            stats = meta_knowledge_graph(
                nodes, edges, name=graph_name,
                node_facet_properties=node_facets,
                edge_facet_properties=edge_facets,
            )
            # MetaKnowledgeGraph.save defaults to json (meta_knowledge_graph.py:944,962)
            as_yaml = args.report_format == "yaml"
        else:
            from kgx_spark.operators.summary import summarize_graph

            stats = summarize_graph(
                nodes,
                edges,
                name=graph_name,
                node_facet_properties=node_facets,
                edge_facet_properties=edge_facets,
            )
            # GraphSummary.save defaults to yaml (summarize_graph.py:816,831)
            as_yaml = args.report_format != "json"
        if as_yaml:
            import yaml

            out = yaml.dump(stats, default_flow_style=False)
        else:
            out = json.dumps(stats, indent=4, default=str)
        if args.output:
            with open(args.output, "w") as fh:
                fh.write(out)
        else:
            print(out)
    elif args.cmd in ("neo4j-download", "neo4j-upload", "arangodb-download", "arangodb-upload"):
        from kgx_spark.transform import read_source, write_sink

        try:
            if args.cmd == "neo4j-download":
                from kgx_spark.sources.neo_source import read_neo

                flt = {
                    k: json.loads(getattr(args, f"{k}_filters") or "null")
                    for k in ("node", "edge")
                }
                nodes, edges = read_neo(
                    spark, args.uri, args.username, args.password,
                    node_filters=flt["node"], edge_filters=flt["edge"],
                )
                write_sink(nodes, edges, {"filename": args.output, "format": args.output_format})
            elif args.cmd == "neo4j-upload":
                from kgx_spark.sinks.neo_sink import write_neo

                nodes, edges = read_source(
                    spark, {"filename": args.input, "format": args.input_format}
                )
                write_neo(nodes, edges, args.uri, args.username, args.password)
            elif args.cmd == "arangodb-download":
                from kgx_spark.sources.arango_source import read_arango

                nodes, edges = read_arango(
                    spark, args.uri, args.database, args.username, args.password
                )
                write_sink(nodes, edges, {"filename": args.output, "format": args.output_format})
            else:
                from kgx_spark.sinks.arango_sink import write_arango

                nodes, edges = read_source(
                    spark, {"filename": args.input, "format": args.input_format}
                )
                write_arango(
                    nodes, edges, args.uri, args.database, args.username, args.password
                )
        except (ImportError, NotImplementedError) as e:
            print(str(e), file=sys.stderr)
            return 1
    elif args.cmd == "validate":
        # exit-code contract (cli/__init__.py:201-214, pinned by
        # test_cli_utils.py:414-453): any exception → 2, validation
        # errors → 1, clean → 0
        try:
            from kgx_spark.operators.validator import (
                error_report,
                set_biolink_release,
                validate_edge_records,
                validate_node_records,
            )
            from kgx_spark.transform import read_source

            set_biolink_release(args.biolink_release)
            nodes, edges = read_source(spark, input_args())
            # a nodes-only (or edges-only) input yields None for the other
            # frame — the reference streams whatever records exist
            # the reference's analyse_node/analyse_edge always run the full
            # battery (types + CURIE-prefix-vs-context) — validator.py:560-585
            parts = []
            if nodes is not None:
                parts.append(
                    validate_node_records(nodes, check_types=True, check_prefixes=True)
                )
            if edges is not None:
                parts.append(
                    validate_edge_records(edges, check_types=True, check_prefixes=True)
                )
            errs = parts[0]
            for p in parts[1:]:
                errs = errs.unionByName(p)
            rows = error_report(errs).collect()
        except Exception as e:
            print(str(e), file=sys.stderr)
            return 2
        lines = [
            f"[{r['level']}] {r['error_type']}: {r['message']} ({r['count']} entities)"
            for r in rows
        ]
        if args.output:
            with open(args.output, "w") as fh:
                fh.write("\n".join(lines) + ("\n" if lines else ""))
        else:
            for line in lines:
                print(line)
        return 1 if any(r["level"] == "ERROR" for r in rows) else 0
    return 0


if __name__ == "__main__":
    sys.exit(main())
