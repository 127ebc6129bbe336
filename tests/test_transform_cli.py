"""Transformer orchestration + CLI + trapi/sssom/obograph sources
(mirrors tests/integration/test_transform.py round-trip style)."""

import json

import pyspark.sql.functions as F
import pytest

from kgx_spark.sinks.trapi import write_kgx_json, write_trapi
from kgx_spark.sources.trapi import read_trapi
from kgx_spark.transform import merge_config, transform

NODES_TSV = """id\tname\tcategory
HGNC:1\tg1\tbiolink:Gene
HGNC:2\tg2\tbiolink:Gene
MONDO:1\td1\tbiolink:Disease
"""
EDGES_TSV = """subject\tpredicate\tobject
HGNC:1\tbiolink:related_to\tMONDO:1
HGNC:2\tbiolink:interacts_with\tHGNC:1
"""


@pytest.fixture()
def tsv_dir(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "g_nodes.tsv").write_text(NODES_TSV)
    (d / "g_edges.tsv").write_text(EDGES_TSV)
    return d


def test_transform_tsv_to_jsonl_with_filters(spark, tsv_dir, tmp_path):
    nodes, edges = transform(
        spark,
        {"filename": str(tsv_dir), "format": "tsv", "node_filters": {"category": {"biolink:Gene"}}},
        {"filename": str(tmp_path / "out" / "g"), "format": "jsonl"},
    )
    assert nodes.count() == 2  # MONDO filtered out
    assert edges.count() == 1  # dangling edge to MONDO dropped
    # provenance defaulted from filename (transformer.py:211)
    assert nodes.first()["provided_by"] == ["g_nodes"]


def test_transform_with_operations(spark, tsv_dir, tmp_path):
    nodes, edges = transform(
        spark,
        {"filename": str(tsv_dir), "format": "tsv"},
        {"filename": str(tmp_path / "o" / "g"), "format": "parquet"},
        operations=[{"name": "fold_predicate", "args": {"predicate": "biolink:interacts_with", "remove_prefix": True}}],
    )
    assert edges.where(F.col("predicate") == "biolink:interacts_with").count() == 0
    assert nodes.where(F.col("interacts_with").isNotNull()).count() == 1


def test_clique_merge_operation_forwards_reference_args(spark, tmp_path):
    """The clique_merge operation passes the reference's
    prefix_prioritization_map and strict arguments through: the category
    map elects NCBIGene:1 where the alphabetical order would elect CONF:1,
    and strict=false keeps CONF:1 (Gene + Disease, anchor Gene) in the
    clique instead of evicting it."""
    d = tmp_path / "in"
    d.mkdir()
    (d / "c_nodes.tsv").write_text(
        "id\tcategory\n"
        "HGNC:1\tbiolink:Gene\n"
        "NCBIGene:1\tbiolink:Gene\n"
        "CONF:1\tbiolink:Gene|biolink:Disease\n"
        "MONDO:1\tbiolink:Disease\n"
    )
    (d / "c_edges.tsv").write_text(
        "subject\tpredicate\tobject\n"
        "HGNC:1\tbiolink:same_as\tNCBIGene:1\n"
        "CONF:1\tbiolink:same_as\tHGNC:1\n"
        "HGNC:1\tbiolink:related_to\tMONDO:1\n"
    )
    nodes, edges = transform(
        spark,
        {"filename": str(d), "format": "tsv"},
        {"filename": str(tmp_path / "o" / "g"), "format": "parquet"},
        operations=[{"name": "clique_merge", "args": {
            "prefix_prioritization_map": {"biolink:Gene": ["NCBIGene", "HGNC"]},
            "strict": False,
        }}],
    )
    rows = {r["id"]: r for r in nodes.collect()}
    assert set(rows) == {"NCBIGene:1", "MONDO:1"}
    assert rows["NCBIGene:1"]["election_strategy"] == "PREFIX_PRIORITIZATION"
    assert set(rows["NCBIGene:1"]["same_as"]) == {"HGNC:1", "CONF:1"}
    assert [(r["subject"], r["object"]) for r in edges.collect()] == [("NCBIGene:1", "MONDO:1")]


def test_merge_two_sources(spark, tsv_dir, tmp_path):
    import yaml

    d2 = tmp_path / "in2"
    d2.mkdir()
    (d2 / "h_nodes.tsv").write_text("id\tname\tcategory\nHGNC:1\tg1x\tbiolink:NamedThing\nHGNC:9\tg9\tbiolink:Gene\n")
    (d2 / "h_edges.tsv").write_text("subject\tpredicate\tobject\nHGNC:1\tbiolink:related_to\tMONDO:1\n")
    cfg = {
        "merged_graph": {
            "source": {
                "g": {"input": {"format": "tsv", "filename": str(tsv_dir)}},
                "h": {"input": {"format": "tsv", "filename": str(d2)}},
            },
            "destination": {"out": {"format": "jsonl", "filename": str(tmp_path / "m" / "g")}},
        },
    }
    cfg_path = tmp_path / "merge.yaml"
    cfg_path.write_text(yaml.safe_dump(cfg))
    nodes, edges = merge_config(spark, str(cfg_path))
    assert nodes.count() == 4  # HGNC:1 merged
    assert edges.count() == 2  # (HGNC:1,related_to,MONDO:1) deduped
    h1 = nodes.where(F.col("id") == "HGNC:1").first()
    assert sorted(h1["provided_by"]) == ["g_nodes", "h_nodes"]
    # edge records default the generic knowledge_source slot from the
    # filename (infores.py:364-370 ksf_found==0 branch), NOT provided_by —
    # the two sources' scalars merge per prepare_data_dict conflict rules
    e = edges.where(F.col("object") == "MONDO:1").first()
    assert sorted(e["knowledge_source"].split("|")) == ["g_edges", "h_edges"]


def test_merge_config_source_without_filename(spark, tsv_dir, tmp_path):
    """A merge source whose input names no file is refused by its key."""
    import yaml

    cfg = {
        "merged_graph": {
            "source": {
                "a": {"input": {"format": "tsv", "filename": str(tsv_dir)}},
                "b": {"input": {"format": "tsv"}},
            },
            "destination": {"out": {"format": "jsonl", "filename": "g"}},
        },
    }
    cfg_path = tmp_path / "merge.yaml"
    cfg_path.write_text(yaml.safe_dump(cfg))
    with pytest.raises(ValueError, match="source 'b' has no input filenames"):
        merge_config(spark, str(cfg_path))


def test_trapi_roundtrip(spark, tmp_path):
    doc = {
        "knowledge_graph": {
            "nodes": {
                "HGNC:1": {"name": "g1", "categories": ["biolink:Gene"],
                           "attributes": [{"attribute_type_id": "biolink:synonym", "value": "gene-one"}]},
                "MONDO:1": {"name": "d1", "categories": ["biolink:Disease"], "attributes": []},
            },
            "edges": {
                "e1": {"subject": "HGNC:1", "predicate": "biolink:related_to", "object": "MONDO:1",
                        "attributes": [],
                        "sources": [{"resource_id": "infores:x", "resource_role": "primary_knowledge_source"}]},
            },
        }
    }
    p = tmp_path / "t.json"
    p.write_text(json.dumps(doc))
    nodes, edges = read_trapi(spark, str(p))
    assert nodes.count() == 2
    n = {r["id"]: r for r in nodes.collect()}
    assert n["HGNC:1"]["attributes"]["synonym"] == "gene-one"
    e = edges.first()
    assert e["primary_knowledge_source"] == "infores:x"
    # write back out and re-read
    out = tmp_path / "out.json"
    write_trapi(nodes.drop("attributes"), edges.drop("attributes"), str(out))
    nodes2, edges2 = read_trapi(spark, str(out))
    assert nodes2.count() == 2 and edges2.count() == 1


def test_json_sink(spark, tmp_path):
    from kgx_spark.sources.json_source import read_kgx_json

    nodes = spark.createDataFrame([("A:1", "n1")], "id string, name string")
    edges = spark.createDataFrame(
        [("A:1", "biolink:related_to", "A:2")], "subject string, predicate string, object string"
    )
    out = tmp_path / "g.json"
    write_kgx_json(nodes, edges, str(out))
    nodes2, edges2 = read_kgx_json(spark, str(out))
    assert nodes2.count() == 1 and edges2.count() == 1


def test_cli_merge_yaml(spark, tsv_dir, tmp_path, capsys):
    import yaml

    from kgx_spark.__main__ import main

    d2 = tmp_path / "b"
    d2.mkdir()
    (d2 / "h_nodes.tsv").write_text("id\tname\tcategory\nHGNC:1\tg1b\tbiolink:NamedThing\n")
    (d2 / "h_edges.tsv").write_text("subject\tpredicate\tobject\nMONDO:1\tbiolink:related_to\tHGNC:1\n")
    # input paths relative to the config file's directory
    cfg = {
        "merged_graph": {
            "source": {
                "a": {"input": {"format": "tsv", "filename": tsv_dir.name}},
                "b": {"input": {"format": "tsv", "filename": "b"}},
            },
            "destination": {"out": {"format": "jsonl", "filename": "g"}},
        },
    }
    cfg_path = tmp_path / "merge.yaml"
    cfg_path.write_text(yaml.safe_dump(cfg))
    rc = main(["merge", "--config", str(cfg_path)])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"nodes": 3, "edges": 3}


def test_cli_merge_yaml_without_merged_graph(spark, tsv_dir, tmp_path, capsys):
    """`kgx merge --config` takes only the merged_graph YAML: any other
    shape exits 2 with one line naming that block, and writes nothing."""
    import yaml

    from kgx_spark.__main__ import main

    cfg = {
        "configuration": {
            "sources": {"a": {"input": {"format": "tsv", "filename": str(tsv_dir)}}},
        },
        "destination": {"out": {"format": "jsonl", "filename": str(tmp_path / "m" / "g")}},
    }
    cfg_path = tmp_path / "merge.yaml"
    cfg_path.write_text(yaml.safe_dump(cfg))
    rc = main(["merge", "--config", str(cfg_path)])
    captured = capsys.readouterr()
    assert rc == 2
    assert captured.out == ""
    lines = captured.err.strip().splitlines()
    assert len(lines) == 1 and "merged_graph" in lines[0]
    assert not (tmp_path / "m").exists() and not (tmp_path / "output").exists()


def test_cli_transform_and_summary(spark, tsv_dir, tmp_path, capsys):
    from kgx_spark.__main__ import main

    rc = main([
        "transform", "-i", str(tsv_dir), "--input-format", "tsv",
        "-o", str(tmp_path / "c" / "g"), "--output-format", "jsonl",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"nodes": 3, "edges": 2}

    # kgx-map (the default report type) serializes as YAML by default,
    # matching the reference's GraphSummary.save(); --report-format json
    # still yields JSON.
    import yaml

    rc = main(["graph-summary", "-i", str(tsv_dir), "--input-format", "tsv"])
    assert rc == 0
    stats = yaml.safe_load(capsys.readouterr().out)
    assert stats["node_stats"]["total_nodes"] == 3

    rc = main([
        "graph-summary", "-i", str(tsv_dir), "--input-format", "tsv",
        "--report-format", "json",
    ])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out)
    assert stats["node_stats"]["total_nodes"] == 3


def test_transform_config_multi_source(spark, tmp_path):
    """`kgx transform --transform-config` orchestration (cli_utils.py:552-720;
    fixture shape per tests/resources/test-transform.yaml): per-source
    input/output blocks, explicit filename LISTS, relative paths resolved
    against the config dir, output_directory resolution, per-source filters
    and operations, --source restriction."""
    import os

    import yaml

    from kgx_spark.transform import transform_config

    d = tmp_path / "cfg"
    d.mkdir()
    (d / "graph_nodes.tsv").write_text(NODES_TSV)
    (d / "graph_edges.tsv").write_text(EDGES_TSV)
    cfg = {
        "configuration": {"output_directory": "../target", "checkpoint": False},
        "transform": {
            "source": {
                "test_graph": {
                    "name": "Test Graph",
                    "input": {
                        "format": "tsv",
                        "filename": ["graph_nodes.tsv", "graph_edges.tsv"],
                    },
                    "output": {"format": "jsonl", "filename": ["grapher"]},
                },
                "gene_graph": {
                    "name": "Gene Graph",
                    "input": {
                        "format": "tsv",
                        "filename": ["graph_nodes.tsv", "graph_edges.tsv"],
                        "filters": {"node_filters": {"category": {"biolink:Gene"}}},
                    },
                    "output": {"format": "parquet", "filename": ["genes"]},
                    "operations": [
                        {"name": "fold_predicate",
                         "args": {"predicate": "biolink:interacts_with", "remove_prefix": True}},
                    ],
                },
            }
        },
    }
    cfg_path = d / "transform.yaml"
    cfg_path.write_text(yaml.safe_dump(cfg))

    graphs = transform_config(spark, str(cfg_path))
    assert set(graphs) == {"test_graph", "gene_graph"}
    n1, e1 = graphs["test_graph"]
    assert n1.count() == 3 and e1.count() == 2
    n2, e2 = graphs["gene_graph"]
    # category filter drops MONDO:1 → its dangling edge goes too; the
    # fold_predicate operation removes the interacts_with edge into a node
    # property, leaving zero edges
    assert n2.count() == 2
    assert e2.where(F.col("predicate") == "biolink:interacts_with").count() == 0
    assert n2.where(F.col("interacts_with").isNotNull()).count() == 1
    # outputs landed under the RESOLVED output_directory (../target vs cfg dir)
    target = tmp_path / "target"
    assert (target / "genes_nodes.parquet").exists() or any(
        p.name.startswith("genes") for p in target.iterdir()
    )
    # --source restriction runs only the named key
    only = transform_config(spark, str(cfg_path), source=["test_graph"])
    assert set(only) == {"test_graph"}
    # configuration.checkpoint → per-source TSV snapshot at
    # {output_directory}/{key} (cli_utils.py:953-956)
    cfg["configuration"]["checkpoint"] = True
    cfg_path.write_text(yaml.safe_dump(cfg))
    transform_config(spark, str(cfg_path), source=["test_graph"])
    assert any(p.name.startswith("test_graph") and "nodes" in p.name
               for p in target.iterdir())
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown source keys"):
        transform_config(spark, str(cfg_path), source=["nope"])


def test_transform_config_checkpoint_caches_once(spark, tmp_path, monkeypatch):
    """checkpoint: true runs two sink writes over the same frames; the
    frames must be CACHED across them (one plan evaluation, not two full
    re-runs of read/filter/operations), then released when the caller
    didn't ask for cached graphs."""
    import yaml

    import kgx_spark.transform as T

    d = tmp_path / "ckpt"
    d.mkdir()
    (d / "graph_nodes.tsv").write_text(NODES_TSV)
    (d / "graph_edges.tsv").write_text(EDGES_TSV)
    cfg = {
        "configuration": {"output_directory": "out", "checkpoint": True},
        "transform": {
            "source": {
                "src": {
                    "input": {"format": "tsv",
                              "filename": ["graph_nodes.tsv", "graph_edges.tsv"]},
                    "output": {"format": "jsonl", "filename": ["snap"]},
                }
            }
        },
    }
    cfg_path = d / "t.yaml"
    cfg_path.write_text(yaml.safe_dump(cfg))

    seen_cache_args = []
    orig = T.transform

    def spy(spark_, input_args, output_args, operations=None, cache_graph=False):
        seen_cache_args.append(cache_graph)
        out = orig(spark_, input_args, output_args, operations, cache_graph)
        # both frames are cached here, so the checkpoint write that follows
        # reuses the main write's evaluation instead of re-running the plan
        assert out[0].storageLevel.useMemory and out[1].storageLevel.useMemory
        return out

    monkeypatch.setattr(T, "transform", spy)
    res = T.transform_config(spark, str(cfg_path))  # cache_graph defaults False
    assert seen_cache_args == [True]
    # the forced cache is released after the snapshot
    n, e = res["src"]
    assert not n.storageLevel.useMemory and not e.storageLevel.useMemory
    assert any(p.name.startswith("src") for p in (d / "out").iterdir())


def test_cli_transform_config(spark, tmp_path, capsys):
    import yaml

    from kgx_spark.__main__ import main

    d = tmp_path / "c2"
    d.mkdir()
    (d / "g_nodes.tsv").write_text(NODES_TSV)
    (d / "g_edges.tsv").write_text(EDGES_TSV)
    cfg = {
        "transform": {
            "source": {
                "only": {
                    "input": {"format": "tsv", "filename": ["g_nodes.tsv", "g_edges.tsv"]},
                    "output": {"format": "jsonl", "filename": ["out_g"]},
                }
            }
        }
    }
    cfg_path = d / "t.yaml"
    cfg_path.write_text(yaml.safe_dump(cfg))
    rc = main(["transform", "--transform-config", str(cfg_path)])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"only": {"nodes": 3, "edges": 2}}
    # --transform-config conflicts with EVERY single-source flag — silently
    # ignoring -o/--operations would fake their application
    import pytest as _pytest

    for extra in (["-i", "x"], ["-o", "x"], ["--operations", "[]"],
                  ["--node-filters", "{}"]):
        with _pytest.raises(SystemExit):
            main(["transform", "--transform-config", str(cfg_path), *extra])


def test_read_kgx_tsv_list_expands_tars_and_dirs(spark, tsv_dir, tmp_path):
    """A filename LIST must run each element through the same tar/dir/glob
    expansion as a scalar path (a tar in a YAML file list was previously
    read as raw bytes), and an empty list errors instead of silently
    producing an empty graph."""
    import pytest as _pytest

    from kgx_spark.sinks.tsv import write_kgx_tsv
    from kgx_spark.sources.tsv import read_kgx_tsv

    nodes, edges = read_kgx_tsv(spark, str(tsv_dir))
    tar_base = str(tmp_path / "packed")
    write_kgx_tsv(nodes, edges, tar_base, compression="tar")
    n2, e2 = read_kgx_tsv(spark, [f"{tar_base}.tar"])
    assert n2.count() == 3 and e2.count() == 2
    # dir element inside a list expands to its member files
    n3, _ = read_kgx_tsv(spark, [str(tsv_dir)])
    assert n3.count() == 3
    with _pytest.raises(ValueError, match="empty input file list"):
        read_kgx_tsv(spark, [])


def test_cli_connector_verbs_parse_and_gate(spark, tsv_dir, capsys):
    """neo4j-download/upload + arangodb-download/upload verbs
    (kgx/cli/__init__.py:218-661): argparse routing works, and in this
    sandbox (no bolt/arango drivers) each verb exits 1 with the import
    gate's message instead of tracebacking."""
    import pytest as _pytest

    from kgx_spark.__main__ import main

    neo = ["--uri", "bolt://h:7687", "-u", "user", "-p", "pw"]
    arango = ["--uri", "http://h:8529", "-d", "db", "-u", "user", "-p", "pw"]
    cases = [
        ["neo4j-download", *neo, "-o", "/tmp/x", "--output-format", "tsv"],
        ["neo4j-upload", *neo, "-i", str(tsv_dir), "--input-format", "tsv"],
        ["arangodb-download", *arango, "-o", "/tmp/x", "--output-format", "tsv"],
        ["arangodb-upload", *arango, "-i", str(tsv_dir), "--input-format", "tsv"],
    ]
    for argv in cases:
        rc = main(argv)
        err = capsys.readouterr().err
        assert rc == 1, argv[0]
        assert "driver" in err or "python-arango" in err, argv[0]
    # missing required options → argparse usage error, not a crash
    with _pytest.raises(SystemExit):
        main(["neo4j-download", "--uri", "bolt://h"])


def test_cli_arangodb_download_with_driver_is_unsupported(spark, tmp_path, capsys, monkeypatch):
    """With `python-arango` importable, arangodb-download still exits 1 with
    a "not supported" message: there is no ArangoDB reader."""
    import sys
    import types

    from kgx_spark.__main__ import main

    monkeypatch.setitem(sys.modules, "arango", types.ModuleType("arango"))
    rc = main([
        "arangodb-download", "--uri", "http://h:8529", "-d", "db", "-u", "user",
        "-p", "pw", "-o", str(tmp_path / "out"), "--output-format", "tsv",
    ])
    assert rc == 1
    assert "arangodb-download is not supported" in capsys.readouterr().err
    assert not (tmp_path / "out").exists()


def test_cli_meta_knowledge_graph_report(spark, tsv_dir, capsys):
    import json as _json

    from kgx_spark.__main__ import main

    rc = main(["graph-summary", "--input-format", "tsv", "-i", str(tsv_dir),
               "--report-type", "meta-knowledge-graph"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out)
    assert "nodes" in out and "edges" in out
    assert all("id_prefixes" in v and "count" in v for v in out["nodes"].values())


def test_transform_tsv_tar_output_compression(spark, tsv_dir, tmp_path):
    """transform output_args compression reaches the TSV sink (the
    reference's Transformer hands output compression through to TsvSink's
    tar packaging — transformer.py:432-460, tsv_sink.py:110-160)."""
    import tarfile

    from kgx_spark.transform import transform

    base = str(tmp_path / "archived")
    transform(
        spark,
        {"filename": str(tsv_dir), "format": "tsv"},
        {"filename": base, "format": "tsv", "compression": "tar.gz"},
    )
    with tarfile.open(base + ".tar.gz") as tf:
        names = sorted(tf.getnames())
    assert names == ["archived_edges.tsv", "archived_nodes.tsv"]
