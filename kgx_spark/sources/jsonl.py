"""KGX JSON-Lines source (kgx/source/jsonl_source.py:24-73).

One JSON object per line; node-vs-edge by `*_nodes.jsonl` / `*_edges.jsonl`
filename; gzip transparent (Spark handles .gz natively). Native distributed
`spark.read.json` — JSONL is the splittable fast path the reference's docs
recommend for large KGs (docs/kgx_format.md:432).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession

from kgx_spark.operators.sanitize import sanitize_import
from kgx_spark.operators.validate import validate_edges, validate_nodes


def read_kgx_jsonl(spark: SparkSession, path: str) -> tuple[DataFrame | None, DataFrame | None]:
    candidates = (
        sorted(glob.glob(os.path.join(path, "*.jsonl*")))
        if os.path.isdir(path)
        else sorted(glob.glob(path)) or [path]
    )
    node_files = [f for f in candidates if "nodes.jsonl" in os.path.basename(f)]
    edge_files = [f for f in candidates if "edges.jsonl" in os.path.basename(f)]

    nodes = edges = None
    if node_files:
        nodes, _ = validate_nodes(sanitize_import(spark.read.json(node_files)))
    if edge_files:
        edges, _ = validate_edges(sanitize_import(spark.read.json(edge_files)))
    return nodes, edges
