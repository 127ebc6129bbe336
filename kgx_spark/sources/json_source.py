"""KGX monolithic-JSON source: one document {"nodes":[...], "edges":[...]}.

Reference: kgx/source/json_source.py:23-100 (ijson streaming over
`nodes.item` / `edges.item`).

Spark design: `spark.read.option("multiLine", true).json` + explode. A
monolithic JSON doc is inherently single-split (same limitation the
reference's docs call out — docs/kgx_format.md:432); JSON Lines is the
splittable format (sources/jsonl.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgx_spark.operators.sanitize import sanitize_import
from kgx_spark.operators.validate import validate_edges, validate_nodes


def read_kgx_json(spark: SparkSession, path: str) -> tuple[DataFrame | None, DataFrame | None]:
    doc = spark.read.option("multiLine", "true").json(path)
    nodes = edges = None
    if "nodes" in doc.columns:
        nodes = doc.select(F.explode("nodes").alias("n")).select("n.*")
        nodes, _ = validate_nodes(sanitize_import(nodes))
    if "edges" in doc.columns:
        edges = doc.select(F.explode("edges").alias("e")).select("e.*")
        edges, _ = validate_edges(sanitize_import(edges))
    return nodes, edges
