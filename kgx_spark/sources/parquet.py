"""KGX Parquet source — the scale-path input format.

The reference only has a Parquet *sink* (kgx/sink/parquet_sink.py); reading
back its `{base}_nodes.parquet` / `{base}_edges.parquet` output is the
symmetric source. Native columnar scan: predicate pushdown + column pruning
come free from Catalyst.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession

from kgx_spark.operators.validate import validate_edges, validate_nodes


def read_kgx_parquet(spark: SparkSession, path: str) -> tuple[DataFrame | None, DataFrame | None]:
    """Parquet written by our ParquetSink is already sanitized, so it is
    read as it is and only validated."""
    candidates = (
        sorted(glob.glob(os.path.join(path, "*nodes.parquet")) + glob.glob(os.path.join(path, "*edges.parquet")))
        if os.path.isdir(path)
        else sorted(glob.glob(path)) or [path]
    )
    node_files = [f for f in candidates if "nodes.parquet" in os.path.basename(f)]
    edge_files = [f for f in candidates if "edges.parquet" in os.path.basename(f)]
    nodes = edges = None
    if node_files:
        nodes, _ = validate_nodes(spark.read.parquet(*node_files))
    if edge_files:
        edges, _ = validate_edges(spark.read.parquet(*edge_files))
    return nodes, edges
