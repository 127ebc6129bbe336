"""KGX Parquet sink — the scale-path output.

Reference: kgx/sink/parquet_sink.py:45-115 buffers ALL records in pandas then
writes once via pyarrow (single-process, memory-bound). Here it's a native
distributed write; at cluster scale the same call targets an Iceberg table
(`df.writeTo(table).append()`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_kgx_parquet(
    nodes: DataFrame | None,
    edges: DataFrame | None,
    base_path: str,
    partition_by: list[str] | None = None,
) -> None:
    for df, kind in ((nodes, "nodes"), (edges, "edges")):
        if df is None:
            continue
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*[c for c in partition_by if c in df.columns])
        w.parquet(f"{base_path}_{kind}.parquet")
