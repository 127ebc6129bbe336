"""DuckDB file source.

Reference: kgx/source/duckdb_source.py:52-238 — paged `SELECT * FROM nodes /
edges LIMIT ? OFFSET ?` with filter pushdown into WHERE.

Spark design: DuckDB is an embedded single-file database, so the scan is
driver-side by nature; we read via Arrow record batches (zero-copy into
Spark) instead of the reference's row dicts, and push filters into the SQL
exactly as the reference does (160-238). On a real cluster the equivalent of
the reference's paging is a partitioned JDBC read (SURVEY.md §2.1) — for an
embedded file the driver-side Arrow path is the honest option.
"""

from __future__ import annotations

from typing import Any, Mapping

from pyspark.sql import DataFrame, SparkSession

from kgx_spark.operators.sanitize import sanitize_import
from kgx_spark.operators.validate import validate_edges, validate_nodes


def _where(filters: Mapping[str, Any] | None) -> str:
    """Filter → WHERE pushdown (duckdb_source.py:160-238)."""
    if not filters:
        return ""
    clauses = []
    for k, v in filters.items():
        if isinstance(v, (set, frozenset, list, tuple)):
            vals = ", ".join("'" + str(x).replace("'", "''") + "'" for x in sorted(map(str, v)))
            clauses.append(f"{k} IN ({vals})")
        else:
            clauses.append(f"{k} = '" + str(v).replace("'", "''") + "'")
    return " WHERE " + " AND ".join(clauses)


def _read_table(
    spark: SparkSession, db_path: str, table: str, filters: Mapping[str, Any] | None
) -> DataFrame | None:
    import duckdb

    con = duckdb.connect(db_path, read_only=True)
    try:
        exists = con.execute(
            "SELECT count(*) FROM information_schema.tables WHERE table_name = ?", [table]
        ).fetchone()[0]
        if not exists:
            return None
        tbl = con.execute(f"SELECT * FROM {table}{_where(filters)}").fetch_arrow_table()
        return spark.createDataFrame(tbl.to_pandas())
    finally:
        con.close()


def read_duckdb(
    spark: SparkSession,
    db_path: str,
    node_filters: Mapping[str, Any] | None = None,
    edge_filters: Mapping[str, Any] | None = None,
) -> tuple[DataFrame | None, DataFrame | None]:
    nodes = _read_table(spark, db_path, "nodes", node_filters)
    edges = _read_table(spark, db_path, "edges", edge_filters)
    if nodes is not None:
        nodes, _ = validate_nodes(sanitize_import(nodes))
    if edges is not None:
        edges, _ = validate_edges(sanitize_import(edges))
    return nodes, edges
