"""KGX TSV/CSV source.

Reference: kgx/source/tsv_source.py:55-185 — chunked pandas read, infers
node vs edge file from the `*nodes.{fmt}` / `*edges.{fmt}` filename pattern,
splits '|'-delimited multivalued cells, validates + sanitizes per row.

Spark design: a single distributed csv scan (header, sep, no quoting for TSV
to match the reference's csv.QUOTE_NONE — tsv_source.py:115-120), then
sanitize/validate as column expressions. Filename inference is kept for the
directory-reading convenience API. Tar archives (tsv:tar.gz) are handled by
pre-extraction at the driver (the reference streams tar members —
tsv_source.py:83-113 — which has no distributed analogue; extraction restores
plain-file parallel scans).
"""

from __future__ import annotations

import glob
import os
import tarfile
import tempfile

from pyspark.sql import DataFrame, SparkSession

from kgx_spark.functions.keys import generate_edge_identifiers
from kgx_spark.operators.sanitize import sanitize_import
from kgx_spark.operators.validate import validate_edges, validate_nodes


def _read_table(spark: SparkSession, path: str, fmt: str = "tsv") -> DataFrame:
    sep = "\t" if fmt == "tsv" else ","
    reader = (
        spark.read.option("header", "true")
        .option("sep", sep)
        .option("inferSchema", "false")  # KGX types by column-name convention
        .option("nullValue", "")
    )
    if fmt == "tsv":
        # csv.QUOTE_NONE equivalent (tsv_source.py:115-120)
        reader = reader.option("quote", "\u0000")
    return reader.csv(path)


def read_nodes_tsv(spark: SparkSession, path: str, fmt: str = "tsv") -> DataFrame:
    # sniffing mirrors the reference's dynamic delimiter handling for
    # undeclared long-tail columns (kgx_utils.py:884-899) — one extra
    # column-pruned aggregate pass at ingest
    df, _ = validate_nodes(sanitize_import(_read_table(spark, path, fmt), sniff=True))
    # raw records, as the reference's TsvSource generator yields them —
    # graph-insertion dedup (534 records → 512 nodes) happens one layer up,
    # in transform.read_source, exactly where the reference's Transformer
    # inserts into its graph
    return df


def read_edges_tsv(spark: SparkSession, path: str, fmt: str = "tsv") -> DataFrame:
    df = sanitize_import(_read_table(spark, path, fmt), sniff=True)
    # the reference fills a missing edge id with generate_uuid()
    # (tsv_source.py:268-269); we fill deterministically (keys.py rationale)
    df, _ = validate_edges(generate_edge_identifiers(df))
    # raw records (see read_nodes_tsv) — the (s, predicate, o) edge-key
    # dedup happens in transform.read_source
    return df


def _extract_tar(path: str) -> str:
    """Driver-side tar extraction (tsv_source.py:83-113 analogue)."""
    tmp = tempfile.mkdtemp(prefix="kgx_tar_")
    with tarfile.open(path) as tf:
        tf.extractall(tmp, filter="data")
    return tmp


def read_kgx_tsv(
    spark: SparkSession, path: str, fmt: str = "tsv"
) -> tuple[DataFrame | None, DataFrame | None]:
    """Read a KGX fileset: `{base}_nodes.{fmt}` + `{base}_edges.{fmt}`.

    ``path`` may be a directory, a glob, a single file, a tar archive, or a
    LIST of files (the reference's YAML configs pass explicit file lists —
    cli_utils.py:585-596). Node-vs-edge inference by filename mirrors
    tsv_source.py:134-163.
    """
    def expand_one(p: str) -> list[str]:
        if p.endswith((".tar", ".tar.gz", ".tgz", ".tar.bz2")):
            p = _extract_tar(p)
        if os.path.isdir(p):
            return sorted(glob.glob(os.path.join(p, f"*.{fmt}")))
        return sorted(glob.glob(p)) or [p]

    if isinstance(path, (list, tuple)):
        if not path:
            raise ValueError("read_kgx_tsv: empty input file list")
        # each element gets the SAME tar/dir/glob expansion as a scalar path
        candidates = sorted(f for p in path for f in expand_one(str(p)))
    else:
        candidates = expand_one(path)
    node_files = [f for f in candidates if f"nodes.{fmt}" in os.path.basename(f)]
    edge_files = [f for f in candidates if f"edges.{fmt}" in os.path.basename(f)]
    nodes = read_nodes_tsv(spark, node_files, fmt) if node_files else None
    edges = read_edges_tsv(spark, edge_files, fmt) if edge_files else None
    return nodes, edges
