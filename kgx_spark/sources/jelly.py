"""Jelly RDF source — distributed binary triple-stream reader.

Reference: kgx/parsers/jelly_parser.py:41-49 streams flat triples out of a
Jelly file via pyjelly and feeds them through the same per-triple dispatch
as the NT parser (kgx/source/rdf_source.py:163-166 routes format="jelly"
into the shared triple path). Here each `.jelly` file decodes with the
pure-Python codec (functions/jelly_codec.py) inside ``mapInPandas`` — one
decoder per file, since every file is a self-contained stream — and the
resulting 4-column triple frame goes through the SAME `shape_triples`
dereification/shaping as N-Triples.

Scale: a Jelly stream is not line-splittable (frames carry stateful lookup
tables), so parallelism is per FILE — which is exactly what the sink
produces (one stream per partition). `binaryFile` loads whole files as
binary rows; decode is a generator, so only one Arrow batch of triple rows
is in flight per file at a time. gzip members (`.jelly.gz`) decompress
inline, matching the reference's gz handling (jelly_parser.py:36-40).
"""

from __future__ import annotations

import gzip
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgx_spark.sources.rdf_nt import shape_triples

_TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("subject_iri", T.StringType()),
        T.StructField("predicate_iri", T.StringType()),
        T.StructField("object_iri", T.StringType()),
        T.StructField("object_literal", T.StringType()),
    ]
)


def _rows_of(content: bytes) -> Iterator[tuple]:
    """Decoded triples → the NT-parser's column convention: bnodes keep a
    '_:' prefix in the iri columns, literal objects land in object_literal
    with language/datatype dropped (the NT regex likewise drops the
    suffix), non-IRI predicates are skipped (the NT regex cannot match
    them either)."""
    from kgx_spark.functions.jelly_codec import decode

    if content[:2] == b"\x1f\x8b":
        content = gzip.decompress(content)
    for s, p, o in decode(content):
        if p[0] != "iri":
            continue
        subj = s[1] if s[0] == "iri" else "_:" + s[1] if s[0] == "bnode" else None
        if subj is None:
            continue
        if o[0] == "literal":
            yield subj, p[1], None, o[1]
        else:
            yield subj, p[1], o[1] if o[0] == "iri" else "_:" + o[1], None


def parse_jelly(spark: SparkSession, path: str) -> DataFrame:
    """path (file, directory, or glob) → triples(subject_iri,
    predicate_iri, object_iri, object_literal) — the same frame
    `parse_ntriples` produces, including its default bnode drop."""
    import os

    reader = spark.read.format("binaryFile")
    if os.path.isdir(path):
        # directory reads take only stream files ('.'/'_'-prefixed temp and
        # marker files are already ignored by the datasource)
        reader = reader.option("pathGlobFilter", "*.jelly*")
    files = reader.load(path).select("content")

    cols = ["subject_iri", "predicate_iri", "object_iri", "object_literal"]
    chunk = 1 << 16  # bound memory per yielded batch, not per file

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for content in pdf["content"]:
                buf: list[tuple] = []
                for row in _rows_of(bytes(content)):
                    buf.append(row)
                    if len(buf) >= chunk:
                        yield pd.DataFrame(buf, columns=cols)
                        buf = []
                if buf:
                    yield pd.DataFrame(buf, columns=cols)

    return files.mapInPandas(gen, schema=_TRIPLE_SCHEMA).where(
        ~F.col("subject_iri").startswith("_:")
        & (F.col("object_iri").isNull() | ~F.col("object_iri").startswith("_:"))
    )


def read_jelly(
    spark: SparkSession, path: str, prefix_map: dict[str, str] | None = None
) -> tuple[DataFrame, DataFrame]:
    """Jelly stream file(s) → (nodes, edges) through the shared NT shaping."""
    return shape_triples(parse_jelly(spark, path), prefix_map)
