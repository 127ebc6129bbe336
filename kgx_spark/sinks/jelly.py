"""Jelly RDF sink — distributed binary triple-stream writer.

Reference: kgx/sink/rdf_sink.py:89-108 writes a delimited
PHYSICAL_STREAM_TYPE_TRIPLES / LOGICAL_STREAM_TYPE_FLAT_TRIPLES Jelly
stream via pyjelly, serializing the SAME reified graph the NT path emits.
Here the graph → triple conversion is the shared `graph_term_rows` plan
(sinks/rdf_nt.py) and the wire encoding is the pure-Python codec
(functions/jelly_codec.py): each partition encodes its rows into its own
self-contained `part-NNNNN.jelly` stream file (options row + private
lookup tables) via ``foreachPartition`` — the same distributed-writer
shape as the NT sink's text part files, and the established executor-side
write pattern of the Neo/Arango sinks. Readers accept the directory.

``path`` must be visible to the executors (local FS in the sandbox; a
shared filesystem on a cluster — same contract as every file sink here).
"""

from __future__ import annotations

import gzip
import os

from pyspark.sql import DataFrame

from kgx_spark.sinks.rdf_nt import graph_term_rows


def _term(value: str, is_literal: bool):
    if is_literal:
        return ("literal", value if value is not None else "", None, None)
    if value.startswith("_:"):
        return ("bnode", value[2:])
    return ("iri", value)


def write_jelly(
    nodes: DataFrame | None,
    edges: DataFrame | None,
    path: str,
    reify_all_edges: bool = False,
    compression: str | None = None,
) -> None:
    """Write `{path}/part-NNNNN.jelly` delimited-frame stream files;
    ``compression='gz'`` gzips each part file (`.jelly.gz`), matching the
    reference's gz handling (jelly_parser.py:36-40 reads both)."""
    if compression not in (None, "gz"):
        raise ValueError(f"unsupported jelly compression: {compression}")
    suffix = ".jelly.gz" if compression == "gz" else ".jelly"
    os.makedirs(path, exist_ok=True)
    # overwrite semantics like df.write.mode("overwrite"): stale part files
    # from an earlier, wider write must not survive into the new directory
    import glob as _glob

    for stale in _glob.glob(os.path.join(path, "part-*.jelly*")) + _glob.glob(
        os.path.join(path, ".part-*.tmp")  # orphans of killed task attempts
    ):
        os.remove(stale)

    def write_partition(rows) -> None:
        from pyspark import TaskContext

        from kgx_spark.functions.jelly_codec import encode_delimited

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        it = iter(rows)
        try:
            first = next(it)
        except StopIteration:
            return  # no file for an empty partition
        import itertools

        triples = (
            (_term(r.s, False), ("iri", r.p), _term(r.o, r.o_literal))
            for r in itertools.chain([first], it)
        )
        # attempt id in the tmp name: concurrent speculative attempts must
        # not interleave writes into one tmp file (os.replace keeps the
        # final name atomic either way)
        tmp = os.path.join(path, f".part-{pid:05d}-{ctx.taskAttemptId()}{suffix}.tmp")
        opener = gzip.open if compression == "gz" else open
        with opener(tmp, "wb") as fh:
            for chunk in encode_delimited(triples):
                fh.write(chunk)
        os.replace(tmp, os.path.join(path, f"part-{pid:05d}{suffix}"))

    graph_term_rows(nodes, edges, reify_all_edges).foreachPartition(write_partition)
