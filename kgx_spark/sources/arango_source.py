"""ArangoDB source — not supported.

Reference: kgx/source/arango_source.py:77-300 pages `FOR doc IN collection
FILTER … LIMIT @offset, @limit RETURN …` over the vertex and edge
collections. This engine has no ArangoDB reader: ``read_arango`` raises an
ImportError when `python-arango` is absent and ``NotImplementedError``
when it is present, and ``kgx arangodb-download`` prints either message and
exits 1. The ArangoDB sink (``sinks/arango_sink.py``) is implemented.
"""

from __future__ import annotations


def read_arango(*args, **kwargs):
    try:
        import arango  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "read_arango requires `python-arango`, which is not installed; "
            "arangodb-download is not supported either way."
        ) from e
    raise NotImplementedError(
        "arangodb-download is not supported: kgx_spark has no ArangoDB reader. "
        "Export the graph to KGX TSV or JSONL and run `kgx transform` on it."
    )
