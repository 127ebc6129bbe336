"""The pinned pure extraction function: the reference point the extract
UDF (kgx_spark/pipeline/extract.py) is compared against, row by row in
Python with the UDF's own regexes, one rule at a time."""

from kgx_spark.pipeline.extract import (
    _DROP_CDATA,
    _DROP_SUBTREES,
    _ENTITY_MAP,
    _ENTITY_RX,
    _TAGS,
    _WS,
)


def _decode_entities(s: str) -> str:
    return _ENTITY_RX.sub(lambda m: _ENTITY_MAP[m.group(0)], s)


def extract_text_bytes(html: bytes | None) -> str | None:
    if html is None:
        return None
    s = html.decode("utf-8", errors="replace")
    s = _DROP_CDATA.sub(" ", s)
    s = _DROP_SUBTREES.sub(" ", s)
    s = _TAGS.sub(" ", s)
    s = _decode_entities(s)
    return _WS.sub(" ", s).strip()
