"""The pinned pure extraction function: the reference point the engine's
extraction (kgx_spark/pipeline/extract.py, Spark expressions) is compared
against, row by row in Python's ``re``, one rule at a time."""

import re

# script/style are CDATA-ish: a browser treats an UNCLOSED <script> as
# running to end-of-document, so the extractor must too — otherwise
# malformed html leaks executable-code text into the corpus (adversarial
# P/R case, round-2 next-round #7). Structural tags (nav/header/...) are
# auto-closed by browsers, so they still require an explicit close.
_DROP_CDATA = re.compile(r"(?is)<(script|style)\b[^>]*>.*?(</\1\s*>|\Z)")
_DROP_SUBTREES = re.compile(
    r"(?is)<(nav|header|head|footer|aside|title)\b[^>]*>.*?</\1\s*>"
)
_TAGS = re.compile(r"(?s)<[^>]+>")
_WS = re.compile(r"\s+")
_ENTITY_MAP = {"&amp;": "&", "&lt;": "<", "&gt;": ">", "&quot;": '"',
               "&#39;": "'", "&nbsp;": " ", "&copy;": "©"}
_ENTITY_RX = re.compile("|".join(re.escape(k) for k in _ENTITY_MAP))


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
