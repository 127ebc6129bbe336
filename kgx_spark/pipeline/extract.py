"""Boilerplate-stripped text extraction from raw HTML bytes.

North-rule stage 1 (BASELINE.json): "trafilatura-style boilerplate-stripped
text extraction in vectorized Arrow UDFs (byte-identical per url)".

The container has no trafilatura, so the extractor is a self-contained
pure function of the html bytes:
1. drop <script>/<style>/<nav>/<header>/<footer>/<aside> subtrees,
2. strip remaining tags,
3. decode a minimal entity set,
4. collapse whitespace.

Determinism contract (tested in tests/test_pipeline.py against the
pure-Python oracle in tests/extract_oracle.py):
- pure function of bytes (no locale, no time, no dict-order dependence);
- vectorized: a pandas UDF over Arrow batches (BASELINE.json mandates
  "no per-row Python" — the regexes run per batch via pandas .str, the only
  Python is per-BATCH orchestration);
- byte-identical output per url across runs and parallelism levels.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

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


@pandas_udf(StringType())
def _extract_udf(html: pd.Series) -> pd.Series:
    # vectorized over the Arrow batch; one pass per rule, entities fused
    s = html.str.decode("utf-8", errors="replace")
    s = s.str.replace(_DROP_CDATA, " ", regex=True)
    s = s.str.replace(_DROP_SUBTREES, " ", regex=True)
    s = s.str.replace(_TAGS, " ", regex=True)
    s = s.str.replace(_ENTITY_RX, lambda m: _ENTITY_MAP[m.group(0)], regex=True)
    return s.str.replace(_WS, " ", regex=True).str.strip()


def extract_text(pages: DataFrame) -> DataFrame:
    """pages(html) → pages + extracted_text. One narrow stage, no shuffle."""
    return pages.withColumn("extracted_text", _extract_udf(F.col("html")))
