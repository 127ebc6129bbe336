"""OpenIE-style pattern-based triple extraction + mention detection.

North-rule stage 2: "OpenIE-style pattern-based triple extraction plus
batched mention detection".

Design: the extraction patterns are ENTITY RELATION ENTITY templates over
CURIE-shaped tokens, compiled into ONE regexp executed JVM-side via
regexp_extract_all — the hot path never leaves Tungsten. Each pattern's
relation phrase maps to a biolink predicate. Mention detection (for entity
linking) is n-gram tokenization + broadcast dictionary join — see link.py.

This module is new work (the reference consumes structured KG files, not web
text); its output rows are KGX edge records (subject, predicate, object,
provenance), so everything downstream (validate/merge/canonicalize) is the
reference's own semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# dots/dashes allowed only interior so sentence punctuation never attaches
CURIE_TOKEN = r"[A-Za-z][A-Za-z0-9]*:[A-Za-z0-9_]+(?:[.\-][A-Za-z0-9_]+)*"

# relation phrase → biolink predicate (the OpenIE pattern inventory)
RELATION_PATTERNS: dict[str, str] = {
    "is related to": "biolink:related_to",
    "interacts with": "biolink:interacts_with",
    "same as": "biolink:same_as",
    "is a": "biolink:subclass_of",
    "part of": "biolink:part_of",
    "causes": "biolink:causes",
    "treats": "biolink:treats",
}


def _pattern_regex() -> str:
    phrases = "|".join(sorted(RELATION_PATTERNS, key=len, reverse=True))
    # the OBJECT is matched inside a LOOKAHEAD (zero-width, but its group
    # still captures) so a CURIE can be the object of one triple AND the
    # subject of the next: "A interacts with B interacts with C" yields BOTH
    # (A,B) and (B,C) — a plain consuming group would swallow B and miss the
    # second triple (overlapping-mentions adversarial case, round-2 #7)
    return f"({CURIE_TOKEN}) ({phrases}) (?=({CURIE_TOKEN}))"


def extract_triples(pages: DataFrame, carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """pages(url, extracted_text) → raw triples(subject, predicate, object,
    provided_by[url]).

    Three regexp_extract_all group pulls per page (JVM, same compiled regex)
    zipped positionally, one explode, one predicate-map lookup. No shuffle
    until the downstream merge. ``carry_cols`` passes page columns through
    to the triple rows (the streaming path carries ``warc_ts`` as the event
    time for watermark dedup); the default keeps the batch plan unchanged.
    """
    rx, text = _pattern_regex(), F.col("extracted_text")
    pred_map = F.create_map(*[F.lit(x) for kv in sorted(RELATION_PATTERNS.items()) for x in kv])
    matches = pages.select(
        "url",
        *[F.col(c) for c in carry_cols],
        F.explode(
            F.arrays_zip(
                F.regexp_extract_all(text, F.lit(rx), F.lit(1)).alias("s"),
                F.regexp_extract_all(text, F.lit(rx), F.lit(2)).alias("p"),
                F.regexp_extract_all(text, F.lit(rx), F.lit(3)).alias("o"),
            )
        ).alias("m"),
    )
    return matches.select(
        F.col("m.s").alias("subject"),
        F.element_at(pred_map, F.col("m.p")).alias("predicate"),
        F.col("m.o").alias("object"),
        F.array(F.col("url")).alias("provided_by"),
        *[F.col(c) for c in carry_cols],
    )
