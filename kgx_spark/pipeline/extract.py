"""Boilerplate-stripped text extraction from raw HTML bytes.

North-rule stage 1 (BASELINE.json): "trafilatura-style boilerplate-stripped
text extraction ... (byte-identical per url)", with no per-row Python.

The container has no trafilatura, so the extractor is a self-contained
pure function of the html bytes:
1. drop <script>/<style> elements (an unclosed one runs to the end of the
   document, as in a browser; otherwise malformed html leaks code into the
   corpus), then <nav>/<header>/<head>/<footer>/<aside>/<title> elements,
   which need an explicit close,
2. strip remaining tags,
3. decode a minimal entity set,
4. collapse whitespace.

It is one chain of Spark's built-in expressions, so no Python worker runs
on the crawl build or the stream. The reference is the Python ``re``
extractor in ``tests/extract_oracle.py``; the output must equal it byte for
byte. The Java regexes spell out where Java's dialect differs from Python's:

- bytes → text: ``make_valid_utf8`` puts one U+FFFD per maximal ill-formed
  subsequence, as ``bytes.decode("utf-8", errors="replace")`` does; a bare
  cast leaves the bytes to Java's decoder, which differs;
- Python's ``\\Z`` is Java's ``\\z``;
- Python's ``\\s`` is Unicode whitespace, Java's is ASCII: ``_WS``;
- ``\\b`` after a tag name is ``(?!_WORD)``, Python's ``\\w``;
- Python's ``(?i)`` with the backreference ``</\\1``: see ``_CASE_CLASSES``;
- the one-pass entity alternation is seven literal replaces with ``&amp;``
  last, so its ``&`` never starts another entity (``&amp;lt;`` → ``&lt;``);
  the other outputs hold no character an entity is made of.
"""

from __future__ import annotations

from itertools import product

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgx_spark.functions.infores import _WS

# Python's \w: "_" and the letters and numbers of CPython's Unicode tables.
# Java's \p{L}\p{N} read the JVM's tables: Java 17 has Unicode 13, CPython
# 3.11 has Unicode 14, whose new letters and digits are listed after them.
_WORD = (
    r"[\p{L}\p{N}_\x{870}-\x{887}\x{889}-\x{88E}\x{8B5}\x{8C8}-\x{8C9}"
    r"\x{C5D}\x{CDD}\x{170D}\x{171F}\x{1B4C}\x{2C2F}\x{2C5F}\x{9FFD}-\x{9FFF}"
    r"\x{A7C0}-\x{A7C1}\x{A7D0}-\x{A7D1}\x{A7D3}\x{A7D5}-\x{A7D9}"
    r"\x{A7F2}-\x{A7F4}\x{10570}-\x{1057A}\x{1057C}-\x{1058A}"
    r"\x{1058C}-\x{10592}\x{10594}-\x{10595}\x{10597}-\x{105A1}"
    r"\x{105A3}-\x{105B1}\x{105B3}-\x{105B9}\x{105BB}-\x{105BC}"
    r"\x{10780}-\x{10785}\x{10787}-\x{107B0}\x{107B2}-\x{107BA}"
    r"\x{10F70}-\x{10F81}\x{11071}-\x{11072}\x{11075}\x{11740}-\x{11746}"
    r"\x{11AB0}-\x{11ABF}\x{12F90}-\x{12FF0}\x{16A70}-\x{16ABE}"
    r"\x{16AC0}-\x{16AC9}\x{1AFF0}-\x{1AFF3}\x{1AFF5}-\x{1AFFB}"
    r"\x{1AFFD}-\x{1AFFE}\x{1B11F}-\x{1B122}\x{1DF00}-\x{1DF1E}"
    r"\x{1E290}-\x{1E2AD}\x{1E7E0}-\x{1E7E6}\x{1E7E8}-\x{1E7EB}"
    r"\x{1E7ED}-\x{1E7EE}\x{1E7F0}-\x{1E7FE}\x{2A6DE}-\x{2A6DF}"
    r"\x{2B735}-\x{2B738}]"
)

# Python's (?i) lets each letter of a tag name match a set of characters,
# and its backreference compares them by simple lowercase, one character at
# a time: ſ (U+017F) opens <ſcript> but lowercases to itself, so </script>
# does not close it, while İ (U+0130) lowercases to i and does. Neither
# Java's (?i) nor its (?iu) compares that way, so the letters are split
# into these case classes (every other letter of the tag names is its ASCII
# pair), and each choice of classes gets its own alternative and closing
# tag, with no case flag. The tests derive the classes from Python's re.
_CASE_CLASSES = {"i": ("Iiİ", "ı"), "s": ("Ss", "ſ")}


def _spellings(name: str) -> list[str]:
    """Every choice of case class per letter of ``name``, as a Java regex."""
    per_letter = [_CASE_CLASSES.get(ch, (ch.upper() + ch,)) for ch in name]
    return ["".join(f"[{c}]" for c in classes) for classes in product(*per_letter)]


def _drop_elements(names: tuple[str, ...], to_end: bool) -> str:
    """Java form of Python's ``(?is)<(names)\\b[^>]*>.*?</\\1\\s*>``, with
    ``|\\Z`` after the closing tag when ``to_end``. An empty group after
    each spelling records which one opened the element; a backreference to
    a group that took no part fails, so only that spelling closes it."""
    spellings = [s for name in names for s in _spellings(name)]
    opens = "|".join(f"{s}()" for s in spellings)
    closes = "|".join(f"\\{i}{s}" for i, s in enumerate(spellings, 1))
    end = f"</(?:{closes}){_WS}*>" + (r"|\z" if to_end else "")
    return f"(?s)<(?:{opens})(?!{_WORD})[^>]*>.*?(?:{end})"


_DROP_CDATA = _drop_elements(("script", "style"), to_end=True)
_DROP_SUBTREES = _drop_elements(
    ("nav", "header", "head", "footer", "aside", "title"), to_end=False
)
_ENTITIES = (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"),
             ("&nbsp;", " "), ("&copy;", "©"), ("&amp;", "&"))


def extract_text(pages: DataFrame) -> DataFrame:
    """pages(html) → pages + extracted_text. One narrow stage, no shuffle."""
    s = F.make_valid_utf8(F.col("html").cast("string"))
    for rx in (_DROP_CDATA, _DROP_SUBTREES, "<[^>]+>"):
        s = F.regexp_replace(s, rx, " ")
    for entity, char in _ENTITIES:
        s = F.replace(s, F.lit(entity), F.lit(char))
    # after the collapse only single spaces are left for str.strip() to trim
    s = F.trim(F.regexp_replace(s, f"{_WS}+", " "))
    return pages.withColumn("extracted_text", s)
