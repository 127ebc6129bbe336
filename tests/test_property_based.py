"""Property-based tests (hypothesis) — beyond the reference's test strategy
(SURVEY.md §5 notes the reference has none)."""

import re
from collections import Counter

import hypothesis.strategies as st
from hypothesis import HealthCheck, example, given, settings

from kgx_spark.operators.clique import _driver_union_find
from kgx_spark.pipeline.link import MAX_NGRAM, detect_mentions

from extract_oracle import extract_text_bytes

html_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400
)


@given(body=html_text)
@settings(max_examples=150, deadline=None)
def test_extraction_pure_and_idempotent_shape(body):
    html = f"<html><head><title>t</title></head><body><nav>n</nav><p>{body}</p></body></html>".encode()
    out1 = extract_text_bytes(html)
    out2 = extract_text_bytes(html)
    assert out1 == out2  # pure function of bytes
    assert "\n" not in out1 and "\t" not in out1  # whitespace collapsed
    assert out1 == out1.strip()


_NAMES = st.sampled_from(["script", "style", "nav", "head", "header", "title", "aside", "kbd"])
_WS_CHARS = st.sampled_from([" ", "\t", "\n", "\x1c", "\x1d", "\x1e", "\x1f", "\x85", "\u2028", "\u3000", "\xa0"])


def _spelled(name: str):
    # each letter in any case Python's (?i) lets it match, İ ı ſ K included
    variants = {"s": "sSſ", "i": "iIİı", "k": "kKK"}
    return st.tuples(*(st.sampled_from(variants.get(c, c + c.upper())) for c in name)).map("".join)


def _open_tag(name: str):
    after_name = st.sampled_from(["", " a=1", "x", "_", "2", "²", "ſ", "\u0870"])
    return st.builds("<{}{}>".format, _spelled(name), after_name)


def _close_tag(name: str):
    return st.builds("</{}{}>".format, _spelled(name), st.text(_WS_CHARS, max_size=2))


_text = st.one_of(
    st.sampled_from(["&amp;lt;", "&amp;", "&lt;", "&gt;", "&quot;", "&#39;", "&nbsp;", "&copy;", "&am", "p;", "<", ">"]),
    _WS_CHARS,
    st.sampled_from("ſİıK²xé中😀"),
    st.characters(blacklist_categories=("Cs",)),
).map(str.encode)
# bytes no UTF-8 decoder accepts whole: lone continuation and lead bytes,
# truncated sequences, overlong forms and encoded surrogates
_malformed = st.sampled_from(
    [b"\x80", b"\xbf", b"\xc0\xaf", b"\xc3", b"\xe2\x82", b"\xe0\x80\xaf", b"\xed\xa0\x80",
     b"\xf0\x9f\x98", b"\xf4\x90\x80\x80", b"\xf8\x88\x80\x80\x80", b"\xff"]
)
# an element opened and closed under two spellings of one name; alone, a
# tag is left unclosed, or closes what another name opened
_element = _NAMES.flatmap(
    lambda n: st.tuples(_open_tag(n).map(str.encode), st.lists(_text | _malformed, max_size=3).map(b"".join),
                        _close_tag(n).map(str.encode)).map(b"".join)
)
_tag = _NAMES.flatmap(lambda n: _open_tag(n) | _close_tag(n)).map(str.encode)
_html_pages = st.lists(st.lists(_element | _tag | _text | _malformed, min_size=1, max_size=30).map(b"".join),
                       min_size=4, max_size=40)


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_html_pages)
@example([
    "<script>a</ſcript>b".encode(), "<ſcript>a</script>b".encode(), "<SCRİPT>a</script>b".encode(),
    "<scrıpt>a</script>b".encode(), "<ſtyle>a</ſtyle >b".encode(), "<aſide>a</aside>b".encode(),
    "<tİtle>a</title>b".encode(), "<script\u0870>a</script>b".encode(), "<style>a</style\u3000>b".encode(),
])
def test_spark_extraction_equals_the_oracle(spark, htmls):
    """Spark's extract_text is the Python-re oracle, byte for byte, over
    the places where Java's regex dialect differs from Python's: case
    classes in tag names (ſ opens <script> but does not close it, İ does),
    Unicode whitespace and word characters after a tag name, unclosed and
    nested script/style, entity order, and malformed UTF-8."""
    from kgx_spark.pipeline.extract import extract_text

    df = spark.createDataFrame(list(enumerate(htmls)), "i int, html binary")
    got = dict(extract_text(df).select("i", "extracted_text").collect())
    for i, html in enumerate(htmls):
        assert got[i] == extract_text_bytes(html), html


@given(st.lists(st.tuples(st.integers(0, 40), st.integers(0, 40)), max_size=120))
@settings(max_examples=200, deadline=None)
def test_union_find_properties(pairs):
    rows = [(f"V:{a}", f"V:{b}") for a, b in pairs if a != b]
    labels = dict(_driver_union_find(rows))
    # every endpoint labeled; label is a member of the same component;
    # connected endpoints share a label; label is the min of its component
    for a, b in rows:
        assert labels[a] == labels[b]
    comps: dict[str, list[str]] = {}
    for v, c in labels.items():
        comps.setdefault(c, []).append(v)
    for c, members in comps.items():
        assert c == min(members)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(st.sampled_from(["A:1", "A:2", "A:3"]), st.text("ab", min_size=1, max_size=3)),
        min_size=1,
        max_size=8,
    )
)
def test_merge_nodes_idempotent(spark, rows):
    from kgx_spark.operators.merge import merge_nodes

    df = spark.createDataFrame(rows, "id string, p1 string")
    once = merge_nodes([df])
    twice = merge_nodes([once])
    a = {tuple(r) for r in once.collect()}
    b = {tuple(r) for r in twice.collect()}
    assert a == b  # merge is idempotent on already-merged input


# Spark's trim strips spaces only; its split pattern \s+ is Java's ASCII
# whitespace class
_SPARK_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _ngram_oracle(pages, first_tokens):
    out = Counter()
    for url, text in pages:
        if text is None:
            continue
        toks = [t for t in _SPARK_WS.split(text.lower().strip(" ")) if t]
        for i in range(len(toks)):
            if first_tokens is not None and toks[i] not in first_tokens:
                continue
            for k in range(1, MAX_NGRAM + 1):
                if i + k <= len(toks):
                    out[(url, i, " ".join(toks[i : i + k]), k)] += 1
    return out


_page_text = st.none() | st.text(alphabet="aB \t\n", max_size=12) | st.builds(
    lambda lead, words, seps: lead + "".join(w + s for w, s in zip(words, seps)),
    st.sampled_from(["", " ", "\t", "\n ", "  "]),
    st.lists(st.sampled_from(["a", "b", "ab", "Ba"]), min_size=1, max_size=3),
    st.lists(st.sampled_from([" ", "\t", "  ", "\n"]), min_size=3, max_size=3),
)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(_page_text, min_size=1, max_size=4),
    st.lists(st.sampled_from(["a", "b", "ab", "ba", "c"]), max_size=3, unique=True),
)
def test_detect_mentions_matches_ngram_oracle(spark, texts, first_tokens):
    """detect_mentions yields exactly the (url, pos, mention, ngram_len)
    multiset of a pure-Python n-gram enumeration — unpruned, and with
    either first-token prune form — on empty, null, whitespace-only and
    tab- or newline-led texts with repeated tokens."""
    pages = [(f"u{i}", t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(pages, "url string, extracted_text string")
    ft_df = spark.createDataFrame([(t,) for t in first_tokens], "first_token string")
    for kwargs, prune in (
        ({}, None),
        ({"first_tokens": first_tokens}, set(first_tokens)),
        ({"first_token_df": ft_df}, set(first_tokens)),
    ):
        got = Counter(tuple(r) for r in detect_mentions(df, **kwargs).collect())
        assert got == _ngram_oracle(pages, prune), kwargs


_EDGE_SCHEMA = "subject string, predicate string, object string, provided_by array<string>, note string"
_edge_rows = st.lists(
    st.tuples(
        st.sampled_from(["A:1", "A:2"]),
        st.sampled_from(["biolink:treats", "biolink:related_to"]),
        st.sampled_from(["B:1", "B:2"]),
        st.none() | st.lists(st.sampled_from(["u1", "u2", "u3"]), max_size=3),
        st.none() | st.sampled_from(["x", "y"]),
    ),
    min_size=1,
    max_size=10,
)


def _frozen_rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.select(*cols).collect())


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_edge_rows, _edge_rows)
def test_touched_key_merge_equals_full_merge(spark, tmp_path, e1, e2):
    """The stream's touched-key merge of a batch into a merged snapshot is
    the full merge of the two: over a key universe of 8, the snapshot and
    the batch overlap and the batch repeats keys."""
    from kgx_spark.operators.merge import merge_edges
    from kgx_spark.streaming.kg_stream import _merge_into

    path = str(tmp_path / "snapshot")
    merge_edges([spark.createDataFrame(e1, _EDGE_SCHEMA)]).write.mode("overwrite").parquet(path)
    snapshot = spark.read.parquet(path)
    batch = spark.createDataFrame(e2, _EDGE_SCHEMA)
    assert _frozen_rows(_merge_into(snapshot, batch)) == _frozen_rows(merge_edges([snapshot, batch]))


def test_touched_key_merge_fills_ids_of_an_idless_snapshot(spark, tmp_path):
    """A start snapshot without ``id`` (s, p, o and sorted provided_by, as
    a bulk export writes it) gets the full merge's sha2 ids on every row,
    touched or not."""
    from kgx_spark.operators.merge import merge_edges
    from kgx_spark.streaming.kg_stream import _merge_into

    schema = "subject string, predicate string, object string, provided_by array<string>"
    path = str(tmp_path / "snapshot")
    spark.createDataFrame(
        [("A:1", "biolink:treats", "B:1", ["u1", "u2"]), ("A:2", "biolink:treats", "B:1", ["u3"])], schema
    ).write.parquet(path)
    snapshot = spark.read.parquet(path)
    batch = spark.createDataFrame(
        [("A:1", "biolink:treats", "B:1", ["u4"]), ("A:3", "biolink:treats", "B:2", ["u4"])], schema
    )
    got = _merge_into(snapshot, batch)
    assert _frozen_rows(got) == _frozen_rows(merge_edges([snapshot, batch]))
    assert got.where("id IS NULL").count() == 0


def test_distributed_cc_matches_union_find_random_graphs(spark):
    """Distributed hash-min LP (with int encoding + pointer doubling) and the
    driver union-find are the same function on seeded random pair sets."""
    import random

    from kgx_spark.operators.clique import _driver_union_find, connected_components

    rng = random.Random(42)
    for trial in range(3):
        n = 120
        pairs = [
            (f"V:{rng.randrange(n):03d}", f"V:{rng.randrange(n):03d}")
            for _ in range(150)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        expected = dict(_driver_union_find(pairs))
        df = spark.createDataFrame(pairs, "src string, dst string")
        labels, _ = connected_components(df, driver_threshold=0)
        got = {r["id"]: r["component"] for r in labels.collect()}
        assert got == expected, f"trial={trial}"


def test_rdfxml_conversion_deterministic_property():
    """Same RDF/XML bytes → byte-identical N-Triples across repeated runs,
    for generated documents mixing resources, literals, and nesting."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kgx_spark.sources.rdf_xml import rdfxml_to_nt

    name = st.text(alphabet="abcdefgh", min_size=1, max_size=6)

    @settings(max_examples=25, deadline=None)
    @given(st.lists(st.tuples(name, name, st.booleans()), min_size=1, max_size=8))
    def check(rows):
        body = "".join(
            f'<rdf:Description rdf:about="http://x.org/{s}">'
            + (f'<ex:p rdf:resource="http://x.org/{o}"/>' if is_res
               else f"<ex:p>{o}</ex:p>")
            + "</rdf:Description>"
            for s, o, is_res in rows
        )
        doc = (
            '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
            'xmlns:ex="http://x.org/ns/">' + body + "</rdf:RDF>"
        ).encode()
        out1, out2 = rdfxml_to_nt(doc), rdfxml_to_nt(doc)
        assert out1 == out2
        assert len([ln for ln in out1.splitlines() if ln]) == len(rows)

    check()
