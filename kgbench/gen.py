"""Seeded input generator for the benchmark workloads.

Every input is drawn from ``numpy.random.default_rng([seed, <salt>])`` and
written with pyarrow, so one seed always gives byte-identical files. The
ground truth each checker compares against comes from the same draws, never
from the engine under test.

Pages follow the crawl-page contract of ``kgx_spark.pipeline.synth``
(url, warc_ts, html): boilerplate html around prose plus fact sentences
``P:k interacts with S:s.`` / ``P:k is related to S:s.``, one equivalence
chain ``Q:k same as P:k. R:k same as Q:k.`` and one part-name mention per
page for the entity linker.

- ``crawl_inputs``: pages + the ``part`` table the alias dictionary is built
  from. The seed picks page order and every fact.
- ``update_inputs``: a start edges snapshot (the committed output of an
  earlier bulk crawl) plus a sequence of small page drops. The seed picks
  each drop's composition — half of its facts re-assert bulk facts.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark a the "
    "line sort window data column join small customer query order group big "
    "stream filter vector node edge graph"
).split()
ADJECTIVES = "small red blue green large steel brass round flat heavy light bright".split()
NOUNS = "ring widget bolt gear valve spring washer pin nut screw clamp hinge rod".split()
PREDICATES = ("biolink:related_to", "biolink:interacts_with")  # by linenumber % 2
PHRASES = (" is related to ", " interacts with ")
SAME_AS = "biolink:same_as"
MENTIONS = "biolink:mentions"

PAGE_URL_PREFIX = "https://crawl.example.org/page/"
_HEAD = (
    "<html><head><title>page</title><script>var x=1;</script>"
    "<style>.a{color:red}</style></head><body>"
    '<nav class="menu">Home | About | Contact</nav><p>'
)
_FOOT = "</p><footer>&copy; 2026 Example Corp</footer></body></html>"
WARC_EPOCH = 1_735_689_600  # 2025-01-01T00:00:00Z
LANGS = ("en", "en", "en", "de", "fr", "es")
VERSION = 1  # bump on any change to what a seed generates (cache key)

Triple = tuple[str, str, str]
Truth = dict[Triple, set[str]]  # asserted (s, p, o) -> urls of the pages asserting it


@dataclass
class Pages:
    table: pa.Table
    facts: np.ndarray  # (part, supp, linenumber) per fact sentence
    truth: Truth


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def write_parquet(table: pa.Table, path: str) -> None:
    """Deterministic parquet: one row group, no statistics, fixed codec."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="zstd", write_statistics=False)


def _prose(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(20, 60, size=n)
    picks = rng.integers(0, len(WORDS), size=int(lengths.sum()))
    out, at = [], 0
    for k in lengths:
        out.append(" ".join(WORDS[i] for i in picks[at : at + k]))
        at += k
    return out


def part_names(rng: np.random.Generator, n_parts: int) -> list[str]:
    adj = rng.integers(0, len(ADJECTIVES), size=n_parts)
    noun = rng.integers(0, len(NOUNS), size=n_parts)
    return [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in zip(adj, noun)]


def pages(
    rng: np.random.Generator,
    page_ids: np.ndarray,
    n_parts: int,
    n_supp: int,
    facts_per_page: int,
    names: list[str] | None = None,
    reuse: np.ndarray | None = None,
) -> Pages:
    """One crawl page per id. ``names`` adds a part-name mention sentence;
    ``reuse`` (fact rows of earlier pages) supplies half of each page's
    facts — re-crawled assertions."""
    n = len(page_ids)
    prose = _prose(rng, n)
    pk = rng.integers(0, n_parts, size=(n, facts_per_page))
    sk = rng.integers(0, n_supp, size=(n, facts_per_page))
    ln = rng.integers(1, 8, size=(n, facts_per_page))
    if reuse is not None:
        half = facts_per_page // 2
        pick = reuse[rng.integers(0, len(reuse), size=(n, half))]
        pk[:, :half], sk[:, :half], ln[:, :half] = pick[..., 0], pick[..., 1], pick[..., 2]
    mention = rng.integers(0, n_parts, size=n)
    lang = rng.integers(0, len(LANGS), size=n)
    urls = [f"{PAGE_URL_PREFIX}{p}" for p in page_ids]
    html, truth = [], {}
    for i in range(n):
        sentences = []
        asserted = []
        for p, s, k in zip(pk[i], sk[i], ln[i]):
            sentences.append(f"P:{p}{PHRASES[k % 2]}S:{s}.")
            asserted.append((f"P:{p}", PREDICATES[k % 2], f"S:{s}"))
        q = int(pk[i, 0])
        sentences.append(f"Q:{q} same as P:{q}. R:{q} same as Q:{q}.")
        asserted += [(f"Q:{q}", SAME_AS, f"P:{q}"), (f"R:{q}", SAME_AS, f"Q:{q}")]
        for t in asserted:
            truth.setdefault(t, set()).add(urls[i])
        if names is not None:
            sentences.append(f"the part {names[mention[i]]} is mentioned here.")
        html.append((_HEAD + prose[i] + " " + " ".join(sentences) + _FOOT).encode("utf-8"))
    table = pa.table(
        {
            "url": urls,
            "warc_ts": pa.array((WARC_EPOCH + page_ids).astype("datetime64[s]").astype("datetime64[us]")),
            "html": pa.array(html, pa.binary()),
            "lang": [LANGS[i] for i in lang],
        }
    )
    facts = np.stack([pk.ravel(), sk.ravel(), ln.ravel()], axis=1)
    return Pages(table, facts, truth)


def canonical(truth: Truth) -> Truth:
    """The crawl pipeline's expected output for raw asserted triples: every
    Q:/R: alias resolves to its P: leader and the same_as edges are consumed
    by canonicalization (fact subjects are already P: leaders)."""
    return {t: urls for t, urls in truth.items() if t[1] != SAME_AS}


# ------------------------------------------------------------ crawl_build


def crawl_inputs(seed: int, out_dir: str, n_pages: int, n_parts: int, n_supp: int, facts_per_page: int) -> dict:
    """Write ``pages.parquet`` and ``sf/part.parquet`` (alias source) under
    out_dir (skipped when already there). → {"pages", "sf_dir", "truth"}."""
    rng = _rng(seed, 1)
    names = part_names(rng, n_parts)
    order = rng.permutation(n_pages)  # page order
    crawl = pages(rng, order, n_parts, n_supp, facts_per_page, names=names)
    paths = {"pages": os.path.join(out_dir, "pages.parquet"), "sf_dir": os.path.join(out_dir, "sf")}
    if not os.path.exists(paths["pages"]):
        write_parquet(
            pa.table({"p_partkey": pa.array(np.arange(n_parts), pa.int64()), "p_name": names}),
            os.path.join(paths["sf_dir"], "part.parquet"),
        )
        write_parquet(crawl.table, paths["pages"])
    return {**paths, "truth": canonical(crawl.truth)}


# ------------------------------------------------------- incremental_update


def update_inputs(
    seed: int,
    out_dir: str,
    n_bulk: int,
    n_drops: int,
    drop_pages: int,
    n_parts: int,
    n_supp: int,
    facts_per_page: int,
) -> dict:
    """Write ``snapshot.parquet`` (the start edges snapshot: one row per
    distinct bulk (s, p, o), provided_by = sorted asserting urls) and
    ``drops/drop_NNNN.parquet`` (drop_pages pages each).

    → {"snapshot", "drops": [path], "bulk_truth": Truth, "drop_truth": [Truth]}.
    The stream path extracts and merges without canonicalizing, so truths
    are the raw asserted triples."""
    rng = _rng(seed, 2)
    bulk = pages(rng, np.arange(n_bulk), n_parts, n_supp, facts_per_page)
    drops = [
        pages(rng, n_bulk + d * drop_pages + np.arange(drop_pages), n_parts, n_supp, facts_per_page, reuse=bulk.facts)
        for d in range(n_drops)
    ]
    paths = {
        "snapshot": os.path.join(out_dir, "snapshot.parquet"),
        "drops": [os.path.join(out_dir, "drops", f"drop_{d:04d}.parquet") for d in range(n_drops)],
    }
    if not os.path.exists(paths["snapshot"]):
        write_parquet(_snapshot_table(bulk.truth), paths["snapshot"])
        for path, drop in zip(paths["drops"], drops):
            write_parquet(drop.table, path)
    return {**paths, "bulk_truth": bulk.truth, "drop_truth": [d.truth for d in drops]}


def _snapshot_table(truth: Truth) -> pa.Table:
    keys = sorted(truth)
    return pa.table(
        {
            "subject": [k[0] for k in keys],
            "predicate": [k[1] for k in keys],
            "object": [k[2] for k in keys],
            "provided_by": pa.array([sorted(truth[k]) for k in keys], pa.list_(pa.string())),
        }
    )
