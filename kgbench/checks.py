"""Output checkers. Pure Python over the committed parquet files: they read
what the engine wrote with pyarrow and compare it with the generator's
ground truth, so a check never trusts the engine's own evaluation code."""

from __future__ import annotations

from typing import NamedTuple

import pyarrow.parquet as pq

from gen import MENTIONS, Triple, Truth

Rows = dict[Triple, frozenset[str]]  # (s, p, o) -> provided_by


class Edges(NamedTuple):
    rows: Rows
    table_rows: int  # more than len(rows) when the merge left duplicate keys


def read_edges(path: str) -> Edges:
    """The (s, p, o) -> provided_by map of an edges parquet directory or file."""
    t = pq.read_table(path, columns=["subject", "predicate", "object", "provided_by"]).to_pydict()
    rows: Rows = {}
    for s, p, o, pb in zip(t["subject"], t["predicate"], t["object"], t["provided_by"]):
        key = (s, p, o)
        rows[key] = rows.get(key, frozenset()) | frozenset(pb or ())
    return Edges(rows, len(t["subject"]))


def precision_recall(got: set[Triple], expected: set[Triple]) -> tuple[float, float]:
    hit = len(got & expected)
    return (hit / len(got) if got else 0.0, hit / len(expected) if expected else 0.0)


def crawl(edges: Edges, truth: Truth) -> dict:
    """crawl_build: the distinct non-mention (s, p, o) set equals the truth,
    each triple's provided_by is exactly the urls asserting it, no key is
    duplicated, and the linker produced mention edges."""
    rows = edges.rows
    facts = {k: v for k, v in rows.items() if k[1] != MENTIONS}
    p, r = precision_recall(set(facts), set(truth))
    provenance_ok = all(facts.get(k) == v for k, v in truth.items())
    mentions = len(rows) - len(facts)
    return {
        "ok": p == 1.0 and r == 1.0 and provenance_ok and mentions > 0 and edges.table_rows == len(rows),
        "precision": p,
        "recall": r,
        "provenance_ok": provenance_ok,
        "distinct_triples": len(rows),
    }


def snapshot(edges: Edges, truth: Truth, prior: Rows, fresh: Truth) -> dict:
    """incremental_update, after one drop: the committed snapshot's
    (s, p, o) set equals the truth of bulk plus landed drops, no key is
    duplicated, and provenance grew exactly as the stream allows. Every key
    keeps the provided_by it had before the drop (``prior``); a key the
    stream sees for the first time in this drop (``fresh``: key -> the
    drop's urls asserting it) gains exactly one of those urls, and no other
    key gains any. The stream keeps the first sighting inside its watermark,
    so which of a fresh key's urls is kept is not fixed."""
    rows = edges.rows

    def grew_ok(k: Triple) -> bool:
        before = prior.get(k, frozenset())
        added = rows[k] - before
        if not before <= rows[k]:
            return False
        return len(added) == 1 and added <= fresh[k] if k in fresh else not added

    p, r = precision_recall(set(rows), set(truth))
    provenance_ok = all(grew_ok(k) for k in rows.keys() & truth.keys())
    return {
        "ok": p == 1.0 and r == 1.0 and provenance_ok and edges.table_rows == len(rows),
        "precision": p,
        "recall": r,
        "provenance_ok": provenance_ok,
        "distinct_triples": len(rows),
    }


def merged_truth(*truths: Truth) -> Truth:
    out: Truth = {}
    for t in truths:
        for k, urls in t.items():
            out.setdefault(k, set()).update(urls)
    return out
