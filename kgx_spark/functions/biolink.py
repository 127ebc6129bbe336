"""Biolink-Model knowledge as broadcastable data (no executor library calls).

Reference: kgx/utils/kgx_utils.py:313-546 calls bmt.Toolkit per record for
category/predicate validity and ancestors; clique_merge.py:388-499 sorts
categories by ancestor count; validator.py:629-744 checks known-class /
known-predicate / non-mixin. SURVEY.md §7.0 mandates the Spark build
precompute these as small tables and broadcast them.

The class/mixin/predicate hierarchies live as plain data in
``biolink_model.py`` (a snapshot of the public Biolink Model). This module
derives the ancestor closures from the parent links at import time — the
same information bmt.Toolkit resolves dynamically, shipped as a ~150-class
broadcastable dict instead of a runtime library.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kgx_spark.functions.biolink_model import (
    CLASSES,
    CONTEXT_PREFIXES,
    MIXINS,
    PREDICATES,
    SLOT_TYPES,
)

_B = "biolink:"


def _snake(name: str) -> str:
    out = [name[:1].lower()]
    for ch in name[1:]:
        if ch.isupper():
            out.append("_")
            out.append(ch.lower())
        else:
            out.append(ch)
    return "".join(out)


def _mixin_chain(mixin: str) -> list[str]:
    """A mixin plus its is_a ancestors, nearest-first."""
    chain, cur = [], mixin
    while cur is not None and cur not in chain:
        chain.append(cur)
        cur = MIXINS.get(cur)
    return chain


def _class_ancestors(name: str) -> list[str]:
    """Ancestors (excluding self), nearest-first: the is_a chain interleaved
    with each class's mixins — the traversal bmt.Toolkit.get_ancestors
    performs with mixin=True (kgx_utils.py:326-340 get_biolink_ancestors)."""
    order: list[str] = []
    seen: set[str] = {name}

    def push(n: str) -> None:
        if n not in seen:
            seen.add(n)
            order.append(n)

    cur: str | None = name
    while cur is not None:
        parent, mixins = CLASSES[cur]
        # the is_a parent is the primary nearest ancestor; the class's own
        # mixins follow it, then the walk continues up the is_a chain
        if parent is not None:
            push(parent)
        for m in mixins:
            for mm in _mixin_chain(m):
                push(mm)
        cur = parent
    return order


def _predicate_ancestors(name: str) -> list[str]:
    chain, cur, seen = [], PREDICATES.get(name), {name}
    while cur is not None and cur not in seen:
        chain.append(cur)
        seen.add(cur)
        cur = PREDICATES.get(cur)
    return chain


# class CURIE → ancestors (nearest-first, excluding self), mixins included
CATEGORY_ANCESTORS: dict[str, list[str]] = {
    _B + c: [_B + a for a in _class_ancestors(c)] for c in CLASSES
}

# predicate CURIE → ancestors (nearest-first, excluding self)
PREDICATE_ANCESTORS: dict[str, list[str]] = {
    _B + _snake(p): [_B + _snake(a) for a in _predicate_ancestors(p)] for p in PREDICATES
}

KNOWN_CLASSES: frozenset[str] = frozenset(CATEGORY_ANCESTORS)
KNOWN_MIXINS: frozenset[str] = frozenset(_B + m for m in MIXINS)
KNOWN_PREDICATES: frozenset[str] = frozenset(PREDICATE_ANCESTORS)


def closure_table(spark: SparkSession) -> DataFrame:
    """(category, closure, w): self-inclusive ancestor closure (classes +
    mixins) and its size — the reference's get_biolink_ancestors output
    (reflexive, mixins included — clique_merge.py:615-618 weights by its
    length); higher w = more specific. 133 rows; always broadcast."""
    rows = [
        (c, [c, *CATEGORY_ANCESTORS[c]], 1 + len(CATEGORY_ANCESTORS[c]))
        for c in sorted(CATEGORY_ANCESTORS)
    ]
    return spark.createDataFrame(rows, "category string, closure array<string>, w int")


def context_prefixes() -> frozenset[str]:
    """Prefixes registered in the Biolink JSON-LD context (the validator's
    prefix-vs-context check, validator.py:560-585)."""
    return CONTEXT_PREFIXES

