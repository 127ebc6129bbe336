"""Shared plan-shaping utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Rows above which a dimension side is NOT force-broadcast. At ~50-100 B/row
# for (id, value) string pairs this keeps forced broadcasts within Spark's
# default 10 MB autoBroadcastJoinThreshold ballpark; larger sides fall back
# to an unhinted join so AQE picks the strategy from runtime statistics.
BROADCAST_ROW_LIMIT = 200_000


def qcol(name: str):
    """Backtick-quoted column reference. Long-tail property names from
    ingested files can carry dots (obo IRI headers like
    ':http://.../chebi/charge'), which bare F.col parses as struct-field
    access — quote whenever the name is data-derived."""
    return F.col("`" + name.replace("`", "``") + "`")


def conditional_broadcast(df: DataFrame, row_limit: int | None = None) -> DataFrame:
    """Broadcast-hint ``df`` only when it is provably small.

    A forced ``F.broadcast`` on a node-scale side (the node-category catalog,
    a member→leader map over a dedup-heavy corpus, a whole-category remap
    table) OOMs the driver at 100 TB. The probe is a ``limit(n+1).count()``,
    which short-circuits the scan as soon as n+1 rows are produced — O(n)
    work bounded by the threshold, not the table. Above the threshold the
    frame is returned unhinted and AQE decides (broadcast if runtime stats
    are small enough, shuffle join otherwise).
    """
    return F.broadcast(df) if fits_broadcast(df, row_limit) else df


def fits_broadcast(df: DataFrame, row_limit: int | None = None) -> bool:
    """The probe behind ``conditional_broadcast``: does ``df`` have at most
    ``row_limit`` rows (default ``BROADCAST_ROW_LIMIT``, read at call time)?"""
    if row_limit is None:
        row_limit = BROADCAST_ROW_LIMIT
    return df.limit(row_limit + 1).count() <= row_limit
