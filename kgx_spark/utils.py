"""Shared plan-shaping utilities."""

from __future__ import annotations

from pyspark.sql import functions as F


def qcol(name: str):
    """Backtick-quoted column reference. Long-tail property names from
    ingested files can carry dots (obo IRI headers like
    ':http://.../chebi/charge'), which bare F.col parses as struct-field
    access — quote whenever the name is data-derived."""
    return F.col("`" + name.replace("`", "``") + "`")
