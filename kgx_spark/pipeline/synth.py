"""Deterministic synthesis of the `pages` corpus + alias dictionary.

The sandbox has no real Common-Crawl data (TESTDATA.md), so the pipeline's
input table — pages(url, warc_ts, html, text, lang) per BASELINE.json
input_hint — is synthesized deterministically from the driver's tables:

- base prose comes from `documents.text`;
- known (subject, predicate, object) sentences are woven in from `lineitem`
  keys (FIXTURES.md §1 synthesis hint), so extraction P/R is computable
  exactly;
- `same_as` sentences create multi-hop equivalence chains (P:k ≡ Q:k ≡ R:k)
  for the canonicalization stage;
- mention sentences reference part names for the entity-linking stage;
- html wraps the text in deterministic boilerplate (nav/script/footer) that
  extraction must strip.

Everything is a pure column expression of (doc_id, keys) — same input ⇒
byte-identical pages, which is what makes the byte-identical-extraction
invariant testable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGE_URL_PREFIX = "https://corpus.example.org/page/"

_BOILER_HEAD = (
    "<html><head><title>page</title><script>var x=1;</script>"
    "<style>.a{color:red}</style></head><body>"
    '<nav class="menu">Home | About | Contact</nav>'
)
_BOILER_FOOT = '<footer>&copy; 2026 Example Corp</footer></body></html>'


def synth_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the pages table by joining documents with lineitem-derived
    fact sentences. Pure expressions — no RNG, no Python rows."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    parts = spark.read.parquet(f"{sf_dir}/part.parquet")
    n_docs = docs.count()

    # fact sentences derived from lineitem keys, assigned to a doc by modulo
    facts = li.select(
        (F.col("l_orderkey") % n_docs).alias("doc_id"),
        F.concat(
            F.lit("P:"), "l_partkey",
            F.when(F.col("l_linenumber") % 2 == 0, " is related to ").otherwise(" interacts with "),
            F.lit("S:"), "l_suppkey", F.lit("."),
        ).alias("sentence"),
    )
    # equivalence sentences: P:k same as Q:k ; Q:k same as R:k (multi-hop)
    sameas = li.where(F.col("l_linenumber") == 1).select(
        (F.col("l_orderkey") % n_docs).alias("doc_id"),
        F.concat(
            F.lit("Q:"), "l_partkey", F.lit(" same as P:"), "l_partkey", F.lit(". R:"),
            "l_partkey", F.lit(" same as Q:"), "l_partkey", F.lit("."),
        ).alias("sentence"),
    )
    # mention sentences referencing part names (entity-linking surface forms)
    mentions = parts.select(
        (F.col("p_partkey") % n_docs).alias("doc_id"),
        F.concat(F.lit("the part "), "p_name", F.lit(" is mentioned here.")).alias("sentence"),
    )
    fact_text = (
        facts.unionByName(sameas).unionByName(mentions)
        .groupBy("doc_id")
        .agg(F.array_join(F.array_sort(F.collect_list("sentence")), " ").alias("fact_text"))
    )

    page_text = F.concat_ws(" ", F.col("text"), F.col("fact_text"))
    pages = (
        docs.join(fact_text, on="doc_id", how="left")
        .select(
            F.concat(F.lit(PAGE_URL_PREFIX), "doc_id").alias("url"),
            F.timestamp_seconds(F.lit(1735689600) + F.col("doc_id")).alias("warc_ts"),
            F.encode(
                F.concat(
                    F.lit(_BOILER_HEAD), F.lit("<p>"),
                    F.coalesce(page_text, F.col("text")),
                    F.lit("</p>"), F.lit(_BOILER_FOOT),
                ),
                "utf-8",
            ).alias("html"),
            F.coalesce(page_text, F.col("text")).alias("text"),
            F.col("lang"),
        )
    )
    return pages


def synth_alias_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """alias_dict(alias, curie, category, prior) from the part table
    (FIXTURES.md §6). prior is a deterministic pseudo-TF-IDF weight."""
    parts = spark.read.parquet(f"{sf_dir}/part.parquet")
    return parts.select(
        F.lower(F.col("p_name")).alias("alias"),
        F.concat(F.lit("P:"), "p_partkey").alias("curie"),
        F.lit("biolink:NamedThing").alias("category"),
        (1.0 / (1.0 + F.col("p_partkey") % 7)).alias("prior"),
    )
