"""The end-to-end KG-construction pipeline (north rule, BASELINE.json).

pages → extract_text → extract_triples + link_mentions → canonicalize
(hash-min CC over same_as) → merge/dedup (provenance union) → materialize
KGX-shaped nodes/edges, each within-partition sorted by its lookup key.

Each stage is a Stage (stages.py) so a killed run resumes from the last
committed snapshot; `run_kg_pipeline` is the one-call entry used by
__spark_entry__.entry, kgbench, and spark-submit (see scripts/run_pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgx_spark.operators.clique import clique_merge
from kgx_spark.operators.merge import merge_edges, merge_nodes
from kgx_spark.operators.validate import validate_edges, validate_nodes
from kgx_spark.pipeline.extract import extract_text
from kgx_spark.pipeline.link import (
    detect_mentions,
    first_token_prune,
    link_mentions,
    linked_mention_edges,
)
from kgx_spark.pipeline.stages import Stage, run_stages
from kgx_spark.pipeline.synth import synth_alias_dict, synth_pages
from kgx_spark.pipeline.triples import extract_triples

# canonical prefix priority for leader election (P wins over Q over R, the
# synthetic equivalence universe; real deployments pass biolink's
# prefix-priority map — clique_merge.py:716-751)
PREFIX_PRIORITY = ["P", "Q", "R", "S"]


def build_stages(
    sf_dir: str,
    pages_df: DataFrame | None = None,
    link_entities: bool = True,
) -> list[Stage]:
    def s_extract(spark: SparkSession, ctx: dict) -> DataFrame:
        # pages is the pipeline INPUT (an existing Iceberg table in
        # production) — never snapshotted by us: re-writing terabytes of html
        # would double the job's IO. (Measured locally: persisting the
        # html-bearing pages table caused tens of seconds of writeback stalls
        # bleeding into later stages.) The first OUTPUT snapshot is the
        # extracted text, orders of magnitude smaller than the html.
        pages = pages_df if pages_df is not None else synth_pages(spark, sf_dir)
        # Few-large-files inputs (single-split parquet at test scale)
        # under-parallelize the CPU-bound extract/triples path — re-spread
        # by url over the session's shuffle partitions (AQE may coalesce
        # them); the extract snapshot then preserves this layout.
        pages = pages.repartition("url")
        return extract_text(pages).select("url", "warc_ts", "extracted_text", "lang")

    def s_triples(spark: SparkSession, ctx: dict) -> DataFrame:
        return extract_triples(ctx["extract"])

    def s_linked(spark: SparkSession, ctx: dict) -> DataFrame:
        alias_dict = synth_alias_dict(spark, sf_dir)
        # page count from the (snapshotted/cached, html-free) extract table —
        # NOT from the mentions, which would execute the n-gram explode
        # twice (once for the count, once for the linking plan).
        n_pages = ctx["extract"].count()
        # first-token prune: result-identical (an n-gram whose first token
        # starts no alias can't survive the dictionary join) and cuts the
        # exploded mention volume by the corpus's non-entity token fraction
        # (measured 27.2→15.2 s min at sf0.1/local[32], identical rows).
        # first_token_prune() auto-selects the in-array InSet probe for
        # plan-embeddable token sets and a broadcast semi-join past
        # MAX_INSET_FIRST_TOKENS, so a huge alias dictionary can't bloat
        # the plan or the driver.
        mentions = detect_mentions(ctx["extract"], **first_token_prune(alias_dict))
        return link_mentions(mentions, alias_dict, n_pages=n_pages)

    def s_edges_raw(spark: SparkSession, ctx: dict) -> DataFrame:
        triples = ctx["triples"]
        if link_entities and "linked" in ctx:
            mention_edges = linked_mention_edges(ctx["linked"])
            triples = triples.unionByName(mention_edges)
        valid, _ = validate_edges(triples)
        return valid

    def s_canonical(spark: SparkSession, ctx: dict) -> DataFrame:
        edges = ctx["edges_raw"]
        # one scan + explode instead of a subject∪object double scan of the
        # snapshot (same rows; halves the endpoint-collection read). No
        # category column: every node would be NamedThing, so no clique can
        # conflict and clique_merge skips its category audit.
        node_ids = edges.select(F.explode(F.array("subject", "object")).alias("id")).distinct()
        # dedupe_edges=False: the next stage runs merge_edges anyway — one
        # (s,p,o) shuffle for the whole pipeline, not two.
        _, canon_edges, _ = clique_merge(
            node_ids, edges, prefix_priority=PREFIX_PRIORITY, dedupe_edges=False
        )
        return canon_edges

    def s_edges(spark: SparkSession, ctx: dict) -> DataFrame:
        merged = merge_edges([ctx["canonical"].drop("_original_subject", "_original_object")])
        # NO post-merge re-shuffle: the merge groupBy already leaves the data
        # hash(s,p,o)-partitioned, which spreads a hub SUBJECT across
        # partitions by (predicate, object) variation — strictly more
        # skew-proof than a (subject, salt) re-partition, and
        # one full-data exchange cheaper (measured: the second exchange was
        # the anti-scaling term in the materialize stage on the local box).
        # Within-partition sort by subject keeps parquet RLE/dictionary
        # compression and row-group skipping effective for subject lookups.
        return merged.sortWithinPartitions("subject")

    def s_nodes(spark: SparkSession, ctx: dict) -> DataFrame:
        edges = ctx["edges"]
        # one scan + explode instead of a subject∪object double scan (the
        # provided_by payload column is read once, not twice)
        ids = edges.select(
            F.explode(F.array("subject", "object")).alias("id"), F.col("provided_by")
        )
        # every node is a NamedThing: validate_nodes sets that category on
        # the merged rows, so the merge aggregates provided_by only
        merged = merge_nodes([ids])
        valid, _ = validate_nodes(merged)
        # post-merge rows are unique per id — hash(id) layout is already
        # uniform; a re-shuffle would only add an exchange (see s_edges note)
        return valid.sortWithinPartitions("id")

    stages = [
        Stage("extract", s_extract),
        Stage("triples", s_triples),
    ]
    if link_entities:
        stages.append(Stage("linked", s_linked))
    stages += [
        Stage("edges_raw", s_edges_raw),
        Stage("canonical", s_canonical),
        Stage("edges", s_edges),
        Stage("nodes", s_nodes),
    ]
    return stages


def run_kg_pipeline(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    pages_df: DataFrame | None = None,
    link_entities: bool = True,
    force: bool = False,
) -> dict[str, DataFrame]:
    """Run (or resume) the full pipeline; returns all stage outputs."""
    stages = build_stages(sf_dir, pages_df=pages_df, link_entities=link_entities)
    return run_stages(spark, workdir, stages, force=force)
