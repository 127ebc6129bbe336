"""Capture .explain("formatted") for the KGX merge, clique, summary and
entity-link plans and for each pipeline stage.

Usage: python tools/capture_plans.py <outdir> [suffix] [--only name,name]

Writes <outdir>/<query>_<suffix>.txt for each query. The pipeline is
multi-stage (each stage snapshot-commits), so its plan is captured per
stage: pipeline_<stage>_<suffix>.txt, built in fused mode (no snapshots) so
the full lineage of each stage is visible.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from kgx_spark import fixtures as FX  # noqa: E402
from kgx_spark.operators.clique import clique_merge  # noqa: E402
from kgx_spark.operators.merge import merge_edges  # noqa: E402
from kgx_spark.operators.summary import count_by_spo_category  # noqa: E402
from kgx_spark.session import get_spark  # noqa: E402


def plan_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    outdir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 and not sys.argv[2].startswith("--") else "before"
    only = None
    for a in sys.argv[2:]:
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if os.path.isdir("/dev/shm"):
        os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm")
    spark = get_spark("kgx_plans")

    plans: dict[str, object] = {}

    def _clique():
        edges = FX.rotated_edges(spark, sf_dir).unionByName(
            FX.sameas_edges(spark, sf_dir).withColumn(
                "provided_by", F.lit(None).cast("array<string>")
            )
        )
        node_ids = (
            edges.select(F.col("subject").alias("id"))
            .unionByName(edges.select(F.col("object").alias("id")))
            .distinct()
        )
        _, canon, _ = clique_merge(node_ids, edges, prefix_priority=["P", "Q", "R", "S"])
        return canon

    def _spo():
        nodes = FX.nodes_a(spark, sf_dir).unionByName(
            FX.supplier_nodes(spark, sf_dir), allowMissingColumns=True
        )
        return count_by_spo_category(FX.edges(spark, sf_dir), nodes)

    def _link():
        from kgx_spark.pipeline.extract import extract_text
        from kgx_spark.pipeline.link import (
            detect_mentions,
            first_token_prune,
            link_mentions,
        )
        from kgx_spark.pipeline.synth import synth_alias_dict, synth_pages

        raw_pages = synth_pages(spark, sf_dir)
        n_pages = raw_pages.count()
        alias_dict = synth_alias_dict(spark, sf_dir)
        return link_mentions(
            detect_mentions(extract_text(raw_pages), **first_token_prune(alias_dict)),
            alias_dict,
            n_pages=n_pages,
        )

    plans["merge_edges"] = lambda: merge_edges([FX.edges(spark, sf_dir)])
    plans["clique_canonicalize"] = _clique
    plans["spo_category_counts"] = _spo
    plans["entity_link"] = _link

    for name, fn in plans.items():
        if only and name not in only:
            continue
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan_str(fn()))
        print(f"wrote {path}")

    # pipeline stages, fused lineage (no snapshot commits in the plan)
    if only is None or any(n.startswith("pipeline") for n in only):
        from kgx_spark.pipeline.kg_pipeline import build_stages

        stages = build_stages(sf_dir, link_entities=False)
        ctx: dict = {}
        for st in stages:
            df = st.fn(spark, ctx)
            ctx[st.name] = df
            path = os.path.join(outdir, f"pipeline_{st.name}_{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(plan_str(df))
            print(f"wrote {path}")


if __name__ == "__main__":
    main()
