"""spark-submit entrypoint for the KG-construction pipeline.

Cluster usage (north rule: "ships via spark-submit --py-files"):

    zip -r kgx_spark.zip kgx_spark
    spark-submit --py-files kgx_spark.zip scripts/run_pipeline.py \
        --sf-dir /data/testdata/sf0.1 --workdir /data/runs/kg1

Local sandbox usage (same code path):

    python scripts/run_pipeline.py --sf-dir /root/testdata/sf0.01 \
        --workdir /tmp/kgrun --master 'local[8]'

Re-running with the same --workdir resumes from the last committed stage
snapshot (kill-resume contract, kgx_spark/pipeline/stages.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from kgx_spark.pipeline.kg_pipeline import run_kg_pipeline  # noqa: E402
from kgx_spark.session import default_cpus, get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", required=True, help="input table directory (parquet)")
    ap.add_argument("--workdir", required=True, help="stage snapshot + metrics directory")
    ap.add_argument("--master", default=None, help="spark master (default local[<usable cores>])")
    ap.add_argument("--no-link", action="store_true", help="skip the entity-linking stage")
    ap.add_argument("--force", action="store_true", help="recompute even committed stages")
    args = ap.parse_args()

    # initial shuffle partitions at 4× cores, AQE coalesces down: the merge
    # aggregation carries large per-key array state (provided_by unions), and
    # one-partition-per-core makes each concurrent task's hash-agg state 4×
    # bigger — measured 88-90 s → 52-69 s (both run orders) on the edges
    # stage at local[16] on a 32× page corpus when the agg runs 64-way
    # instead of 16-way. Same rule as a real cluster: size shuffles to data
    # volume, not core count, and let AQE right-size the small ones.
    cores = None
    if args.master and "[" in args.master:
        n = args.master[args.master.find("[") + 1 : args.master.find("]")]
        try:
            # local[N] only; local-cluster[2,8,4096] / spark://… fall through
            cores = None if n == "*" else int(n)
        except ValueError:
            cores = None
    if cores is None:
        cores = default_cpus()
    # smaller scan splits for the stage-snapshot re-reads: a merged KG edge
    # table is array-heavy and compresses hard, so 128 MB parquet splits
    # decompress into multi-GB partitions AND cap the scan at a handful of
    # tasks between stages; 32 MB keeps the post-snapshot map sides as wide
    # as the cluster (same brief rule: size maxPartitionBytes so partitions
    # fit executor memory at the target SF).
    spark = get_spark(
        "kgx_pipeline",
        master=args.master,
        shuffle_partitions=4 * cores,
        extra_conf={"spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024)},
    )
    t0 = time.monotonic()
    ctx = run_kg_pipeline(
        spark, args.sf_dir, args.workdir, link_entities=not args.no_link, force=args.force
    )
    wall = time.monotonic() - t0
    n_edges = ctx["edges"].count()
    result = {
        "edges": n_edges,
        "wall_sec": round(wall, 2),
        "triples_per_sec": round(n_edges / wall, 1),
        "master": spark.sparkContext.master,
        "workdir": args.workdir,
    }
    if args.no_link:
        # P/R vs the corpus's embedded ground truth (north-rule gate ≥0.95)
        from kgx_spark.pipeline.eval import expected_triples_for_synth, triple_pr

        pr = triple_pr(ctx["edges"], expected_triples_for_synth(spark, args.sf_dir))
        result["triple_pr"] = {"precision": pr["precision"], "recall": pr["recall"]}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
