"""Plan audit over every declared query: count red-flag operators.

For each queries() entry, builds the DataFrame against $SPARK_GRAFT_SF_DIR
(default sf0.001) and greps the formatted physical plan for:
- BatchEvalPython (row-at-a-time Python — must be zero),
- CartesianProduct / BroadcastNestedLoopJoin (accidental cross joins),
- counts of Exchange / Sort / ArrowEvalPython / SortMergeJoin.

Prints one JSON line per query; queries whose construction runs eager jobs
still only pay plan-time here (no action is executed).

Usage: python tools/plan_audit.py [outfile.jsonl] [--only a,b,c]
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_path = None
    only = None
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
        else:
            out_path = a
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if os.path.isdir("/dev/shm"):
        os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm")

    import importlib.util

    from kgx_spark.session import get_spark

    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    spark = get_spark("plan_audit", master="local[8]", shuffle_partitions=8)

    sink = open(out_path, "w") if out_path else sys.stdout
    for name, fn in mod.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            tree = plan.split("\n\n")[0]  # node names appear once in the tree
            rec = {
                "query": name,
                "BatchEvalPython": tree.count("BatchEvalPython"),
                "ArrowEvalPython": tree.count("ArrowEvalPython") + tree.count("MapInPandas") + tree.count("MapInArrow"),
                "Cartesian": tree.count("CartesianProduct") + tree.count("BroadcastNestedLoopJoin"),
                # word boundaries already exclude BroadcastExchange and
                # SortAggregate/SortMergeJoin: no subtraction
                "Exchange": len(re.findall(r"\bExchange\b", tree)),
                "BroadcastExchange": tree.count("BroadcastExchange"),
                "Sort": len(re.findall(r"\bSort\b", tree)),
                "SortAggregate": tree.count("SortAggregate"),
                "SortMergeJoin": tree.count("SortMergeJoin"),
                "Window": tree.count("Window"),
            }
        except Exception as exc:  # noqa: BLE001
            rec = {"query": name, "error": str(exc)[:200]}
        sink.write(json.dumps(rec) + "\n")
        sink.flush()


if __name__ == "__main__":
    main()
