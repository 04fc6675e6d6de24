#!/usr/bin/env python
"""Global plan audit: plan every registry query and count replay shapes.

Usage:
  python tools/audit_plans.py [sf_dir] [out.json]

For every registry query, builds the DataFrame (pins execute eagerly,
so use a small SF) and greps the formatted physical plan for the
operators that matter at scale: parquet scans, Exchange,
SortMergeJoin, CartesianProduct, BroadcastNestedLoopJoin, and the
Python-boundary nodes. Output is a JSON list sorted by scan count —
the §13-style replay audit, runnable every round.

r12: counts are taken over the LIVE operators only, by walking the
JVM plan tree (util.live_plan_counts) and never descending into a
cached relation: a persisted relation (the serving launcher's cached
samples) carries its cached lineage under InMemoryTableScan, which
executes once at the fill barrier, not per consumer — counting it
would make every cache look like a replay. (String-grepping the explain output cannot express
this: formatted mode nests a cached plan's AQE dump at sibling
indentation.) Counts are therefore single (per live node), not the
old formatted-grep x2 convention. The walked plan is the PREPARED
plan (post EnsureRequirements, initial AQE plan), so Exchange counts
are the planning shape.
"""

from __future__ import annotations

import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from pennsieve_streaming_spark.session import get_spark  # noqa: E402
from pennsieve_streaming_spark.util import (  # noqa: E402
    live_plan_counts,
    pin_scope,
)

PATTERNS = {
    "scan_parquet": "Scan parquet",
    "scan_rdd": "Scan ExistingRDD",
    "exchange": "Exchange",
    "smj": "SortMergeJoin",
    "cartesian": "CartesianProduct",
    "bnlj": "BroadcastNestedLoopJoin",
    "batch_py": "BatchEvalPython",
    "arrow_py": "ArrowEvalPython",
    "map_pandas": "MapInPandas",
    "fmg_pandas": "FlatMapGroupsInPandas",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/plan_audit.json"
    spark = get_spark("pss-audit-plans")
    queries = entry.queries()
    rows = []
    for name, build in queries.items():
        try:
            with pin_scope():
                df = build(spark, sf_dir)
                row = {"query": name}
                row.update(live_plan_counts(df, PATTERNS, executed=True))
            rows.append(row)
        except Exception:
            rows.append({"query": name, "error": traceback.format_exc(limit=2)})
        spark.catalog.clearCache()
    rows.sort(key=lambda r: (-(r.get("scan_parquet", 0)), r["query"]))
    with open(out_path, "w") as f:
        json.dump(rows, f, indent=1)
    bad = [r for r in rows if "error" in r]
    print(f"audited {len(rows)} queries, {len(bad)} errors -> {out_path}")
    for r in rows[:25]:
        if "error" not in r:
            print(
                f"{r['query']:40s} scans={r['scan_parquet']:3d} exch={r['exchange']:3d} "
                f"smj={r['smj']:2d} cart={r['cartesian']} py={r['batch_py']+r['arrow_py']} "
                f"pandas={r['map_pandas']+r['fmg_pandas']}"
            )
    for r in bad:
        print(f"ERROR {r['query']}")
    spark.stop()


if __name__ == "__main__":
    main()
