#!/usr/bin/env python
"""Time named registry queries with the noop sink (guide §1.4).

Run: python tools/time_queries.py <sf_dir> <reps> <query> [query ...]
Interleaved reps (pass 1 runs every query, then pass 2, ...), the cache
cleared before every rep and each rep's pins released after it, so
each rep computes from the parquet inputs; prints min-of-reps per query as one JSON line.
For A/B use, run baseline and candidate trees alternately in the same
window (the bench.py discipline).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from pennsieve_streaming_spark.session import get_spark  # noqa: E402
from pennsieve_streaming_spark.util import pin_scope  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    reps = int(sys.argv[2])
    names = sys.argv[3:]
    spark = get_spark("pss-time-queries")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JIT warm
    queries = entry.queries()
    best = {n: float("inf") for n in names}
    for _ in range(reps):
        for name in names:
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"time: {name}")
            t0 = time.perf_counter()
            with pin_scope():
                queries[name](spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
            best[name] = min(best[name], time.perf_counter() - t0)
    out = {n: round(best[n], 4) for n in names}
    print(json.dumps({"metric": "time_queries", "sf_dir": sf_dir,
                      "reps": reps, "queries": out,
                      "total": round(sum(out.values()), 4)}))
    spark.stop()


if __name__ == "__main__":
    main()
