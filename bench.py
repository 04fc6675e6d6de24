#!/usr/bin/env python
"""Time registry queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Run: python bench.py [query ...]      (default: the 17 HEADLINE queries)

Prints ONE JSON line:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1,
   "sentinel_sec": s, "load_ratio": r}

Each query is forced end-to-end with the noop sink (full computation,
no driver collect overhead); each timing is the min over
$SPARK_GRAFT_BENCH_REPS interleaved passes (default 5).

The heavy set (the operators that dominate a large corpus run):
  SPARK_GRAFT_BENCH_REPS=3 python bench.py doc_contamination_screened \
    doc_corpus_build doc_minhash_signatures doc_minhash_lsh_pairs \
    doc_dup_clusters emb_ann_ivf_pq doc_bpe_token_ids mm_audio_tempo \
    doc_incremental_dedup_screened doc_incremental_build
The 10x scale point: python tools/make_sf1.py /tmp/sf1, then
  SPARK_GRAFT_SF_DIR=/tmp/sf1 python bench.py [query ...]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry  # noqa: E402
from pennsieve_streaming_spark.session import get_spark  # noqa: E402
from pennsieve_streaming_spark.util import pin_scope  # noqa: E402

HEADLINE = [
    "ts_window_query",
    "ts_minmax_downsample_time",
    "ts_minmax_downsample_count",
    "ts_fill_gaps",
    "ts_gap_spans",
    "ts_montage",
    "ts_event_summary",
    "ts_epoch_rebase",
    "ts_cut_resample",
    "ts_realtime_resample",
    "ts_rollup_downsample",
    "doc_exact_dedup",
    "doc_token_stats",
    "doc_lang_id",
    "doc_minhash_lsh_pairs",
    "doc_simhash",
    "emb_cosine_topk",
]

# min-of-5 interleaved passes: the shared box shows ±50% co-tenant
# spikes lasting seconds; 5 passes put ~2 min between a query's reps,
# so the min reliably escapes transient contention (PLANS_r5.md).
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))

# Load sentinel (r10 VERDICT #4): a fixed pure-JVM kernel whose
# quiet-box time is recorded here. The bench times it min-of-3 and
# annotates the JSON with the ratio, so a loaded box is visible IN the
# round record instead of masquerading as a code regression (the r10
# +22% driver number was box noise — adjudicated only by off-record
# re-runs). The kernel is scan+hash-agg over a deterministic range:
# no I/O, no Python, insensitive to page cache — CPU contention only.
SENTINEL_QUIET_SEC = 0.165  # recorded quiet-box value (r11, min-of-3 after warm rep)


def _sentinel_sec(spark) -> float:
    best = float("inf")
    for i in range(4):  # rep 0 is the untimed JIT warm-up
        t0 = time.perf_counter()
        spark.range(0, 200_000_000, 1, 32).selectExpr(
            "sum(id * (id % 7)) AS s", "count(1) AS n"
        ).collect()
        if i > 0:
            best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    names = sys.argv[1:] or HEADLINE
    queries = entry.queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        sys.exit(f"unknown queries: {' '.join(unknown)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("pss-bench")

    # warm up the JVM / scheduler so the first query isn't taxed
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    sentinel = _sentinel_sec(spark)

    # Nothing is cached outside the timed region, and the cache is
    # cleared before every rep, so each rep computes from the parquet
    # inputs (OPTIMIZATION_r11.md compares this with pre-cached views).
    best: dict[str, float] = {name: float("inf") for name in names}
    # Round-robin the reps (pass 1 runs every query, then pass 2, ...)
    # instead of repeating each query back-to-back: co-tenant CPU spikes
    # on this shared box last seconds, so consecutive reps of one query
    # can ALL land inside a spike (r2's unexplained 2x on two unchanged
    # queries). Interleaving puts each query's reps many seconds apart,
    # so min-of-passes removes transient contention.
    for _ in range(max(1, REPS)):
        for name in names:
            spark.catalog.clearCache()  # every rep computes from parquet
            t0 = time.perf_counter()
            with pin_scope():  # the query's pins do not age the session
                queries[name](spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
            best[name] = min(best[name], time.perf_counter() - t0)
    timings = {name: round(best[name], 4) for name in names}

    total = round(sum(timings.values()), 4)
    print(
        json.dumps(
            {
                "metric": (
                    "headline_queries_total"
                    if names == HEADLINE
                    else "queries_total"
                ),
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "sentinel_sec": round(sentinel, 4),
                "load_ratio": round(sentinel / SENTINEL_QUIET_SEC, 3),
            }
        )
    )


if __name__ == "__main__":
    main()
