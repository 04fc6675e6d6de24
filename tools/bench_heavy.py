#!/usr/bin/env python
"""Per-round perf record for the heavy LLM-pipeline operators
(r10 VERDICT #1): the queries that dominate a real 100 TB run have no
round-over-round timing history in the 17-query headline bench — a
regression there was invisible until a 100x smoke.

Runs the heavy set at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
and prints ONE JSON line in the same shape as bench.py, including the
load sentinel so a loaded box is visible in the record:

  {"metric": "heavy_queries_total", "value": N, "unit": "sec",
   "queries": {...}, "sf": 0.1, "sentinel_sec": s, "load_ratio": r}

Second scale point: build /tmp/sf1 with tools/make_sf1.py, then
  SPARK_GRAFT_SF_DIR=/tmp/sf1 python tools/bench_heavy.py
Round-over-round rule (NOTES_r11): a heavy query is a regression when
its quiet-box (load_ratio <= 1.15) time exceeds the prior round's
recorded quiet-box time by more than 1.25x.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import __spark_entry__ as entry  # noqa: E402
from bench import SENTINEL_QUIET_SEC, _sentinel_sec  # noqa: E402
from pennsieve_streaming_spark.session import get_spark  # noqa: E402
from pennsieve_streaming_spark.util import pin_scope  # noqa: E402

# The 100 TB-dominant set: screened decontamination (whole-corpus
# bloom + gated exact audit), the composed corpus build, the full
# minhash funnel (signatures -> banded pairs -> connected components),
# IVF-PQ ANN, the end-to-end BPE corpus encode, and the heaviest
# multimodal lane (blocked-halo tempo).
HEAVY = [
    "doc_contamination_screened",
    "doc_corpus_build",
    "doc_minhash_signatures",
    "doc_minhash_lsh_pairs",
    "doc_dup_clusters",
    "emb_ann_ivf_pq",
    "doc_bpe_token_ids",
    "mm_audio_tempo",
    # r11 additions: the incremental-crawl production shapes
    "doc_incremental_dedup_screened",
    "doc_incremental_build",
]

# min-of-3 interleaved (same rationale as bench.py's min-of-5; the
# heavy set is ~4x slower per pass, so 3 passes keep the whole run
# under ~5 min at sf0.1 while still separating a query's reps by
# minutes of wall-clock).
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("pss-bench-heavy")

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    sentinel = _sentinel_sec(spark)

    # No pre-cached tables, and the cache is cleared before every rep:
    # each rep computes from the parquet inputs (same measurement fix
    # as bench.py — see OPTIMIZATION_r11.md).
    queries = entry.queries()
    best: dict[str, float] = {name: float("inf") for name in HEAVY}
    for _ in range(max(1, REPS)):
        for name in HEAVY:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            with pin_scope():
                queries[name](spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
            best[name] = min(best[name], time.perf_counter() - t0)
    timings = {name: round(best[name], 4) for name in HEAVY}

    print(
        json.dumps(
            {
                "metric": "heavy_queries_total",
                "value": round(sum(timings.values()), 4),
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
