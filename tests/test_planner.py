"""Query-router decisions from catalog metadata only."""

from __future__ import annotations

import pytest

from pennsieve_streaming_spark.operators.window import QueryLimitExceeded
from pennsieve_streaming_spark.plans import plan_pixel_query

US = 1_000_000
HOUR = 3600 * US


def test_raw_when_zoomed_in():
    # 2 samples per pixel at 250 Hz -> raw
    p = plan_pixel_query(0, 10 * US, 8000, 250.0)
    assert p.path == "raw"
    assert p.estimated_input_rows == 2500


def test_raw_over_limit_rejected():
    with pytest.raises(QueryLimitExceeded):
        plan_pixel_query(0, 3600 * US, 8000, 250.0)  # 900k samples raw


def test_direct_when_no_level_divides():
    # pixel 166646 µs: no ladder level divides -> direct from raw
    p = plan_pixel_query(0, 23 * US, 166_646, 200.0)
    assert p.path == "direct"
    assert p.estimated_output_rows == 23 * US // 166_646


def test_rollup_for_wide_views():
    # 1 px = 1 hour over 30 days at 1 kHz -> hourly rollup
    p = plan_pixel_query(0, 30 * 24 * HOUR, HOUR, 1000.0)
    assert p.path == "rollup"
    assert p.rollup_level_us == HOUR
    assert p.estimated_input_rows == 30 * 24
    # vs 2.6e9 raw rows — the whole point
    assert p.estimated_input_rows < 1000


def test_rollup_skipped_when_buckets_subsample():
    # 1 s rollup buckets hold <1 sample at 0.5 Hz -> direct
    p = plan_pixel_query(0, 1000 * US, 10 * US, 0.5)
    assert p.path in ("direct", "raw")


def test_explicit_query_limit_min_rule():
    # the driver collects min(estimate, queryLimit) rows: a huge
    # explicit limit cannot lift the 100k guard, a small one admits
    with pytest.raises(QueryLimitExceeded):
        plan_pixel_query(0, 3600 * US, 8000, 250.0, query_limit=10**9)
    p = plan_pixel_query(0, 3600 * US, 8000, 250.0, query_limit=5)
    assert p.path == "raw"
    assert p.estimated_input_rows == 900_000
    assert p.estimated_output_rows == 5
    # a limit above the estimate leaves the estimate in charge
    p = plan_pixel_query(0, 10 * US, 8000, 250.0, query_limit=10**9)
    assert p.estimated_output_rows == 2500


def test_filtered_or_montaged_channel_resamples_directly():
    # the same wide view that routes to the hourly rollup, but the
    # channel's samples exist only after a filter or montage
    p = plan_pixel_query(0, 30 * 24 * HOUR, HOUR, 1000.0, transformed=True)
    assert p.path == "direct"
    assert p.rollup_level_us is None
    # an empty ladder means no rollups, not the default ladder
    p = plan_pixel_query(0, 30 * 24 * HOUR, HOUR, 1000.0, rollup_levels_us=[])
    assert p.path == "direct"


def test_off_grid_window_resamples_directly():
    # downsample_from_rollup needs both window bounds on the level grid
    for start, end in ((1, 30 * 24 * HOUR), (0, 30 * 24 * HOUR + 1)):
        p = plan_pixel_query(start, end, HOUR, 1000.0)
        assert p.path == "direct", (start, end)
    assert plan_pixel_query(HOUR, 3 * HOUR, HOUR, 1000.0).path == "rollup"


# --------------------------------------------------------------------------
# physical-plan shape assertions for the similarity/dedup hot paths
# --------------------------------------------------------------------------

def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_cosine_topk_plan_broadcasts_and_prereduces(spark):
    """The corpus side must never shuffle for scoring: queries are
    broadcast, and the native WindowGroupLimit partial top-k sits
    BELOW the single rank exchange (the JVM-side pre-reduction that
    replaced the old MapInPandas partial_topk stage — the hot path
    must stay free of the Python boundary)."""
    from pyspark.sql import functions as F

    from pennsieve_streaming_spark.llm.similarity import cosine_topk

    embs = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    df = cosine_topk(embs, embs.filter(F.col("vec_id") < 4), k=3)
    plan = _plan(df)
    assert "BroadcastExchange" in plan          # query side broadcast
    # no Python evaluation anywhere in the exact-top-k path
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the pre-reduction: a WindowGroupLimit below the rank exchange
    # (executed plans print the partial instance under Exchange)
    assert plan.count("WindowGroupLimit") >= 2  # partial + final
    below_exchange = plan.split("Exchange hashpartitioning")[-1]
    assert "WindowGroupLimit" in below_exchange


def test_near_dup_plan_no_cartesian(spark):
    """LSH blocking must produce an equi-join on bucket, never a
    cartesian/broadcast nested loop over the corpus."""
    from pennsieve_streaming_spark.llm.similarity import cosine_near_dup_pairs

    embs = spark.createDataFrame(
        [(i, [float((i * 5 + j) % 11) for j in range(8)]) for i in range(100)],
        "vec_id long, embedding array<double>",
    )
    plan = _plan(
        cosine_near_dup_pairs(
            embs, min_cosine=0.1, n_tables=2, bits_per_table=4, dim=8
        )
    )
    assert "CartesianProduct" not in plan
    # banded LSH: candidates come from an equi-join on (tbl, key)
    assert "tbl" in plan and "key" in plan


def test_dedup_candidate_join_is_equi(spark):
    """The LSH candidate join must be an equi-join on (band, band_key)."""
    from pennsieve_streaming_spark.llm.dedup import (
        lsh_band_keys,
        lsh_candidate_pairs,
        minhash_wide,
    )

    sh = spark.createDataFrame(
        [(d, (d * 31 + k) % 97) for d in range(50) for k in range(10)],
        "doc_id long, sh long",
    )
    plan = _plan(lsh_candidate_pairs(lsh_band_keys(minhash_wide(sh))))
    assert "CartesianProduct" not in plan
    assert "band_key" in plan


def test_lsh_degenerate_corpus_bucket_cap(spark):
    """Skew guard: 10k docs landing in ONE (band, band_key) bucket must
    NOT produce an all-pairs (≈5·10⁷-row) join — the capped form emits
    one star pair per non-anchor member and keeps every member
    connected to the bucket anchor."""
    from pennsieve_streaming_spark.llm.dedup import lsh_candidate_pairs

    n = 10_000
    band_keys = spark.range(n).selectExpr(
        "id AS doc_id", "CAST(0 AS LONG) AS band", "CAST(42 AS LONG) AS band_key"
    )
    pairs = lsh_candidate_pairs(band_keys, max_bucket_size=50)
    rows = pairs.collect()
    # star: exactly n-1 pairs, all anchored at the min doc_id
    assert len(rows) == n - 1
    assert all(r.doc_a == 0 for r in rows)
    assert sorted(r.doc_b for r in rows) == list(range(1, n))


def test_lsh_bucket_cap_noop_below_cap(spark):
    """When no bucket exceeds the cap, the capped form must return the
    exact same candidate set as the uncapped all-pairs form."""
    from pennsieve_streaming_spark.llm.dedup import (
        lsh_band_keys,
        lsh_candidate_pairs,
        minhash_wide,
    )

    sh = spark.createDataFrame(
        [(d, (d * 31 + k) % 97) for d in range(50) for k in range(10)],
        "doc_id long, sh long",
    )
    bk = lsh_band_keys(minhash_wide(sh))
    capped = sorted(
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(bk, max_bucket_size=1000).collect()
    )
    uncapped = sorted(
        (r.doc_a, r.doc_b) for r in lsh_candidate_pairs(bk).collect()
    )
    assert capped == uncapped and len(capped) > 0


def test_lsh_bucket_cap_preserves_connectivity(spark):
    """Oversized buckets lose pair *listings* but never cluster
    membership: every member of a hot bucket remains reachable from
    the anchor, and small buckets stay exhaustively paired."""
    from pennsieve_streaming_spark.llm.dedup import lsh_candidate_pairs

    rows = (
        # hot bucket: docs 0-99 share (0, 7)
        [(d, 0, 7) for d in range(100)]
        # small bucket: docs 200-203 share (1, 9)
        + [(d, 1, 9) for d in range(200, 204)]
    )
    bk = spark.createDataFrame(rows, "doc_id long, band long, band_key long")
    pairs = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(bk, max_bucket_size=10).collect()
    }
    hot = {p for p in pairs if p[0] < 200}
    small = {p for p in pairs if p[0] >= 200}
    assert hot == {(0, d) for d in range(1, 100)}
    assert small == {
        (a, b) for a in range(200, 204) for b in range(a + 1, 204)
    }


def test_lsh_capped_plan_shape(spark):
    """The capped candidate path must stay equi-join-only: no
    cartesian product, and the bucket-stats side joins back on
    (band, band_key) — one row per key, so the join cannot explode."""
    from pennsieve_streaming_spark.llm.dedup import (
        lsh_band_keys,
        lsh_candidate_pairs,
        minhash_wide,
    )

    sh = spark.createDataFrame(
        [(d, (d * 31 + k) % 97) for d in range(50) for k in range(10)],
        "doc_id long, sh long",
    )
    plan = _plan(
        lsh_candidate_pairs(
            lsh_band_keys(minhash_wide(sh)), max_bucket_size=50
        )
    )
    assert "CartesianProduct" not in plan
    assert "band_key" in plan and "_bn" in plan


def test_simhash_banded_recall_prefix_diff(spark):
    """Pigeonhole recall: a near-dup pair whose differing bits all fall
    inside the OLD top-12 prefix (bits 31..20) was invisible to
    single-prefix blocking; the 5-band layout must find it, for every
    placement of <=4 differing bits."""
    from pennsieve_streaming_spark.llm.dedup import simhash_near_pairs

    base = 0b1010_1100_0011_0101_1001_0110_1010_0101
    # pairs differing in bits spread across the word, incl. all-in-prefix
    cases = [
        (1, 2, base, base ^ (1 << 28) ^ (1 << 22)),          # both in top-12
        (3, 4, base, base ^ (1 << 31) ^ (1 << 25) ^ (1 << 21)),  # 3 in top-12
        (5, 6, base, base ^ (1 << 30) ^ (1 << 19) ^ (1 << 7) ^ (1 << 0)),
        (7, 8, base, base),                                   # identical
    ]
    rows = []
    for a_id, b_id, fa, fb in cases:
        rows.append((a_id, fa))
        rows.append((b_id, fb))
    fp = spark.createDataFrame(rows, "doc_id long, simhash long")
    found = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_pairs(fp, max_hamming=4).collect()
    }
    assert found[(1, 2)] == 2
    assert found[(3, 4)] == 3
    assert found[(5, 6)] == 4
    assert found[(7, 8)] == 0


def test_simhash_banded_bucket_cap(spark):
    """Hot SimHash band buckets star-pair like the MinHash-LSH path:
    n identical fingerprints produce 2n-3 two-star anchor pairs
    ((min, i) plus (i, max), overlapping in (min, max)), not n²/2."""
    from pennsieve_streaming_spark.llm.dedup import simhash_near_pairs

    n = 2000
    fp = spark.range(n).selectExpr(
        "id AS doc_id", "CAST(123456789 AS LONG) AS simhash"
    )
    rows = simhash_near_pairs(fp, max_bucket_size=20).collect()
    assert len(rows) == 2 * n - 3
    assert all(
        (r.doc_a == 0 or r.doc_b == n - 1) and r.hamming == 0 for r in rows
    )


def test_simhash_cap_second_anchor_recall(spark):
    """Planted pair whose near neighbor is NOT the min-doc anchor: doc
    98 is > max_hamming from the bucket's min anchor (so the first
    star lists nothing for it) but hamming-1 from doc 99, the MAX-doc
    anchor — the second star must surface (98, 99)."""
    from pennsieve_streaming_spark.llm.dedup import simhash_near_pairs

    s = 0b1010_1100_0011_0101_1001_0110_1010_0101
    # 32-bit 5-band layout: b0=25-31, b1=18-24, b2=12-17, b3=6-11,
    # b4=0-5. t keeps band 4 equal to s (the shared bucket) but
    # differs from s in 6 bits spread over bands 0-3.
    t = s ^ (1 << 30) ^ (1 << 27) ^ (1 << 22) ^ (1 << 19) ^ (1 << 14) ^ (1 << 8)
    # 98 differs from 99 by ONE bit in each of bands 0-3 (hamming 4),
    # so the pair collides ONLY in band 4's oversized bucket — the
    # all-pairs small-bucket path can never find it.
    d98 = t ^ (1 << 31) ^ (1 << 24) ^ (1 << 17) ^ (1 << 11)
    rows = [(i, s) for i in range(21)] + [(98, d98), (99, t)]
    fp = spark.createDataFrame(rows, "doc_id long, simhash long")
    found = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_pairs(fp, max_bucket_size=10).collect()
    }
    assert found[(98, 99)] == 4
    # sanity: both planted docs are far from the min anchor's
    # fingerprint, so the first star lists neither
    assert bin(s ^ d98).count("1") > 4 and bin(s ^ t).count("1") > 4
    assert not any(98 in p or 99 in p for p in found if p != (98, 99))


def test_substring_dup_plan_broadcasts_dup_grams(spark):
    """The dup-gram set (small) must broadcast back onto the gram
    stream — no sort-merge join of two corpus-sized sides — and the
    plan must contain no cartesian product."""
    from pennsieve_streaming_spark.llm.dedup import duplicated_span_stats

    docs = spark.createDataFrame(
        [(i, "a b c d e f g h i j") for i in range(30)],
        "doc_id long, text string",
    )
    df = duplicated_span_stats(docs, k=8)
    df.collect()  # let AQE finalize: the small dup-gram side demotes to broadcast
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # static plan co-partitions both sides on gh (the right 100 TB
    # shape when the dup-gram set is itself huge); at this size AQE
    # must have turned it into a broadcast join
    assert "BroadcastHashJoin" in plan


def test_bm25_plan_query_side_broadcast(spark):
    """Query terms, df table, and corpus stats are broadcast; the only
    non-broadcast join key is doc_id (document lengths)."""
    from pennsieve_streaming_spark.llm.text import bm25_search

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(30)],
        "doc_id long, text string",
    )
    plan = _plan(bm25_search(docs, [(0, "alpha gamma")], top_k=5))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 3


def test_hll_plan_constant_state(spark):
    """HLL must reduce to the register groupBy (partial+final) plus
    the single-row fold — no joins, no extra exchanges."""
    from pennsieve_streaming_spark.llm.sketch import hll_distinct

    df = spark.range(1000).selectExpr("CAST(id AS STRING) AS s")
    plan = _plan(hll_distinct(df, "s", p=8))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2


def test_kmv_plan_take_ordered(spark):
    """KMV's min-k must plan as TakeOrderedAndProject (per-partition
    heaps), never a global sort."""
    from pennsieve_streaming_spark.llm.sketch import kmv_distinct

    df = spark.range(1000).selectExpr("CAST(id AS STRING) AS s")
    plan = _plan(kmv_distinct(df, "s", k=64))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan or "SortAggregate" in plan


def test_filtered_ann_label_predicate_pushes_to_scan(spark, sf_dir):
    """The metadata prefilter must reach the parquet scan as a pushed
    filter — pruning happens before any vector is scored."""
    from pennsieve_streaming_spark.llm import cosine_topk
    from pyspark.sql import functions as F

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = cosine_topk(
        embs.filter(F.col("label") == 0),
        embs.filter(F.col("vec_id") < 5),
        k=3,
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("EqualTo(label,0)" in p for p in pushed), pushed


def test_locf_plan_single_channel_exchange_no_join(spark):
    """LOCF is the union-window as-of: one hash exchange on channel,
    NO join node anywhere (the whole point vs a range join)."""
    from pennsieve_streaming_spark.operators.align import asof_locf

    s = spark.createDataFrame(
        [("a", 10, 1.0)], "channel string, ts long, value double"
    )
    g = spark.createDataFrame([("a", 20)], "channel string, ts long")
    plan = asof_locf(s, g)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("hashpartitioning(channel") <= 2  # window exchange (+AQE reuse)


def test_span_point_join_aggregation_is_partial(spark):
    """The interval join's per-span aggregation must show a partial
    (map-side) HashAggregate before the exchange."""
    from pennsieve_streaming_spark.operators.align import span_point_join

    spans = spark.createDataFrame(
        [("s", 0, 100)], "channel string, span_lo long, span_hi long"
    )
    pts = spark.createDataFrame(
        [("p", 5, 1.0)], "channel string, ts long, value double"
    )
    plan = (
        span_point_join(spans, pts, 50)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_count" in plan or "partial" in plan
    assert "CartesianProduct" not in plan


def test_cms_estimate_counter_side_broadcast(spark):
    """CMS estimation joins the (row,bucket) keys against the counter
    table as a BROADCAST — the counters never shuffle."""
    from pennsieve_streaming_spark.llm.sketch import (
        cms_counters,
        cms_estimate,
    )

    df = spark.createDataFrame([("x",), ("y",)], "tok string")
    cnt = cms_counters(df, "tok", depth=3, width=64)
    est = cms_estimate(cnt, df.distinct(), "tok", depth=3, width=64)
    plan = est._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_correlation_plan_no_cartesian_and_partial_sums(spark):
    from pennsieve_streaming_spark.operators.stats import channel_correlation

    v = spark.createDataFrame(
        [("a", 0, 1.0), ("b", 0, 2.0)], "channel string, ts long, value double"
    )
    plan = (
        channel_correlation(v)._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "partial" in plan  # map-side combine on the pair sums


def test_histogram_shuffle_bounded_by_bins(spark):
    """Histogram aggregates with map-side partials so the exchange
    carries at most |channels|x|bins| rows."""
    from pennsieve_streaming_spark.operators.stats import value_histogram

    s = spark.createDataFrame(
        [("a", 0, 1.0)], "channel string, ts long, value double"
    )
    plan = (
        value_histogram(s, 0.0, 10.0, 5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_count" in plan or "partial" in plan


def test_winnow_overlap_plan_no_cartesian(spark):
    """The fingerprint self-join must be an equi-join on fp (bounded
    per-key fan-out via the df cap), never a cartesian product."""
    from pennsieve_streaming_spark.llm.dedup import winnow_overlap_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j")],
        "doc_id long, text string",
    )
    plan = _plan(winnow_overlap_pairs(docs, k=3, window=2, min_shared=1))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin [fp" in plan or "hashJoin" in plan.lower()


def test_pagerank_lineage_truncated_per_iteration(spark):
    """Each iteration localCheckpoints, so the final plan is a FLAT
    scan of materialized state — no join tree growing with n_iter (the
    classic iterative-Spark lineage explosion). Five iterations must
    produce the same plan shape as one."""
    from pennsieve_streaming_spark.llm.graph import pagerank

    docs = spark.range(10).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    p1 = _plan(pagerank(docs, pairs, n_iter=1))
    p5 = _plan(pagerank(docs, pairs, n_iter=5))
    for plan in (p1, p5):
        assert "Scan ExistingRDD" in plan
        assert "Join" not in plan and "CartesianProduct" not in plan
    assert abs(len(p5) - len(p1)) < 80  # no per-iteration plan growth


def test_cluster_sample_assignment_is_narrow(spark):
    """Centroid assignment adds no Exchange beyond the single
    per-cluster ranking window shuffle."""
    from pennsieve_streaming_spark.llm.similarity import (
        cluster_sample,
        golden_centroids,
    )

    embs = spark.createDataFrame(
        [(1, [0.1] * 4), (2, [0.2] * 4)], "vec_id long, embedding array<float>"
    )
    plan = _plan(cluster_sample(embs, golden_centroids(2, 4), cap=5))
    # exactly one hashpartitioning exchange: the list_id ranking window
    assert plan.count("Exchange hashpartitioning") == 1


def test_event_transitions_plan_take_ordered(spark):
    """Global top-k must plan as TakeOrderedAndProject, not a full
    sort."""
    from pennsieve_streaming_spark.operators.analytics import (
        event_transitions,
    )

    ev = spark.createDataFrame(
        [(0, 1, 1, "a"), (1, 2, 1, "b")],
        "ts long, event_id long, user_id long, event_type string",
    )
    plan = _plan(event_transitions(ev, k=5))
    assert "TakeOrderedAndProject" in plan


def test_power_spectrum_no_python_and_partial_agg(spark):
    from pennsieve_streaming_spark.dsp.spectral import power_spectrum

    s = spark.createDataFrame(
        [("c", 0, 1.0)], "channel string, ts long, value double"
    )
    plan = _plan(power_spectrum(s, n_bins=2, window_samples=4))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial" in plan


def test_dhash_pairs_plan_capped_no_cartesian(spark):
    """The image near-dup path must keep the SimHash shapes: band-key
    equi-join (never cartesian) and the hot-bucket stats cap in the
    plan."""
    from pyspark.sql import functions as F

    from pennsieve_streaming_spark.llm.dedup import simhash_near_pairs
    from pennsieve_streaming_spark.llm.imagehash import dhash_synthetic

    docs = spark.range(600).selectExpr("id AS doc_id")
    dh = dhash_synthetic(docs).select(
        F.col("media_id").alias("doc_id"), F.col("dhash").alias("simhash")
    )
    df = simhash_near_pairs(dh, max_hamming=4, bits=64, max_bucket_size=50)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "_bn" in plan  # the bucket-size cap reached the plan


def test_bpe_encode_plan_no_cartesian_and_partial_aggs(spark):
    """The distributed BPE encode path (the merges table itself is a
    bounded driver-built artifact) must stay equi-join/window shaped:
    no cartesian anywhere, aggregates map-side partial."""
    from pennsieve_streaming_spark.llm.text import bpe_encode

    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat here") for i in range(30)],
        "doc_id long, text string",
    )
    eplan = _plan(bpe_encode(docs, n_merges=2))
    assert "CartesianProduct" not in eplan
    assert "partial_count" in eplan or "HashAggregate" in eplan
