"""Suite-resident plan-shape guards (VERDICT r9 item 6): run the 100x
smoke's six heavy families at sf0.001 / factor 2 — guards only, no
timing assertions — through the SAME run_families/plan_problems code
the manual smoke uses, so a plan regression (lost broadcast, lost
WindowGroupLimit partial top-k, a sneaked shuffle join or cartesian)
fails the suite instead of waiting for the next manual 100x run.

The guard strings are judged on EXECUTED (post-AQE) plans: each
family actually runs to a noop sink at this tiny scale (~tens of
seconds total on local[*])."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import scale_smoke_100x as smoke  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def test_heavy_family_plans_keep_their_shape(spark, sf_dir):
    results, plans = smoke.run_families(spark, sf_dir, factor=2)
    # all six families built, executed, and captured
    assert set(plans) == {
        "doc_minhash_lsh_pairs",
        "emb_cosine_topk",
        "emb_ivf_ann",
        "ts_butterworth_longspan",
        "ts_butterworth_bulk_lanes",
        "doc_contamination_screened",
        "doc_crawl_screen",
    }
    assert all(v > 0 for v in results.values())
    assert smoke.plan_problems(plans) == []


def test_pitch_tempo_pin_holds(spark, sf_dir):
    """The r10 audit caught the pitch/tempo frame tables re-running
    their ranking window once per consuming subtree (24 parquet scans
    in the executed plan). The fix pins the table once; this guard
    asserts the executed plan's LIVE operators read the checkpoint
    instead of re-scanning parquet, so the regression can't sneak
    back."""
    import __spark_entry__ as entry
    from pennsieve_streaming_spark.util import live_plan_counts

    for name in ("mm_audio_pitch", "mm_audio_tempo"):
        df = entry.queries()[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        c = live_plan_counts(
            df,
            {"scan": "Scan parquet", "cart": "CartesianProduct"},
            executed=True,
        )
        assert c["scan"] == 0, f"{name}: {c['scan']} live raw scans after pin"
        assert c["cart"] == 0


def test_fingerprint_pin_holds(spark, sf_dir):
    """The r11 global plan scan caught the H&K fingerprint tables
    re-running the per-frame FFT pandas stage once per consuming
    subtree (30 parquet scans in mm_audio_offset_search's planned
    query, 24 in mm_audio_match_pairs — the pitch/tempo replay
    disease in the fingerprint family). The fix materializes the
    narrow (channel, win, fp) tables once (a pin); this guard
    asserts the executed plan's LIVE operators read the
    materializations instead of re-scanning parquet."""
    import __spark_entry__ as entry
    from pennsieve_streaming_spark.util import live_plan_counts

    for name in ("mm_audio_match_pairs", "mm_audio_offset_search"):
        df = entry.queries()[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        c = live_plan_counts(
            df,
            {"scan": "Scan parquet", "cart": "CartesianProduct"},
            executed=True,
        )
        assert c["scan"] == 0, f"{name}: {c['scan']} live raw scans after pin"
        assert c["cart"] == 0


def test_cross_corpus_broadcast_delta(spark, sf_dir):
    """A small crawl delta must BROADCAST into the containment join
    so the standing corpus's shingle table never shuffles (r10
    VERDICT #3 — the docstring promised this; now the plan proves
    it): the executed sh-join is a BroadcastHashJoin and no
    SortMergeJoin appears anywhere in the plan."""
    import __spark_entry__ as entry

    df = entry.queries()["doc_incremental_dedup"](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "delta shuffled the corpus"
    assert "CartesianProduct" not in plan


def test_cross_corpus_broadcast_gate(spark):
    """The auto gate: a delta over CROSS_CORPUS_BROADCAST_DOCS ids
    falls back to the shuffle join (broadcast_delta resolves False),
    a small one broadcasts — proven via the forced flags on a tiny
    frame (the bounded count itself is exercised by the default-path
    test above)."""
    from pennsieve_streaming_spark.llm.dedup import (
        cross_corpus_containment,
    )

    sh = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 12)], "doc_id long, sh long"
    )
    new_ids = spark.createDataFrame([(1,)], "doc_id long")
    for flag, want in ((True, True), (False, False)):
        df = cross_corpus_containment(
            sh, new_ids, 0.5, broadcast_delta=flag
        )
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        has_smj = "SortMergeJoin" in plan
        if want:
            assert not has_smj
        # rows identical either way
        rows = {tuple(r) for r in df.collect()}
        assert rows == {(1, 2, 2, 1, 0.5, True)}


def test_incremental_build_pins_and_plan(spark, sf_dir):
    """doc_incremental_build's four pinned stages (exact-deduped
    delta, the delta shingle table the broadcast-delta screen fast
    path pins, screened fresh set, manifest base) each execute ONCE
    with a shuffle-join-free shape, and the finish plan reads only
    the checkpoints (zero raw scans, no SMJ after the seqs
    broadcast)."""
    import pennsieve_streaming_spark.util as U
    import __spark_entry__ as entry

    captured = []
    real_pin = U.pin

    def spy(df):
        r = real_pin(df)
        captured.append(df)
        return r

    # entry binds ``pin`` at module level (r11), so patch the
    # already-bound symbol there as well as the util module — the spy
    # must work whether or not entry was imported by an earlier test.
    U.pin = spy
    entry.pin = spy
    try:
        df = entry.q_incremental_build(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
    finally:
        U.pin = real_pin
        entry.pin = real_pin
    assert len(captured) == 4
    for stage in captured:
        p = stage._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in p
        assert "CartesianProduct" not in p
    final = df._jdf.queryExecution().executedPlan().toString()
    assert final.count("FileScan") + final.count("Scan parquet") == 0
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final


def test_crawl_screen_plan_no_joins(spark, sf_dir):
    """The bloom crawl screen's scoring pass is ONE narrow map: the
    executed plan carries only broadcast joins (the 1-row bitset and
    the delta id semi-join) — no SMJ, no shuffle join, no cartesian
    anywhere."""
    import __spark_entry__ as entry

    df = entry.queries()["doc_crawl_screen"](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_live_scan_count_stops_at_cached_relation(spark, sf_dir):
    """live_plan_nodes must not descend into an ``InMemoryTableScan``:
    the launcher's cached serving samples are read through one, and
    their stored lineage ran once at the fill. A persisted frame read
    by both join legs counts ZERO live source scans, while the full
    explain output still prints the cached lineage."""
    from pennsieve_streaming_spark.util import live_plan_counts

    base = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    p = base.persist()
    p.count()
    try:
        out = p.alias("x").join(
            p.alias("y"),
            F.col("x.event_type") == F.col("y.event_type"),
        )
        c = live_plan_counts(
            out, {"scan": "Scan parquet", "imts": "InMemoryTableScan"}
        )
        assert c["scan"] == 0 and c["imts"] == 2
        full = out._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "Scan parquet" in full
    finally:
        p.unpersist()


def test_pin_streaming_passthrough(spark):
    """localCheckpoint raises on a stream; pin passes it through."""
    from pennsieve_streaming_spark.util import pin

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    assert pin(stream) is stream


def test_pin_scope_releases_its_own_pins(spark, sf_dir):
    """pin_scope frees exactly the pins made inside it: around
    doc_minhash_lsh_pairs (3 pins) the persisted RDDs return to their
    entry set, a frame pinned outside the scope stays readable, and a
    nested scope releases only its own pins. Sets, not sizes: the JVM
    may garbage-collect a pin no live frame references (an earlier
    test's, or a checkpoint whose consumer was itself checkpointed)
    at any time, which only ever shrinks the set."""
    import __spark_entry__ as entry
    import pennsieve_streaming_spark.util as U

    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet())

    def rdd_id(df):
        return df._jdf.logicalPlan().rdd().id()

    outside = U.pin(spark.range(10).selectExpr("id * 2 AS v"))
    at_entry = persisted()
    with U.pin_scope():
        df = entry.queries()["doc_minhash_lsh_pairs"](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        scoped = list(U._PIN_SCOPE.get())
        assert len(scoped) == 3
    left = persisted()
    assert left <= at_entry and not left & set(scoped)
    assert rdd_id(outside) in left
    assert sorted(r.v for r in outside.collect()) == list(range(0, 20, 2))

    with U.pin_scope():
        a = U.pin(spark.range(5))
        with U.pin_scope():
            b = U.pin(a.selectExpr("id + 1 AS id"))
            assert {rdd_id(a), rdd_id(b)} <= persisted()
        assert rdd_id(a) in persisted() and rdd_id(b) not in persisted()
        assert a.count() == 5
    assert rdd_id(a) not in persisted()
