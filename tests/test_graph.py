"""Connected-components cluster dedup (llm/graph.py).

Reference semantics anchor: the reference has no graph operator; this
is part of the LLM-pipeline dedup surface. The large-star/small-star
implementation is checked against a plain union-find on random edge
sets, plus shape-specific cases (chain, star, cycle, singletons) that
exercise the convergence loop.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from pennsieve_streaming_spark.llm.graph import (
    cluster_dedup,
    components_for,
    connected_components,
)


def _pairs_df(spark, edges):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "doc_a long, doc_b long"
    )


def _labels(spark, edges):
    out = connected_components(_pairs_df(spark, edges)).collect()
    return {r["doc_id"]: r["component"] for r in out}


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical min-label per node
    roots = {}
    for n in parent:
        roots[n] = find(n)
    # root of a component is its min member by construction above?
    # Not guaranteed by path order — normalize: min member per root.
    comp_members = {}
    for n, r in roots.items():
        comp_members.setdefault(r, []).append(n)
    return {
        n: min(members)
        for members in comp_members.values()
        for n in members
    }


def test_chain_collapses_to_min(spark):
    # A~B, B~C, C~D with no shortcut edges: pairs-only dedup would
    # keep C; the component label must be 1 for all four.
    labels = _labels(spark, [(1, 2), (2, 3), (3, 4)])
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1}


def test_star_with_high_hub(spark):
    labels = _labels(spark, [(10, 1), (10, 2), (10, 3)])
    assert labels == {1: 1, 2: 1, 3: 1, 10: 1}


def test_cycle_and_two_components(spark):
    labels = _labels(spark, [(1, 2), (2, 3), (3, 1), (7, 9)])
    assert labels == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_self_loops_ignored(spark):
    labels = _labels(spark, [(5, 5), (5, 6)])
    assert labels == {5: 5, 6: 5}


def test_random_graphs_match_union_find(spark):
    rng = random.Random(42)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(45)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        expected = _union_find(edges)
        got = _labels(spark, edges)
        assert got == expected, f"trial {trial}"


def test_components_for_adds_singletons(spark):
    docs = spark.createDataFrame(
        [(i,) for i in range(6)], "doc_id long"
    )
    out = components_for(docs, _pairs_df(spark, [(1, 4), (4, 5)]))
    labels = {r["doc_id"]: r["component"] for r in out.collect()}
    assert labels == {0: 0, 1: 1, 2: 2, 3: 3, 4: 1, 5: 1}


def test_cluster_dedup_keeps_min_per_cluster(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(6)],
        "doc_id long, text string",
    )
    # chain 0~1~2 plus pair 4~5; doc 3 untouched
    out = cluster_dedup(docs, _pairs_df(spark, [(0, 1), (1, 2), (4, 5)]))
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {0, 3, 4}
    assert rows[0]["cluster_n"] == 3
    assert rows[3]["cluster_n"] == 1
    assert rows[4]["cluster_n"] == 2
    # survivor keeps its original columns
    assert rows[0]["text"] == "text 0"


def test_empty_pairs(spark):
    docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    out = components_for(docs, empty).collect()
    assert {r["doc_id"]: r["component"] for r in out} == {1: 1, 2: 2}
    survivors = cluster_dedup(docs, empty).collect()
    assert sorted(r["doc_id"] for r in survivors) == [1, 2]
    assert all(r["cluster_n"] == 1 for r in survivors)


# ---------------------------------------------------------------------------
# Exact-substring duplication profile (llm/dedup.py duplicated_span_stats)
# ---------------------------------------------------------------------------


def test_substring_dup_overlapping_spans_union(spark):
    from pennsieve_streaming_spark.llm.dedup import duplicated_span_stats

    # docs 1 and 2 share the 6-token run "a b c d e f" => with k=4,
    # duplicated grams start at pos 1,2,3 in doc 1 (overlapping); the
    # interval union is [1, 7) = 6 tokens, not 3*4.
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f x y"),
            (2, "q a b c d e f r"),
            (3, "nothing shared here at all ok"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in duplicated_span_stats(docs, k=4).collect()}
    assert out[1].n_dup_grams == 3 and out[1].dup_covered == 6
    assert out[2].n_dup_grams == 3 and out[2].dup_covered == 6
    assert out[3].n_dup_grams == 0 and out[3].dup_covered == 0
    assert out[1].dup_fraction == 6 / 8


def test_substring_dup_within_doc_repeat_not_cross_doc(spark):
    from pennsieve_streaming_spark.llm.dedup import duplicated_span_stats

    # the repeated 4-gram lives only inside doc 1 -> not a cross-doc dup
    docs = spark.createDataFrame(
        [
            (1, "a b c d z z a b c d"),
            (2, "totally other words right here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in duplicated_span_stats(docs, k=4).collect()}
    assert out[1].n_dup_grams == 0 and out[1].dup_covered == 0


def test_substring_dup_short_and_empty_docs(spark):
    from pennsieve_streaming_spark.llm.dedup import duplicated_span_stats

    docs = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in duplicated_span_stats(docs, k=4).collect()}
    assert out[1].n_tokens == 2 and out[1].dup_fraction == 0.0
    assert out[2].n_tokens == 0 and out[2].dup_fraction == 0.0
    assert out[3].n_tokens == 0


def test_substring_dup_min_docs_threshold(spark):
    from pennsieve_streaming_spark.llm.dedup import duplicated_span_stats

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "a b c d"),
            (3, "a b c d"),
        ],
        "doc_id long, text string",
    )
    out3 = {r.doc_id: r for r in duplicated_span_stats(docs, k=4, min_docs=3).collect()}
    assert all(out3[d].n_dup_grams == 1 for d in (1, 2, 3))
    out4 = {r.doc_id: r for r in duplicated_span_stats(docs, k=4, min_docs=4).collect()}
    assert all(out4[d].n_dup_grams == 0 for d in (1, 2, 3))


def test_substring_dup_random_vs_bruteforce(spark):
    from pennsieve_streaming_spark.llm.dedup import duplicated_span_stats

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(12)]
    k = 4
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 25))))
        for i in range(24)
    ]

    # brute force: gram -> set of docs; per-doc interval union
    gram_docs = {}
    toks = {d: t.split() for d, t in docs}
    for d, ts in toks.items():
        for i in range(len(ts) - k + 1):
            gram_docs.setdefault(tuple(ts[i : i + k]), set()).add(d)
    expected = {}
    for d, ts in toks.items():
        pos = sorted(
            i + 1
            for i in range(len(ts) - k + 1)
            if len(gram_docs[tuple(ts[i : i + k])]) >= 2
        )
        covered = 0
        for j, p in enumerate(pos):
            nxt = pos[j + 1] if j + 1 < len(pos) else p + k
            covered += min(k, nxt - p)
        expected[d] = (len(ts), len(pos), covered)

    out = duplicated_span_stats(
        spark.createDataFrame(docs, "doc_id long, text string"), k=k
    ).collect()
    for r in out:
        n_tok, n_dup, cov = expected[r.doc_id]
        assert r.n_tokens == n_tok, r
        assert r.n_dup_grams == n_dup, r
        assert r.dup_covered == cov, r


def test_substring_scrub_keep_first_policy(spark):
    from pennsieve_streaming_spark.llm.dedup import scrub_duplicated_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h tail1 here"),
            (2, "a b c d e f g h tail2 other"),
            (3, "a b c d e f g h"),
            (4, ""),
            (5, "short doc only"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in scrub_duplicated_spans(docs, k=8).collect()}
    # min doc_id owns the gram: doc 1 untouched
    assert out[1].clean_text == "a b c d e f g h tail1 here"
    assert out[1].n_dropped == 0
    # doc 2 loses the shared 8-gram, keeps its tail
    assert out[2].clean_text == "tail2 other"
    assert out[2].n_dropped == 8 and out[2].n_tokens == 10
    # doc 3 is fully covered: scrubbed to empty but lengths preserved
    assert out[3].clean_text == "" and out[3].n_dropped == 8 and out[3].n_tokens == 8
    # empty and short docs untouched
    assert out[4].clean_text == "" and out[4].n_tokens == 0 and out[4].n_dropped == 0
    assert out[5].clean_text == "short doc only" and out[5].n_dropped == 0


def test_substring_scrub_consistent_with_stats(spark):
    """For docs that own none of their duplicated grams, dropped token
    count == the stats operator's covered count."""
    from pennsieve_streaming_spark.llm.dedup import (
        duplicated_span_stats,
        scrub_duplicated_spans,
    )

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(10)]
    docs_rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(8, 25))))
        for i in range(15)
    ]
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    stats = {r.doc_id: r for r in duplicated_span_stats(docs, k=4).collect()}
    scrub = {r.doc_id: r for r in scrub_duplicated_spans(docs, k=4).collect()}
    for d in stats:
        # scrub drops only spans NOT owned (owner keeps them), so
        # dropped <= covered always, with equality when doc owns none
        assert scrub[d].n_dropped <= stats[d].dup_covered
        assert scrub[d].n_tokens == stats[d].n_tokens


# ---------------------------------------------------------------- pagerank


def _py_pagerank(n_docs, edges, damping=0.85, n_iter=3, scale=10**9):
    """Pure-Python replay of the integer-mass PageRank recurrence —
    the same arithmetic the Spark operator and DuckDB oracle run, so
    agreement must be exact (not approximate)."""
    sym = set()
    for a, b in edges:
        if a != b:
            sym.add((a, b))
            sym.add((b, a))
    outdeg = {}
    for s, _ in sym:
        outdeg[s] = outdeg.get(s, 0) + 1
    nodes = list(range(n_docs))
    rank = {v: int(round(1e9 / float(n_docs))) for v in nodes}
    for _ in range(n_iter):
        recv = {v: 0 for v in nodes}
        for s, t in sym:
            recv[t] += rank[s] // outdeg[s]
        dm = sum(rank[v] for v in nodes if v not in outdeg)
        rank = {
            v: int(
                round(
                    (1.0 - damping) * float(scale) / float(n_docs)
                    + damping * (float(dm) / float(n_docs) + float(recv[v]))
                )
            )
            for v in nodes
        }
    return {v: rank[v] / float(scale) for v in nodes}


def _spark_pagerank(spark, n_docs, edges, **kw):
    from pennsieve_streaming_spark.llm.graph import pagerank

    docs = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    out = pagerank(docs, _pairs_df(spark, edges), **kw).collect()
    return {r["doc_id"]: r["pr"] for r in out}


def test_pagerank_matches_integer_replay_random(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 30
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(rng.randrange(5, 40))
        ]
        got = _spark_pagerank(spark, n, edges)
        want = _py_pagerank(n, edges)
        assert got == want, f"trial {trial}: {got} != {want}"


def test_pagerank_no_edges_is_uniform(spark):
    got = _spark_pagerank(spark, 8, [])
    assert len(set(got.values())) == 1
    # all mass conserved up to integer floors
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_pagerank_star_center_ranks_highest(spark):
    # star 0-1, 0-2, 0-3, 0-4 plus isolated 5..9
    edges = [(0, i) for i in range(1, 5)]
    got = _spark_pagerank(spark, 10, edges)
    assert got[0] == max(got.values())
    # leaves are symmetric
    assert len({got[i] for i in range(1, 5)}) == 1
    # isolated nodes rank below every star member
    assert got[5] < min(got[i] for i in range(5))


def test_pagerank_mass_conserved(spark):
    rng = random.Random(3)
    edges = [(rng.randrange(20), rng.randrange(20)) for _ in range(25)]
    got = _spark_pagerank(spark, 20, edges)
    # floor-division leaks at most 1 unit per (node, edge) pair per
    # iteration — total stays within a loose integer-leak budget
    assert 0.99 < sum(got.values()) <= 1.0 + 1e-9


def test_label_propagation_splits_bridged_clusters(spark):
    """Two 4-cliques joined by a single bridge edge: connected
    components merge them into one; 3-round LPA keeps two communities
    (the bridge can't outvote the cliques). Isolated nodes keep their
    own label."""
    from pennsieve_streaming_spark.llm.graph import (
        components_for,
        label_propagation,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(9)], "doc_id long"
    )
    cliq1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    cliq2 = [(a, b) for a in range(4, 8) for b in range(a + 1, 8)]
    bridge = [(3, 4)]
    pairs = spark.createDataFrame(
        cliq1 + cliq2 + bridge, "doc_a long, doc_b long"
    )
    comp = {r.doc_id: r.component for r in components_for(docs, pairs).collect()}
    assert len({comp[i] for i in range(8)}) == 1  # one component
    lp = {r.doc_id: r.community for r in label_propagation(docs, pairs).collect()}
    assert len({lp[i] for i in range(4)}) == 1
    assert len({lp[i] for i in range(4, 8)}) == 1
    assert lp[0] != lp[7]          # communities stay separate
    assert lp[8] == 8              # isolated node keeps its label


def test_label_propagation_tie_breaks_to_min_label(spark):
    """A node with two equally frequent neighbor labels adopts the
    smaller one — the deterministic tie rule."""
    from pennsieve_streaming_spark.llm.graph import label_propagation

    docs = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 3), (2, 3)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: r.community for r in
           label_propagation(docs, pairs, n_rounds=1).collect()}
    # node 3 sees labels {1, 2} once each -> adopts 1
    assert out[3] == 1


def test_triangle_counts_known_graph(spark):
    """K4 minus one edge: nodes 1-2-3-4 with edges 12,13,14,23,24 —
    triangles {1,2,3} and {1,2,4}; clustering: 1 and 2 have d=3,t=2
    -> 2/3; 3 and 4 have d=2,t=1 -> 1.0. Duplicate/reversed pairs and
    self-loops must not change anything."""
    from pennsieve_streaming_spark.llm.graph import triangle_counts

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4),
         (3, 2), (2, 2), (4, 1)],           # reverse dup + self-loop + dup
        "doc_a long, doc_b long",
    )
    out = {r.doc_id: r for r in triangle_counts(pairs).collect()}
    assert {(v, r.degree, r.n_triangles) for v, r in out.items()} == {
        (1, 3, 2), (2, 3, 2), (3, 2, 1), (4, 2, 1)
    }
    assert abs(out[1].clustering - 2 / 3) < 1e-12
    assert out[3].clustering == 1.0


def test_triangle_counts_no_triangles_and_degree_one(spark):
    from pennsieve_streaming_spark.llm.graph import triangle_counts

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: r for r in triangle_counts(pairs).collect()}
    assert all(r.n_triangles == 0 for r in out.values())
    # degree-1 nodes report the 0.0 sentinel, never NULL (compared
    # outputs are NULL-free by harness policy — the r7 red)
    assert out[1].clustering == 0.0
    assert out[2].clustering == 0.0


def test_triangle_counts_star_hub_bounded(spark):
    """A hub star (no triangles) exercises the orientation: the hub
    has max degree so every edge points AT it — zero wedges at the
    hub, the quadratic blowup the orientation exists to prevent."""
    from pennsieve_streaming_spark.llm.graph import triangle_counts

    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 40)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: r for r in triangle_counts(pairs).collect()}
    assert out[0].degree == 39 and out[0].n_triangles == 0


def test_cc_driver_path_matches_distributed_loop(spark, monkeypatch):
    """The size-gated driver union-find (optimization r11) and the
    alternating-star distributed loop label the same graph
    identically: component = min reachable id, chains, cycles,
    reversed dups and self-loops included."""
    from pennsieve_streaming_spark.llm import graph
    from pennsieve_streaming_spark.llm.graph import connected_components

    pairs = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (2, 1),        # chain collapses to 1
         (10, 11), (11, 12), (12, 10),          # cycle
         (20, 21), (21, 20),                    # reversed dup
         (30, 30),                              # self-loop: dropped
         (40, 41)],
        "doc_a long, doc_b long",
    )
    fast = sorted(
        tuple(r) for r in connected_components(pairs).collect()
    )
    monkeypatch.setattr(graph, "CC_DRIVER_EDGE_CAP", 0)
    slow = sorted(
        tuple(r) for r in connected_components(pairs).collect()
    )
    assert fast == slow
    assert fast == [
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
        (40, 40), (41, 40),
    ]
