"""Duplicate-cluster graph operators: distributed connected components.

Pairwise near-dup relations (MinHash-LSH, SimHash, embedding-cosine)
are only half of dedup: A~B and B~C must collapse into ONE cluster
{A, B, C} with a single survivor, or chained duplicates survive in
pairs-only dedup (drop-the-higher-id keeps C when only A~B, B~C were
observed but A~C was not).

``connected_components`` implements the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14 — public literature), the standard
O(log n)-round formulation for trillion-edge graphs:

- every round is two groupBy/join stages over the EDGE list only
  (no adjacency materialization, no vertex-program framework);
- each round strictly flattens trees toward the component minimum, so
  convergence is logarithmic in the largest component diameter —
  near-dup clusters are shallow, typically 2-4 rounds;
- ``localCheckpoint`` after every round truncates the lineage so the
  plan does not grow exponentially (the classic iterative-Spark trap);
- the convergence test is two scalar aggregates (count + an
  order-insensitive hash sum), not a driver-side collect of edges.

At 100 TB the edge list is orders of magnitude smaller than the
corpus (near-dup pairs are sparse), every stage is a key-partitioned
shuffle of (long, long) rows, and AQE handles the skew of hub nodes
(one doc duplicated a million times → one hot key per round).

Reference semantics anchor: the reference has no graph operator; this
extends the LLM-pipeline dedup surface (SURVEY.md "beyond the
reference" mandate) so `dedup_filter`'s pairwise drop becomes a true
cluster-level dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pennsieve_streaming_spark.util import pin

# connected_components runs union-find on the driver up to this many edges
CC_DRIVER_EDGE_CAP = 2_000_000


def _cc_driver(edges: DataFrame) -> DataFrame:
    """Driver-side exact union-find over the collected edge list —
    the size-gated fast path of :func:`connected_components`
    (optimization r11, guide §1.2: fix the distributed algorithm
    first). A near-dup edge list under the gate is bounded model
    state (the bpe_merges / centroid-pull rule); the alternating-star
    loop on it is ~4-8 driver-synchronized rounds of tiny jobs —
    pure scheduling overhead. Labels are bit-identical: component =
    min member id, a property of the edge relation, not of the
    algorithm that computes it."""
    spark = edges.sparkSession
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for row in edges.collect():
        a, b = int(row["src"]), int(row["dst"])
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict[int, int] = {}
    for node in parent:
        r = find(node)
        if r not in comp_min or node < comp_min[r]:
            comp_min[r] = node
    rows = [(node, comp_min[find(node)]) for node in sorted(parent)]
    return spark.createDataFrame(rows, "doc_id long, component long")


def _edge_state(edges: DataFrame) -> tuple[int, int]:
    """Order-insensitive digest of an edge set: (count, xor-fold of
    row hashes — edges are kept distinct, so xor is collision-honest).
    Two scalar aggregates — the convergence test never moves edges to
    the driver."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    nbrs = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = (
        nbrs.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least("mn", "src").alias("m"))
    )
    return (
        nbrs.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Canonicalize edges to point high→low, then connect every
    smaller-or-equal neighbor (and u itself) to the minimum."""
    canon = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    m = canon.groupBy("src").agg(F.min("dst").alias("m"))
    with_m = canon.join(m, "src")
    reconnect = with_m.filter(F.col("dst") != F.col("m")).select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    self_link = with_m.select(F.col("src"), F.col("m").alias("dst"))
    return reconnect.union(self_link).distinct()


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Component label (= minimum member id) for every node that
    appears in ``pairs``.

    Output: (doc_id, component) — component is the smallest doc_id
    reachable through the pair relation (the canonical representative
    min-label used by the DuckDB recursive-CTE oracle).
    """
    edges = pairs.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    edges = pin(edges)
    # Size-gated driver-side union-find (optimization r11): under the
    # cap the edge list is bounded model state and the exact labels
    # are computed in one collect instead of ~2 jobs per star round;
    # bigger graphs keep the distributed loop unchanged.
    if edges.limit(CC_DRIVER_EDGE_CAP + 1).count() <= CC_DRIVER_EDGE_CAP:
        return _cc_driver(edges)
    state = _edge_state(edges)
    for _ in range(max_iter):
        edges = pin(_small_star(_large_star(edges)))
        new_state = _edge_state(edges)
        if new_state == state:
            break
        state = new_state
    # Converged: every edge is (node, component-min) with the root
    # linked to itself. A final min-aggregate canonicalizes.
    labels = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("dst").alias("dst")))
        .groupBy("src")
        .agg(F.min("dst").alias("component"))
        .select(F.col("src").alias("doc_id"), "component")
    )
    return labels


def components_for(
    documents: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """Every document with its duplicate-cluster label; docs in no
    pair are their own singleton component.

    The label table is |nodes-in-pairs| rows — broadcast-sized next to
    a 100 TB corpus — so the corpus side never shuffles.
    """
    labels = connected_components(pairs, src_col, dst_col)
    return (
        documents.select(F.col(id_col).alias("doc_id"))
        .join(F.broadcast(labels), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        )
    )


PR_SCALE = 10**9


def pagerank(
    documents: DataFrame,
    pairs: DataFrame,
    damping: float = 0.85,
    n_iter: int = 3,
    id_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """Deterministic PageRank over the (undirected) near-dup pair
    graph: centrality of a document inside its duplicate neighborhood
    — the standard "which copy is canonical" signal when min-id-wins
    is too crude (the most-linked variant, not the lowest id, is the
    one a curation pipeline usually wants to keep).

    Determinism contract (the whole point of this formulation): ranks
    are carried as BIGINT mass scaled by 1e9, per-edge contributions
    are integer floor-division shares (``rank_i div outdeg``), and
    every per-node receive is an exact BIGINT sum — so the result is
    independent of partitioning, join order, and engine (no float
    accumulation anywhere inside an iteration). The only float ops are
    per-row scalar expressions replayed verbatim by the DuckDB oracle.
    Dangling mass (nodes with no edges) is redistributed uniformly,
    the textbook treatment.

    Output: (doc_id, pr) for every document; pr is the final rank
    (ranks sum to ~1 up to integer-floor leakage).

    Scale: per iteration one edge-list join + one BIGINT-sum shuffle
    keyed on dst; the vertex table joins the (sparse) receive table
    broadcast-style and the dangling mass is ONE scalar row
    cross-joined in. ``localCheckpoint`` truncates lineage per
    iteration (same pattern as ``connected_components``). Edge list
    ≪ corpus for near-dup graphs, so at 100 TB the shuffles move only
    (long, long) rows.
    """
    verts = documents.select(F.col(id_col).cast("long").alias("doc_id"))
    e = pairs.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    edges = pin(
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    n_docs = verts.count()
    n_d = F.lit(float(n_docs))
    d = F.lit(float(damping))
    scale = F.lit(float(PR_SCALE))

    ranks = verts.select(
        "doc_id", F.round(scale / n_d).cast("long").alias("rank_i")
    )
    for _ in range(n_iter):
        contrib = (
            ranks.join(edges, ranks["doc_id"] == edges["src"])
            .join(deg, "src")
            .select(
                F.col("dst").alias("doc_id"),
                F.expr("rank_i div outdeg").alias("ci"),
            )
        )
        recv = contrib.groupBy("doc_id").agg(F.sum("ci").alias("recv_i"))
        dang = (
            ranks.join(deg, ranks["doc_id"] == deg["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank_i"), F.lit(0)).cast("long").alias("dm_i"))
        )
        ranks = (
            verts.join(recv, "doc_id", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "doc_id",
                F.round(
                    (F.lit(1.0) - d) * scale / n_d
                    + d
                    * (
                        F.col("dm_i").cast("double") / n_d
                        + F.coalesce(F.col("recv_i"), F.lit(0)).cast("double")
                    )
                )
                .cast("long")
                .alias("rank_i"),
            )
        )
        ranks = pin(ranks)
    return ranks.select(
        "doc_id", (F.col("rank_i").cast("double") / scale).alias("pr")
    )


def cluster_dedup(
    documents: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster-level dedup: keep exactly one document (the minimum id)
    per connected duplicate cluster.

    Unlike ``dedup.dedup_filter`` (drops the higher id of each PAIR),
    this survives chained duplicates: A~B, B~C with no observed A~C
    still collapses to {A}. Output: surviving documents (all input
    columns) plus the cluster size ``cluster_n``.
    """
    labels = connected_components(pairs)
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_n")
    )
    keep = labels.filter(F.col("doc_id") == F.col("component")).join(
        sizes, "component"
    )
    non_rep = labels.filter(F.col("doc_id") != F.col("component")).select(
        "doc_id"
    )
    return (
        documents.join(F.broadcast(non_rep), id_col, "left_anti")
        .join(
            F.broadcast(keep.select("doc_id", "cluster_n")), id_col, "left"
        )
        .withColumn("cluster_n", F.coalesce("cluster_n", F.lit(1)))
    )


def label_propagation(
    documents: DataFrame,
    pairs: DataFrame,
    n_rounds: int = 3,
    id_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over the
    undirected near-dup pair graph — community detection next to
    :func:`connected_components`' pure connectivity: each round every
    node adopts the most frequent label among its NEIGHBORS (ties →
    smallest label; isolated nodes keep their own), so weakly-bridged
    clusters separate where components would merge them.

    Determinism (the non-standard part — textbook LPA is random-order
    and random-tie): synchronous rounds, a fixed round count, and the
    (count DESC, label ASC) argmax make every round a pure function of
    the previous labeling — partition/engine independent, and the
    DuckDB oracle replays the rounds as unrolled CTEs (the PageRank
    iteration pattern).

    Output: (doc_id, community) for every document.

    Scale: per round one edge-list join keyed on dst + one groupBy on
    (node, label) + one per-node argmax window (bounded by degree,
    never corpus-wide); labels are localCheckpoint-pinned per round
    (the connected-components lineage rule).
    """
    nodes = documents.select(F.col(id_col).alias("id")).distinct()
    und = (
        pairs.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .union(
            pairs.select(
                F.col(dst_col).alias("u"), F.col(src_col).alias("v")
            )
        )
        .distinct()
    )
    # the edge list re-enters every round (and its two union
    # branches would otherwise replay the upstream near-dup
    # pipeline twice per round) — pin it once (the source_kl
    # shared-subtree rule)
    und = pin(und)
    labels = nodes.withColumn("label", F.col("id"))
    win = Window.partitionBy("u").orderBy(
        F.desc("cnt"), F.asc("label")
    )
    for _ in range(int(n_rounds)):
        labels = pin(labels)
        cand = (
            und.join(
                labels.select(F.col("id").alias("v"), "label"), "v"
            )
            .groupBy("u", "label")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        best = (
            cand.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") == 1)
            .select(F.col("u").alias("id"), F.col("label").alias("nl"))
        )
        labels = labels.join(best, "id", "left").select(
            "id", F.coalesce("nl", "label").alias("label")
        )
    return labels.select(
        F.col("id").alias(id_col),
        F.col("label").cast("long").alias("community"),
    )


def triangle_counts(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over
    the undirected pair graph — the cohesion number next to the
    connectivity (components) and centrality (pagerank) views: a
    near-dup neighborhood with high clustering is one tight template
    family; low clustering flags chain-shaped false-positive strings.

    Algorithm (Cohen 2009 / the standard distributed formulation):
    orient every edge from the (degree, id)-smaller endpoint to the
    larger, emit wedges by joining oriented edges on their source,
    then close each wedge against the oriented edge list. Orientation
    bounds per-node out-degree by O(sqrt(|E|)) (arboricity), so wedge
    generation never quadratic-explodes on hubs — the same hot-key
    discipline as the LSH bucket cap.

    Determinism: pure integer counting; the clustering coefficient is
    ONE fixed division 2·t/(d·(d−1)) of exact integers.

    Output: (doc_id, degree, n_triangles, clustering) for every node
    in the pair graph; degree-1 nodes emit clustering NULL.

    Plan / 100 TB: equi-joins on node keys only (ids + degrees
    shuffle, never payloads); no broadcast of anything
    |E|-proportional; the wedge→edge close is an equi-join on the
    (lo, hi) pair key.
    """
    e = (
        pairs.select(
            F.least(F.col(src_col), F.col(dst_col)).cast("long").alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).cast("long").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # The edge list is referenced three times (degrees, orientation,
    # wedge close); pin so an expensive upstream (the LSH verify
    # pipeline) runs once, not once per reference — the
    # connected_components convention.
    e = pin(e)
    deg = (
        e.select(F.col("a").alias("v"))
        .union(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    # Orient by (degree, id): src = smaller endpoint in that order.
    da = deg.select(F.col("v").alias("a"), F.col("degree").alias("_dega"))
    db = deg.select(F.col("v").alias("b"), F.col("degree").alias("_degb"))
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.expr(
                "CASE WHEN _dega < _degb OR (_dega = _degb AND a < b) "
                "THEN a ELSE b END"
            ).alias("src"),
            F.expr(
                "CASE WHEN _dega < _degb OR (_dega = _degb AND a < b) "
                "THEN b ELSE a END"
            ).alias("dst"),
        )
    )
    # Wedges around each source, ordered so (d1, d2) is canonical
    # under the undirected (lo, hi) key of the closing edge.
    o1 = oriented.select(F.col("src").alias("s"), F.col("dst").alias("d1"))
    o2 = oriented.select(F.col("src").alias("s"), F.col("dst").alias("d2"))
    wedges = o1.join(o2, "s").filter(F.col("d1") < F.col("d2"))
    closing = e.select(F.col("a").alias("d1"), F.col("b").alias("d2"))
    tri = wedges.join(closing, ["d1", "d2"]).select("s", "d1", "d2")
    # Attribute each triangle to all three corners.
    corners = (
        tri.select(F.col("s").alias("v"))
        .union(tri.select(F.col("d1").alias("v")))
        .union(tri.select(F.col("d2").alias("v")))
    )
    per_v = corners.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    return (
        deg.join(per_v, "v", "left")
        .select(
            F.col("v").alias("doc_id"),
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
        )
        .withColumn(
            "clustering",
            F.expr(
                "CASE WHEN degree > 1 THEN "
                "2e0 * n_triangles / (degree * (degree - 1)) "
                "ELSE 0e0 END"
            ),
        )
    )
