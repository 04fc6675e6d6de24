"""Similarity search over embedding columns.

- ``cosine_topk`` — brute-force exact top-k: broadcast the (small)
  query set against the full corpus; dot products run JVM-side via a
  sequential ``aggregate(zip_with(...))`` fold in double precision
  (bit-deterministic, oracle-matchable). At 100 TB the corpus side
  stays partitioned; per-partition partial top-k reduces shuffle
  volume (TakeOrderedAndProject after the window filter).
- ``lsh_bucketed_ann`` — random-hyperplane LSH: b sign-bits from
  deterministic pseudo-random hyperplanes bucket the corpus; queries
  probe only their own bucket. Recall/latency trade-off controlled by
  ``n_planes``; the scale path when brute force is too expensive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pennsieve_streaming_spark.util import ensure_parallelism, pin

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS DOUBLE), "
    "(acc, v) -> acc + v)"
)


def _as_double(df: DataFrame, col: str) -> DataFrame:
    return df.withColumn(col, F.col(col).cast("array<double>"))


def partial_topk(
    scored: DataFrame,
    k: int,
    by: str = "query_id",
    metric: str = "cosine",
    tie: str = "neighbor_id",
    metric_desc: bool = True,
) -> DataFrame:
    """Narrow per-batch top-k reduction before a global rank.

    Classic TopK push-down: every Arrow batch keeps only its k best
    rows per key — anything below a batch's k-th best can never reach
    the global top-k — so the rank shuffle moves O(partitions·k) rows
    per key instead of the full |corpus|×|queries| scored set. Exact:
    selection uses the same (metric DESC, tie ASC) total order as the
    final window must.

    NOTE (optimization r11): the retrieval hot paths no longer call
    this — Spark's ``InsertWindowGroupLimit`` rule gives the same
    per-partition pre-reduction JVM-side (WindowGroupLimit Partial
    under the rank exchange, suite- and smoke-guarded) without a
    JVM→Python→JVM round-trip. Kept as a library operator for
    callers whose final ranking is NOT a rank-filter window (where
    the native rule cannot fire)."""

    def reduce_batches(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(
                [by, metric, tie], ascending=[True, not metric_desc, True]
            )
            yield pdf.groupby(by, sort=False).head(k)

    return scored.mapInPandas(reduce_batches, schema=scored.schema)


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is a (small) subset of rows with the same schema;
    it is broadcast so the corpus never shuffles. Each side carries
    its own norm computed ONCE per row before the join (the same
    index-order fold, so the cosine bits are unchanged) instead of
    once per scored pair, and the rank shuffle is pre-reduced by
    Spark's native ``WindowGroupLimit`` partial mode (the JVM-side
    per-partition top-k that replaced the old ``partial_topk``
    Python stage — optimization r11, guide §4.1: one fewer
    JVM→Python→JVM round-trip on the hot path).

    Output: (query_id, neighbor_id, rank, cosine).
    """
    corpus = ensure_parallelism(
        _as_double(embeddings, vec_col).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v")
        )
    ).withColumn("_nv", F.expr(DOT.format(a="v", b="v")))
    qs = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q")
    ).withColumn("_nq", F.expr(DOT.format(a="q", b="q")))
    dot = F.expr(DOT.format(a="q", b="v"))
    scored = (
        corpus.join(F.broadcast(qs), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine", dot / (F.sqrt(F.col("_nq")) * F.sqrt(F.col("_nv")))
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def hyperplane_expr(vec_col: str, plane: int, dim: int) -> str:
    """Deterministic pseudo-random hyperplane sign bit.

    Component j of plane p is ``frac((p*dim + j) * phi) - 0.5`` with
    phi the golden-ratio conjugate — a standard low-discrepancy
    sequence; fully deterministic and SQL-expressible on both engines.

    All literals carry the ``D`` suffix so the arithmetic runs in
    IEEE doubles end-to-end (Spark parses bare decimal literals as
    DECIMAL, whose exact modulo diverges from DuckDB's double fmod at
    the last ulp).
    """
    return (
        f"CASE WHEN aggregate(zip_with({vec_col}, "
        f"transform(sequence(0, {dim - 1}), "
        f"j -> (({plane} * {dim} + j) * 0.6180339887498949D % 1.0D) - 0.5D), "
        f"(x, h) -> x * h), CAST(0 AS DOUBLE), (acc, v) -> acc + v) > 0 "
        f"THEN 1 ELSE 0 END"
    )


def _cents_literal(centroids: list[list[float]]) -> str:
    """array<array<double>> literal for Spark SQL."""

    def arr(xs):
        return "array(" + ", ".join(xs) + ")"

    return arr(arr(repr(float(x)) + "D" for x in c) for c in centroids)


def nearest_centroid_expr(vec: str, centroids: list[list[float]]) -> str:
    """Closed-form nearest-centroid argmin over a broadcast-literal
    centroid table — zero joins, zero shuffles, zero windows.

    Distance algebra is ``|v|² - 2v·c + |c|²`` via the same sequential
    ``aggregate(zip_with(...))`` folds the DuckDB oracle uses, so list
    assignment is bit-identical to the ROW_NUMBER formulation it
    replaces. ``array_position(dists, array_min(dists)) - 1`` picks the
    FIRST minimum, matching ``ORDER BY d2, list_id`` tie-breaking.

    This is the per-row argmin pattern ``pq_encode`` already uses; at
    1B vectors × n_lists it stays a narrow map over the corpus scan
    instead of an n_lists×-inflated window shuffle.
    """
    n = len(centroids)
    ct = _cents_literal(centroids)
    fold = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0 AS DOUBLE), (acc, t) -> acc + t)"
    )
    ci = f"element_at({ct}, i + 1)"
    d2 = (
        fold.format(a=vec, b=vec)
        + " - 2.0D * "
        + fold.format(a=vec, b=ci)
        + " + "
        + fold.format(a=ci, b=ci)
    )
    dists = f"transform(sequence(0, {n - 1}), i -> {d2})"
    # bind the distance array ONCE via a singleton transform
    # (optimization r11): the naive
    # array_position(dists, array_min(dists)) inlines the transform
    # twice and doubles the fold work per row — same arithmetic,
    # same first-minimum tie-break, half the evaluations.
    return (
        f"element_at(transform(array({dists}), "
        "d -> CAST(array_position(d, array_min(d)) - 1 AS INT)), 1)"
    )


def assign_lists(
    corpus: DataFrame, centroids: list[list[float]], vec_col: str = "v"
) -> DataFrame:
    """Tag each corpus row with its nearest-centroid ``list_id`` as a
    pure narrow projection (no Exchange, no Window — plan-asserted in
    tests/test_similarity.py)."""
    return corpus.withColumn(
        "list_id", F.expr(nearest_centroid_expr(vec_col, centroids))
    )


def golden_centroids(n_lists: int, dim: int) -> list[list[float]]:
    """Deterministic low-discrepancy centroids (plastic-number
    sequence): engine-independent literals so an exact SQL oracle can
    replay the full IVF pipeline. Centroid QUALITY is irrelevant to the
    mechanics being verified (list assignment, probing, in-list
    scoring); production callers pass k-means centroids instead."""
    rho = 0.7548776662466927  # 1/plastic number, low-discrepancy
    return [
        [((i * dim + j) * rho) % 1.0 - 0.5 for j in range(dim)]
        for i in range(n_lists)
    ]


def ivf_ann(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbor.

    Train k-means centroids (MLlib, sampled at scale) — or take fixed
    ``centroids`` for deterministic/oracle-replayable runs — assign
    every corpus vector to its nearest centroid list, and probe only
    the ``n_probe`` nearest lists per query — the classic IVF-Flat
    recall/cost trade-off. All distance math after training is
    DataFrame expressions; centroid assignment is a broadcast of
    n_lists small arrays, so the corpus never shuffles.

    Distances use the dot-product algebra ``|v|² - 2v·c + |c|²`` with
    sequential folds, matching DuckDB's list_dot_product bit-for-bit.

    Output: (query_id, neighbor_id, rank, cosine).
    """
    spark = embeddings.sparkSession
    corpus = ensure_parallelism(
        _as_double(embeddings, vec_col).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v")
        )
    )
    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        train = corpus.select(array_to_vector("v").alias("features"))
        model = KMeans(k=n_lists, seed=seed, maxIter=10).fit(train)
        centroids = [[float(x) for x in c] for c in model.clusterCenters()]
    cents = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "list_id int, c array<double>",
    )

    # nearest-centroid assignment: closed-form argmin over the literal
    # centroid table — a narrow map, so the corpus never shuffles (the
    # old broadcast-join + row_number() formulation inflated the corpus
    # ×n_lists and windowed it back down; at 1B vectors that is a
    # 16B-row shuffle for a per-row argmin).
    from pyspark.sql import Window

    def d2(vec: str) -> F.Column:
        dvv = F.expr(DOT.format(a=vec, b=vec))
        dvc = F.expr(DOT.format(a=vec, b="c"))
        dcc = F.expr(DOT.format(a="c", b="c"))
        return dvv - F.lit(2.0) * dvc + dcc

    assigned = assign_lists(corpus, centroids).select(
        "neighbor_id", "v", "list_id"
    )

    qs = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q")
    )
    wq = Window.partitionBy("query_id").orderBy("d2", "list_id")
    q_lists = (
        qs.join(F.broadcast(cents))
        .withColumn("d2", d2("q"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "q", "list_id")
    )

    dot = F.expr(DOT.format(a="q", b="v"))
    nq = F.expr(DOT.format(a="q", b="q"))
    nv = F.expr(DOT.format(a="v", b="v"))
    scored = (
        assigned.join(
            F.broadcast(q_lists),
            (assigned["list_id"] == q_lists["list_id"])
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .withColumn("cosine", dot / (F.sqrt(nq) * F.sqrt(nv)))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def golden_codebooks(m: int, k: int, subdim: int) -> list[list[list[float]]]:
    """Deterministic PQ codebooks (one k×subdim table per subspace),
    same low-discrepancy construction as golden_centroids with a
    distinct constant. Production callers train per-subspace k-means
    instead; determinism here makes the pipeline oracle-replayable."""
    rho = 0.5698402909980532  # frac(sqrt(10)/e) — distinct from centroids
    return [
        [
            [(((s * k + c) * subdim + j) * rho) % 1.0 - 0.5
             for j in range(subdim)]
            for c in range(k)
        ]
        for s in range(m)
    ]


def _cb_literal(codebooks: list[list[list[float]]]) -> str:
    """Nested array<array<array<double>>> literal for Spark SQL."""
    def arr(xs):
        return "array(" + ", ".join(xs) + ")"

    return arr(
        arr(arr(repr(float(x)) + "D" for x in code) for code in sub)
        for sub in codebooks
    )


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encode: split each vector into m subspaces
    and store only the nearest-codeword index per subspace.

    The 100 TB story: a 64-dim float64 embedding (512 B) becomes m
    small ints (m bytes packed); the ANN scan then reads codes only —
    a ~64× narrower corpus — and scoring is table lookups. Encoding is
    a narrow map over a broadcast-literal codebook; all JVM-side.

    Output: (id, codes ARRAY<INT>).
    """
    return (
        _as_double(embeddings, vec_col)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .select(
            "id",
            F.expr(pq_codes_expr(codebooks, "v"))
            .cast("array<int>")
            .alias("codes"),
        )
    )


def pq_codes_expr(
    codebooks: list[list[list[float]]], vec: str = "v"
) -> str:
    """The PQ-encode projection as a reusable SQL expression over
    ``vec`` — shared by :func:`pq_encode` and the one-pass corpus
    branch of :func:`ivf_pq_ann`."""
    m = len(codebooks)
    k = len(codebooks[0])
    subdim = len(codebooks[0][0])
    cb = _cb_literal(codebooks)
    # per-subspace distance array bound ONCE via a singleton transform
    # (optimization r11): the previous form inlined the k-codeword
    # distance transform twice (array_position target + array_min) and
    # doubled the fold work per row — same arithmetic, same
    # first-minimum tie-break, half the evaluations.
    dist_s = (
        f"transform(sequence(0, {k - 1}), c -> "
        f"  aggregate(zip_with(slice({vec}, s * {subdim} + 1, {subdim}),"
        f"            element_at(element_at({cb}, s + 1), c + 1),"
        f"            (x, y) -> (x - y) * (x - y)),"
        f"            CAST(0 AS DOUBLE), (acc, d) -> acc + d))"
    )
    return (
        f"transform(sequence(0, {m - 1}), s -> "
        f"  element_at(transform(array({dist_s}), "
        f"    d -> array_position(d, array_min(d)) - 1), 1))"
    )


def pq_ann(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ asymmetric-distance ANN: encode the corpus once, score each
    (query, code-vector) pair with ADC table lookups.

    Per query, a lookup table lut[s][c] = ||q_s - codebook[s][c]||²
    is computed from the broadcast-literal codebooks; the corpus side
    contributes ONLY its m-int code arrays, so the scan never touches
    raw vectors — the classic IVF-PQ memory layout (coarse IVF lists
    compose upstream by filtering the corpus before encode).

    Output: (query_id, neighbor_id, rank, adc_dist) — rank 1 = nearest
    by quantized distance.
    """
    subdim = dim // m
    if codebooks is None:
        codebooks = golden_codebooks(m, n_codes, subdim)
    cb = _cb_literal(codebooks)
    corpus = pq_encode(embeddings, codebooks, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"), "codes"
    )
    lut = (
        f"transform(sequence(0, {m - 1}), s -> "
        f"  transform(sequence(0, {n_codes - 1}), c -> "
        f"    aggregate(zip_with(slice(q, s * {subdim} + 1, {subdim}),"
        f"              element_at(element_at({cb}, s + 1), c + 1),"
        f"              (x, y) -> (x - y) * (x - y)),"
        f"              CAST(0 AS DOUBLE), (acc, d) -> acc + d)))"
    )
    qs = (
        _as_double(queries, vec_col)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q"))
        .withColumn("lut", F.expr(lut))
        .select("query_id", "lut")
    )
    adc = (
        "aggregate(zip_with(codes, lut, (c, l) -> element_at(l, c + 1)), "
        "CAST(0 AS DOUBLE), (acc, d) -> acc + d)"
    )
    scored = (
        corpus.join(F.broadcast(qs), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adc_dist", F.expr(adc))
        .select("query_id", "neighbor_id", "adc_dist")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    return (
        scored
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )


def ivf_pq_ann(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: coarse inverted lists prune the corpus, PQ ADC scores
    inside the probed lists — the canonical billion-vector layout
    (both stages individually oracle-verified: emb_ann_ivf,
    emb_ann_pq). Corpus storage per vector: one small int (list) +
    m code ints; raw vectors are touched only at encode time.

    Output: (query_id, neighbor_id, rank, adc_dist).
    """
    subdim = dim // m
    centroids = golden_centroids(n_lists, dim)
    codebooks = golden_codebooks(m, n_codes, subdim)
    spark = embeddings.sparkSession
    cents = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "list_id int, c array<double>",
    )

    def d2(vec: str) -> F.Column:
        dvv = F.expr(DOT.format(a=vec, b=vec))
        dvc = F.expr(DOT.format(a=vec, b="c"))
        dcc = F.expr(DOT.format(a="c", b="c"))
        return dvv - F.lit(2.0) * dvc + dcc

    from pyspark.sql import Window

    corpus = ensure_parallelism(
        _as_double(embeddings, vec_col).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v")
        )
    )
    # ONE narrow pass computes both the closed-form argmin assignment
    # and the PQ codes (optimization r11): the previous shape ran
    # assign_lists and pq_encode as two separate scans of the
    # embeddings table joined back on neighbor_id — a join of two
    # projections of the same rows. Same expressions, so list_id and
    # codes are bit-identical; the self-join and its exchanges are
    # gone, and the corpus branch is again free of Exchange/Window.
    corpus_pq = assign_lists(corpus, centroids).select(
        "neighbor_id",
        "list_id",
        F.expr(pq_codes_expr(codebooks, "v"))
        .cast("array<int>")
        .alias("codes"),
    )

    qs = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q")
    )
    wq = Window.partitionBy("query_id").orderBy("d2", "list_id")
    cb = _cb_literal(codebooks)
    lut = (
        f"transform(sequence(0, {m - 1}), s -> "
        f"  transform(sequence(0, {n_codes - 1}), c2 -> "
        f"    aggregate(zip_with(slice(q, s * {subdim} + 1, {subdim}),"
        f"              element_at(element_at({cb}, s + 1), c2 + 1),"
        f"              (x, y) -> (x - y) * (x - y)),"
        f"              CAST(0 AS DOUBLE), (acc, d) -> acc + d)))"
    )
    q_lists = (
        qs.join(F.broadcast(cents))
        .withColumn("d2", d2("q"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .withColumn("lut", F.expr(lut))
        .select("query_id", "list_id", "lut")
    )
    adc = (
        "aggregate(zip_with(codes, lut, (c, l) -> element_at(l, c + 1)), "
        "CAST(0 AS DOUBLE), (acc, d) -> acc + d)"
    )
    scored = (
        corpus_pq.join(
            F.broadcast(q_lists),
            (corpus_pq["list_id"] == q_lists["list_id"])
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .withColumn("adc_dist", F.expr(adc))
        .select("query_id", "neighbor_id", "adc_dist")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    return (
        scored
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )


def hyperplane_matrix(
    n_planes: int, dim: int, family: str = "lattice", seed: int = 0
):
    """Hyperplane family as a numpy (n_planes, dim) matrix.

    ``family="lattice"``: component j of plane p is
    ``frac((p*dim + j)*phi) - 0.5`` — identical to the SQL
    ``hyperplane_expr``, so keys replay exactly in a DuckDB oracle.
    CAVEAT: the planes are one golden-ratio progression chopped into
    rows — a strongly correlated (near-rank-deficient) family. Fine
    for the oracle-gated correctness path, but at scale the sign bits
    are far from independent: a 5M-vector probe showed ~90k-vector
    buckets surviving even at r=24 (16M nominal buckets).

    ``family="random"``: iid standard-normal planes from a seeded
    generator — the production choice; bits are genuinely independent
    so bucket population concentrates at N/2^r. Not SQL-replayable
    (no cross-engine RNG), hence Arrow-path only.
    """
    import numpy as np

    if family == "random":
        return np.random.default_rng(seed).standard_normal((n_planes, dim))
    idx = np.arange(n_planes * dim, dtype=np.float64).reshape(n_planes, dim)
    return (idx * 0.6180339887498949) % 1.0 - 0.5


def banded_keys_arrow(
    embeddings: DataFrame,
    n_tables: int,
    bits_per_table: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_family: str = "lattice",
    seed: int = 0,
) -> DataFrame:
    """(id, tbl, key) banded-LSH keys via one Arrow-batched matmul.

    The SQL ``hyperplane_expr`` path evaluates B·r separate
    ``aggregate(zip_with(...))`` folds per row — exact and
    oracle-replayable, but ~20× slower than a single
    ``signs = X @ H.T > 0`` over an Arrow batch. Same plane family,
    same keys (a sign flip would need |dot| at float-sum
    reassociation scale, ~1e-13·‖x‖ — measure-zero for real data);
    this is the 100 TB bucketing path, asserted equal to the SQL path
    in tests.
    """
    import pandas as pd

    r = bits_per_table
    H = hyperplane_matrix(n_tables * r, dim, plane_family, seed).T  # (dim, B*r)
    weights = (1 << __import__("numpy").arange(r, dtype="int64"))

    def keys(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack(pdf[vec_col].to_numpy())  # (n, dim)
            bits = (X @ H) > 0                      # (n, B*r)
            ks = (
                bits.reshape(len(pdf), n_tables, r).astype("int64") * weights
            ).sum(axis=2)                           # (n, B)
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf[id_col].to_numpy(), n_tables),
                    "tbl": np.tile(np.arange(n_tables, dtype="int32"), len(pdf)),
                    "key": ks.ravel(),
                }
            )

    src = _as_double(embeddings, vec_col).select(id_col, vec_col)
    return src.mapInPandas(
        keys, schema=f"id {dict(src.dtypes)[id_col]}, tbl int, key long"
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    min_cosine: float = 0.9,
    n_tables: int = 4,
    bits_per_table: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    arrow_keys: bool = False,
    plane_family: str = "lattice",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, banded-LSH blocked.

    The dedup flavor of similarity search, with the same banding trick
    the MinHash side uses (``dedup.lsh_band_keys``): ``n_tables``
    INDEPENDENT hyperplane tables of ``bits_per_table`` sign bits each
    (table t uses planes t*r..t*r+r-1). A pair is a candidate if it
    agrees on ALL r bits of ANY table, so recall is
    1-(1-p^r)^B with p = 1 - theta/pi — tunable by B without shrinking
    r — while each table still carves the corpus into 2^r buckets
    PER TABLE whose population scales down with corpus spread. A
    single fixed-size table (the round-2 formulation) had 2^8 buckets
    total — quadratic blowup at 1B embeddings; banding bounds the
    per-bucket pair count the same way it does for MinHash.

    Candidate pairs are de-duplicated across tables BEFORE the exact
    cosine join, and only (id, key) pairs flow through the explode —
    vectors are joined back per candidate, never duplicated ×B.

    Sizing rule: pick ``bits_per_table`` ≈ log2(N / target_bucket_pop)
    so expected bucket population stays bounded as the corpus grows
    (e.g. N=1e9, target 1k/bucket -> r=20), then pick ``n_tables`` for
    recall — P(pair candidates) = 1-(1-p^r)^B with p = 1 - θ/π, so
    doubling B roughly doubles the near-threshold catch rate without
    touching bucket population. The defaults (4×8) suit ~10⁵-row test
    corpora; at 100 TB scale r belongs in the high teens.

    ``arrow_keys=True`` computes the table keys with the vectorized
    matmul path (``banded_keys_arrow``) instead of per-plane SQL folds
    — same plane family and keys, ~20× faster bucketing; keep the
    default for oracle-replayable runs.

    Output: (id_a, id_b, cosine).
    """
    r = bits_per_table
    emb = _as_double(embeddings, vec_col)
    if arrow_keys:
        tagged = banded_keys_arrow(
            embeddings, n_tables, r, dim, id_col, vec_col,
            plane_family=plane_family,
        )
    else:
        keys = "array(" + ", ".join(
            "CAST("
            + " + ".join(
                f"({hyperplane_expr(vec_col, t * r + p, dim)}) * {1 << p}"
                for p in range(r)
            )
            + " AS LONG)"
            for t in range(n_tables)
        ) + ")"
        tagged = emb.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.expr(keys)).alias("tbl", "key"),
        )
    a = tagged.select(F.col("id").alias("id_a"), "tbl", "key")
    b = tagged.select(F.col("id").alias("id_b"), "tbl", "key")
    cand = (
        a.join(
            b,
            (a["tbl"] == b["tbl"])
            & (a["key"] == b["key"])
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    dot = F.expr(DOT.format(a="va", b="vb"))
    na = F.expr(DOT.format(a="va", b="va"))
    nb = F.expr(DOT.format(a="vb", b="vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", dot / (F.sqrt(na) * F.sqrt(nb)))
        .filter(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "cosine")
    )


def lsh_bucketed_ann(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe: bool = False,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Approximate top-k: random-hyperplane bucket equi-join, then
    exact cosine within the bucket. Output as cosine_topk (rank may
    have < k rows per query when the bucket is small).

    ``multi_probe=True`` additionally probes every bucket one sign-bit
    away from the query's (n_planes extra buckets per query — the
    standard multi-probe recall/cost dial: near-misses flip exactly
    the hyperplanes whose dot product sits near zero). The corpus is
    still bucketed once; only the tiny query side explodes.

    ``broadcast_queries`` picks the physical join: True (default) for
    a small query set — the corpus never shuffles; False for
    corpus-to-corpus use (e.g. the kNN-graph build), where
    broadcasting a corpus-sized side would OOM the executors/driver at
    scale — both sides instead shuffle-partition on ``bucket``
    (2^n_planes keys; n_planes grows with the corpus so per-bucket
    work stays bounded)."""
    def bucket(df: DataFrame, vc: str) -> DataFrame:
        expr = " + ".join(
            f"({hyperplane_expr(vc, p, dim)}) * {1 << p}" for p in range(n_planes)
        )
        return df.withColumn("bucket", F.expr(expr).cast("long"))

    corpus = bucket(_as_double(embeddings, vec_col), vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v"), "bucket"
    )
    qs = bucket(_as_double(queries, vec_col), vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q"), "bucket"
    )
    if multi_probe:
        probes = F.expr(
            "array_union(array(bucket), transform(sequence(0, "
            f"{n_planes - 1}), p -> CAST(bucket ^ shiftleft(1, p) AS LONG)))"
        )
        qs = (
            qs.withColumn("bucket", F.explode(probes))
            .dropDuplicates(["query_id", "bucket"])
        )
    dot = F.expr(DOT.format(a="q", b="v"))
    nq = F.expr(DOT.format(a="q", b="q"))
    nv = F.expr(DOT.format(a="v", b="v"))
    scored = (
        corpus.join(
            F.broadcast(qs) if broadcast_queries else qs,
            (F.col("query_id") != F.col("neighbor_id"))
            & (corpus["bucket"] == qs["bucket"]),
        )
        .withColumn("cosine", dot / (F.sqrt(nq) * F.sqrt(nv)))
        .select("query_id", "neighbor_id", "cosine")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def semdedup(
    embeddings: DataFrame,
    centroids: list[list[float]],
    min_cosine: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings, then within each cluster
    drop every vector whose cosine to a LOWER-id cluster-mate exceeds
    ``min_cosine`` (min-id-wins — the same deterministic survivor rule
    the MinHash stream fold uses, so an exact SQL oracle can replay it).

    Plan shape for 100 TB: cluster assignment is the zero-shuffle
    closed-form argmin (``assign_lists``); the pairwise cosine check is
    a self-join ON ``list_id`` — quadratic only within a cluster, and
    production k is sized so clusters stay ~10³-10⁴ vectors
    (k ≈ N/10⁴), keeping per-cluster work bounded as N grows. AQE's
    skew-join split handles hot clusters. Nothing driver-side.

    Output: surviving (id, list_id) rows.
    """
    base = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    assigned = assign_lists(base, centroids, vec_col="v")
    fold = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0 AS DOUBLE), (acc, t) -> acc + t)"
    )
    a = assigned.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), "list_id"
    )
    b = assigned.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), "list_id"
    )
    cos = F.expr(fold.format(a="va", b="vb")) / (
        F.sqrt(F.expr(fold.format(a="va", b="va")))
        * F.sqrt(F.expr(fold.format(a="vb", b="vb")))
    )
    dropped = (
        a.join(b, "list_id")
        .where(F.col("id_a") < F.col("id_b"))
        .where(cos > F.lit(min_cosine))
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    return assigned.join(dropped, "id", "left_anti").select("id", "list_id")


def kmeans_fit(
    embeddings: DataFrame,
    k: int,
    dim: int,
    n_iter: int = 2,
    init: list[list[float]] | None = None,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Lloyd's k-means returning the trained centroids — the learned
    replacement for ``golden_centroids`` in IVF / SemDeDup.

    Each iteration: closed-form argmin assignment (zero-shuffle narrow
    map) + ONE groupBy computing all ``dim`` per-cluster means as
    column aggregates (map-side partials; shuffle carries k×dim
    doubles). Only the k×dim centroid matrix — model state, not data —
    ever reaches the driver. Empty clusters keep their previous
    centroid.

    Determinism across engines: float sums depend on partition order,
    so each centroid coordinate is rounded to 9 decimals per iteration
    — far above the ~1e-13 reduction-order noise, far below any real
    coordinate scale — making the fitted centroids bit-identical to a
    SQL replay (the oracle rounds identically).
    """
    cents = [list(c) for c in (init or golden_centroids(k, dim))]
    base = embeddings.select(F.col(vec_col).cast("array<double>").alias("v"))
    for _ in range(n_iter):
        assigned = assign_lists(base, cents, vec_col="v")
        means = (
            assigned.groupBy("list_id")
            .agg(*[F.avg(F.col("v")[j]).alias(f"m{j}") for j in range(dim)])
            .collect()
        )
        for row in means:
            cents[row["list_id"]] = [
                round(float(row[f"m{j}"]), 9) for j in range(dim)
            ]
    return cents


def kmeans_assign(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, list_id) cluster assignment under trained centroids — the
    same zero-shuffle argmin projection the IVF scan uses."""
    base = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    return assign_lists(base, centroids, vec_col="v").select("id", "list_id")


def cosine_topk_two_stage(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    coarse_dim: int = 16,
    refine_k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage exact-rerank retrieval (the Matryoshka / truncated-
    vector pattern): stage 1 ranks by cosine over only the first
    ``coarse_dim`` components and keeps ``refine_k`` candidates per
    query; stage 2 re-scores those candidates with the FULL vector and
    returns the final top-k.

    At scale the win is bandwidth: the coarse scan reads a
    ``coarse_dim/dim`` slice of every vector (store the prefix as its
    own column/file to let Parquet column pruning do this physically),
    and the full vectors are fetched only for |queries| x refine_k
    candidates. Both stages use the deterministic fold dot product and
    (metric DESC, neighbor_id ASC) total order, so the result is
    bit-replayable — and exactly equals brute force whenever the true
    top-k survives the coarse cut (tested on the recall property).

    Output: (query_id, neighbor_id, rank, cosine).
    """
    corpus = ensure_parallelism(
        _as_double(embeddings, vec_col).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v")
        )
    )
    qs = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q")
    )
    dot_c = F.expr(
        DOT.format(a=f"slice(q, 1, {coarse_dim})", b=f"slice(v, 1, {coarse_dim})")
    )
    nq_c = F.expr(
        DOT.format(a=f"slice(q, 1, {coarse_dim})", b=f"slice(q, 1, {coarse_dim})")
    )
    nv_c = F.expr(
        DOT.format(a=f"slice(v, 1, {coarse_dim})", b=f"slice(v, 1, {coarse_dim})")
    )
    coarse = (
        corpus.join(F.broadcast(qs), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("coarse", dot_c / (F.sqrt(nq_c) * F.sqrt(nv_c)))
        .select("query_id", "neighbor_id", "coarse", "q", "v")
    )
    from pyspark.sql import Window

    wc = Window.partitionBy("query_id").orderBy(
        F.col("coarse").desc(), F.col("neighbor_id")
    )
    cands = (
        coarse
        .withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= refine_k)
    )
    dot = F.expr(DOT.format(a="q", b="v"))
    nq = F.expr(DOT.format(a="q", b="q"))
    nv = F.expr(DOT.format(a="v", b="v"))
    rescored = cands.withColumn("cosine", dot / (F.sqrt(nq) * F.sqrt(nv))).select(
        "query_id", "neighbor_id", "cosine"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def save_centroids(spark, centroids: list[list[float]], path: str) -> None:
    """Persist a trained centroid matrix (kmeans_fit / IVF coarse
    quantizer / SemDeDup clusters) as a tiny parquet model table —
    (list_id, centroid ARRAY<DOUBLE>) — so the index is trained once
    and reloaded by every query job instead of refit per session.

    Doubles round-trip parquet bit-exactly, so a loaded model scores
    identically to the in-memory one (tested)."""
    rows = [(i, list(map(float, c))) for i, c in enumerate(centroids)]
    df = spark.createDataFrame(rows, "list_id int, centroid array<double>")
    df.coalesce(1).write.mode("overwrite").parquet(path)


def load_centroids(spark, path: str) -> list[list[float]]:
    """Reload a ``save_centroids`` model table in list_id order."""
    rows = spark.read.parquet(path).orderBy("list_id").collect()
    return [list(r["centroid"]) for r in rows]


def cluster_sample(
    embeddings: DataFrame,
    centroids: list[list[float]],
    cap: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: int = 0,
) -> DataFrame:
    """Cluster-balanced deterministic sampling: assign every vector to
    its nearest centroid (narrow-map argmin, no shuffle), then keep at
    most ``cap`` vectors per cluster — the standard diversity-preserving
    subsample for training-set curation (cap the over-dense modes, keep
    the tails whole).

    Selection inside a cluster is by a deterministic integer hash
    coordinate of (id, salt) — the same multiplicative-hash family as
    ``curation.sample_u_expr`` — so reruns, retries, and the DuckDB
    oracle pick the identical rows; ``salt`` redraws the sample.

    Output: (vec_id, list_id, pick) for kept rows; pick is the 1-based
    within-cluster selection rank.

    Scale: assignment is exchange-free; the cap needs one shuffle keyed
    on list_id with per-partition size = |cluster| (bounded by cluster
    granularity — production picks k so clusters are ~1e4-1e6 rows, and
    AQE skew-split covers a degenerate hot cluster).
    """
    from pyspark.sql import Window

    from pennsieve_streaming_spark.llm.curation import (
        SAMPLE_MOD,
        SAMPLE_MULT,
    )

    corpus = _as_double(embeddings, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    )
    assigned = assign_lists(corpus, centroids, vec_col="v").select(
        "vec_id", "list_id"
    )
    # salt is an additive PRE-hash shift: (id + salt) rotates the
    # fixed circular multiplicative-hash order, so different salts
    # select rotated arcs of ONE permutation — deterministic and
    # replayable, but NOT independent redraws (two salts' samples can
    # overlap heavily for small caps). Callers needing independent
    # permutations should derive SAMPLE_MULT from the salt instead.
    u = F.expr(
        f"((((vec_id + {salt}) % {SAMPLE_MOD}) * {SAMPLE_MULT}) % {SAMPLE_MOD})"
    )
    w = Window.partitionBy("list_id").orderBy("u", "vec_id")
    return (
        assigned.withColumn("u", u)
        .withColumn("pick", F.row_number().over(w).cast("long"))
        .filter(F.col("pick") <= cap)
        .select("vec_id", "list_id", "pick")
    )


def kmeans_inertia(
    embeddings: DataFrame,
    centroids: list[list[float]],
    quant: int = 10**9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster inertia (within-cluster sum of squared distances) of
    a centroid model — the standard clustering-quality / elbow metric,
    and the drift monitor for a deployed IVF coarse quantizer.

    Each point's d² uses the same sequential dot-product folds as the
    assignment (bit-identical cross-engine), is quantized to a BIGINT
    in 1/``quant`` units, and sums exactly — so total inertia is
    independent of partitioning. Output: (list_id, n, inertia_q,
    inertia) where inertia = inertia_q / quant.

    Scale: narrow-map assignment + one partial-agg groupBy to k rows.
    """
    corpus = _as_double(embeddings, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    )
    assigned = assign_lists(corpus, centroids, vec_col="v")
    ct = _cents_literal(centroids)
    fold = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0 AS DOUBLE), (acc, t) -> acc + t)"
    )
    ci = "element_at(" + ct + ", list_id + 1)"
    d2 = (
        fold.format(a="v", b="v")
        + " - 2.0D * "
        + fold.format(a="v", b=ci)
        + " + "
        + fold.format(a=ci, b=ci)
    )
    q = int(quant)
    dq = assigned.select(
        "list_id",
        F.expr(f"CAST(round(({d2}) * {q}) AS BIGINT)").alias("d2q"),
    )
    return (
        dq.groupBy("list_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("d2q").cast("long").alias("inertia_q"),
        )
        .select(
            "list_id",
            "n",
            "inertia_q",
            (F.col("inertia_q").cast("double") / q).alias("inertia"),
        )
    )


def pq_distortion(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 10**9,
) -> DataFrame:
    """Per-subspace PQ reconstruction distortion — the quantization-
    quality panel for :func:`pq_ann` (the text-dedup q_lsh_eval /
    ANN-recall counterpart for the compressed-vector path): for every
    vector the squared distance to its NEAREST codeword (exactly the
    error the ADC scan later absorbs), averaged per subspace.

        mse_s = mean_x ||x_s − cb_s[argmin]||²

    High mse_s = that subspace's codebook is too coarse for the data
    (re-train with larger k or re-balance the subspace split).

    Determinism: the per-vector subspace error is the same sequential
    zip_with/aggregate fold as the encode (one fixed float chain),
    1e-9-quantized to BIGINT per vector; the cross-vector reduction
    is an exact integer sum; mse is one fixed expression at the end.

    Output: (subspace, n, sum_errq, mse).

    Scale: narrow map over the broadcast codebook literal + one
    partial-agg groupBy to m rows — the corpus never shuffles.
    """
    m = len(codebooks)
    k = len(codebooks[0])
    subdim = len(codebooks[0][0])
    q = int(quant)
    cb = _cb_literal(codebooks)
    dist_list = (
        f"transform(sequence(0, {k - 1}), c -> "
        f"  aggregate(zip_with(slice(v, s * {subdim} + 1, {subdim}),"
        f"            element_at(element_at({cb}, s + 1), c + 1),"
        f"            (x, y) -> (x - y) * (x - y)),"
        f"            CAST(0 AS DOUBLE), (acc, d) -> acc + d))"
    )
    errs = (
        f"transform(sequence(0, {m - 1}), s -> "
        f"CAST(round(array_min({dist_list}) * {q}) AS BIGINT))"
    )
    per = (
        _as_double(embeddings, vec_col)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .select(F.posexplode(F.expr(errs)).alias("subspace", "errq"))
    )
    return (
        per.groupBy("subspace")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("errq").cast("long").alias("sum_errq"),
        )
        .select(
            F.col("subspace").cast("long").alias("subspace"),
            "n",
            "sum_errq",
            F.expr(
                f"round(CAST(sum_errq AS DOUBLE) "
                f"/ (CAST(n AS DOUBLE) * {q}), 9)"
            ).alias("mse"),
        )
    )


def kmeans_silhouette(
    embeddings: DataFrame,
    centroids: list[list[float]],
    quant: int = 10**9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster simplified silhouette of a centroid model — the
    separation metric next to :func:`kmeans_inertia`'s compactness:
    for each vector, with d1 the distance to its own (nearest)
    centroid and d2 the distance to the second-nearest,

        s = (d2 − d1) / max(d1, d2)   ∈ [0, 1]

    (the centroid-based simplification of Rousseeuw 1987 — O(n·k),
    not O(n²); s near 0 = the vector sits on a cluster boundary,
    near 1 = clearly inside its cluster). Cluster means diagnose
    which lists of an IVF quantizer are poorly separated.

    Determinism: per-centroid d² uses the same sequential folds as
    the assignment (bit-identical cross-engine); d1/d2 are the two
    smallest VALUES of the sorted distance list (tie-order
    irrelevant by construction); per-vector s is one fixed float
    expression quantized to BIGINT at ``quant``; cluster reduction is
    an exact integer sum. Degenerate d1=d2=0 emits s=0.

    Output: (list_id, n, sum_sq, mean_sil).

    Scale: narrow map over the broadcast centroid literal + one
    partial-agg groupBy to k rows — the assignment shape, corpus
    never shuffles.
    """
    q = int(quant)
    corpus = _as_double(embeddings, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    )
    assigned = assign_lists(corpus, centroids, vec_col="v")
    n = len(centroids)
    ct = _cents_literal(centroids)
    fold = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0 AS DOUBLE), (acc, t) -> acc + t)"
    )
    ci = f"element_at({ct}, c + 1)"
    d2 = (
        fold.format(a="v", b="v")
        + " - 2.0D * "
        + fold.format(a="v", b=ci)
        + " + "
        + fold.format(a=ci, b=ci)
    )
    two = (
        f"slice(array_sort(transform(sequence(0, {n - 1}), "
        f"c -> {d2})), 1, 2)"
    )
    s_expr = (
        f"CASE WHEN sqrt(greatest(element_at(_d2, 2), 0.0D)) > 0.0D THEN "
        f"CAST(round((sqrt(greatest(element_at(_d2, 2), 0.0D)) "
        f"- sqrt(greatest(element_at(_d2, 1), 0.0D))) "
        f"/ sqrt(greatest(element_at(_d2, 2), 0.0D)) * {q}) AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END"
    )
    per = assigned.withColumn("_d2", F.expr(two)).select(
        "list_id", F.expr(s_expr).alias("sq")
    )
    return (
        per.groupBy("list_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("sq").cast("long").alias("sum_sq"),
        )
        .select(
            F.col("list_id").cast("long").alias("list_id"),
            "n",
            "sum_sq",
            F.expr(
                f"round(CAST(sum_sq AS DOUBLE) "
                f"/ (CAST(n AS DOUBLE) * {q}), 9)"
            ).alias("mean_sil"),
        )
    )


def mips_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k MAXIMUM INNER PRODUCT neighbors per query — the
    score retrieval systems actually rank by when embeddings carry
    meaningful norms (recommendation / dual-encoder retrieval), where
    cosine's normalization throws the popularity/confidence signal
    away. Same plan shape as :func:`cosine_topk`: queries broadcast,
    corpus never shuffles, per-task ``partial_topk`` before the one
    global rank exchange.

    Determinism: the dot product is the sequential index-order fold
    (DOT, shared with every oracle); no normalization, so the only
    floats are the fold itself.

    Output: (query_id, neighbor_id, rank, dot).
    """
    corpus = ensure_parallelism(
        _as_double(embeddings, vec_col).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v")
        )
    )
    qs = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q")
    )
    scored = (
        corpus.join(F.broadcast(qs), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dot", F.expr(DOT.format(a="q", b="v")))
        .select("query_id", "neighbor_id", "dot")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id")
    )
    return (
        scored
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dot")
    )


def mmr_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein 1998) — the de-duplicating retrieval ranker: step r
    selects argmax over remaining candidates of

        λ·cos(q, d) − (1−λ)·max_{s ∈ selected} cos(d, s)

    so near-duplicates of an already-selected hit are penalized out
    of the slate. THE standard fix for cosine_topk returning k copies
    of the same document; step 1 (empty slate, zero penalty) equals
    the plain cosine argmax.

    Determinism: every cosine is the index-order DOT fold; the MMR
    score is one fixed float expression over them with BOTH λ and
    1−λ as Python-evaluated literals — (1.0 − 0.7) is an exact
    DECIMAL 0.3 to Spark's parser but 0.30000000000000004 in
    DuckDB's double math, so the subtraction must happen in Python
    (the DECIMAL-literal rule's mirror image); argmax ties break on
    neighbor_id; the oracle unrolls the same k greedy steps.

    Scale: the k-step loop is bounded (k ≤ 10 in practice); per step
    one anti-join + a broadcast pairing against the ≤ |queries|·k
    selected rows — the corpus scores ONCE up front and never
    re-shuffles; the slate is localCheckpoint-pinned per step (the
    kmeans/pagerank iterative contract).

    Output: (query_id, rank, neighbor_id, cosine, mmr_score).
    """
    lam_s = repr(float(lam))
    one_minus = repr(1.0 - float(lam))
    corpus = ensure_parallelism(
        _as_double(embeddings, vec_col).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v")
        )
    )
    qs = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q")
    )
    dot = F.expr(DOT.format(a="q", b="v"))
    nq = F.expr(DOT.format(a="q", b="q"))
    nv = F.expr(DOT.format(a="v", b="v"))
    scored = (
        corpus.join(F.broadcast(qs), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", dot / (F.sqrt(nq) * F.sqrt(nv)))
        .select("query_id", "neighbor_id", "cosine")
    )
    scored = pin(scored)
    from pyspark.sql import Window

    pair_dot = F.expr(DOT.format(a="dv", b="sv"))
    pair_nd = F.expr(DOT.format(a="dv", b="dv"))
    pair_ns = F.expr(DOT.format(a="sv", b="sv"))
    selected = None
    for step in range(1, int(k) + 1):
        if selected is None:
            cand = scored.withColumn(
                "mmr_score", F.expr(f"{lam_s} * cosine")
            )
        else:
            remaining = scored.join(
                selected.select("query_id", "neighbor_id"),
                ["query_id", "neighbor_id"],
                "left_anti",
            )
            sel_v = (
                selected.select("query_id", F.col("neighbor_id").alias("_sid"))
                .join(
                    corpus.select(
                        F.col("neighbor_id").alias("_sid"),
                        F.col("v").alias("sv"),
                    ),
                    "_sid",
                )
                .select("query_id", "_sid", "sv")
            )
            pen = (
                remaining.join(
                    corpus.select("neighbor_id", F.col("v").alias("dv")),
                    "neighbor_id",
                )
                .join(F.broadcast(sel_v), "query_id")
                .withColumn(
                    "_pc", pair_dot / (F.sqrt(pair_nd) * F.sqrt(pair_ns))
                )
                .groupBy("query_id", "neighbor_id", "cosine")
                .agg(F.max("_pc").alias("_maxsim"))
            )
            cand = pen.withColumn(
                "mmr_score",
                F.expr(f"{lam_s} * cosine - {one_minus} * _maxsim"),
            )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("mmr_score"), F.asc("neighbor_id")
        )
        pick = (
            cand.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "query_id",
                F.lit(step).cast("long").alias("rank"),
                "neighbor_id",
                "cosine",
                "mmr_score",
            )
        )
        selected = pin(
            pick if selected is None else selected.unionByName(pick)
        )
    return selected


# Fixed cosine finish over the exact quantized centroid sums — the
# dimension fold runs over BIGINT sums cast to DOUBLE in index order.
CENTROID_QUANT = 10**6


def centroid_drift(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    quant: int = CENTROID_QUANT,
) -> DataFrame:
    """Per-label embedding-centroid drift — the embedding-space
    analogue of doc_source_kl: each label's mean vector compared (by
    cosine) against the corpus mean. A label whose centroid points
    away from the corpus is the cluster to re-weight or re-audit
    before training; near-1 cosines mean the label adds no direction
    of its own.

    Determinism: components quantize to BIGINT (×1e6) so the per-
    (label, dim) and global per-dim sums are exact order-free
    integers; the 1/n scalar factors cancel in cosine, so the fold
    runs over the RAW integer sums cast to double in INDEX order on
    both engines (list position = dim) — no division before the
    final cosine.

    Scale: one narrow posexplode (|vecs|·dims rows) → one partial-agg
    groupBy to |labels|·dims rows → the tiny per-dim tables pivot
    back to arrays with sort-ordered collects; nothing after the
    first groupBy exceeds |labels|×dims.

    Output: (label, n_vecs, cos_to_global).
    """
    q = int(quant)
    e = _as_double(embeddings, vec_col).select(
        F.col(label_col).alias("label"),
        F.posexplode(vec_col).alias("dim", "v"),
    ).withColumn("vq", F.expr(f"CAST(round(v * {q}) AS BIGINT)"))
    per = e.groupBy("label", "dim").agg(
        F.sum("vq").cast("long").alias("sq"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    # the scalar 1/n and 1/g_n factors cancel in cosine, so the
    # arrays carry the RAW integer sums
    lab = per.groupBy("label").agg(
        F.max("n").cast("long").alias("n_vecs"),
        F.expr(
            "transform(sort_array(collect_list(struct(dim, sq))), "
            "e -> e.sq)"
        ).alias("cq"),
    )
    glob = per.groupBy("dim").agg(
        F.sum("sq").cast("long").alias("gq"),
        F.sum("n").cast("long").alias("gn"),
    )
    garr = glob.groupBy().agg(
        F.max("gn").cast("long").alias("g_n"),
        F.expr(
            "transform(sort_array(collect_list(struct(dim, gq))), "
            "e -> e.gq)"
        ).alias("gq_arr"),
    )
    j = lab.crossJoin(F.broadcast(garr))
    dot = (
        "aggregate(zip_with(cq, gq_arr, (x, y) -> CAST(x AS DOUBLE) "
        "* CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (a, t) -> a + t)"
    )
    nc = (
        "aggregate(transform(cq, x -> CAST(x AS DOUBLE) "
        "* CAST(x AS DOUBLE)), CAST(0 AS DOUBLE), (a, t) -> a + t)"
    )
    ng = (
        "aggregate(transform(gq_arr, x -> CAST(x AS DOUBLE) "
        "* CAST(x AS DOUBLE)), CAST(0 AS DOUBLE), (a, t) -> a + t)"
    )
    return j.select(
        F.col("label").cast("long").alias("label"),
        "n_vecs",
        F.expr(
            f"CASE WHEN {nc} > 0 AND {ng} > 0 THEN "
            f"{dot} / (sqrt({nc}) * sqrt({ng})) END"
        ).alias("cos_to_global"),
    )


RRF_K = 60  # Cormack et al. 2009's smoothing constant


def rrf_fusion(
    rankings: list, k: int = 5, rrf_k: int = RRF_K
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher 2009) —
    the hybrid-retrieval standard: each input ranking contributes
    1/(rrf_k + rank) per (query, item), summed across rankers; robust
    to incomparable score scales because only RANKS enter. The
    production pairing fuses a lexical ranker with a vector ranker;
    the operator is ranking-agnostic (any DataFrames with query_id /
    neighbor_id / rank).

    Determinism: ranks are exact BIGINTs; each contribution is one
    fixed CAST(1 AS DOUBLE)/(k + rank) division (the bare ``1.0``
    literal would run the division in DECIMAL on Spark — the
    DECIMAL-literal hazard); contributions fold in ranker order over
    the collected tagged union, so the ≤|rankers|-term float sum has
    a fixed order on both engines.

    Output: (query_id, neighbor_id, rrf_score, rank), top ``k`` per
    query, ties on neighbor_id.
    """
    from pyspark.sql import Window

    if not rankings:
        raise ValueError("rankings must be non-empty")
    tagged = None
    for i, r in enumerate(rankings):
        t = r.select(
            "query_id",
            "neighbor_id",
            F.lit(i).alias("_ranker"),
            F.col("rank").alias("_r"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    fused = tagged.groupBy("query_id", "neighbor_id").agg(
        F.expr(
            f"aggregate(transform(sort_array(collect_list("
            f"struct(_ranker, _r))), "
            f"e -> CAST(1 AS DOUBLE) / ({int(rrf_k)} + e._r)), "
            f"CAST(0 AS DOUBLE), (a, x) -> a + x)"
        ).alias("rrf_score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("neighbor_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "neighbor_id", "rrf_score", "rank")
    )


def bq_word_expr(
    vec: str, word: int, bits: int = 32, accessor: str = "element_at"
) -> str:
    """Sign-bit packing of ``bits`` vector components into one BIGINT
    word — component w·bits+j (0-based) contributes 2^j when ≥ 0. One
    explicit literal sum so Spark (``element_at``) and DuckDB
    (``list_extract``) fold the identical integers."""
    terms = " + ".join(
        f"(CASE WHEN {accessor}({vec}, {word * bits + j + 1}) >= 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )
    return f"CAST({terms} AS BIGINT)"


def binary_hamming_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    refine_k: int = 20,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-quantization retrieval (the vector-DB "BQ" standard —
    e.g. Jégou et al.'s sign-bit sketches): stage 1 ranks by Hamming
    distance over 1-bit-per-dimension sign words (dim/32 BIGINTs per
    vector — a 32× bandwidth cut and XOR+POPCNT per candidate), keeps
    ``refine_k`` candidates per query; stage 2 reranks those with the
    exact full-precision cosine.

    Complements the existing ANN family: LSH buckets (sub-linear
    probes), IVF/PQ (trained quantizers) — BQ is the training-free
    compressed EXHAUSTIVE scan, the strongest baseline when recall
    must not depend on bucketing luck.

    Determinism: bits and Hamming distances are exact integers; the
    refine cut uses the total order (hamming, neighbor_id); cosine is
    the shared sequential DOT fold with (cosine DESC, neighbor_id)
    final order.

    Output: (query_id, neighbor_id, hamming, cosine, rank), top ``k``.

    Plan / 100 TB: queries broadcast (packed once); the corpus scan
    packs words inline and never shuffles raw vectors for stage 1 —
    only (id, words, vector) survivors of the per-batch partial top-k
    (O(partitions·refine_k) rows per query) reach the single exchange;
    stage 2 touches refine_k rows per query.
    """
    n_words = (int(dim) + 31) // 32
    corpus = ensure_parallelism(
        _as_double(embeddings, vec_col).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v")
        )
    )
    qs = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q")
    )
    for w in range(n_words):
        corpus = corpus.withColumn(f"_vw{w}", F.expr(bq_word_expr("v", w)))
        qs = qs.withColumn(f"_qw{w}", F.expr(bq_word_expr("q", w)))
    ham = " + ".join(
        f"bit_count(_qw{w} ^ _vw{w})" for w in range(n_words)
    )
    scored = (
        corpus.join(
            F.broadcast(qs), F.col("query_id") != F.col("neighbor_id")
        )
        .withColumn("hamming", F.expr(f"CAST({ham} AS BIGINT)"))
        .select("query_id", "neighbor_id", "hamming", "q", "v")
    )
    from pyspark.sql import Window

    wh = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    kept = (
        scored.withColumn("_hr", F.row_number().over(wh))
        .filter(F.col("_hr") <= refine_k)
    )
    dot = F.expr(DOT.format(a="q", b="v"))
    nq = F.expr(DOT.format(a="q", b="q"))
    nv = F.expr(DOT.format(a="v", b="v"))
    rer = kept.withColumn("cosine", dot / (F.sqrt(nq) * F.sqrt(nv)))
    wc = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(wc).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "hamming", "cosine", "rank")
    )



def embedding_isotropy(
    embeddings: DataFrame,
    dim: int = 64,
    quant: int = 10**6,
    vec_col: str = "embedding",
) -> DataFrame:
    """Isotropy diagnostic of an embedding space (Ethayarajh 2019,
    Mu & Viswanath 2018): the mean pairwise cosine over ALL vector
    pairs — anisotropic spaces (every cosine high, the "narrow cone"
    pathology that breaks cosine retrieval) score near 1, healthy
    spaces near 0. Computed WITHOUT a pairwise pass via the sum-vector
    identity: Σ_{i≠j} v̂_i·v̂_j = |Σv̂|² − Σ|v̂|².

    Determinism: each unit vector is quantized per-component
    (round(x/|v|·quant) — the one float chain, identical both
    engines); per-dimension sums S_j and per-row norms Σ|V|² are then
    EXACT integers, squares accumulate in DECIMAL(38,0), and the mean
    cosine is one fixed cast-divide chain. Zero vectors are dropped.

    Output: one row (n_vectors, dim, mean_cosine).

    Plan / 100 TB: one narrow explode to (dim, component) rows, two
    partial-agg groupBys (per-dim sums: 64 rows; row-norm total: one
    row) — no pair ever materializes, no shuffle carries vectors.
    """
    q = int(quant)
    nd = int(dim)
    nv = F.expr(DOT.format(a="v", b="v"))
    base = (
        _as_double(embeddings, vec_col)
        .select(F.col(vec_col).alias("v"))
        .withColumn("_nv", nv)
        .filter(F.col("_nv") > 0)
        .select(
            F.expr(
                f"transform(v, x -> CAST(round(x / sqrt(_nv) * {q}) "
                "AS BIGINT))"
            ).alias("u")
        )
    )
    base = pin(base)
    comp = base.select(F.posexplode("u").alias("j", "c"))
    dims = comp.groupBy("j").agg(F.sum("c").cast("long").alias("s"))
    tot = dims.agg(
        F.sum(
            F.expr("CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0))")
        ).alias("_ss")
    )
    rows = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(
            F.expr(
                "aggregate(u, CAST(0 AS DECIMAL(38,0)), "
                "(a, x) -> a + CAST(x AS DECIMAL(38,0)) "
                "* CAST(x AS DECIMAL(38,0)))"
            )
        ).alias("_rn2"),
    )
    return rows.crossJoin(F.broadcast(tot)).select(
        "n_vectors",
        F.lit(nd).cast("long").alias("dim"),
        F.expr(
            f"CASE WHEN n_vectors > 1 THEN "
            f"(CAST(_ss AS DOUBLE) - CAST(_rn2 AS DOUBLE)) "
            f"/ (CAST(n_vectors AS DOUBLE) * (n_vectors - 1) "
            f"* {q} * CAST({q} AS DOUBLE)) END"
        ).alias("mean_cosine"),
    )


def sq8_distortion(
    embeddings: DataFrame,
    dim: int = 64,
    quant: int = 10**9,
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar (SQ8) quantization distortion — the quality panel for
    the simplest compressed-vector format (one byte per dimension,
    per-dimension min/max affine codes — the FAISS "SQ8" / Milvus
    default): per dimension, the reconstruction MSE and the dynamic
    range. Completes the compression-eval family: BQ (1 bit), PQ
    (codebooks), SQ8 (affine bytes).

    code  = round((x − mn_j) · 255 / (mx_j − mn_j))   ∈ [0, 255]
    recon = mn_j + code · (mx_j − mn_j) / 255

    Determinism: per-dim min/max are exact over doubles; code and
    recon are fixed per-element float chains (identical both
    engines); each squared error is 1e9-quantized to BIGINT so the
    per-dimension sum is exact (the pq_distortion convention).
    Constant dimensions (mx = mn) reconstruct exactly (code 0,
    recon = mn) — handled explicitly to avoid 0/0.

    Output: (dim_j, n, mn, mx, mse) — one row per dimension.

    Plan / 100 TB: one narrow posexplode, one partial-agg groupBy to
    ``dim`` rows for min/max (broadcast back), one more to the final
    ``dim`` rows. No joins beyond the 64-row broadcast.
    """
    q = int(quant)
    comp = _as_double(embeddings, vec_col).select(
        F.posexplode(F.col(vec_col)).alias("dim_j", "x")
    )
    ext = comp.groupBy("dim_j").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    recon = (
        "CASE WHEN mx = mn THEN mn ELSE "
        "mn + round((x - mn) * 255e0 / (mx - mn)) * (mx - mn) / 255e0 "
        "END"
    )
    err = comp.join(F.broadcast(ext), "dim_j").select(
        "dim_j",
        "mn",
        "mx",
        F.expr(
            f"CAST(round(({recon} - x) * ({recon} - x) * {q}) "
            "AS BIGINT)"
        ).alias("_eq"),
    )
    return err.groupBy("dim_j", "mn", "mx").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("_eq").cast("double") / F.count(F.lit(1)) / q).alias(
            "mse"
        ),
    ).select(
        F.col("dim_j").cast("long").alias("dim_j"), "n", "mn", "mx", "mse"
    )


def _jl_signs(out_dim: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 Johnson-Lindenstrauss sign matrix (Achlioptas
    2003's database-friendly projection, sign-only variant), generated
    from the golden-ratio low-discrepancy sequence so both engines
    consume the SAME Python-emitted literals."""
    rho = 0.6180339887498949
    return [
        [
            1 if ((i * dim + j + 1) * rho) % 1.0 < 0.5 else -1
            for j in range(dim)
        ]
        for i in range(out_dim)
    ]


def jl_distortion(
    embeddings: DataFrame,
    out_dim: int = 16,
    dim: int = 64,
    n_queries: int = 20,
    quant: int = 10**6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss distortion audit: project the probe set
    to ``out_dim`` with a literal ±1 sign matrix and report, per
    vector pair, the ratio of projected to original squared distance
    (scaled by 1/out_dim so a distance-preserving projection scores
    ≈ 1/dim·Σ... near 1 after the standard 1/k normalization). The
    empirical check behind every random-projection index decision:
    how much distance error does 4× compression actually cost on THIS
    corpus.

    Determinism: components quantize to BIGINT; projections are exact
    ±1 integer folds; both squared distances are exact BIGINT sums;
    the ratio is one fixed division rounded to 9 dp (coincident
    originals report the 0.0 sentinel).

    Output: (vec_a, vec_b, d2_orig, ratio) over the probe pairs.

    Plan / 100 TB: the probe set is tiny by contract (the exact-topk
    query-side rule); corpus-scale audits sample probes the same way.
    """
    q = int(quant)
    sgn = _jl_signs(int(out_dim), int(dim))
    sgn_lit = (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{s}L" for s in row) + ")"
            for row in sgn
        )
        + ")"
    )
    base = (
        _as_double(embeddings, vec_col)
        .filter(F.col(id_col) < n_queries)
        .select(
            F.col(id_col).alias("vid"),
            F.expr(
                f"transform({vec_col}, "
                f"x -> CAST(round(x * {q}) AS BIGINT))"
            ).alias("xq"),
        )
        .withColumn(
            "pj",
            F.expr(
                f"transform(sequence(1, {int(out_dim)}), i -> "
                f"aggregate(zip_with(xq, element_at({sgn_lit}, i), "
                f"(x, s) -> x * s), CAST(0 AS BIGINT), (a, t) -> a + t))"
            ),
        )
    )
    a = base.select(
        F.col("vid").alias("vec_a"),
        F.col("xq").alias("xa"),
        F.col("pj").alias("pa"),
    )
    b = base.select(
        F.col("vid").alias("vec_b"),
        F.col("xq").alias("xb"),
        F.col("pj").alias("pb"),
    )
    d2 = (
        "aggregate(zip_with({u}, {v}, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS BIGINT), (a, t) -> a + t)"
    )
    pairs = a.crossJoin(b).filter(F.col("vec_a") < F.col("vec_b")).select(
        "vec_a",
        "vec_b",
        F.expr(d2.format(u="xa", v="xb")).alias("d2o"),
        F.expr(d2.format(u="pa", v="pb")).alias("d2p"),
    )
    return pairs.select(
        "vec_a",
        "vec_b",
        F.col("d2o").alias("d2_orig"),
        F.expr(
            f"CASE WHEN d2o > 0 THEN "
            f"round((CAST(d2p AS DOUBLE) / {int(out_dim)}) / d2o, 9) "
            f"ELSE 0e0 END"
        ).alias("ratio"),
    )


def pq_balance(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ codebook balance per subspace: code-usage entropy and the
    hottest code's share — the index-health readout for product
    quantization (a subspace whose vectors pile onto few codewords
    carries almost no information and dominates the distortion
    emb_pq_distortion measures; balanced usage ≈ ln k entropy).

    Determinism: assignments come from pq_encode's sequential-fold
    argmin (first-minimum tie rule, engine-mirrored); counts are
    exact; entropy folds 1e9-quantized lns in DECIMAL(38,0); the
    share is one exact division.

    Output: (subspace, n_vectors, n_codes_used, entropy_nats,
    max_share).

    Plan / 100 TB: pq_encode's narrow map, one explode to m rows per
    vector, two partial-agg groupBys on (subspace, code) keys.
    """
    codes = pq_encode(embeddings, codebooks, id_col, vec_col)
    ex = codes.select(F.posexplode("codes").alias("s", "c"))
    cnt = ex.groupBy("s", "c").agg(
        F.count(F.lit(1)).cast("long").alias("cnum")
    )
    LNQ = "CAST(round(ln(CAST({x} AS DOUBLE)) * 1000000000) AS BIGINT)"
    tot = cnt.groupBy("s").agg(
        F.sum("cnum").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("used"),
        F.max("cnum").cast("long").alias("mx"),
    )
    j = cnt.join(tot, "s")
    return (
        j.select(
            "s",
            "n",
            "used",
            "mx",
            F.expr(
                f"CAST(cnum AS DECIMAL(38,0)) "
                f"* ({LNQ.format(x='n')} - {LNQ.format(x='cnum')})"
            ).alias("_hq"),
        )
        .groupBy(F.col("s").cast("long").alias("subspace"))
        .agg(
            F.max("n").alias("n_vectors"),
            F.max("used").alias("n_codes_used"),
            F.max("mx").alias("_mx"),
            F.sum("_hq").alias("_h"),
        )
        .select(
            "subspace",
            "n_vectors",
            "n_codes_used",
            F.expr(
                "CAST(_h AS DOUBLE) / (CAST(n_vectors AS DOUBLE) "
                "* 1000000000)"
            ).alias("entropy_nats"),
            F.expr(
                "CAST(_mx AS DOUBLE) / n_vectors"
            ).alias("max_share"),
        )
    )


def assign_margin(
    embeddings: DataFrame,
    centroids: list[list[float]],
    quant: int = 10**9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-assignment margin per IVF list: for every vector the
    relative gap (d₂² − d₁²)/d₂² between its best and second-best
    centroid — the clusterability/boundary-mass diagnostic behind IVF
    recall (margin ≈ 0 vectors sit on list boundaries and are exactly
    the ones n_probe > 1 exists to recover; a list full of low-margin
    vectors predicts poor single-probe recall BEFORE running the
    recall eval).

    Determinism: distances use the |v|²−2vc+|c|² sequential-fold
    algebra (engine-mirrored); best/second-best is a (d2, list_id)
    order statistic; each margin is a fixed division quantized to
    1e-9 BIGINT before the per-list exact sum; the mean is one
    division rounded to 9 dp.

    Output: (list_id, n_vectors, mean_margin, min_margin).

    Plan / 100 TB: corpus × n_lists broadcast expand (narrow — the
    ivf_ann assignment shape), one per-vector rank window keyed by
    vec id (never wider than n_lists rows per key), one per-list
    rollup.
    """
    from pyspark.sql import Window

    q = int(quant)
    spark = embeddings.sparkSession
    cents = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "list_id int, c array<double>",
    )
    fold = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0 AS DOUBLE), (acc, t) -> acc + t)"
    )
    d2 = (
        fold.format(a="v", b="v")
        + " - 2.0D * "
        + fold.format(a="v", b="c")
        + " + "
        + fold.format(a="c", b="c")
    )
    scored = (
        _as_double(embeddings, vec_col)
        .select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
        .crossJoin(F.broadcast(cents))
        .select("vid", "list_id", F.expr(d2).alias("_d2"))
    )
    w = Window.partitionBy("vid").orderBy("_d2", "list_id")
    ranked = scored.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") <= 2
    )
    piv = ranked.groupBy("vid").agg(
        F.max(F.when(F.col("_rk") == 1, F.col("list_id"))).alias("list_id"),
        F.max(F.when(F.col("_rk") == 1, F.col("_d2"))).alias("_d1"),
        F.max(F.when(F.col("_rk") == 2, F.col("_d2"))).alias("_dd2"),
    )
    mq = piv.select(
        "list_id",
        F.expr(
            f"CASE WHEN _dd2 > 0e0 THEN "
            f"CAST(round((_dd2 - _d1) / _dd2 * {q}) AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END"
        ).alias("_mq"),
    )
    return (
        mq.groupBy(F.col("list_id").cast("long").alias("list_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum("_mq").cast("long").alias("_sm"),
            F.min("_mq").cast("long").alias("_mn"),
        )
        .select(
            "list_id",
            "n_vectors",
            F.expr(
                f"round(CAST(_sm AS DOUBLE) / (n_vectors * {float(q)!r}), 9)"
            ).alias("mean_margin"),
            F.expr(f"CAST(_mn AS DOUBLE) / {float(q)!r}").alias(
                "min_margin"
            ),
        )
    )


# TwoNN shared expression text (imported by the oracle so both engines
# evaluate the IDENTICAL fixed expression tree). mu uses the ROUNDED
# ratio so the nano-nat ln consumes bit-identical doubles.
TWONN_MU = (
    "CASE WHEN (1e0 - cos1) > 0e0 "
    "THEN round((1e0 - cos2) / (1e0 - cos1), 9) ELSE 0e0 END"
)
TWONN_LNQ = (
    f"CASE WHEN (1e0 - cos1) > 0e0 AND ({TWONN_MU}) > 0e0 "
    f"THEN CAST(round(ln({TWONN_MU}) * 1000000000) AS BIGINT) "
    f"ELSE CAST(0 AS BIGINT) END"
)
TWONN_VALID = f"CASE WHEN (1e0 - cos1) > 0e0 THEN 1 ELSE 0 END"
TWONN_ID = (
    "CASE WHEN sum_lnq > 0 THEN "
    "round(CAST(n_valid AS DOUBLE) * 1000000000e0 "
    "/ CAST(sum_lnq AS DOUBLE), 9) ELSE 0e0 END"
)


def twonn_intrinsic_dim(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (Facco et al. 2017) over the
    probe set: per probe the ratio μ = d₂/d₁ of its two nearest
    angular distances (d = 1 − cosine), and the corpus-level MLE
    id = n / Σ ln μ — the manifold-dimension readout that says how
    much of the ambient embedding dimension the data actually uses
    (the eval beside emb_jl_distortion's compression error).

    Determinism: the two neighbors come from the gated exact top-k
    (total order cosine DESC, neighbor_id); μ is a fixed ratio of
    bit-identical doubles rounded to 9 dp; each ln μ is 1e9-quantized
    to BIGINT (nano-nat class) so the MLE sum is exact, finished by
    one division rounded to 9 dp. Probes with d₁ = 0 (an exact
    duplicate neighbor) report the 0.0 μ sentinel and are excluded
    from the MLE count.

    Output: (vec_id, nn1_id, nn2_id, mu, id_twonn) — id_twonn is the
    corpus-level estimate repeated per probe row (single-row
    aggregates are awkward surfaces; the repetition is exact).

    Plan / 100 TB: the cosine_topk shape (broadcast probes, corpus
    never shuffles, partial top-k) + one |probes|-row pivot and a
    1-row broadcast join back.
    """
    tk = cosine_topk(embeddings, queries, k=2, id_col=id_col, vec_col=vec_col)
    piv = (
        tk.groupBy("query_id")
        .agg(
            F.max(
                F.expr("CASE WHEN rank = 1 THEN neighbor_id END")
            ).alias("nn1_id"),
            F.max(
                F.expr("CASE WHEN rank = 2 THEN neighbor_id END")
            ).alias("nn2_id"),
            F.max(F.expr("CASE WHEN rank = 1 THEN cosine END")).alias(
                "cos1"
            ),
            F.max(F.expr("CASE WHEN rank = 2 THEN cosine END")).alias(
                "cos2"
            ),
        )
        .filter(F.col("nn2_id").isNotNull())
    )
    v = piv.select(
        F.col("query_id").alias("vec_id"),
        "nn1_id",
        "nn2_id",
        F.expr(TWONN_MU).alias("mu"),
        F.expr(TWONN_LNQ).alias("_lnq"),
        F.expr(TWONN_VALID).alias("_isv"),
    )
    tot = v.agg(
        F.sum("_isv").cast("long").alias("n_valid"),
        F.sum("_lnq").cast("long").alias("sum_lnq"),
    )
    return v.crossJoin(F.broadcast(tot)).select(
        "vec_id",
        "nn1_id",
        "nn2_id",
        "mu",
        F.expr(TWONN_ID).alias("id_twonn"),
    )


# Degree-assortativity shared expression text (the _corr_r family).
ASSORT_POS = (
    "(CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE) "
    "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0 AND "
    "(CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE) "
    "- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0"
)
ASSORT_R = (
    f"CASE WHEN {ASSORT_POS} THEN round("
    "(CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE) "
    "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
    "(sqrt(CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE) "
    "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) "
    "* sqrt(CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE) "
    "- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9) "
    "ELSE 0e0 END"
)


def knn_degree_assortativity(edges: DataFrame) -> DataFrame:
    """In-degree assortativity of a directed kNN graph: the Pearson
    correlation between source and target IN-degrees across edges
    (Newman 2002). Out-degree is the constant k in a kNN graph, so
    in-degree — how often a vector is CHOSEN as a neighbor — carries
    the structure: r > 0 means hubs point at hubs (a hub-clique
    pathology for graph-ANN routing), r < 0 means hubs absorb the
    periphery.

    ``edges`` is any (query_id, neighbor_id) edge list — here the
    gated emb_knn_graph output. The node set is the union of distinct
    sources and targets, so edge lists whose query set is a subset of
    the corpus (probe-subset kNN graphs) keep every edge: pure sinks
    have out-degree 0 but a defined in-degree, and no edge is dropped
    by the degree joins. Degrees are exact counts (vectors never
    chosen have in-degree 0 via the left join); the moments are
    exact BIGINT/DECIMAL(38,0) folds; r is the shared ASSORT_R fixed
    finish rounded to 9 dp (degenerate variance reports the 0.0
    sentinel).

    Output: one row (n_edges, n_nodes, assortativity).

    Plan / 100 TB: one partial-agg in-degree rollup, two broadcast
    degree joins onto the edge list, one global fold — no windows,
    no quadratic.
    """
    e = edges.select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    e = pin(e)
    indeg = e.groupBy("dst").agg(
        F.count(F.lit(1)).cast("long").alias("indeg")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = nodes.join(
        indeg.withColumnRenamed("dst", "node"), "node", "left"
    ).select("node", F.expr("coalesce(indeg, CAST(0 AS BIGINT))").alias("d"))
    # NO broadcast hint on the degree joins: deg is |nodes|-sized (a
    # corpus-scale table at 100 TB) — plain equi-joins let AQE pick
    # broadcast only while the side is actually small (the
    # emb_knn_graph / ADVICE-r7 rule).
    x = e.join(
        deg.select(F.col("node").alias("src"), F.col("d").alias("xd")),
        "src",
    ).join(
        deg.select(F.col("node").alias("dst"), F.col("d").alias("yd")),
        "dst",
    )
    g = x.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum("xd").cast("long").alias("sx"),
        F.sum("yd").cast("long").alias("sy"),
        F.sum(F.expr("CAST(xd AS DECIMAL(38,0)) * yd")).alias("sxy"),
        F.sum(F.expr("CAST(xd AS DECIMAL(38,0)) * xd")).alias("sxx"),
        F.sum(F.expr("CAST(yd AS DECIMAL(38,0)) * yd")).alias("syy"),
    )
    n_nodes = nodes.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    return g.crossJoin(F.broadcast(n_nodes)).select(
        "n_edges", "n_nodes", F.expr(ASSORT_R).alias("assortativity")
    )


def greedy_graph_search(
    edges: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    hops: int = 3,
    entry_id: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy best-neighbor routing over a kNN graph — the layer-0
    search step of graph-ANN indexes (HNSW/NSG): from a fixed entry
    point, repeatedly move to the out-neighbor most similar to the
    query. Completes the graph-ANN triad (build = emb_knn_graph,
    health = emb_knn_assortativity, search = this) with the
    unrolled-``hops`` deterministic variant an oracle can replay
    hop by hop.

    Determinism: each hop picks the (cosine DESC, neighbor_id) rank-1
    out-neighbor — exact fold cosines, total-order tie-break; a node
    with no out-edges ends the walk (bucketed kNN graphs have
    singleton-bucket sinks — the emission simply stops, identically
    in both engines). Hop 0 is the entry point itself.

    Output: (query_id, hop, node_id, cosine) — one row per reached
    hop per query.

    Plan / 100 TB: the walk frontier is |queries| rows; each hop is
    one |frontier|×k edge equi-join + one embedding lookup join + a
    ≤k-row rank window per query. The edge list is the pre-built
    (bounded, bucketed) graph — nothing quadratic, nothing
    corpus-broadcast.
    """
    emb = _as_double(embeddings, vec_col).select(
        F.col(id_col).alias("_nid"), F.col(vec_col).alias("_nv")
    )
    emb = pin(emb)
    e = pin(edges.select("query_id", "neighbor_id"))
    qs = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q")
    )
    from pyspark.sql import Window

    cos = F.expr(
        DOT.format(a="q", b="_nv")
        + " / (sqrt("
        + DOT.format(a="q", b="q")
        + ") * sqrt("
        + DOT.format(a="_nv", b="_nv")
        + "))"
    )
    # hop 0: the fixed entry point is ONE row — an explicit broadcast
    # cross join, NOT a constant-folded join condition (node_id = lit
    # folds to `0 = _nid`, a non-equi condition Catalyst can only run
    # as a partition-product cartesian once the checkpointed legs
    # lose their stats)
    entry = emb.filter(F.col("_nid") == int(entry_id))
    cur = (
        qs.crossJoin(F.broadcast(entry))
        .select(
            "query_id",
            "q",
            F.col("_nid").alias("node_id"),
            cos.alias("cosine"),
        )
        .withColumn("hop", F.lit(0).cast("long"))
    )
    out = [cur.select("query_id", "hop", "node_id", "cosine", "q")]
    for h in range(1, int(hops) + 1):
        prev = out[-1]
        cands = (
            prev.select("query_id", "q", F.col("node_id").alias("_cur"))
            .join(
                e.withColumnRenamed("query_id", "_cur"),
                "_cur",
            )
            .join(emb, F.col("neighbor_id") == F.col("_nid"))
            .select(
                "query_id",
                "q",
                F.col("neighbor_id").alias("node_id"),
                cos.alias("cosine"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("node_id")
        )
        step = (
            cands.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .select(
                "query_id",
                F.lit(h).cast("long").alias("hop"),
                "node_id",
                "cosine",
                "q",
            )
        )
        # pin each hop (the kmeans/pagerank iteration rule): without
        # it hop h re-derives every earlier hop inside the final
        # union — an O(hops²) plan blowup
        step = pin(step)
        out.append(step)
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res.select("query_id", "hop", "node_id", "cosine")


def cosine_threshold_counts(
    embeddings: DataFrame,
    queries: DataFrame,
    thresholds: tuple[float, ...] = (0.5, 0.7, 0.9),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-probe neighborhood-density curve: how many corpus vectors
    sit above each cosine threshold — the τ-calibration readout for
    embedding dedup (emb_near_dup_pairs' threshold) and radius
    search, where the top-k views can't show how sharply density
    falls with τ.

    Determinism: the scored set is the exact broadcast-probe fold
    (bit-identical cosines); counts are exact integers against
    Python-literal thresholds; shares are fixed divisions rounded to
    9 dp.

    Output: (query_id, n_corpus, n_ge_1, ..., share_1, ...) — one
    column pair per threshold, suffixed by index.

    Plan / 100 TB: the cosine_topk scan shape WITHOUT the rank
    window: probes broadcast, corpus never shuffles, one partial-agg
    rollup to |probes| rows.
    """
    corpus = ensure_parallelism(
        _as_double(embeddings, vec_col).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v")
        )
    )
    qs = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q")
    )
    dot = F.expr(DOT.format(a="q", b="v"))
    nq = F.expr(DOT.format(a="q", b="q"))
    nv = F.expr(DOT.format(a="v", b="v"))
    scored = corpus.join(
        F.broadcast(qs), F.col("query_id") != F.col("neighbor_id")
    ).withColumn("cosine", dot / (F.sqrt(nq) * F.sqrt(nv)))

    def lit(x: float) -> str:
        s = repr(float(x))
        return s if "e" in s or "E" in s else s + "e0"

    aggs = [F.count(F.lit(1)).cast("long").alias("n_corpus")]
    for i, t in enumerate(thresholds, 1):
        aggs.append(
            F.sum(
                F.expr(f"CASE WHEN cosine >= {lit(t)} THEN 1 ELSE 0 END")
            )
            .cast("long")
            .alias(f"n_ge_{i}")
        )
    g = scored.groupBy("query_id").agg(*aggs)
    shares = [
        F.expr(
            f"round(CAST(n_ge_{i} AS DOUBLE) "
            f"/ CAST(n_corpus AS DOUBLE), 9)"
        ).alias(f"share_{i}")
        for i in range(1, len(thresholds) + 1)
    ]
    return g.select(
        "query_id",
        "n_corpus",
        *[f"n_ge_{i}" for i in range(1, len(thresholds) + 1)],
        *shares,
    )


# --- round-10 additions: MMD two-sample test + LSH load balance --------


MMD_Z_CRIT = 1.96  # two-sided 5% normal critical value


def mmd_linear(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Linear-time MMD² two-sample test between the even- and
    odd-label embedding populations (Gretton et al. 2012, §6): pair
    consecutive samples within each group and average
    h = k(x₁,x₂) + k(y₁,y₂) − k(x₁,y₂) − k(x₂,y₁); the distribution-
    shift detector for embedding spaces — emb_centroid_drift sees
    only the mean, MMD sees any moment the kernel spans. O(n) by
    construction: the quadratic U-statistic's all-pairs kernel matrix
    never materializes, which is the 100 TB point.

    Kernel: quadratic k(u,v) = (u·v)² — dot products are sequential
    ``aggregate(zip_with(...))`` folds (bit-identical to DuckDB's
    list_dot_product, the cosine_topk contract) and the square is one
    exact IEEE multiply, so NO transcendental enters the pipeline
    (an RBF's exp() would 1-ulp-diverge cross-engine).

    Determinism: per-group ordering is the total order (vec_id) via
    two-phase ``util.global_rank``; h quantizes to exact nano ints
    before the corpus-order-independent BIGINT sum; mean/z are fixed
    finishes rounded to 9 dp (zero variance reports the 0.0 sentinel
    and shifted = false).

    Output: one row (n_a, n_b, n_pairs, mmd2_lin, z, shifted).
    """
    from pennsieve_streaming_spark.util import global_rank

    base = _as_double(embeddings, vec_col).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("v"),
        (F.col(label_col) % 2).cast("int").alias("grp"),
    )
    dot = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0 AS DOUBLE), (acc, t) -> acc + t)"
    )

    def pairs(grp: int, v0: str, v1: str) -> DataFrame:
        ranked = global_rank(
            base.filter(F.col("grp") == grp), [F.asc("_id")], "_r"
        ).select(
            F.expr("CAST((_r - 1) div 2 AS BIGINT)").alias("p"),
            F.expr("CAST((_r - 1) % 2 AS INT)").alias("pos"),
            "v",
        )
        a = ranked.filter(F.col("pos") == 0).select(
            "p", F.col("v").alias(v0)
        )
        b = ranked.filter(F.col("pos") == 1).select(
            "p", F.col("v").alias(v1)
        )
        return a.join(b, "p")  # complete pairs only

    pa = pairs(0, "a0", "a1")
    pb = pairs(1, "b0", "b1")
    counts = base.groupBy().agg(
        F.sum(F.expr("CASE WHEN grp = 0 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_a"),
        F.sum(F.expr("CASE WHEN grp = 1 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_b"),
    )
    k = "(({d}) * ({d}))"
    h = " + ".join(
        [
            k.format(d=dot.format(a="a0", b="a1")),
            k.format(d=dot.format(a="b0", b="b1")),
            "- " + k.format(d=dot.format(a="a0", b="b1")),
            "- " + k.format(d=dot.format(a="a1", b="b0")),
        ]
    ).replace("+ -", "-")
    hq = pa.join(pb, "p").select(
        F.expr(f"CAST(round(({h}) * 1000000000D) AS BIGINT)").alias("hq")
    )
    g = hq.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        # DECIMAL(38,0): |hq| can reach ~1e13+ per pair on wide
        # kernels; a BIGINT sum would wrap silently at corpus scale.
        F.sum(F.expr("CAST(hq AS DECIMAL(38,0))")).alias("_sh"),
        F.sum(F.expr("CAST(hq AS DECIMAL(38,0)) * hq")).alias("_shh"),
    )
    mean = "(CAST(_sh AS DOUBLE) / n_pairs / 1000000000D)"
    var = (
        "((CAST(_shh AS DOUBLE) / n_pairs "
        "- (CAST(_sh AS DOUBLE) / n_pairs) "
        "* (CAST(_sh AS DOUBLE) / n_pairs)) / 1e18)"
    )
    z = f"({mean} / sqrt({var} / n_pairs))"
    return (
        g.crossJoin(F.broadcast(counts))
        .filter(F.col("n_pairs") > 0)
        .select(
            "n_a",
            "n_b",
            "n_pairs",
            F.expr(f"round({mean}, 9)").alias("mmd2_lin"),
            F.expr(
                f"CASE WHEN {var} > 0e0 THEN round({z}, 9) "
                "ELSE 0e0 END"
            ).alias("z"),
            F.expr(
                f"CASE WHEN {var} > 0e0 THEN "
                f"abs(round({z}, 9)) > {MMD_Z_CRIT} ELSE false END"
            ).alias("shifted"),
        )
    )


LSH_BAL_TABLES = 4
LSH_BAL_BITS = 8


def lsh_bucket_balance(
    embeddings: DataFrame,
    n_tables: int = LSH_BAL_TABLES,
    bits: int = LSH_BAL_BITS,
    dim: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-table load-balance panel for the banded hyperplane-LSH
    index: bucket count, population, the largest bucket, and the
    expected probe cost Σ size² / N — the number of candidates a
    uniformly-drawn query pays in that table. THE skew diagnostic for
    LSH ANN at scale: a hot bucket is simultaneously a recall hole
    (its signature carries no information) and a latency tail; this
    panel is how you notice before production does (the
    hyperplane_matrix docstring's 90k-vector-bucket caveat, made
    measurable).

    Determinism: sign bits come from the lattice ``hyperplane_expr``
    family (engine-exact folds); keys, counts, Σsize² are exact
    integers; expected_probe is ONE fixed division rounded to 9 dp.

    Output: (tbl, n_buckets, n_vecs, max_bucket, sum_sq,
    expected_probe) — one row per table.

    Plan / 100 TB: one narrow projection for the keys, one explode to
    n_tables rows per vector, ONE partial-agg groupBy (tbl, key) —
    histogram size is bounded by occupied buckets, not vectors.
    """
    src = _as_double(embeddings, vec_col)
    tables = ", ".join(
        "named_struct('tbl', {t}, 'key', CAST({key} AS BIGINT))".format(
            t=t,
            key=" + ".join(
                f"({hyperplane_expr(vec_col, t * bits + b, dim)}) "
                f"* {1 << b}"
                for b in range(bits)
            ),
        )
        for t in range(n_tables)
    )
    keyed = src.select(
        F.expr(f"inline(array({tables}))")
    )
    per = keyed.groupBy("tbl", "key").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return per.groupBy("tbl").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("c").cast("long").alias("n_vecs"),
        F.max("c").cast("long").alias("max_bucket"),
        F.sum(F.expr("c * c")).cast("long").alias("sum_sq"),
    ).select(
        F.col("tbl").cast("long").alias("tbl"),
        "n_buckets",
        "n_vecs",
        "max_bucket",
        "sum_sq",
        F.expr(
            "round(CAST(sum_sq AS DOUBLE) / n_vecs, 9)"
        ).alias("expected_probe"),
    )
