"""Document deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (100 TB of documents):
- exact dedup is a hash-groupBy — one shuffle on a 16-byte digest, with
  map-side partial aggregation; no text ever shuffles.
- MinHash: shingle explosion is a narrow map; signatures reduce via
  min-aggregate (partial agg again); LSH banding turns the quadratic
  pair problem into an equi-join on (band, band_key) — only documents
  sharing a band bucket ever meet, and AQE's skew-join handles hot
  buckets.
- verification (exact Jaccard) runs only on candidate pairs.
- SimHash: one 32/64-bit fingerprint per doc; near-dup pairs via
  prefix-bucket equi-join + popcount(xor) <= k filter.

All hashes are the engine-portable polynomial hashes from
``hashing.py`` so the DuckDB oracle reproduces results exactly;
substitute xxhash64 for raw throughput in production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pennsieve_streaming_spark.llm.hashing import (
    P_MINHASH,
    P_POLY,
    md5_hash64_expr,
    minhash_perm_constants,
)
from pennsieve_streaming_spark.util import ensure_parallelism, pin

BAND_WEIGHTS = [1, 31, 961, 29791]  # 31^(j % rows_per_band), rows_per_band=4


def exact_dedup(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup via content digest: one row per distinct text with
    the representative (minimum) doc_id and the duplicate count."""
    return (
        documents.withColumn("digest", F.md5(F.col(text_col)))
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def shingles(
    documents: DataFrame, k: int = 3, text_col: str = "text"
) -> DataFrame:
    """Distinct word k-shingles per document, pre-hashed.

    Output: (doc_id, sh) where sh = poly_hash(k words joined by ' ').
    Tokenization: whitespace split of trimmed text.
    """
    toks = f"split(trim({text_col}), '\\\\s+')"
    # NB: Spark's sequence(1, 0) is DESCENDING [1, 0] — guard short docs.
    shingle_arr = (
        f"CASE WHEN size({toks}) < {k} THEN array() "
        f"ELSE transform(sequence(1, size({toks}) - {k - 1}), "
        f"i -> concat_ws(' ', "
        + ", ".join(f"element_at({toks}, i + {d})" for d in range(k))
        + ")) END"
    )
    return (
        ensure_parallelism(documents.select("doc_id", text_col), "doc_id")
        .select("doc_id", F.explode(F.expr(shingle_arr)).alias("s"))
        .select("doc_id", F.expr(md5_hash64_expr("s")).alias("sh"))
        .distinct()
    )


def minhash_wide(shingled: DataFrame, n_hashes: int = 16) -> DataFrame:
    """MinHash signature as one wide row per doc: (doc_id, mh_0..mh_{n-1}).

    minhash_j = min over shingles of (a_j*(sh % P) + b_j) % P. Computed
    as n min-aggregates in ONE groupBy — full map-side partial
    aggregation, one tiny shuffle, no row explosion (the exploded
    formulation shuffles |shingles| * n rows).
    """
    perms = minhash_perm_constants(n_hashes)
    sh = F.col("sh") % F.lit(P_MINHASH)
    aggs = [
        F.min((F.lit(a) * sh + F.lit(b)) % F.lit(P_MINHASH)).alias(f"mh_{j}")
        for j, (a, b) in enumerate(perms)
    ]
    return shingled.groupBy("doc_id").agg(*aggs)


def minhash_signatures(shingled: DataFrame, n_hashes: int = 16) -> DataFrame:
    """MinHash signature, exploded: (doc_id, j, minhash) for j in
    [0, n_hashes) — the wide form unpivoted via stack()."""
    wide = minhash_wide(shingled, n_hashes)
    stack = ", ".join(f"{j}, mh_{j}" for j in range(n_hashes))
    return wide.selectExpr(
        "doc_id", f"stack({n_hashes}, {stack}) AS (j, minhash)"
    ).select("doc_id", F.col("j").cast("int").alias("j"), "minhash")


def lsh_band_keys(
    signatures_wide: DataFrame, rows_per_band: int = 4
) -> DataFrame:
    """Collapse each signature band to one integer key:
    key = sum(minhash_j * 31^(j % rows_per_band)) over the band.

    Input is the WIDE signature (minhash_wide output); band keys are
    pure column arithmetic — no extra shuffle. Output:
    (doc_id, band, band_key).
    """
    n_hashes = sum(1 for c in signatures_wide.columns if c.startswith("mh_"))
    n_bands = n_hashes // rows_per_band
    tmp = signatures_wide
    for b in range(n_bands):
        key = None
        for r in range(rows_per_band):
            term = F.col(f"mh_{b * rows_per_band + r}") * F.lit(BAND_WEIGHTS[r])
            key = term if key is None else key + term
        tmp = tmp.withColumn(f"bk_{b}", key.cast("long"))
    stack = ", ".join(f"{b}, bk_{b}" for b in range(n_bands))
    return tmp.selectExpr(
        "doc_id", f"stack({n_bands}, {stack}) AS (band, band_key)"
    ).select("doc_id", F.col("band").cast("long").alias("band"), "band_key")


def lsh_candidate_pairs(
    band_keys: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """Distinct candidate pairs: docs sharing any (band, band_key).

    ``max_bucket_size`` is the hot-bucket skew guard. A degenerate
    corpus (boilerplate band — e.g. 10k identical docs) puts every doc
    in ONE (band, band_key) bucket, and the uncapped self-join emits
    |bucket|²/2 rows: 10⁸ pairs from 10k docs, a scale-killer at 100 TB.
    With a cap, buckets larger than ``max_bucket_size`` switch from
    all-pairs to STAR pairing — every member pairs with the bucket's
    minimum doc_id only — which emits O(|bucket|) rows while preserving
    exactly the property downstream dedup needs: all members of the
    bucket stay connected through the anchor, so duplicate-cluster
    membership (connected components / drop-higher-id) is unchanged.
    Only the non-anchor pair *listings* inside oversized buckets are
    elided, and those pairs are near-certain duplicates anyway (they
    collided on a full band). Small buckets are exhaustively paired —
    output is identical to the uncapped form whenever no bucket
    exceeds the cap.

    Plan: bucket stats come from one partial-agg groupBy (map-side
    combine absorbs the hot key), joined back on (band, band_key) —
    a 1-row-per-key build side, so the join cannot explode and AQE's
    skew-split applies cleanly. The all-pairs branch then self-joins
    only rows from buckets ≤ cap: per-bucket output is ≤ cap², giving
    a hard bound of |buckets|·cap² candidate rows.
    """
    if max_bucket_size is None:
        a = band_keys.alias("a")
        b = band_keys.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
    cap = int(max_bucket_size)
    # Materialize band_keys ONCE (optimization r11). The capped plan
    # references it from ~6 independent subtrees (stats, the a/b sides
    # of the small-bucket self-join, the star branch), and AQE submits
    # those leaf map stages CONCURRENTLY — with a lazy (or lazily
    # cached) input, each subtree replays the whole upstream
    # shingles→minhash pipeline in parallel (observed: six racing
    # identical jobs, none reusing the in-flight cache fill). Pinning
    # trades one write of the narrow (doc_id, band, band_key) table —
    # 3 BIGINTs/row, block-manager-backed with disk spill — for ≥6
    # replays of the far heavier signature pipeline.
    band_keys = pin(band_keys)
    stats = band_keys.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("_bn"),
        F.min("doc_id").alias("_anchor"),
    )
    keyed = band_keys.join(stats, ["band", "band_key"])
    small = keyed.filter(F.col("_bn") <= cap).select(
        "band", "band_key", "doc_id"
    )
    a = small.alias("a")
    b = small.alias("b")
    small_pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )
    star_pairs = (
        keyed.filter((F.col("_bn") > cap) & (F.col("doc_id") > F.col("_anchor")))
        .select(
            F.col("_anchor").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
    )
    return small_pairs.union(star_pairs).distinct()


def jaccard_pairs(
    shingled: DataFrame,
    candidates: DataFrame | None = None,
    min_jaccard: float = 0.0,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard similarity per document pair.

    With ``candidates`` given, only those pairs are scored (the LSH
    verify step); otherwise all pairs sharing at least one shingle
    (the plain n-gram-Jaccard near-dup operator).

    ``max_doc_freq`` (all-pairs mode): drop shingles appearing in more
    than N documents from the pair-generating self-join — the standard
    hot-shingle guard. One boilerplate shingle shared by 1M docs would
    otherwise explode the join to 10¹² rows; capped, the join is
    bounded by sum over kept shingles of df² ≤ |shingles|·N². Set sizes
    (n_a/n_b) still count ALL shingles, so the reported jaccard is a
    lower bound that ignores only boilerplate overlap.

    Output: (doc_a, doc_b, n_a, n_b, inter, jaccard).
    """
    joinable = shingled
    if max_doc_freq is not None and candidates is None:
        hot = (
            shingled.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("sh")
        )
        joinable = shingled.join(F.broadcast(hot), "sh", "left_anti")
    if candidates is not None:
        # Verify-only-candidates, set-array formulation: the pair list
        # is known, so instead of re-joining exploded (doc, sh) rows
        # (a 6-stage chain), materialize each candidate doc's FULL
        # shingle set as ONE array row and intersect row-locally per
        # pair. Exact same jaccard; shuffle = |cand docs| set rows +
        # two pair-to-set joins (vs the exploded self-join's
        # |cand shingle rows|) and half the stages. Pairs sharing no
        # shingle are filtered (the groupBy formulation never emitted
        # them).
        cand_docs = (
            candidates.select(F.col("doc_a").alias("doc_id"))
            .union(candidates.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        sets = (
            shingled.join(F.broadcast(cand_docs), "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(
                F.collect_list("sh").alias("shs"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        out = (
            candidates.select("doc_a", "doc_b")
            .join(
                sets.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("shs").alias("sa"),
                    F.col("n").alias("n_a"),
                ),
                "doc_a",
            )
            .join(
                sets.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("shs").alias("sb"),
                    F.col("n").alias("n_b"),
                ),
                "doc_b",
            )
            .withColumn(
                "inter", F.expr("size(array_intersect(sa, sb))").cast("long")
            )
            .filter(F.col("inter") > 0)
            .withColumn(
                "jaccard",
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
            )
        )
        if min_jaccard > 0.0:
            out = out.filter(F.col("jaccard") >= min_jaccard)
        return out.select("doc_a", "doc_b", "n_a", "n_b", "inter", "jaccard")
    sizes = shingled.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = joinable.alias("a")
    b = joinable.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    if candidates is not None:
        inter = inter.join(candidates, ["doc_a", "doc_b"], "inner")
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("n", "n_a")
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "n_b"),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
    )
    if min_jaccard > 0.0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out.select("doc_a", "doc_b", "n_a", "n_b", "inter", "jaccard")


def dedup_filter(
    documents: DataFrame, near_pairs: DataFrame, min_jaccard: float = 0.5
) -> DataFrame:
    """End-to-end dedup materialization: drop every doc that appears as
    the higher-id member of a near-duplicate pair (keep the lowest id
    of each duplicate cluster's pairwise relations).

    Anti-join keeps the corpus side distributed; the drop list is the
    (small) pair set. Output: the surviving documents.
    """
    drop = (
        near_pairs.filter(F.col("jaccard") >= min_jaccard)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return documents.join(F.broadcast(drop), "doc_id", "left_anti")


def simhash(shingled: DataFrame, bits: int = 32) -> DataFrame:
    """SimHash fingerprint from the shingle-hash set.

    Bit b of the fingerprint is 1 iff sum over shingles of
    (2*bit_b(sh') - 1) > 0, where sh' = ((sh % P_POLY) * 2654435761)
    % P_POLY remixes the hash so all 30 low bits are well distributed.

    Computed as ``bits`` sum-aggregates in one groupBy (map-side
    partial agg; no row explosion) and recombined with pure column
    arithmetic. Output: (doc_id, simhash LONG).
    """
    mixed = ((F.col("sh") % F.lit(P_POLY)) * F.lit(2654435761)) % F.lit(P_POLY)
    df = shingled.withColumn("shm", mixed)
    aggs = [
        F.sum(F.expr(f"(shiftright(shm, {b}) % 2) * 2 - 1")).alias(f"s_{b}")
        for b in range(bits)
    ]
    wide = df.groupBy("doc_id").agg(*aggs)
    fp = None
    for b in range(bits):
        term = F.when(
            F.col(f"s_{b}") > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return wide.select("doc_id", fp.alias("simhash"))


def simhash_bands(bits: int, n_bands: int) -> list[tuple[int, int, int]]:
    """Contiguous band layout (band, lo_bit, width), high bits first,
    widths as even as possible. Shared by the Spark operator and the
    oracle-SQL builder so both block identically."""
    base, extra = divmod(bits, n_bands)
    out = []
    hi = bits
    for i in range(n_bands):
        wd = base + (1 if i < extra else 0)
        out.append((i, hi - wd, wd))
        hi -= wd
    return out


def simhash_near_pairs(
    fingerprints: DataFrame,
    max_hamming: int = 4,
    bits: int = 32,
    n_bands: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash with BANDED blocking: split the
    ``bits``-bit fingerprint into ``n_bands`` contiguous bands
    (default ``max_hamming + 1``) and bucket on every (band, band
    bits) — the classic pigeonhole guarantee: a pair within hamming
    distance ``max_hamming`` has at most ``max_hamming`` differing
    bits, so with ``max_hamming + 1`` bands at least one band is
    bit-identical and the pair collides there. (The earlier
    single-prefix blocking silently missed any near-dup differing
    inside the top prefix — zero-recall for a whole class.)

    ``max_bucket_size`` is the same hot-bucket skew guard as
    :func:`lsh_candidate_pairs`: oversized buckets star-pair against
    the bucket's min-doc_id anchor (O(n) rows, connectivity kept)
    instead of all-pairs (O(n²)); the anchor's fingerprint rides along
    via min_by so the star branch still computes exact hamming.

    Output: (doc_a, doc_b, hamming) with hamming <= max_hamming,
    distinct across bands.

    Plan: the band explode is a narrow stack (n_bands-fold row growth,
    no shuffle); candidates come from one equi-join on (band,
    band_key); the cap's stats groupBy is map-side partial-agg with a
    1-row-per-key join back — bounded like the MinHash-LSH path.
    """
    if n_bands is None:
        n_bands = int(max_hamming) + 1
    layout = simhash_bands(bits, n_bands)
    stack = ", ".join(
        f"CAST({i} AS LONG), (shiftright(simhash, {lo}) & {(1 << wd) - 1})"
        for i, lo, wd in layout
    )
    # pin the (doc_id, simhash) input (optimization r11): the capped
    # branch references the banded table through stats, both self-join
    # legs, and two star passes — unpinned, each reference replayed
    # the WHOLE upstream fingerprint computation (the corpus-wide
    # simhash shingle agg, or the image dhash stage) — 8 planned
    # parquet scans in doc_simhash_near_pairs. The pinned table is one
    # narrow row per doc; the band stack below it is a cheap narrow
    # expansion.
    keys = pin(fingerprints.select("doc_id", "simhash")).selectExpr(
        "doc_id", "simhash", f"stack({n_bands}, {stack}) AS (band, band_key)"
    )
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).alias("hamming")
    if max_bucket_size is None:
        a = keys.alias("a")
        b = keys.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                hamming,
            )
            .filter(F.col("hamming") <= max_hamming)
            .distinct()
        )
    cap = int(max_bucket_size)
    stats = keys.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("_bn"),
        F.min("doc_id").alias("_anchor"),
        F.min_by("simhash", "doc_id").alias("_anchor_sh"),
        F.max("doc_id").alias("_anchor2"),
        F.max_by("simhash", "doc_id").alias("_anchor2_sh"),
    )
    # pin the stats-annotated table too: it feeds FOUR subtrees (both
    # small-pair self-join legs and the two star passes), each of
    # which would otherwise replay the stats shuffle + join. One
    # materialization (~n_bands rows/doc, hashes only) replaces four
    # replayed shuffles.
    keyed = pin(keys.join(stats, ["band", "band_key"]))
    small = keyed.filter(F.col("_bn") <= cap).select(
        "band", "band_key", "doc_id", "simhash"
    )
    a = small.alias("a")
    b = small.alias("b")
    small_pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming,
        )
    )
    over = keyed.filter(F.col("_bn") > cap)
    star_pairs = over.filter(F.col("doc_id") > F.col("_anchor")).select(
        F.col("_anchor").alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.bit_count(
            F.col("simhash").bitwiseXOR(F.col("_anchor_sh"))
        ).alias("hamming"),
    )
    # Second star against the MAX-doc_id anchor: a member whose
    # distance to the min anchor exceeds max_hamming would otherwise
    # list NO pair even when genuinely near a non-anchor member; a
    # second, maximally-separated anchor halves that residual at the
    # same O(|bucket|) cost (the two anchors pair with each other via
    # the first star, so connectivity is still one component).
    star2_pairs = over.filter(F.col("doc_id") < F.col("_anchor2")).select(
        F.col("doc_id").alias("doc_a"),
        F.col("_anchor2").alias("doc_b"),
        F.bit_count(
            F.col("simhash").bitwiseXOR(F.col("_anchor2_sh"))
        ).alias("hamming"),
    )
    return (
        small_pairs.union(star_pairs)
        .union(star2_pairs)
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def duplicated_span_stats(
    documents: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplication profile (the cross-document variant
    of suffix-array dedup from "Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022, simplified to fixed-width
    token k-grams): for every document, how much of it is covered by
    token spans of length ``k`` that also appear in >= ``min_docs``
    documents.

    Output: (doc_id, n_tokens, n_dup_grams, dup_covered, dup_fraction)
    where n_dup_grams counts k-gram start positions whose gram is
    cross-document duplicated, dup_covered is the size of the union of
    their [pos, pos+k) intervals, and dup_fraction = dup_covered /
    n_tokens.

    Scale shape: the k-gram explode is a narrow map (k-fold row growth,
    no shuffle); gram -> distinct-doc-count is one groupBy on the
    64-bit gram hash with map-side partials; the dup-gram set joins
    back on the same hash key (the exchange is reused); the interval
    union is a per-document window whose partition is one document's
    duplicated positions. All outputs are integers or exact integer
    ratios - bit-stable across engines with no quantization.
    """
    toks = f"split(trim({text_col}), '\\\\s+')"
    gram = "concat_ws(' ', " + ", ".join(
        f"element_at(toks, CAST(i + {d} AS INT))" for d in range(k)
    ) + ")"
    grams = (
        ensure_parallelism(documents.select("doc_id", text_col), "doc_id")
        .select("doc_id", F.expr(toks).alias("toks"))
        .select(
            "doc_id",
            F.expr("size(toks)").cast("long").alias("n_tokens"),
            F.explode(
                F.expr(
                    f"CASE WHEN size(toks) < {k} OR length(trim(concat_ws(' ', toks))) = 0 "
                    f"THEN array() "
                    f"ELSE transform(sequence(CAST(1 AS BIGINT), CAST(size(toks) - {k - 1} AS BIGINT)), "
                    f"i -> struct(i AS pos, {md5_hash64_expr(gram)} AS gh)) END"
                )
            ).alias("pg"),
        )
        .select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.gh").alias("gh"))
    )
    dup_grams = (
        grams.select("gh", "doc_id")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("gh")
    )
    dup_pos = grams.join(dup_grams, "gh").select("doc_id", "pos")
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    per_doc = (
        dup_pos.withColumn(
            "covered",
            F.least(F.lit(k), F.coalesce(F.lead("pos").over(w) - F.col("pos"), F.lit(k))),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_grams"),
            F.sum("covered").cast("long").alias("dup_covered"),
        )
    )
    n_toks = documents.select(
        "doc_id",
        F.expr(
            f"CASE WHEN length(trim({text_col})) = 0 THEN CAST(0 AS BIGINT) "
            f"ELSE CAST(size({toks}) AS BIGINT) END"
        ).alias("n_tokens"),
    )
    return (
        n_toks.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.coalesce("dup_covered", F.lit(0)).cast("long").alias("dup_covered"),
            F.expr(
                "CASE WHEN n_tokens = 0 THEN CAST(0 AS DOUBLE) "
                "ELSE coalesce(dup_covered, 0) / CAST(n_tokens AS DOUBLE) END"
            ).alias("dup_fraction"),
        )
    )


def scrub_duplicated_spans(
    documents: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """The action side of ``duplicated_span_stats``: REMOVE duplicated
    spans, keeping the first occurrence (Lee et al. 2022 policy — the
    minimum doc_id owning a k-gram keeps it; every other document
    drops the tokens its duplicated spans cover).

    Output: (doc_id, clean_text, n_tokens, n_dropped) — clean_text is
    the surviving tokens re-joined with single spaces (tokenization is
    whitespace-canonical, matching every other text operator here).

    Scale: same gram aggregation as the stats operator plus one
    bounded explode (k rows per duplicated position, distinct-ed), a
    left-anti join on (doc_id, position), and a per-document ordered
    re-assembly whose window partition is one document.
    """
    toks_expr = f"split(trim({text_col}), '\\\\s+')"
    gram = "concat_ws(' ', " + ", ".join(
        f"element_at(toks, CAST(i + {d} AS INT))" for d in range(k)
    ) + ")"
    base = (
        ensure_parallelism(documents.select("doc_id", text_col), "doc_id")
        .select("doc_id", F.expr(toks_expr).alias("toks"))
    )
    grams = base.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(toks) < {k} OR length(trim(concat_ws(' ', toks))) = 0 "
                f"THEN array() "
                f"ELSE transform(sequence(CAST(1 AS BIGINT), CAST(size(toks) - {k - 1} AS BIGINT)), "
                f"i -> struct(i AS pos, {md5_hash64_expr(gram)} AS gh)) END"
            )
        ).alias("pg"),
    ).select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.gh").alias("gh"))
    owners = grams.groupBy("gh").agg(
        F.min("doc_id").alias("owner"),
        F.count_distinct("doc_id").alias("nd"),
    )
    dup = owners.filter(F.col("nd") >= min_docs).select("gh", "owner")
    drop_pos = (
        grams.join(dup, "gh")
        .filter(F.col("doc_id") != F.col("owner"))
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(pos, pos + {k - 1})")).alias("tokpos"),
        )
        .distinct()
    )
    tokens = base.select(
        "doc_id",
        F.expr(
            f"CASE WHEN length(trim(concat_ws(' ', toks))) = 0 THEN array() "
            f"ELSE toks END"
        ).alias("toks"),
    ).select(
        "doc_id",
        F.posexplode("toks").alias("p0", "token"),
    ).select(
        "doc_id", (F.col("p0") + 1).cast("long").alias("tokpos"), "token"
    )
    kept = tokens.join(drop_pos, ["doc_id", "tokpos"], "left_anti")
    # a fully-scrubbed doc has NO kept rows, so doc length must come
    # from a doc-level frame, not from the surviving-token aggregate
    rebuilt = kept.groupBy("doc_id").agg(
        F.expr(
            "array_join(transform(sort_array(collect_list(struct(tokpos, token))), "
            "s -> s.token), ' ') AS clean_text"
        ),
        F.count("token").cast("long").alias("n_kept"),
    )
    n_toks = documents.select(
        "doc_id",
        F.expr(
            f"CASE WHEN length(trim({text_col})) = 0 THEN CAST(0 AS BIGINT) "
            f"ELSE CAST(size({toks_expr}) AS BIGINT) END"
        ).alias("n_tokens"),
    )
    return (
        n_toks.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("long").alias("n_dropped"),
        )
    )


def minhash_jaccard_estimate(
    signatures: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Estimate Jaccard similarity for candidate pairs from MinHash
    signature agreement: est = (# positions where the two signatures
    agree) / n_hashes — the estimation step of the Broder sketch that
    LSH banding short-circuits (verify candidates WITHOUT touching the
    shingle sets: n_hashes integers per doc instead of the full set).

    ``signatures``: exploded (doc_id, j, minhash); ``pairs``: (doc_a,
    doc_b). Output: (doc_a, doc_b, n_agree, n_hashes, jaccard_est) —
    all integers until the final division.

    100 TB: the per-pair cost is n_hashes rows via two equi-joins on
    doc id — independent of document length, which is the reason this
    beats exact verification when shingle sets are large.
    """
    a = signatures.select(
        F.col("doc_id").alias("doc_a"), "j", F.col("minhash").alias("mh_a")
    )
    b = signatures.select(
        F.col("doc_id").alias("doc_b"), "j", F.col("minhash").alias("mh_b")
    )
    j = pairs.join(a, "doc_a").join(b, ["doc_b", "j"])
    return (
        j.groupBy("doc_a", "doc_b")
        .agg(
            F.sum(
                F.when(F.col("mh_a") == F.col("mh_b"), 1).otherwise(0)
            ).cast("long").alias("n_agree"),
            F.count(F.lit(1)).cast("long").alias("n_hashes"),
        )
        .withColumn(
            "jaccard_est",
            F.expr("n_agree / CAST(n_hashes AS DOUBLE)"),
        )
    )


def winnow_fingerprints(
    documents: DataFrame,
    k: int = 5,
    window: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003 — the MOSS algorithm): from each sliding window of
    ``window`` consecutive token-``k``-gram hashes, select the minimum
    (rightmost on ties); the distinct selected (position, hash) set is
    the fingerprint. Guarantees any shared run of ``window + k - 1``
    tokens yields at least one shared fingerprint, at ~2/(window+1)
    sample density — the local-coverage property plain 0-mod-p hash
    sampling lacks.

    Determinism/portability: gram hash is the shared md5-prefix
    integer; the min-with-rightmost-tie is ONE integer window-min by
    packing (hash mod 2^40) into the high bits and (2^23-1 - pos) into
    the low bits — no argmin/min_by (whose tie order engines leave
    undefined). Positions must stay < 2^23 (8M tokens/doc — far above
    any training document; violators would need a wider packing).

    Output: (doc_id, pos, fp) — pos is the 1-based gram start, fp the
    40-bit selected hash.

    Scale: the gram explode is narrow; ranking/min windows partition
    per document. One shuffle on doc_id, then distinct within the same
    partitioning — at 100 TB this is strictly lighter than the MinHash
    signature pass.
    """
    from pyspark.sql import Window as W

    ws = int(window)
    toks = f"split(trim({text_col}), '\\\\s+')"
    gram = "concat_ws(' ', " + ", ".join(
        f"element_at(toks, CAST(i + {d} AS INT))" for d in range(int(k))
    ) + ")"
    grams = (
        ensure_parallelism(documents.select("doc_id", text_col), "doc_id")
        .select("doc_id", F.expr(toks).alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"CASE WHEN size(toks) < {k} OR length(trim(concat_ws(' ', toks))) = 0 "
                    f"THEN array() "
                    f"ELSE transform(sequence(CAST(1 AS BIGINT), CAST(size(toks) - {k - 1} AS BIGINT)), "
                    f"i -> struct(i AS pos, {md5_hash64_expr(gram)} AS gh)) END"
                )
            ).alias("pg"),
        )
        .select(
            "doc_id", F.col("pg.pos").alias("pos"), F.col("pg.gh").alias("gh")
        )
    )
    packed = grams.select(
        "doc_id",
        "pos",
        F.expr(
            f"(gh % {1 << 40}) * {1 << 23} + ({(1 << 23) - 1} - pos)"
        ).alias("key"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    sel = (
        packed.withColumn(
            "mk", F.min("key").over(w.rowsBetween(-(ws - 1), 0))
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") >= ws)  # full windows only
        .select(
            "doc_id",
            (F.lit((1 << 23) - 1) - F.col("mk") % (1 << 23)).alias("pos"),
            F.expr(f"mk div {1 << 23}").alias("fp"),
        )
        .distinct()
    )
    return sel


def winnow_overlap_pairs(
    documents: DataFrame,
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_df: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Near-dup candidate pairs by winnowing-fingerprint overlap — the
    MOSS similarity report: documents sharing >= ``min_shared``
    selected fingerprints, scored by containment (shared / smaller
    fingerprint set), the asymmetric measure that catches one document
    EMBEDDING another where plain Jaccard dilutes away.

    Fingerprints occurring in more than ``max_df`` documents are
    dropped before the self-join (the hot-shingle guard every
    shingle-join operator here uses — boilerplate fingerprints would
    otherwise quadratically explode the join; the cap is documented
    behavior, not a silent truncation).

    Output: (doc_a, doc_b, n_shared, containment) with doc_a < doc_b;
    containment = n_shared / min(|fp_a|, |fp_b|) — a ratio of exact
    integers.

    Scale: the join is on the fingerprint value with per-key fan-out
    <= max_df, so candidate volume is sum(df²) bounded by |fp|·max_df;
    per-doc counts broadcast back. Same shape as the LSH band join.
    """
    # pin the fingerprint table (optimization r11): sizes, the df cap,
    # and both self-join legs reference it, and each reference used to
    # replay the whole winnowing pipeline (char k-grams + window-min
    # selection over every document). One narrow (doc_id, fp)
    # materialization, the fingerprint pass runs once.
    fps = pin(
        winnow_fingerprints(documents, k, window, text_col).select(
            "doc_id", "fp"
        ).distinct()
    )
    sizes = fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fp")
    )
    df_cap = fps.groupBy("fp").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    ).filter(F.col("df") <= max_df)
    kept = fps.join(df_cap.select("fp"), "fp")
    a = kept.select(F.col("doc_id").alias("doc_a"), "fp")
    b = kept.select(F.col("doc_id").alias("doc_b"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("nb"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / F.least("na", "nb").cast("double")
            ).alias("containment"),
        )
    )


def dedup_stats(documents: DataFrame, by: str = "source") -> DataFrame:
    """Dedup reporting rollup: per ``by``-group document count,
    distinct-content count, duplicate count and rate — the per-source
    health dashboard a curation run publishes after exact dedup.

    Output: (source, n_docs, n_unique, n_dups, dup_rate) — counts are
    exact integers; dup_rate is one float division.

    Scale: a (by, digest) groupBy with map-side partials (the digest
    keeps text out of the shuffle), then a |groups|-row rollup —
    strictly cheaper than the dedup itself.
    """
    per_digest = (
        documents.withColumn("digest", F.md5(F.col("text")))
        .groupBy(F.col(by).alias("source"), "digest")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return per_digest.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_unique"),
        (F.sum("c") - F.count(F.lit(1))).cast("long").alias("n_dups"),
        (
            (F.sum("c") - F.count(F.lit(1))).cast("double")
            / F.sum("c").cast("double")
        ).alias("dup_rate"),
    )


def containment_pairs(
    shingled: DataFrame,
    max_doc_freq: int | None = None,
    min_containment: float = 0.0,
) -> DataFrame:
    """Exact shingle-set CONTAINMENT per document pair: cont_a =
    |A∩B| / |A| (and symmetrically cont_b) — the asymmetric near-dup
    measure that catches a short document swallowed whole by a long
    one, which symmetric Jaccard dilutes toward 0 (Broder 1997
    distinguishes resemblance vs containment for exactly this case).

    Same join shape and ``max_doc_freq`` hot-shingle guard as
    :func:`jaccard_pairs` all-pairs mode (set sizes count ALL
    shingles; only pair *generation* drops boilerplate shingles, so
    reported containment is a lower bound ignoring boilerplate
    overlap). ``min_containment`` filters on max(cont_a, cont_b).

    Output: (doc_a, doc_b, n_a, n_b, inter, cont_a, cont_b).
    """
    joinable = shingled
    if max_doc_freq is not None:
        hot = (
            shingled.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("sh")
        )
        joinable = shingled.join(F.broadcast(hot), "sh", "left_anti")
    sizes = shingled.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = joinable.alias("a")
    b = joinable.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("n", "n_a")
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "n", "n_b"
            ),
            "doc_b",
        )
        .withColumn("cont_a", F.col("inter") / F.col("n_a"))
        .withColumn("cont_b", F.col("inter") / F.col("n_b"))
    )
    if min_containment > 0.0:
        out = out.filter(
            F.greatest("cont_a", "cont_b") >= F.lit(min_containment)
        )
    return out.select(
        "doc_a", "doc_b", "n_a", "n_b", "inter", "cont_a", "cont_b"
    )


def shingle_novelty(documents: DataFrame, k: int = 3) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct k-shingles whose FIRST corpus occurrence (minimum doc_id
    — the deterministic stand-in for ingest order) is this document.
    The standard curriculum/ordering signal: novelty ≈ 1 is fresh
    content, novelty ≈ 0 is recombined boilerplate — finer-grained
    than near-dup pairing because it scores every document against
    the whole corpus prefix, not against one partner.

    Determinism: exact integer counts over the shared shingle table;
    the ratio is one fixed expression rounded to 9 dp. Documents too
    short to shingle emit (0, 0, NULL) explicitly.

    Output: (doc_id, n_shingles, n_novel, novelty).

    Scale: one groupBy on the shingle hash (partial-agg; only 8-byte
    hashes shuffle) + a join back on the same key + a per-doc rollup
    — the exact-dedup shape, nothing quadratic.
    """
    sh = shingles(documents, k)
    first = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    per = (
        sh.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            )
            .cast("long")
            .alias("n_novel"),
        )
    )
    return (
        documents.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias(
                "n_shingles"
            ),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.expr(
                "CASE WHEN n_shingles IS NULL OR n_shingles = 0 "
                "THEN CAST(NULL AS DOUBLE) "
                "ELSE round(CAST(n_novel AS DOUBLE) "
                "/ CAST(n_shingles AS DOUBLE), 9) END"
            ).alias("novelty"),
        )
    )


CDC_W = 8           # rolling-hash window (chars)
CDC_B = 31          # polynomial base
CDC_MASK = 1_048_575   # mod 2^20
CDC_DIV = 64        # boundary when h % 64 == 63 -> ~64-char chunks


def cdc_chunks(documents: DataFrame) -> DataFrame:
    """Content-defined chunking (the LBFS/Rabin boundary rule of
    Muthitacharoen et al. 2001 — the storage-dedup standard behind
    restic/borg/LLM-corpus delta storage): a chunk boundary falls
    after any position whose ``CDC_W``-char polynomial rolling hash
    satisfies h % CDC_DIV == CDC_DIV−1. Because boundaries are pure
    functions of LOCAL content, an insertion re-chunks only its own
    neighborhood — exactly why CDC beats fixed-size blocks for dedup
    — and, unlike FastCDC's min/max-bounded variant (a sequential
    dependence a production pipeline would run inside mapInPandas),
    the unbounded rule is position-parallel and SQL-replayable.

    Determinism: the hash is an exact integer polynomial over code
    points (all BIGINT, masked to 2^20); chunk ids are exact prefix
    sums of boundary flags; chunk text reassembles in position order
    and is fingerprinted with md5 (identical VARCHAR on both
    engines); n_copies is a corpus-wide exact count per fingerprint.

    Output: (doc_id, chunk_id, start_pos, chunk_len, chunk_md5,
    n_copies) — n_copies > 1 marks storage-dedupable chunks.

    Plan / 100 TB: one chars-explode (linear, no text duplication —
    the rolling hash comes from CDC_W window lags, not per-position
    substring copies), one per-doc window pass (bounded by doc
    length), one groupBy to chunks, one |chunks|-keyed count join on
    the 32-char fingerprint. Only (doc, pos, char) rows and chunk
    fingerprints ever shuffle.
    """
    from pyspark.sql import Window

    chars = documents.filter(F.expr("length(text) >= 1")).select(
        "doc_id",
        F.posexplode(F.expr("split(text, '')")).alias("pos", "ch"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    h_terms = " + ".join(
        f"COALESCE(_c{k}, 0) * {CDC_B ** k}" for k in range(CDC_W)
    )
    hashed = (
        chars.withColumn("code", F.expr("CAST(ascii(ch) AS BIGINT)"))
        .select(
            "doc_id",
            "pos",
            "ch",
            F.col("code").alias("_c0"),
            *[
                F.lag("code", k).over(w).alias(f"_c{k}")
                for k in range(1, CDC_W)
            ],
        )
        .withColumn(
            "_bnd",
            F.expr(
                f"CASE WHEN pos >= {CDC_W - 1} AND "
                f"(({h_terms}) % {CDC_MASK + 1}) % {CDC_DIV} "
                f"= {CDC_DIV - 1} THEN 1 ELSE 0 END"
            ),
        )
        .withColumn(
            "chunk_id",
            F.coalesce(
                F.sum("_bnd").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("long"),
        )
    )
    chunks = hashed.groupBy("doc_id", "chunk_id").agg(
        F.min("pos").cast("long").alias("start_pos"),
        F.count(F.lit(1)).cast("long").alias("chunk_len"),
        F.md5(
            F.expr(
                "concat_ws('', transform(sort_array(collect_list("
                "struct(pos, ch))), e -> e.ch))"
            )
        ).alias("chunk_md5"),
    )
    # copy counts as a window over the fingerprint — ONE exchange on
    # chunk_md5 instead of a groupBy + join pair (plan-guarded in the
    # scale smoke: the whole operator stays at three exchanges)
    cw = Window.partitionBy("chunk_md5")
    return chunks.select(
        "doc_id",
        "chunk_id",
        "start_pos",
        "chunk_len",
        "chunk_md5",
        F.count(F.lit(1)).over(cw).cast("long").alias("n_copies"),
    )


def minhash_calibration(
    shingled: DataFrame,
    signatures: DataFrame,
    candidates: DataFrame,
    n_buckets: int = 10,
) -> DataFrame:
    """MinHash estimator calibration over the LSH candidate pairs:
    the |estimate − exact Jaccard| error histogram — the eval that
    tells you whether n_hashes is large enough for the dedup
    threshold (Broder's bound: stderr ≈ √(j(1−j)/n_hashes); at 16
    hashes most mass should sit in the first two deciles). Composes
    the two already-gated primitives (signature-agreement estimate +
    exact set Jaccard) into the quality panel next to doc_lsh_eval's
    recall numbers.

    Determinism: est = n_agree/n_hashes and jaccard = inter/union are
    single exact-integer divisions (identical doubles both engines);
    candidates sharing no shingle take exact Jaccard 0; the decile
    floor of the identical |difference| double is engine-identical.

    Output: (err_decile 0..9, n_pairs).

    Plan / 100 TB: inherits the candidate-capped LSH join bounds;
    the histogram is a 10-row rollup.
    """
    est = minhash_jaccard_estimate(signatures, candidates)
    true = jaccard_pairs(shingled, candidates=candidates).select(
        "doc_a", "doc_b", "jaccard"
    )
    j = est.join(true, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        "jaccard_est",
        F.coalesce("jaccard", F.lit(0.0)).alias("_true"),
    )
    return (
        j.select(
            F.expr(
                f"least(CAST({n_buckets - 1} AS BIGINT), "
                f"CAST(floor(abs(jaccard_est - _true) * {n_buckets}) "
                f"AS BIGINT))"
            ).alias("err_decile")
        )
        .groupBy("err_decile")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def dup_source_mix(pairs: DataFrame, documents: DataFrame) -> DataFrame:
    """Cross- vs within-source split of the verified near-dup pairs:
    mirror-site duplication lands CROSS-source, repost/template
    duplication lands WITHIN — the one-row diagnosis that decides
    whether dedup should run globally or per-source (a 100 TB cost
    lever: per-source dedup shuffles a fraction of the corpus).

    ``pairs`` is any (doc_a, doc_b) table — here the gated
    LSH-verified near-dup pairs, so the count is banding-bounded.

    Determinism: exact counts after two source-lookup joins; shares
    are fixed divisions rounded to 9 dp. A grand aggregate with no
    groupBy always emits exactly one row, so zero input pairs yields
    the single row (n_pairs=0, n_within=0, n_cross=0, shares 0.0) —
    the coalesced-zeros contract, not an empty result.

    Output: (n_pairs, n_within, n_cross, within_share, cross_share).

    Plan / 100 TB: two equi-joins of the (small, capped) pair list
    against the doc→source projection, one global fold.
    """
    src = documents.select("doc_id", "source")
    j = (
        pairs.select("doc_a", "doc_b")
        .join(
            src.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("_sa"),
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("_sb"),
            ),
            "doc_b",
        )
    )
    g = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        # coalesce: a global agg over ZERO pairs still emits one row,
        # and SUM over empty is NULL (the no-NULL output policy)
        F.coalesce(
            F.sum(F.expr("CASE WHEN _sa = _sb THEN 1 ELSE 0 END")),
            F.lit(0),
        )
        .cast("long")
        .alias("n_within"),
        F.coalesce(
            F.sum(F.expr("CASE WHEN _sa = _sb THEN 0 ELSE 1 END")),
            F.lit(0),
        )
        .cast("long")
        .alias("n_cross"),
    )
    share = (
        "CASE WHEN n_pairs > 0 THEN round(CAST({c} AS DOUBLE) "
        "/ CAST(n_pairs AS DOUBLE), 9) ELSE 0e0 END"
    )
    return g.select(
        "n_pairs",
        "n_within",
        "n_cross",
        F.expr(share.format(c="n_within")).alias("within_share"),
        F.expr(share.format(c="n_cross")).alias("cross_share"),
    )


# --- round-10 addition: LSH banding S-curve tuning panel ---------------


def pow2_chain(x: str, e: int) -> str:
    """``x`` raised to the power-of-two exponent ``e`` as a repeated-
    squaring multiplication chain — pure IEEE multiplies with a FIXED
    association, so the text evaluates bit-identically on Spark and
    DuckDB (a libm ``pow`` would 1-ulp-diverge)."""
    if e <= 0 or e & (e - 1):
        raise ValueError(f"exponent {e} must be a positive power of two")
    out = f"({x})"
    while e > 1:
        out = f"({out} * {out})"
        e >>= 1
    return out


def lsh_tuning_panel(
    pairs: DataFrame, n_perms: int = 16, tau: float = 0.2
) -> DataFrame:
    """Banding tuning panel: for every (bands b, rows r) split of the
    ``n_perms`` MinHash signature (both powers of two), score the
    banded-LSH S-curve P(candidate | j) = 1 − (1 − j^r)^b against the
    OBSERVED df-capped exact-Jaccard pair distribution — expected
    candidate mass, expected false-candidate mass (pairs below
    ``tau``) and expected missed mass (pairs ≥ tau the banding would
    skip). This answers the only LSH question that matters at 100 TB
    — "which (b, r) do I run?" — from the corpus's own similarity
    histogram instead of a rule of thumb (Leskovec/Rajaraman/Ullman
    ch. 3 S-curve analysis, made data-driven).

    Determinism: j is an exact integer division; every S-curve term
    is a repeated-squaring multiplication chain (:func:`pow2_chain` —
    no libm pow anywhere in the mass columns); per-pair probabilities
    quantize to exact nano ints before the order-independent BIGINT
    sums; the (1/b)^(1/r) threshold is the one pow-derived DISPLAY
    column and sits inside round(..., 9) (the oracle ln-rule).

    Output: one row per split (n_bands, rows_per_band, n_pairs,
    s_curve_threshold, exp_cand_nano, exp_fp_nano, exp_fn_nano).

    Plan / 100 TB: ONE aggregation pass over the pair table computes
    all splits' masses (3·|splits| sum columns), then a constant-size
    unpivot — the pair table is never re-scanned per split.
    """
    splits = []
    b = int(n_perms)
    r = 1
    while b >= 1:
        splits.append((b, r))
        b >>= 1
        r <<= 1
    aggs = [F.count(F.lit(1)).cast("long").alias("n_pairs")]
    for b, r in splits:
        jr = pow2_chain("jaccard", r)
        p = f"(1.0D - {pow2_chain(f'(1.0D - {jr})', b)})"
        aggs.append(
            F.sum(
                F.expr(f"CAST(round({p} * 1000000000D) AS BIGINT)")
            ).cast("long").alias(f"_c_{b}_{r}")
        )
        aggs.append(
            F.sum(
                F.expr(
                    f"CASE WHEN jaccard < {tau!r} THEN "
                    f"CAST(round({p} * 1000000000D) AS BIGINT) "
                    "ELSE CAST(0 AS BIGINT) END"
                )
            ).cast("long").alias(f"_fp_{b}_{r}")
        )
        aggs.append(
            F.sum(
                F.expr(
                    f"CASE WHEN jaccard >= {tau!r} THEN "
                    f"CAST(round((1.0D - {p}) * 1000000000D) AS BIGINT) "
                    "ELSE CAST(0 AS BIGINT) END"
                )
            ).cast("long").alias(f"_fn_{b}_{r}")
        )
    g = pairs.agg(*aggs)
    rows = ", ".join(
        f"named_struct('n_bands', CAST({b} AS BIGINT), "
        f"'rows_per_band', CAST({r} AS BIGINT), "
        f"'s_curve_threshold', "
        f"round(power(1.0D / {b}, 1.0D / {r}), 9), "
        f"'exp_cand_nano', coalesce(_c_{b}_{r}, CAST(0 AS BIGINT)), "
        f"'exp_fp_nano', coalesce(_fp_{b}_{r}, CAST(0 AS BIGINT)), "
        f"'exp_fn_nano', coalesce(_fn_{b}_{r}, CAST(0 AS BIGINT)))"
        for b, r in splits
    )
    return g.select(
        F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias(
            "n_pairs"
        ),
        F.expr(f"inline(array({rows}))"),
    )


# Broadcast the delta shingle table when the delta has at most this
# many documents: at the shingle contract's ~1k shingles/doc and 16
# bytes/row that is ~1.6 GiB worst-case, inside a 4 GiB executor
# broadcast budget — and the standing corpus then never shuffles.
CROSS_CORPUS_BROADCAST_DOCS = 100_000


def cross_corpus_containment(
    shingled: DataFrame,
    new_ids: DataFrame,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    broadcast_delta: bool | None = None,
) -> DataFrame:
    """Incremental-crawl dedup screen: every NEW document scored by
    its best shingle-containment match in the EXISTING corpus —
    cont = |new ∩ old| / |new| (Broder's asymmetric measure: a new
    doc swallowed whole by an archive page must score 1, which
    symmetric Jaccard dilutes). The shape every recurring crawl runs:
    dedup the delta against the standing corpus WITHOUT re-pairing
    the standing corpus against itself.

    ``new_ids``: (doc_id) rows naming the new side; the rest of
    ``shingled`` is the existing corpus. ``max_doc_freq`` drops
    hot (boilerplate) shingles from pair GENERATION only — new-doc
    set sizes still count all shingles, so containment is a lower
    bound ignoring boilerplate overlap (the jaccard_pairs contract).

    Determinism: counts exact; containment is one exact-integer
    division; the best match is the total order (inter DESC, old
    doc_id ASC) — for a fixed new doc that equals (containment DESC,
    doc_id ASC); matchless new docs report the −1 / 0.0 sentinels.

    Output: (doc_id, n_shingles, best_match_id, inter, containment,
    is_dup) — one row per new document.

    Plan / 100 TB: the join is new-side shingles × existing-side
    shingles on the 8-byte hash ONLY (text never shuffles), bounded
    by Σ_sh df_new(sh)·df_old(sh) under the hot-shingle cap; the
    per-new-doc argmax window partitions by new doc_id (max partition
    = one doc's candidate matches). The delta is usually ≪ the
    corpus, so the delta shingle table is size-gated BROADCAST into
    the containment join (``broadcast_delta``: None = auto via a
    bounded count of the delta id list against
    CROSS_CORPUS_BROADCAST_DOCS; True/False force) — a recurring
    crawl then never shuffles the standing corpus's shingle table.
    """
    from pyspark.sql import Window

    if broadcast_delta is None:
        # bounded count: scans at most threshold+1 delta ids, never
        # the corpus
        broadcast_delta = (
            new_ids.limit(CROSS_CORPUS_BROADCAST_DOCS + 1).count()
            <= CROSS_CORPUS_BROADCAST_DOCS
        )

    new_sh = shingled.join(F.broadcast(new_ids), "doc_id", "left_semi")
    old_sh = shingled.join(F.broadcast(new_ids), "doc_id", "left_anti")
    return cross_corpus_containment_presplit(
        new_sh,
        old_sh,
        threshold=threshold,
        max_doc_freq=max_doc_freq,
        broadcast_delta=broadcast_delta,
    )


def cross_corpus_containment_presplit(
    new_sh: DataFrame,
    old_sh: DataFrame,
    new_ids: DataFrame | None = None,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    broadcast_delta: bool | None = None,
) -> DataFrame:
    """:func:`cross_corpus_containment` over ALREADY-SPLIT shingle
    sides (optimization r11, guide §2.4/§3): callers that hold the
    delta and the standing corpus as separate document sets were
    building ``shingles(standing ∪ delta)`` only for the containment
    join to semi/anti-split it apart again — and because Spark plans
    each DataFrame reference as its own subtree, the 4 references
    (sizes, probe, hot-df, join) each re-ran the full union+explode
    (doc_incremental_dedup_screened: 24 parquet scans of the corpus).
    Passing ``shingles(delta_docs)`` / ``shingles(standing_docs)``
    directly keeps the explode on each side's own rows and drops the
    re-split joins; verdicts are bit-identical because per-doc
    shingling commutes with doc-level set splits.

    Under ``broadcast_delta`` the delta shingle table is additionally
    pinned (eager localCheckpoint — it is delta-sized by the same
    gate that allows the broadcast), so the delta side is computed
    once and read by its two consumers (sizes + containment probe)
    instead of re-deriving per reference. The standing side is NOT
    materialized: its two passes (hot-shingle df + containment probe)
    re-scan, which at 100 TB is two streaming corpus passes instead
    of a corpus-sized checkpoint write.
    """
    from pyspark.sql import Window

    from pennsieve_streaming_spark.util import pin

    if broadcast_delta is None:
        ids = (
            new_ids
            if new_ids is not None
            else new_sh.select("doc_id").distinct()
        )
        broadcast_delta = (
            ids.limit(CROSS_CORPUS_BROADCAST_DOCS + 1).count()
            <= CROSS_CORPUS_BROADCAST_DOCS
        )
    if broadcast_delta:
        new_sh = pin(new_sh.select("doc_id", "sh"))
    if max_doc_freq is not None:
        hot = (
            old_sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("sh")
        )
        old_sh = old_sh.join(F.broadcast(hot), "sh", "left_anti")
    sizes = new_sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    delta_side = new_sh.select("doc_id", "sh")
    if broadcast_delta:
        delta_side = F.broadcast(delta_side)
    inter = (
        delta_side.join(
            old_sh.select(F.col("doc_id").alias("_old"), "sh"), "sh"
        )
        .groupBy("doc_id", "_old")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("inter"), F.asc("_old")
    )
    best = (
        inter.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("doc_id", F.col("_old").alias("best_match_id"), "inter")
    )
    # best has at most one row per delta doc — under the same gate it
    # broadcasts into the finish join, keeping the whole plan
    # shuffle-free on the corpus side
    out = sizes.join(
        F.broadcast(best) if broadcast_delta else best, "doc_id", "left"
    )
    return out.select(
        "doc_id",
        "n_shingles",
        F.coalesce("best_match_id", F.lit(-1)).cast("long").alias(
            "best_match_id"
        ),
        F.coalesce("inter", F.lit(0)).cast("long").alias("inter"),
        F.expr(
            "CASE WHEN n_shingles = 0 THEN CAST(0 AS DOUBLE) "
            "ELSE coalesce(inter, 0) / CAST(n_shingles AS DOUBLE) END"
        ).alias("containment"),
        F.expr(
            "CASE WHEN n_shingles = 0 THEN false "
            "ELSE (coalesce(inter, 0) / CAST(n_shingles AS DOUBLE)) "
            f">= {threshold} END"
        ).alias("is_dup"),
    )


# --- round-11 additions: bloom crawl screen ----------------------------

CRAWL_BLOOM_M = 524_288  # pinned ladder rung for the oracle-gated runs


def standing_bloom(
    shingled: DataFrame, n_bits: int | None = None
) -> tuple[list[int], int]:
    """DISTRIBUTED bloom build over a shingle-hash column ``sh`` —
    the standing-corpus analogue of curation's driver-side
    ``bloom_words_from_hashes`` (which collects the hash set first:
    right for MB-sized benchmarks, impossible for a corpus). Here the
    probe positions are computed executor-side (the shared
    ``bloom_pos_expr`` lattice — bit-identical across Spark / DuckDB /
    Python) and folded with a ``bit_or`` partial agg on the word
    index, so the only thing the driver ever holds is the finished
    bitset: m/64 signed int64 words (the 64 Mib top rung collects
    8 MB, never the shingles).

    ``n_bits``: a _BLOOM_LADDER rung, or None to auto-size from a
    distinct-count of ``sh`` (>= 16 bits/element, loud clamp).
    Returns (words, m)."""
    from pennsieve_streaming_spark.llm.curation import (
        BLOOM_PROBES,
        _bloom_p2,
        bloom_bits_for,
        bloom_pos_expr,
    )

    if n_bits is None:
        m = bloom_bits_for(shingled.select("sh").distinct().count())
    else:
        _bloom_p2(n_bits)  # ValueError off-ladder, up front
        m = n_bits
    probes = ", ".join(
        f"named_struct('w', CAST(({bloom_pos_expr('sh', i, m)}) "
        "div 64 AS INT), "
        "'b', shiftleft(CAST(1 AS BIGINT), "
        f"CAST(({bloom_pos_expr('sh', i, m)}) % 64 AS INT)))"
        for i in range(BLOOM_PROBES)
    )
    rows = (
        shingled.select("sh")
        .distinct()
        .select(F.expr(f"inline(array({probes}))"))
        .groupBy("w")
        .agg(F.expr("bit_or(b)").alias("word"))
        .collect()
    )
    words = [0] * (m // 64)
    for r in rows:
        words[r["w"]] = r["word"]
    return words, m


def crawl_bloom_screen(
    documents: DataFrame,
    new_ids: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    n_bits: int | None = None,
) -> DataFrame:
    """Bloom containment pre-screen of a crawl delta against the
    standing corpus — the cheap first stage in front of the exact
    :func:`cross_corpus_containment` audit (the decontamination
    screen's bloom→exact discipline, applied to crawl dedup): the
    standing corpus's shingle set folds into ONE bitset (distributed
    build, :func:`standing_bloom`; in production a maintained
    artifact updated per crawl), and every new document is scored in
    one narrow map — zero joins, zero shuffles on either corpus.

    The bloom has no false negatives, so ``bloom_ratio >=`` the exact
    containment on every doc: a delta doc with bloom_ratio below the
    threshold is PROVABLY not a near-dup, and only flagged docs need
    the exact shingle join. Shingle-less docs (< k tokens) report the
    0-ratio sentinel and are never flagged.

    Output: (doc_id, n_shingles, n_bloom_hits, bloom_ratio, flagged)
    — one row per delta document.
    """
    from pennsieve_streaming_spark.llm.curation import (
        TOKS,
        bloom_test_col_expr,
        shingle_hash_arr_expr,
    )

    standing = documents.join(F.broadcast(new_ids), "doc_id", "left_anti")
    words, m = standing_bloom(shingles(standing, k), n_bits)
    spark = documents.sparkSession
    wdf = spark.createDataFrame([(words,)], "bloom_words array<bigint>")
    delta = documents.join(F.broadcast(new_ids), "doc_id", "left_semi")
    test = bloom_test_col_expr("h", m)
    return (
        ensure_parallelism(
            delta.select("doc_id", F.expr(TOKS).alias("toks")), "doc_id"
        )
        .select(
            "doc_id",
            F.expr(shingle_hash_arr_expr(k)).alias("doc_sh"),
        )
        .crossJoin(F.broadcast(wdf))
        .select(
            "doc_id",
            F.expr("size(doc_sh)").cast("long").alias("n_shingles"),
            F.expr(f"size(filter(doc_sh, h -> {test}))")
            .cast("long")
            .alias("n_bloom_hits"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_bloom_hits",
            F.expr(
                "CASE WHEN n_shingles = 0 THEN CAST(0 AS DOUBLE) "
                "ELSE n_bloom_hits / CAST(n_shingles AS DOUBLE) END"
            ).alias("bloom_ratio"),
            F.expr(
                "CASE WHEN n_shingles = 0 THEN false "
                "ELSE n_bloom_hits / CAST(n_shingles AS DOUBLE) "
                f">= {threshold} END"
            ).alias("flagged"),
        )
    )


def cross_corpus_containment_screened(
    documents: DataFrame,
    new_ids: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    n_bits: int | None = None,
) -> DataFrame:
    """Production-scale incremental-crawl dedup: the bloom pre-screen
    (:func:`crawl_bloom_screen`) decides WHICH delta docs pay the
    exact containment join; the expensive shingle equi-join against
    the standing corpus runs only for the flagged subset. ``is_dup``
    verdicts are identical to :func:`cross_corpus_containment` — the
    bloom never under-counts, so an unflagged doc's exact containment
    is provably < threshold and it reports the −1/0 sentinels (the
    ``contamination_screened`` output contract).

    Output: (doc_id, n_shingles, n_bloom_hits, bloom_ratio,
    best_match_id, inter, containment, is_dup) — one row per delta
    document.

    Plan / 100 TB: the corpus pays ONE narrow scan for the bloom
    build (in production: a maintained bitset artifact) and the
    shingle join touches only the standing rows whose hashes match a
    FLAGGED doc's shingles — on a typical crawl (a few % flagged)
    that is orders of magnitude less shuffle than the unscreened
    audit.
    """
    # pin: the screen (bloom build + delta scoring scan) feeds both
    # the flagged-id list (referenced throughout the audit) and the
    # final join — unpinned it re-executes once per reference
    scr = pin(
        crawl_bloom_screen(documents, new_ids, k, threshold, n_bits)
    )
    flagged_ids = scr.filter(F.col("flagged")).select("doc_id")
    standing = documents.join(F.broadcast(new_ids), "doc_id", "left_anti")
    flagged_docs = documents.join(
        F.broadcast(flagged_ids), "doc_id", "left_semi"
    )
    # pre-split audit (optimization r11): shingle each side's own
    # documents instead of shingling the union and re-splitting it
    # inside the containment join — identical verdicts (per-doc
    # shingling commutes with the doc-level split), but the corpus
    # explode is no longer replayed per plan reference (24 -> 4
    # parquet scans at sf0.1) and the flagged side explodes only the
    # flagged few instead of filtering a full-corpus explode.
    audited = cross_corpus_containment_presplit(
        shingles(flagged_docs, k),
        shingles(standing, k),
        new_ids=flagged_ids,
        threshold=threshold,
        max_doc_freq=max_doc_freq,
    ).select("doc_id", "best_match_id", "inter", "containment", "is_dup")
    # audited is flagged-subset-sized (one row per flagged doc — the
    # few % the screen exists to isolate): broadcast into the finish
    return scr.join(F.broadcast(audited), "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        "n_bloom_hits",
        "bloom_ratio",
        F.coalesce("best_match_id", F.lit(-1)).cast("long").alias(
            "best_match_id"
        ),
        F.coalesce("inter", F.lit(0)).cast("long").alias("inter"),
        F.coalesce("containment", F.lit(0.0)).alias("containment"),
        F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
    )
