"""Text analysis: token stats, quality scoring, language-ID,
fingerprinting — all JVM-side expressions (no Python UDFs), designed to
run as a single narrow map over a 100 TB documents table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pennsieve_streaming_spark.llm.hashing import poly_hash_expr
from pennsieve_streaming_spark.util import pin

TOKS = "split(trim(text), '\\\\s+')"

# BPE training runs on the driver up to this many distinct words, and
# encoding broadcasts the merge state up to this many rows
BPE_DRIVER_VOCAB_CAP = 2_000_000
BPE_BROADCAST_CAP = 5_000_000

# Per-language marker words for the n-gram/stopword language heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "a"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein"],
    "es": ["el", "la", "de", "que", "los", "una", "es"],
    "fr": ["le", "les", "et", "des", "une", "est", "dans"],
    "zh": ["的", "是", "不", "了", "在", "我", "有"],
}
# Deterministic prediction priority (ties resolve to the earlier entry).
LANG_PRIORITY = ["en", "de", "es", "fr", "zh"]

EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "that", "this",
]

# GPT-2-style pretokenizer, simplified to the RE2-compatible subset
# (no lookahead) so the DuckDB oracle matches: contractions, letter
# runs, digit runs, punctuation runs, whitespace runs.
BPE_PATTERN = r"'(ll|ve|re|[sdmt])| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"


def _marker_count_expr(markers: list[str], toks: str = "toks") -> str:
    arr = ", ".join("'" + m.replace("'", "''") + "'" for m in markers)
    return f"size(filter({toks}, t -> array_contains(array({arr}), lower(t))))"


def _with_toks(documents: DataFrame, *extra_cols: str) -> DataFrame:
    """Tokenize once — every downstream stat reads the array column
    instead of re-splitting the text."""
    return documents.select(
        "doc_id", "text", *extra_cols, F.expr(TOKS).alias("toks")
    )


def token_stats(documents: DataFrame) -> DataFrame:
    """Per-document token statistics.

    Output: (doc_id, n_chars, n_tokens, n_alpha, n_punct, avg_token_len).
    """
    return _with_toks(documents).select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.expr(
            "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE size(toks) END"
        ).cast("long").alias("n_tokens"),
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast("long").alias("n_alpha"),
        F.length(F.regexp_replace("text", "[^.,;:!?]", "")).cast("long").alias("n_punct"),
        F.expr(
            "CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS DOUBLE) "
            "ELSE aggregate(transform(toks, t -> length(t)), 0, (a, x) -> a + x) "
            "/ CAST(size(toks) AS DOUBLE) END"
        ).alias("avg_token_len"),
        F.regexp_count("text", F.lit(BPE_PATTERN)).cast("long").alias("n_tokens_bpe"),
    )


def with_quality(documents: DataFrame) -> DataFrame:
    """``documents`` + (n_tokens, alpha_ratio, stop_ratio, quality)
    columns, all input columns preserved.

    A pure projection — no join, no shuffle — so it applies unchanged
    to a streaming DataFrame (the incremental corpus path in
    ``streaming/corpus.py``). Catalyst's subexpression elimination
    collapses the repeated ``split`` into one evaluation.
    """
    stop_expr = _marker_count_expr(EN_STOPWORDS, toks=TOKS)
    return (
        documents.withColumn(
            "n_tokens", F.expr(f"size({TOKS})").cast("long")
        )
        .withColumn(
            "alpha_ratio",
            F.expr(
                # guard: empty text would divide by zero (ANSI mode)
                "CASE WHEN length(text) = 0 THEN CAST(0 AS DOUBLE) "
                "ELSE length(regexp_replace(text, '[^A-Za-z]', '')) "
                "/ CAST(length(text) AS DOUBLE) END"
            ),
        )
        .withColumn(
            "stop_ratio",
            F.expr(f"{stop_expr} / CAST(size({TOKS}) AS DOUBLE)"),
        )
        .withColumn(
            "quality",
            F.col("alpha_ratio") * 0.5
            + F.col("stop_ratio") * 0.3
            + F.least(F.col("n_tokens"), F.lit(200)) / F.lit(200.0) * 0.2,
        )
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Heuristic document quality in [0, 1]:
    0.5*alpha_ratio + 0.3*stopword_ratio + 0.2*min(n_tokens,200)/200.

    Output: (doc_id, n_tokens, alpha_ratio, stop_ratio, quality).
    """
    return with_quality(documents).select(
        "doc_id", "n_tokens", "alpha_ratio", "stop_ratio", "quality"
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Marker-word language heuristic.

    Output: (doc_id, lang, predicted_lang, correct) — `lang` is the
    labeled column from the table, `predicted_lang` the heuristic's
    argmax with deterministic priority tie-breaking.

    Scores use regexp_count (whole-stage codegen, no tokenization):
    count of word-boundary marker matches per language.
    """
    def score(markers: list[str]) -> F.Column:
        pat = r"\b(" + "|".join(markers) + r")\b"
        return F.regexp_count(F.lower("text"), F.lit(pat))

    df = documents.select(
        "doc_id",
        "lang",
        *[score(ms).alias(f"score_{c}") for c, ms in LANG_MARKERS.items()],
    )
    # First language (in priority order) whose score >= every later
    # language's score — argmax with deterministic tie-breaking.
    pred = F.lit(LANG_PRIORITY[-1])
    for i in range(len(LANG_PRIORITY) - 2, -1, -1):
        code = LANG_PRIORITY[i]
        cond = None
        for other in LANG_PRIORITY[i + 1:]:
            c = F.col(f"score_{code}") >= F.col(f"score_{other}")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(code)).otherwise(pred)
    return df.withColumn("predicted_lang", pred).select(
        "doc_id",
        "lang",
        "predicted_lang",
        (F.col("predicted_lang") == F.col("lang")).alias("correct"),
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """Rolling-hash content fingerprint (doc_id, fp LONG)."""
    return documents.select(
        "doc_id", F.expr(poly_hash_expr("text")).alias("fp")
    )


def tfidf_top_terms(documents: DataFrame, k: int = 3) -> DataFrame:
    """Top-k TF-IDF terms per document.

    tf = term count within the doc (whitespace tokens, lowercased);
    df = number of docs containing the term; idf = ln(N / df);
    score = tf * idf; top-k by (score DESC, term ASC) per doc.

    Plan shape for 100 TB: the token explode is a narrow map; both
    aggregations are partial-agg friendly groupBys (map-side combine
    shrinks the shuffle to distinct (doc, term) / term cardinality);
    the corpus size N is a broadcast one-row cross join; the per-doc
    top-k window partitions by doc_id — max partition size is one
    document's distinct terms, never a scale hazard.

    Output: (doc_id, term, tf, df, score, rank).
    """
    from pyspark.sql import Window

    toks = (
        _with_toks(documents)
        .where(F.expr("length(trim(text)) > 0"))
        .select("doc_id", F.explode(F.expr("transform(toks, t -> lower(t))")).alias("term"))
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            # ln() is not correctly rounded (JVM vs libm can differ in
            # the last ulp), so the idf is quantized to 9 decimals to
            # keep scores bit-replayable cross-engine; tf is an exact
            # integer so the product stays deterministic.
            "score",
            F.col("tf") * F.expr("round(ln(n_docs / df), 9)"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


def inverted_index(
    documents: DataFrame, min_df: int = 1, max_df: int | None = None
) -> DataFrame:
    """Full-text inverted index: one row per term with document
    frequency, collection frequency, and the ascending posting list.

    Output: (term, df, cf, postings) — ``postings`` is the
    comma-joined ascending doc_id list (a string, so the row stays
    flat for wire formats and engine-portable comparison).

    Scale: explode -> ONE (term, doc_id) groupBy with map-side partial
    counts -> ONE term groupBy. The posting list concentrates a term's
    docs into one row — at web scale a stopword's postings would be a
    giant row, so pass ``max_df`` to drop terms above a document-
    frequency ceiling (search engines skip stopword postings anyway);
    the aggregation itself only shuffles (term, doc_id, count) triples.
    """
    toks = (
        _with_toks(documents)
        .where(F.expr("length(trim(text)) > 0"))
        .select(
            "doc_id",
            F.explode(F.expr("transform(toks, t -> lower(t))")).alias("term"),
        )
    )
    tf = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    return (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cf"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("doc_id"))),
                    lambda s: s["doc_id"].cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .where(F.col("df") >= min_df)
        .where(F.lit(max_df is None) | (F.col("df") <= F.lit(max_df or 0)))
    )


def bm25_search(
    documents: DataFrame,
    queries: list[tuple[int, str]],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """Okapi BM25 ranking of every document against a small query set.

    score(q, d) = sum over query terms t of
        idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))
    with idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5)), the standard
    non-negative Robertson-Sparck-Jones variant.

    Output: (query_id, doc_id, score, rank) for the ``top_k`` docs per
    query (rank ties broken by ascending doc_id).

    Determinism: idf and each per-term partial are quantized to 9
    decimals (ln and division are engine-rounding-sensitive), and the
    per-document score folds its matched terms in ascending term order
    — never a partition-order float sum.

    Scale: the query set is tiny and broadcast; the only corpus-wide
    work is the same tf/df aggregation the TF-IDF path runs. The
    per-query top-k window partitions by query_id — fine for a handful
    of queries; for thousands, swap in the partial top-k pattern from
    ``similarity.cosine_topk``.
    """
    from pyspark.sql import Window

    spark = documents.sparkSession
    qterms = [
        (int(qid), t.lower())
        for qid, qtext in queries
        for t in dict.fromkeys(qtext.split())
    ]
    qdf = spark.createDataFrame(qterms, "query_id long, term string")

    toks = (
        _with_toks(documents)
        .where(F.expr("length(trim(text)) > 0"))
        .select(
            "doc_id",
            F.explode(F.expr("transform(toks, t -> lower(t))")).alias("term"),
        )
    )
    # One tokenize pass (optimization r11): tf is PINNED (it feeds the
    # df counts and the match join — each reference used to replay the
    # corpus tokenize + explode), and dl is DERIVED from it
    # (sum of per-term counts per doc == the doc's token count, and
    # both see exactly the docs with >= 1 token) instead of
    # re-aggregating the token stream a second time.
    tf = pin(
        toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = documents.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).crossJoin(
        F.broadcast(dl.agg(F.sum("dl").cast("long").alias("total_dl")))
    )

    kk1 = f"CAST({k1!r} AS DOUBLE)"
    bb = f"CAST({b!r} AS DOUBLE)"
    matched = (
        tf.join(F.broadcast(qdf), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            "term",
            F.expr(
                f"round(round(ln(1 + (n_docs - df + 0.5) / (df + 0.5)), 9) "
                f"* (tf * ({kk1} + 1) / "
                f"(tf + {kk1} * (1 - {bb} + {bb} * dl / (CAST(total_dl AS DOUBLE) / n_docs)))), 9)"
            ).alias("part"),
        )
    )
    scored = (
        matched.groupBy("query_id", "doc_id")
        .agg(
            F.expr(
                "aggregate(transform(sort_array(collect_list(struct(term, part))), "
                "s -> s.part), CAST(0 AS DOUBLE), (a, x) -> a + x)"
            ).alias("score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= top_k)
        .select("query_id", "doc_id", "score", "rank")
    )


def build_vocab(documents: DataFrame, min_count: int = 1) -> DataFrame:
    """Frequency-ranked vocabulary: (term, token_id, count) with
    token_id 1..|vocab| assigned by (count DESC, term ASC) — the
    deterministic rank every tokenizer build uses; id 0 is reserved
    for unknown terms at encode time.

    Scale: the corpus-wide term count is one partial-agg groupBy; the
    token-id rank uses the two-phase range-partitioned rank
    (`util.global_rank`) — exact row_number semantics with NO
    single-task global window, so a 1e9-term vocabulary ranks in
    parallel.
    """
    toks = (
        _with_toks(documents)
        .where(F.expr("length(trim(text)) > 0"))
        .select(
            "doc_id",
            F.explode(F.expr("transform(toks, t -> lower(t))")).alias("term"),
        )
    )
    counts = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("count"))
        .where(F.col("count") >= min_count)
    )
    from pennsieve_streaming_spark.util import global_rank

    return global_rank(
        counts, [F.col("count").desc(), F.col("term")], out_col="token_id"
    ).select("term", "token_id", "count")


def encode_token_ids(documents: DataFrame, vocab: DataFrame) -> DataFrame:
    """Encode every document as its token-id sequence under ``vocab``
    (unknown terms -> 0) — the final step before tokenized training
    shards.

    Output: (doc_id, n_tokens, token_ids) — token_ids is the
    comma-joined id sequence in document order (flat string keeps the
    driver contract scalar-only; shard writers consume the same rows).

    Scale: one broadcast join of the vocab onto exploded positions,
    then a per-document ordered reassembly (window partition = one
    document).
    """
    tokens = (
        _with_toks(documents)
        .where(F.expr("length(trim(text)) > 0"))
        .select(
            "doc_id",
            F.posexplode(F.expr("transform(toks, t -> lower(t))")).alias(
                "pos", "term"
            ),
        )
    )
    encoded = (
        tokens.join(F.broadcast(vocab.select("term", "token_id")), "term", "left")
        .select(
            "doc_id",
            "pos",
            F.coalesce("token_id", F.lit(0)).cast("long").alias("tid"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.expr(
                "array_join(transform(sort_array(collect_list(struct(pos, tid))), "
                "s -> CAST(s.tid AS STRING)), ',') AS token_ids"
            ),
        )
    )
    return (
        documents.select("doc_id")
        .join(encoded, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("token_ids", F.lit("")).alias("token_ids"),
        )
    )


def token_entropy(documents: DataFrame) -> DataFrame:
    """Shannon entropy of each document's token distribution —
    H = -Σ_t p_t ln p_t over lowercased whitespace tokens. Low entropy
    flags repetitive/degenerate text (the information-theoretic cousin
    of the Gopher repetition gates in llm/curation.py).

    Determinism contract: the per-term contribution is quantized to an
    integer nano-nat weight ``c_t * round(ln(c_t/n) * 1e9)`` so the
    cross-term reduction is an exact BIGINT sum (order-free — no
    ordered fold needed at all); the entropy then derives from that one
    integer with a fixed two-division expression. ln() itself carries
    the documented 1-ulp JVM-vs-libm hazard, absorbed by the 1e-9
    quantization (same class as the 9-dp rounding everywhere else).

    Output: (doc_id, n_tokens, distinct_tokens, entropy), entropy in
    nats, 0 for empty docs. Plan: explode → two partial-agg groupBys
    (term counts, then per-doc sum) — scales like token_stats.
    """
    toks = documents.select(
        "doc_id",
        F.explode(F.expr(f"transform({TOKS}, t -> lower(t))")).alias("term"),
    ).filter(F.length("term") > 0)
    counts = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_doc = (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("distinct_tokens"),
            F.collect_list(F.struct("term", "c")).alias("_tc"),
        )
    )
    # Σ c_t * round(ln(c_t/n)*1e9): ln arguments depend on n, so the
    # weight computes after n aggregates; still an order-free integer
    # sum (aggregate over the collected terms is associative +).
    ent_q = F.expr(
        "aggregate(_tc, CAST(0 AS BIGINT), (acc, s) -> acc + "
        "s.c * CAST(round(ln(CAST(s.c AS DOUBLE) / n_tokens) * 1000000000) AS BIGINT))"
    )
    out = per_doc.withColumn("_hq", ent_q).select(
        "doc_id",
        "n_tokens",
        "distinct_tokens",
        F.expr(
            "CASE WHEN n_tokens = 0 THEN CAST(0 AS DOUBLE) "
            "ELSE -(CAST(_hq AS DOUBLE) / 1000000000) / n_tokens END"
        ).alias("entropy"),
    )
    return (
        documents.select("doc_id")
        .join(out, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("distinct_tokens", F.lit(0)).cast("long").alias(
                "distinct_tokens"
            ),
            F.coalesce("entropy", F.lit(0.0)).alias("entropy"),
        )
    )


def top_k_per_group(
    df: DataFrame, group_cols: list[str], order_cols: list, k: int
) -> DataFrame:
    """Generic deterministic top-k per group: ``row_number`` over the
    given (total) ordering, keep ranks 1..k. The caller must make
    ``order_cols`` a TOTAL order (include a unique tiebreak column) or
    ranks are nondeterministic. Output: input columns + ``rank``.

    Plan: one window pass partitioned by the group — shuffle on the
    group key only; at |groups| >> cores this parallelizes fully
    (the usual few-groups caveat applies, same as every ranking op).
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= int(k))
    )


def zipf_fit(documents: DataFrame, quant: int = 10**3) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope/intercept
    of ln(freq) against ln(rank) — the one-number corpus health
    statistic (natural text runs slope ≈ -1; template/boilerplate
    corpora flatten it, degenerate repetition steepens it).

    Determinism: ln() is engine-divergent at the last ulp, so each
    term's (x, y) = (ln rank, ln freq) is rounded to 9 dp and
    quantized to BIGINT in 1/``quant`` units; all five OLS sums are
    then exact. The slope/intercept formula is the same fixed-double
    shape as the Pearson r operators. Quant bound: the Σx² / Σx·y
    accumulators grow as vocab · (|ln|·quant)² with |ln| < 50, so the
    BIGINT ceiling requires vocab · (50·quant)² < 2^63 ≈ 9.2e18 —
    quant=1e3 bounds a 1e8-term vocabulary at 2.5e17 (quant=1e6 would
    overflow past a ~100k-term vocabulary: 1e5·(5e7)² = 2.5e20).

    Output: one row (n_terms, slope, intercept).

    Scale: token counts reduce map-side; the global rank sorts the
    VOCABULARY via the two-phase range-partitioned rank
    (`util.global_rank`) — no single-task global window, so even a
    1e9-term vocabulary ranks in parallel.
    """
    from pennsieve_streaming_spark.util import global_rank

    q = int(quant)
    counts = (
        documents.select(F.explode(F.expr(TOKS)).alias("t"))
        .filter(F.length("t") > 0)
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    ranked = global_rank(counts, [F.desc("c"), "t"], out_col="r")
    xy = ranked.select(
        F.expr(f"CAST(round(round(ln(CAST(r AS DOUBLE)), 9) * {q}) AS BIGINT)").alias("xq"),
        F.expr(f"CAST(round(round(ln(CAST(c AS DOUBLE)), 9) * {q}) AS BIGINT)").alias("yq"),
    )
    agg = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xq").cast("long").alias("sx"),
        F.sum("yq").cast("long").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).cast("long").alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).cast("long").alias("sxx"),
    )
    slope = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
        "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    return agg.select(
        F.col("n").alias("n_terms"),
        F.expr(f"round({slope}, 9)").alias("slope"),
        F.expr(
            f"round((CAST(sy AS DOUBLE) / {q} - round({slope}, 9) "
            f"* CAST(sx AS DOUBLE) / {q}) / n, 9)"
        ).alias("intercept"),
    )


def _bpe_merges_driver(spark, words, n_merges: int, return_state: bool):
    """Driver-side replay of the exact Sennrich get_stats/merge loop
    over the collected (word, cnt) table — see the size gate in
    :func:`bpe_merges`. Pure-integer counts, byte-order==codepoint-
    order tie-breaks, and the same greedy left-to-right application,
    so merges and final state are bit-identical to the distributed
    loop's (both oracle-gated)."""
    vocab = [(r["word"], int(r["cnt"])) for r in words.collect()]
    toks = {w: list(w) for w, _c in vocab}
    merges: list[tuple[int, str, str, int]] = []
    for it in range(1, int(n_merges) + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, c in vocab:
            t = toks[w]
            for pair in zip(t, t[1:]):
                counts[pair] = counts.get(pair, 0) + c
        if not counts:
            break
        (l, r), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((it, l, r, int(n)))
        lr = l + r
        for w, _c in vocab:
            t = toks[w]
            if l not in t:
                continue
            out, i, ln = [], 0, len(t)
            while i < ln:
                if t[i] == l and i + 1 < ln and t[i + 1] == r:
                    out.append(lr)
                    i += 2
                else:
                    out.append(t[i])
                    i += 1
            toks[w] = out
    merges_df = spark.createDataFrame(
        merges, "it long, left_tok string, right_tok string, pair_count long"
    )
    if return_state:
        state_rows = [
            (w, c, pos, tok)
            for w, c in vocab
            for pos, tok in enumerate(toks[w])
        ]
        state = spark.createDataFrame(
            state_rows, "word string, cnt long, pos long, tok string"
        )
        return merges_df, state
    return merges_df


def bpe_merges(
    documents: DataFrame,
    n_merges: int = 8,
    min_count: int = 1,
    return_state: bool = False,
):
    """BPE tokenizer training (Sennrich et al. 2016 "Neural Machine
    Translation of Rare Words with Subword Units", the reference
    get_stats/merge loop): learn the top ``n_merges`` byte-pair merges
    over the corpus word-frequency table.

    Exactness spec (shared verbatim by the unrolled DuckDB oracle):

    - pair counts are OVERLAPPING adjacent counts weighted by word
      frequency (get_stats convention: 'a a a' contributes (a,a)
      twice);
    - the winning pair maximizes count, ties broken (left ASC,
      right ASC) — fully deterministic;
    - the merge applies GREEDY LEFT-TO-RIGHT (the reference regex
      replace): relationally, a match position merges iff its offset
      within its contiguous island of match positions is even — only
      ``l == r`` can produce contiguous matches, and run parity is
      exactly the greedy scan's behavior ('a a a a' → [aa, aa],
      'a a a' → [aa, a]);
    - every count is an integer — bit-stable across engines with no
      quantization.

    Output: (it, left_tok, right_tok, pair_count) for it = 1..k
    (fewer if the corpus runs out of pairs).

    Plan / scale: the heavy fan-out is ONE pass (corpus → word counts,
    a partial-agg groupBy); the k iterations then operate on the
    BOUNDED (word, pos, tok) table — |vocab| × avg word length rows,
    millions not billions at any corpus scale — with per-iteration
    window passes partitioned by word and a 1-ROW driver collect for
    the winning pair (model state, like a centroid pull). State is
    localCheckpoint-ed per iteration to truncate the 8-deep lineage
    (the llm/graph.py loop trick).
    """
    spark = documents.sparkSession
    words = (
        documents.select(
            F.explode(F.expr(f"transform({TOKS}, t -> lower(t))")).alias(
                "word"
            )
        )
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .filter(F.col("cnt") >= int(min_count))
    )
    # Size-gated driver-side merge loop (optimization r11, guide §1.2:
    # fix the distributed algorithm first). The k-iteration Spark loop
    # costs ~2 jobs per merge (pair-count collect + state rebuild/pin)
    # over a table that is BOUNDED by |vocab| x avg word length — at
    # benchmark scale that is pure scheduling overhead. When the
    # word-frequency table fits the driver comfortably (the same
    # bounded-model-state rule as the centroid pulls and the 1-row
    # winning-pair collect this loop already did), pull it once and
    # run the exact Sennrich loop in Python: identical integer counts,
    # identical (count DESC, l ASC, r ASC) winner, identical greedy
    # left-to-right application — so merges and final state are
    # bit-identical (oracle-gated). Corpora whose post-min_count vocab
    # exceeds the cap keep the distributed loop unchanged.
    wc = words.limit(BPE_DRIVER_VOCAB_CAP + 1).count()
    if wc <= BPE_DRIVER_VOCAB_CAP:
        return _bpe_merges_driver(
            spark, words, int(n_merges), return_state
        )
    state = words.select(
        "word",
        "cnt",
        F.explode(F.sequence(F.lit(1), F.length("word"))).alias("i"),
    ).select(
        "word",
        "cnt",
        (F.col("i") - 1).cast("long").alias("pos"),
        F.expr("substring(word, i, 1)").alias("tok"),
    )
    state = pin(state)

    w = Window.partitionBy("word").orderBy("pos")
    merges: list[tuple[int, str, str, int]] = []
    for it in range(1, int(n_merges) + 1):
        st = state.withColumn("nxt", F.lead("tok").over(w))
        pairs = (
            st.filter(F.col("nxt").isNotNull())
            .groupBy(F.col("tok").alias("l"), F.col("nxt").alias("r"))
            .agg(F.sum("cnt").cast("long").alias("n"))
        )
        best = pairs.orderBy(F.desc("n"), "l", "r").limit(1).collect()
        if not best:
            break
        l, r, n = best[0]["l"], best[0]["r"], best[0]["n"]
        merges.append((it, l, r, int(n)))
        m = st.filter((F.col("tok") == l) & (F.col("nxt") == r)).select(
            "word", "pos"
        )
        # greedy non-overlap: islands of contiguous match positions,
        # keep even offsets from each island start
        isl = m.withColumn(
            "island", F.col("pos") - F.row_number().over(w)
        )
        wisl = Window.partitionBy("word", "island")
        mp = (
            isl.withColumn(
                "off", F.col("pos") - F.min("pos").over(wisl)
            )
            .filter(F.col("off") % 2 == 0)
            .select("word", "pos")
        )
        mflag = mp.withColumn("_m", F.lit(True))
        cons = mp.select(
            "word", (F.col("pos") + 1).alias("pos")
        ).withColumn("_c", F.lit(True))
        rebuilt = (
            st.join(mflag, ["word", "pos"], "left")
            .join(cons, ["word", "pos"], "left")
            .filter(F.col("_c").isNull())
            .withColumn(
                "tok",
                F.when(
                    F.col("_m").isNotNull(),
                    F.concat(F.col("tok"), F.col("nxt")),
                ).otherwise(F.col("tok")),
            )
        )
        state = rebuilt.select(
            "word",
            "cnt",
            (F.row_number().over(w) - 1).cast("long").alias("pos"),
            "tok",
        )
        state = pin(state)
    merges_df = spark.createDataFrame(
        merges, "it long, left_tok string, right_tok string, pair_count long"
    )
    if return_state:
        return merges_df, state
    return merges_df


def bpe_word_tokens(
    documents: DataFrame, n_merges: int = 8, min_count: int = 1
) -> DataFrame:
    """The tokenizer TABLE: each vocabulary word's segmentation after
    the ``n_merges`` learned merges — i.e. :func:`bpe_merges`'s final
    training state, which under the sequential-greedy convention IS
    the corpus encoding (encode any word by lookup; OOV falls back to
    characters). Output: (word, cnt, pos, tok).

    Oracle-exact by construction: the DuckDB replay's last unrolled
    stage is this table.
    """
    _, state = bpe_merges(
        documents, n_merges=n_merges, min_count=min_count, return_state=True
    )
    return state.select("word", "cnt", "pos", "tok")


def bpe_encode(
    documents: DataFrame, n_merges: int = 8, min_count: int = 1
) -> DataFrame:
    """End-to-end corpus tokenization with the trained BPE: every
    document becomes its subword-id sequence — the final artifact a
    training-data pipeline ships.

    Each doc's words (in order) look up their segmentation in the
    :func:`bpe_word_tokens` table; out-of-vocabulary words (below
    ``min_count`` — never seen by training) fall back to character
    tokens, the standard BPE encode behavior for unseen words under
    the sequential-greedy convention (characters are the merge-0
    state). Subword ids rank the trained token inventory by
    (frequency DESC, token ASC) via the two-phase
    ``util.global_rank`` (no single-task window); OOV characters
    absent from the inventory get id 0 (the unk id, build_vocab's
    convention).

    Output: (doc_id, seq, token_id, tok) — ``seq`` is the 0-based
    position in the doc's subword sequence.

    Plan / scale (optimization r11, guide §3.1/§2.3): the tokenizer
    is folded to ONE broadcast word→subtoken-array table; each doc
    word looks its segmentation up in that single broadcast hash join
    with the character fall-back fused in as a ``coalesce`` — the
    corpus word explode is scanned ONCE and never shuffled by word
    (the previous shape ran an in-vocab equi-join AND an OOV
    anti-join as two corpus-wide SortMergeJoins over two separate
    explodes of the corpus). Ids attach by a second broadcast join on
    tok. The only corpus-sized shuffle left is the per-doc sequence
    window (partitioned by doc_id) — irreducible, it defines ``seq``.
    """
    from pennsieve_streaming_spark.util import global_rank

    _, state = bpe_merges(
        documents, n_merges=n_merges, min_count=min_count, return_state=True
    )
    # trained token inventory, frequency-ranked (id 1..|inventory|)
    inventory = global_rank(
        state.groupBy("tok").agg(F.sum("cnt").cast("long").alias("freq")),
        [F.desc("freq"), F.asc("tok")],
        out_col="token_id",
    ).select("tok", F.col("token_id").cast("long").alias("token_id"))

    dw = documents.select(
        "doc_id",
        F.posexplode(
            F.expr(f"transform({TOKS}, t -> lower(t))")
        ).alias("widx", "word"),
    ).filter(F.length("word") > 0)

    # one row per vocab word: its subtokens in merge order (pos is
    # 0-based contiguous in both training branches, so array index
    # == pos and exploding reproduces the per-(word, pos) rows
    # bit-exactly)
    seg_arr = state.groupBy("word").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, tok))), "
            "s -> s.tok)"
        ).alias("_subtoks")
    )
    # size-gate the forced broadcast (same bounded-model-state rule as
    # the training gate): a cheap bounded count of the pinned/local
    # state table — beyond the cap, leave the strategy to the planner.
    small_vocab = (
        state.limit(BPE_BROADCAST_CAP + 1).count() <= BPE_BROADCAST_CAP
    )
    if small_vocab:
        seg_arr = F.broadcast(seg_arr)
        inventory = F.broadcast(inventory)
    seq_w = Window.partitionBy("doc_id").orderBy("widx", "pos")
    return (
        dw.join(seg_arr, "word", "left")
        .select(
            "doc_id",
            "widx",
            F.posexplode(
                F.expr(
                    "coalesce(_subtoks, transform("
                    "sequence(1, length(word)), "
                    "i -> substring(word, i, 1)))"
                )
            ).alias("pos", "tok"),
        )
        .join(inventory, "tok", "left")
        .select(
            "doc_id",
            F.row_number().over(seq_w).cast("long").alias("_seq_tmp"),
            F.coalesce(F.col("token_id"), F.lit(0)).cast("long").alias(
                "token_id"
            ),
            "tok",
        )
        .select(
            "doc_id",
            (F.col("_seq_tmp") - 1).alias("seq"),
            "token_id",
            "tok",
        )
    )


def collocations(
    documents: DataFrame, min_count: int = 5, min_pmi: float = 2.0
) -> DataFrame:
    """Corpus collocation mining by pointwise mutual information
    (Church & Hanks 1990) — the classic phrase-discovery pass a
    tokenizer/vocab pipeline runs to promote multi-word units:

        PMI(a, b) = ln( p(ab) / (p(a)·p(b)) )
                  = ln( (c_ab·N1²) / (N2·c_a·c_b) )

    with c_ab the adjacent-bigram count, c_a/c_b unigram counts, N1
    total tokens, N2 total bigrams. High-PMI frequent pairs are
    phrases ("new york"); frequent-but-low-PMI pairs are chance
    co-occurrences of common words.

    Emits every bigram with ``c_ab ≥ min_count`` and rounded PMI
    strictly above ``min_pmi`` — a deterministic SET (no top-k rank
    ties). All counts are exact integers; PMI is ONE fixed float
    expression (evaluated in DOUBLE — the integer product would
    overflow BIGINT at web scale) rounded to 9 dp, and the threshold
    compares the ROUNDED value (the rate-burst convention, so the
    boundary is engine-stable).

    Output: (bigram, c_ab, c_a, c_b, pmi).

    Scale: two token-stream groupBys (partial-agg) + two joins keyed
    on single tokens; the unigram side is vocabulary-sized and
    broadcastable; nothing quadratic.
    """
    mc = int(min_count)
    doc_toks = documents.select("doc_id", F.expr(TOKS).alias("toks"))
    bigrams_expr = (
        "CASE WHEN size(toks) < 2 THEN array() "
        "ELSE transform(sequence(1, size(toks) - 1), "
        "i -> concat_ws(' ', element_at(toks, CAST(i AS INT)), "
        "element_at(toks, CAST(i + 1 AS INT)))) END"
    )
    # pins (optimization r11): bg feeds the N2 total and the main
    # filter chain, uni feeds the N1 total and both unigram broadcast
    # joins — each reference used to replay a corpus tokenize +
    # explode pass.
    bg = pin(
        doc_toks.select(F.explode(F.expr(bigrams_expr)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    uni = pin(
        doc_toks.select(F.explode("toks").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    totals = (
        uni.agg(F.sum("c").cast("long").alias("n1"))
        .crossJoin(bg.agg(F.sum("c_ab").cast("long").alias("n2")))
    )
    pmi = (
        "round(ln((CAST(c_ab AS DOUBLE) * CAST(n1 AS DOUBLE) "
        "* CAST(n1 AS DOUBLE)) / (CAST(n2 AS DOUBLE) "
        "* CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))), 9)"
    )
    return (
        bg.filter(F.col("c_ab") >= mc)
        .withColumn("ta", F.expr("split(bg, ' ')[0]"))
        .withColumn("tb", F.expr("split(bg, ' ')[1]"))
        .join(
            F.broadcast(uni.select(F.col("t").alias("ta"),
                                   F.col("c").alias("c_a"))),
            "ta",
        )
        .join(
            F.broadcast(uni.select(F.col("t").alias("tb"),
                                   F.col("c").alias("c_b"))),
            "tb",
        )
        .crossJoin(F.broadcast(totals))
        .withColumn("pmi", F.expr(pmi))
        .filter(F.col("pmi") > float(min_pmi))
        .select(F.col("bg").alias("bigram"), "c_ab", "c_a", "c_b", "pmi")
    )


# Fixed float finishes for readability, shared verbatim with the
# DuckDB oracle. The constants are decimal literals both engines
# parse to the identical double; inputs are exact BIGINTs, so each
# score is one deterministic IEEE expression chain.
RD_FLESCH = (
    "CASE WHEN n_words > 0 THEN "
    "206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences) "
    "- 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) END"
)
RD_FK_GRADE = (
    "CASE WHEN n_words > 0 THEN "
    "0.39 * (CAST(n_words AS DOUBLE) / n_sentences) "
    "+ 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59 END"
)


def readability(documents: DataFrame) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade per document
    (Flesch 1948; Kincaid et al. 1975) — the classic readability pair
    every web-corpus quality filter ships next to the stopword/length
    heuristics (`quality_score`). Syllables use the standard
    vowel-group approximation: maximal ``[aeiouy]+`` runs per
    lowercased token, with vowel-less tokens counting one syllable
    (every word has at least one). Sentences are maximal non-empty
    segments between ``[.!?]`` terminators, floored at 1 so
    unpunctuated text is one long sentence rather than a div-by-zero.

    Determinism: words / sentences / syllable groups are exact
    integer counts from regexes both engines evaluate identically;
    the two scores are single fixed float expressions (RD_* shared
    verbatim with the oracle). Empty documents emit NULL scores.

    Scale: embarrassingly parallel — one projection, no shuffle, no
    UDF; the regex work is whole-stage-codegen JVM string ops.

    Output: (doc_id, n_words, n_sentences, n_syllables, flesch,
    fk_grade).
    """
    d = _with_toks(documents)
    counted = d.select(
        "doc_id",
        F.expr(
            "CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(size(toks) AS BIGINT) END"
        ).alias("n_words"),
        F.expr(
            "greatest(CAST(1 AS BIGINT), CAST(size(filter("
            "split(text, '[.!?]+'), s -> length(trim(s)) > 0)) AS BIGINT))"
        ).alias("n_sentences"),
        F.expr(
            "CAST(regexp_count(lower(text), '[aeiouy]+') AS BIGINT) "
            "+ CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(size(filter(toks, "
            "t -> regexp_count(lower(t), '[aeiouy]') = 0)) AS BIGINT) END"
        ).alias("n_syllables"),
    )
    return counted.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.expr(RD_FLESCH).alias("flesch"),
        F.expr(RD_FK_GRADE).alias("fk_grade"),
    )


def rake_keywords(documents: DataFrame, k: int = 3) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) — the unsupervised
    per-document keyphrase baseline: candidate phrases are maximal
    runs of non-stopword tokens; each word scores degree/frequency
    (degree = total length of the phrases it appears in — co-occurring
    words inherit their phrases' weight); a phrase scores the sum of
    its member word scores; the top ``k`` phrases per document ship.

    Determinism: freq and degree are exact integer aggregates; each
    word score is one BIGINT/BIGINT division (bit-identical IEEE in
    both engines); the phrase score folds the member scores in
    POSITION order (the unigram_lm sequential-fold class), so no
    order-dependent float summation exists; ranking ties break on the
    phrase text.

    Scale: tokens explode once; phrase islands come from a per-doc
    window (documents are bounded-length rows, so the per-doc
    partition is bounded); word stats are one partial-agg groupBy on
    (doc_id, word); the fold runs over collected per-phrase structs
    (phrases are short by construction). Only (doc_id, word/phrase)
    rows ever shuffle.

    Output: (doc_id, phrase, n_words, score, rank), rank 1..k per doc.
    """
    from pyspark.sql import Window

    kk = int(k)
    stop = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    toks = documents.filter(F.expr("length(trim(text)) > 0")).select(
        "doc_id",
        F.posexplode(F.expr(f"transform({TOKS}, t -> lower(t))")).alias(
            "pos", "w"
        ),
    )
    nonstop = toks.filter(
        F.expr(f"NOT array_contains(array({stop}), w) AND w <> ''")
    )
    dw = Window.partitionBy("doc_id").orderBy("pos")
    ph = nonstop.withColumn(
        "grp", F.col("pos") - F.row_number().over(dw)
    )
    plen = ph.groupBy("doc_id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_words")
    )
    ph = ph.join(plen, ["doc_id", "grp"])
    wstats = ph.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("n_words").cast("long").alias("deg"),
    )
    scored = ph.join(wstats, ["doc_id", "w"]).withColumn(
        "wscore", F.expr("CAST(deg AS DOUBLE) / freq")
    )
    phrases = scored.groupBy("doc_id", "grp").agg(
        F.expr(
            "concat_ws(' ', transform(sort_array(collect_list("
            "struct(pos, w))), e -> e.w))"
        ).alias("phrase"),
        F.max("n_words").alias("n_words"),
        F.expr(
            "aggregate(transform(sort_array(collect_list("
            "struct(pos, wscore))), e -> e.wscore), "
            "CAST(0 AS DOUBLE), (a, x) -> a + x)"
        ).alias("score"),
    )
    # duplicate phrases in one doc collapse to one candidate (they
    # score identically by construction)
    uniq = phrases.groupBy("doc_id", "phrase").agg(
        F.max("n_words").alias("n_words"), F.max("score").alias("score")
    )
    rw = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("phrase")
    )
    return (
        uniq.withColumn("rank", F.row_number().over(rw).cast("long"))
        .filter(F.col("rank") <= kk)
        .select("doc_id", "phrase", "n_words", "score", "rank")
    )


def chunk_passages(
    documents: DataFrame, size: int = 32, stride: int = 24
) -> DataFrame:
    """Overlapping-window passage chunker — the retrieval/embedding
    pipeline's first stage (every RAG index and long-document
    embedder runs one): token windows of ``size`` starting every
    ``stride`` tokens, so consecutive chunks overlap by
    ``size − stride`` tokens of context. A chunk is emitted only if
    it contributes tokens the previous chunk didn't (the trailing
    fully-covered runt is skipped); chunk 0 always emits, so no
    non-empty document vanishes.

    Determinism: pure integer window arithmetic over the token array
    — start k·stride emits iff k = 0 or (k−1)·stride + size <
    n_tokens; both engines slice the identical arrays.

    Scale: one narrow explode of ≤ ⌈n/stride⌉ rows per document — no
    shuffle at all; the chunk table feeds straight into the
    embedding/minhash stages.

    Output: (doc_id, chunk_id, start_tok, n_chunk_tokens, chunk_text).
    """
    sz = int(size)
    st = int(stride)
    d = _with_toks(documents).filter(
        F.expr("length(trim(text)) > 0")
    ).select("doc_id", "toks", F.expr("size(toks)").alias("_n"))
    e = d.select(
        "doc_id",
        "_n",
        "toks",
        F.explode(
            F.expr(f"sequence(0, CAST((_n - 1) div {st} AS INT))")
        ).alias("k"),
    ).filter(F.expr(f"k = 0 OR (k - 1) * {st} + {sz} < _n"))
    return e.select(
        "doc_id",
        F.col("k").cast("long").alias("chunk_id"),
        (F.col("k") * st).cast("long").alias("start_tok"),
        F.expr(f"CAST(size(slice(toks, k * {st} + 1, {sz})) AS BIGINT)")
        .alias("n_chunk_tokens"),
        F.expr(f"concat_ws(' ', slice(toks, k * {st} + 1, {sz}))")
        .alias("chunk_text"),
    )


def textrank_keywords(
    documents: DataFrame, n_iter: int = 3, k: int = 3
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004) — the
    graph-based counterpart of RAKE's frequency heuristics: build the
    word co-occurrence graph per document (adjacent non-stopword
    candidates), run ``n_iter`` damped PageRank rounds over it, ship
    the top-``k`` words per doc. Catches hub words RAKE's
    degree/frequency ratio underrates.

    Determinism (the doc_pagerank contract, per-doc): ranks are BIGINT
    mass scaled 1e9, per-edge contributions are integer floor
    divisions, receives are exact BIGINT sums keyed (doc_id, word);
    dangling mass (single-candidate docs) redistributes within its own
    document; the only float math is the per-row damping expression
    with exponent-notation literals, written identically in the
    oracle.

    Output: (doc_id, word, score, rank), rank 1..k per doc with
    (score DESC, word) order.

    Scale: tokens explode once; the graph is |doc-adjacent-pairs|
    rows; each iteration is one equi-join + one partial-agg sum keyed
    (doc_id, word) — per-doc graphs are bounded by document length, so
    the keys are fine-grained and skew-free. localCheckpoint truncates
    the iteration lineage (the pagerank pattern).
    """
    from pyspark.sql import Window

    kk = int(k)
    stop = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    toks = documents.filter(F.expr("length(trim(text)) > 0")).select(
        "doc_id",
        F.posexplode(F.expr(f"transform({TOKS}, t -> lower(t))")).alias(
            "pos", "w"
        ),
    )
    cand = toks.filter(
        F.expr(f"NOT array_contains(array({stop}), w) AND w <> ''")
    )
    dw = Window.partitionBy("doc_id").orderBy("pos")
    adj = (
        cand.withColumn("_nx", F.lead("w").over(dw))
        .filter(F.col("_nx").isNotNull() & (F.col("_nx") != F.col("w")))
        .select(
            "doc_id",
            F.least("w", "_nx").alias("lo"),
            F.greatest("w", "_nx").alias("hi"),
        )
        .distinct()
    )
    edges = (
        adj.select("doc_id", F.col("lo").alias("src"), F.col("hi").alias("dst"))
        .union(
            adj.select(
                "doc_id", F.col("hi").alias("src"), F.col("lo").alias("dst")
            )
        )
    )
    edges = pin(edges)
    verts = pin(cand.select("doc_id", "w").distinct())
    nv = verts.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    deg = edges.groupBy("doc_id", "src").agg(
        F.count(F.lit(1)).cast("long").alias("outdeg")
    )
    ranks = verts.join(F.broadcast(nv), "doc_id").select(
        "doc_id",
        "w",
        F.expr("CAST(round(1e9 / CAST(_n AS DOUBLE)) AS BIGINT)").alias(
            "rank_i"
        ),
    )
    deg_r = deg.select(
        F.col("doc_id").alias("_gd"),
        F.col("src").alias("_gs"),
        "outdeg",
    )
    for _ in range(int(n_iter)):
        ranks_r = ranks.select(
            F.col("doc_id").alias("_rd"),
            F.col("w").alias("_rw"),
            "rank_i",
        )
        contrib = (
            edges.join(
                ranks_r,
                (F.col("doc_id") == F.col("_rd"))
                & (F.col("src") == F.col("_rw")),
            )
            .join(
                deg_r,
                (F.col("doc_id") == F.col("_gd"))
                & (F.col("src") == F.col("_gs")),
            )
            .select(
                "doc_id",
                F.col("dst").alias("w"),
                F.expr("rank_i div outdeg").alias("ci"),
            )
        )
        recv = contrib.groupBy("doc_id", "w").agg(
            F.sum("ci").cast("long").alias("recv_i")
        )
        dang = (
            ranks.join(
                deg.select("doc_id", F.col("src").alias("w")),
                ["doc_id", "w"],
                "left_anti",
            )
            .groupBy("doc_id")
            .agg(F.sum("rank_i").cast("long").alias("dm_i"))
        )
        ranks = (
            verts.join(F.broadcast(nv), "doc_id")
            .join(recv, ["doc_id", "w"], "left")
            .join(F.broadcast(dang), "doc_id", "left")
            .select(
                "doc_id",
                "w",
                F.expr(
                    "CAST(round((1e0 - 8.5e-1) * 1e9 / CAST(_n AS DOUBLE)"
                    " + 8.5e-1 * (CAST(COALESCE(dm_i, 0) AS DOUBLE)"
                    " / CAST(_n AS DOUBLE)"
                    " + CAST(COALESCE(recv_i, 0) AS DOUBLE))) AS BIGINT)"
                ).alias("rank_i"),
            )
        )
        ranks = pin(ranks)
    rw = Window.partitionBy("doc_id").orderBy(
        F.desc("rank_i"), F.asc("w")
    )
    return (
        ranks.withColumn("rank", F.row_number().over(rw).cast("long"))
        .filter(F.col("rank") <= kk)
        .select(
            "doc_id",
            F.col("w").alias("word"),
            F.expr("CAST(rank_i AS DOUBLE) / 1e9").alias("score"),
            "rank",
        )
    )


def heaps_law(documents: DataFrame) -> DataFrame:
    """Heaps'-law vocabulary-growth fit (Heaps 1978): V(N) ≈ K·N^β —
    the corpus-scaling diagnostic that answers "how fast does the
    vocabulary keep growing if we ingest 10× more of this source?"
    (β near 1 = open vocabulary / noisy text; 0.4-0.6 = natural
    language). Docs are consumed in doc_id order; each checkpoint d
    contributes (ln N_d, ln V_d) to an OLS fit in log-log space.

    Determinism: per-doc token counts and first-occurrence new-term
    counts are exact; the running (N_d, V_d) prefix sums run on the
    two-phase ``util.global_cumsum`` (NEVER a single-task global
    window — checkpoints are |docs| rows); each checkpoint's lns are
    1e9-quantized BIGINTs whose OLS moments accumulate in
    DECIMAL(38,0); slope/intercept are single fixed float expressions.

    Output: one row (n_docs, total_tokens, vocab, beta, ln_k).

    Scale: tokens shuffle once into (term, first_doc) minima; the
    checkpoint table is |docs| rows; the fit is one partial-agg
    reduce to a single row.
    """
    from pennsieve_streaming_spark.util import global_cumsum

    toks = documents.select(
        "doc_id", F.explode(F.expr(TOKS)).alias("t")
    ).filter(F.col("t") != "")
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_d")
    )
    first = toks.groupBy("t").agg(F.min("doc_id").alias("doc_id"))
    new_terms = first.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("v_d")
    )
    doc_tbl = per_doc.join(new_terms, "doc_id", "left").select(
        "doc_id",
        "n_d",
        F.coalesce("v_d", F.lit(0)).cast("long").alias("v_d"),
    )
    cn = global_cumsum(doc_tbl, ["doc_id"], "n_d", "N")
    cv = global_cumsum(cn, ["doc_id"], "v_d", "V")
    LNQ = "CAST(round(ln(CAST({x} AS DOUBLE)) * 1000000000) AS BIGINT)"
    pts = cv.filter((F.col("N") > 0) & (F.col("V") > 0)).select(
        F.expr(LNQ.format(x="N")).alias("lx"),
        F.expr(LNQ.format(x="V")).alias("ly"),
        "N",
        "V",
    )
    d38 = "CAST({c} AS DECIMAL(38,0))"
    agg = pts.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(F.expr(d38.format(c="lx"))).alias("sx"),
        F.sum(F.expr(d38.format(c="ly"))).alias("sy"),
        F.sum(
            F.expr(f"{d38.format(c='lx')} * {d38.format(c='lx')}")
        ).alias("sxx"),
        F.sum(
            F.expr(f"{d38.format(c='lx')} * {d38.format(c='ly')}")
        ).alias("sxy"),
        F.max("N").cast("long").alias("total_tokens"),
        F.max("V").cast("long").alias("vocab"),
    )
    # beta = (m*sxy - sx*sy) / (m*sxx - sx^2); ln_k = (sy - beta*sx)/m
    beta = (
        "(CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    return agg.select(
        F.col("m").alias("n_docs"),
        "total_tokens",
        "vocab",
        F.expr(f"CASE WHEN m > 1 THEN round({beta}, 9) END").alias("beta"),
        F.expr(
            f"CASE WHEN m > 1 THEN round((CAST(sy AS DOUBLE)"
            f" - ({beta}) * CAST(sx AS DOUBLE))"
            f" / (1000000000.0 * m), 9) END"
        ).alias("ln_k"),
    )


def char_trigram_lm(documents: DataFrame) -> DataFrame:
    """Character-trigram LM score per document: the mean conditional
    log-probability ln P(c_3 | c_1 c_2) under the corpus trigram model
    with add-one smoothing over the corpus character vocabulary — one
    Markov order above the WORD-level bigram filter
    (curation.bigram_loglik), at the CHARACTER level where
    mojibake/encoding junk, base64 blobs, and keyboard mashing
    separate hardest from natural text (every char-LM quality filter
    since cld/fastText uses this signal).

    Determinism: trigram/bigram/vocab counts are exact integers; each
    occurrence's ln((c3+1)/(c2+V)) splits into two 1e9-quantized lns
    (nano-nat BIGINTs), summed exactly per document in DECIMAL(38,0);
    the mean is one fixed division.

    Output: (doc_id, n_tri, avg_logp) for documents with at least one
    trigram (shorter docs carry no signal and would emit NULL).

    Plan / 100 TB: chars and trigrams are narrow explodes; counts are
    partial-agg groupBys on the trigram keys (skew-free: 3-char keys);
    the vocab size broadcasts as one row.
    """
    tri_arr = (
        "CASE WHEN length(text) < 3 THEN array() "
        "ELSE transform(sequence(1, length(text) - 2), "
        "i -> substring(text, i, 3)) END"
    )
    tris = documents.select(
        "doc_id", F.explode(F.expr(tri_arr)).alias("tri")
    ).withColumn("bi", F.expr("substring(tri, 1, 2)"))
    tris = pin(tris)
    c3 = tris.groupBy("tri").agg(
        F.count(F.lit(1)).cast("long").alias("c3")
    )
    c2 = tris.groupBy("bi").agg(
        F.count(F.lit(1)).cast("long").alias("c2")
    )
    chars = documents.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(text)), "
                "i -> substring(text, i, 1))"
            )
        ).alias("ch")
    )
    v = chars.distinct().agg(F.count(F.lit(1)).cast("long").alias("v"))
    LNQ = "CAST(round(ln(CAST({x} AS DOUBLE)) * 1000000000) AS BIGINT)"
    scored = (
        tris.join(c3, "tri")
        .join(c2, "bi")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.expr(
                f"CAST({LNQ.format(x='c3 + 1')} "
                f"- {LNQ.format(x='c2 + v')} AS DECIMAL(38,0))"
            ).alias("_lpq"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tri"),
            F.sum("_lpq").alias("_sq"),
        )
        .select(
            "doc_id",
            "n_tri",
            F.expr(
                "CAST(_sq AS DOUBLE) / (CAST(n_tri AS DOUBLE) "
                "* 1000000000)"
            ).alias("avg_logp"),
        )
    )


def stopword_profile(documents: DataFrame) -> DataFrame:
    """Per-source stopword-ratio histogram: each document's stopword
    token share bucketed into ten deciles, counted per source — the
    distributional view of the quality score's single stopword term
    (natural English centers near 0.3-0.5; scraped boilerplate and
    non-text junk pile up at 0).

    Determinism: token and stopword counts are exact integers; the
    ratio is one exact division and the decile floor of it is the
    same double on both engines (identical expression text).

    Output: (source, decile 0..9, n_docs).

    Plan / 100 TB: one narrow per-doc map (no explode — a filtered
    array size), one partial-agg groupBy to |sources|×10 rows.
    """
    stop_expr = _marker_count_expr(EN_STOPWORDS, toks=TOKS)
    per = documents.select(
        "source",
        F.expr(
            f"CASE WHEN length(trim(text)) = 0 THEN 0e0 "
            f"ELSE CAST({stop_expr} AS DOUBLE) / size({TOKS}) END"
        ).alias("_ratio"),
    )
    return (
        per.select(
            "source",
            F.expr(
                "least(CAST(9 AS BIGINT), "
                "CAST(floor(_ratio * 10) AS BIGINT))"
            ).alias("decile"),
        )
        .groupBy("source", "decile")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def length_quantiles(documents: DataFrame) -> DataFrame:
    """Per-source p50/p90/p99 of document length (n_chars) via the
    explicit order-statistic interpolation (the session-stats rule:
    h = (n−1)p, linear between the ⌊h⌋-th and ⌈h⌉-th values) — the
    length-distribution panel curation cutoffs are read from.

    Determinism: ranks are exact integers under the total order
    (n_chars, doc_id); the interpolation is one fixed float expression
    per percentile over integer order statistics.

    Output: (source, n_docs, p50, p90, p99).

    Plan / 100 TB: per-source rank windows (sources partition the
    corpus), one row-number pass, three self-equi-joins on the
    (source, rank) key at |sources| rows each.
    """
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = documents.select(
        "source",
        "n_chars",
        "doc_id",
        F.col("n_chars").cast("long").alias("x"),
    ).withColumn("_r", F.row_number().over(w).cast("long")).select(
        "source", "x", "_r"
    )
    ranked = pin(ranked)
    n = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    out = n
    for p_name, p in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
        lo = ranked.select(
            "source", F.col("_r").alias("_lo_r"), F.col("x").alias("_lo_x")
        )
        hi = ranked.select(
            "source", F.col("_r").alias("_hi_r"), F.col("x").alias("_hi_x")
        )
        # double-based h: identical expression text in the oracle, so
        # the floor/ceil of the same double is engine-identical (a
        # decimal-typed h would emit DECIMAL outputs — a hash hazard)
        h = f"(CAST(n_docs - 1 AS DOUBLE) * {p!r})"
        out = (
            out.join(lo, "source")
            .filter(F.expr(f"_lo_r = CAST(floor({h}) AS BIGINT) + 1"))
            .join(hi, "source")
            .filter(F.expr(f"_hi_r = CAST(ceil({h}) AS BIGINT) + 1"))
            .select(
                *[c for c in out.columns],
                F.expr(
                    f"round(_lo_x + ({h} - floor({h})) "
                    f"* (_hi_x - _lo_x), 9)"
                ).alias(p_name),
            )
        )
    return out


def ngram_entropy(documents: DataFrame) -> DataFrame:
    """Word-bigram conditional entropy per source: H = Σ (c_xy/N) ·
    ln(c_x / c_xy) in nats — the lexical-diversity / repetitiveness
    rate of each corpus slice (templated sources score near 0; rich
    prose 4-6 nats). The document-side sibling of ts_entropy_rate's
    binned-series number and the corpus complement of doc_heaps_law's
    vocabulary growth.

    Determinism: bigram counts and first-token marginals are exact
    integers; the fold Σ c_xy·(lnq(c_x) − lnq(c_xy)) runs in
    DECIMAL(38,0) over 1e9-quantized lns; H is one fixed division.

    Output: (source, n_bigrams, entropy_nats).

    Plan / 100 TB: adjacent-pair explode, two partial-agg groupBys on
    (source, token) keys; nothing wider than the bigram vocabulary.
    """
    pair_arr = (
        f"CASE WHEN size({TOKS}) < 2 THEN array() "
        f"ELSE transform(sequence(1, size({TOKS}) - 1), "
        f"i -> struct(element_at({TOKS}, i) AS x, "
        f"element_at({TOKS}, i + 1) AS y)) END"
    )
    bi = documents.select(
        "source", F.explode(F.expr(pair_arr)).alias("_p")
    ).select("source", "_p.x", "_p.y")
    cxy = bi.groupBy("source", "x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("c_xy")
    )
    cxy = pin(cxy)
    cx = cxy.groupBy("source", "x").agg(
        F.sum("c_xy").cast("long").alias("c_x")
    )
    LNQ = "CAST(round(ln(CAST({x} AS DOUBLE)) * 1000000000) AS BIGINT)"
    j = cxy.join(cx, ["source", "x"])
    return (
        j.select(
            "source",
            "c_xy",
            F.expr(
                f"CAST(c_xy AS DECIMAL(38,0)) "
                f"* ({LNQ.format(x='c_x')} - {LNQ.format(x='c_xy')})"
            ).alias("_hq"),
        )
        .groupBy("source")
        .agg(
            F.sum("c_xy").cast("long").alias("n_bigrams"),
            F.sum("_hq").alias("_h"),
        )
        .select(
            "source",
            "n_bigrams",
            F.expr(
                "CAST(_h AS DOUBLE) / (CAST(n_bigrams AS DOUBLE) "
                "* 1000000000)"
            ).alias("entropy_nats"),
        )
    )


def lexical_diversity(documents: DataFrame) -> DataFrame:
    """Per-document lexical-diversity panel: type-token ratio, root
    TTR (Guiraud 1954), Herdan's C = ln V / ln N and Maas a² =
    (ln N − ln V)/ln²N — the vocabulary-richness signals curation
    pipelines read beside doc_heaps_law's corpus-level exponent (TTR
    is length-biased; Herdan/Maas correct for it).

    Determinism: token/type counts are exact integers (lowercased
    whitespace tokens, distinct-set types); TTR/RTTR are single fixed
    division/sqrt finishes; the two log-based indices round to 9 dp
    in both engines (the codebase's transcendental-finish rule).
    Docs with < 2 tokens report 0.0 sentinels on the log indices
    (ln N = 0 denominator).

    Output: (doc_id, n_tokens, n_types, ttr, rttr, herdan_c, maas_a2).

    Plan / 100 TB: one narrow per-doc map — array expressions only,
    no explode, no shuffle.
    """
    toks = "transform(split(trim(text), '\\\\s+'), t -> lower(t))"
    empty = "length(trim(text)) = 0"
    n_tok = f"CASE WHEN {empty} THEN 0 ELSE size({toks}) END"
    n_typ = (
        f"CASE WHEN {empty} THEN 0 ELSE "
        f"size(array_distinct({toks})) END"
    )
    d = documents.select(
        "doc_id",
        F.expr(n_tok).cast("long").alias("n_tokens"),
        F.expr(n_typ).cast("long").alias("n_types"),
    )
    return d.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.expr(
            "CASE WHEN n_tokens > 0 THEN round(CAST(n_types AS DOUBLE) "
            "/ CAST(n_tokens AS DOUBLE), 9) ELSE 0e0 END"
        ).alias("ttr"),
        F.expr(
            "CASE WHEN n_tokens > 0 THEN round(CAST(n_types AS DOUBLE) "
            "/ sqrt(CAST(n_tokens AS DOUBLE)), 9) ELSE 0e0 END"
        ).alias("rttr"),
        F.expr(
            "CASE WHEN n_tokens > 1 THEN "
            "round(ln(CAST(n_types AS DOUBLE)) "
            "/ ln(CAST(n_tokens AS DOUBLE)), 9) ELSE 0e0 END"
        ).alias("herdan_c"),
        F.expr(
            "CASE WHEN n_tokens > 1 THEN "
            "round((ln(CAST(n_tokens AS DOUBLE)) "
            "- ln(CAST(n_types AS DOUBLE))) "
            "/ (ln(CAST(n_tokens AS DOUBLE)) "
            "* ln(CAST(n_tokens AS DOUBLE))), 9) ELSE 0e0 END"
        ).alias("maas_a2"),
    )


def case_profile(documents: DataFrame) -> DataFrame:
    """Per-document capitalization/digit profile: ALL-CAPS word share
    (shouting / header-dump / OCR-garbage signal), TitleCase share
    (name-list / navigation-menu signal) and digit-word share
    (table/log dumps) — the orthographic quality axis the
    ratio-based doc_quality_score and doc_gopher_quality don't see.

    Determinism: token classes are anchored ASCII regex matches
    (identical Java-regex/RE2 semantics — no locale-dependent
    upper()/lower() anywhere); counts exact; shares single fixed
    divisions rounded to 9 dp (empty docs report 0.0 sentinels).

    Output: (doc_id, n_words, n_caps_words, n_title_words,
    n_digit_words, caps_share, title_share, digit_share).

    Plan / 100 TB: one narrow per-doc map, no explode, no shuffle.
    """
    toks = "split(trim(text), '\\\\s+')"
    empty = "length(trim(text)) = 0"
    n_words = f"CASE WHEN {empty} THEN 0 ELSE size({toks}) END"

    def cls(pattern: str) -> str:
        return (
            f"CASE WHEN {empty} THEN 0 ELSE "
            f"size(filter({toks}, t -> t RLIKE '{pattern}')) END"
        )

    d = documents.select(
        "doc_id",
        F.expr(n_words).cast("long").alias("n_words"),
        F.expr(cls("^[A-Z]{2,}$")).cast("long").alias("n_caps_words"),
        F.expr(cls("^[A-Z][a-z]+$")).cast("long").alias("n_title_words"),
        F.expr(cls("[0-9]")).cast("long").alias("n_digit_words"),
    )
    share = (
        "CASE WHEN n_words > 0 THEN round(CAST({c} AS DOUBLE) "
        "/ CAST(n_words AS DOUBLE), 9) ELSE 0e0 END"
    )
    return d.select(
        "doc_id",
        "n_words",
        "n_caps_words",
        "n_title_words",
        "n_digit_words",
        F.expr(share.format(c="n_caps_words")).alias("caps_share"),
        F.expr(share.format(c="n_title_words")).alias("title_share"),
        F.expr(share.format(c="n_digit_words")).alias("digit_share"),
    )



# ROUGE shared expression text (imported by the oracle) over columns
# (n_uni_a, n_uni_b, uni_overlap, n_bi_a, n_bi_b, bi_overlap).
ROUGE_P1 = (
    "CASE WHEN n_uni_a > 0 THEN CAST(uni_overlap AS DOUBLE) "
    "/ CAST(n_uni_a AS DOUBLE) ELSE 0e0 END"
)
ROUGE_R1 = (
    "CASE WHEN n_uni_b > 0 THEN CAST(uni_overlap AS DOUBLE) "
    "/ CAST(n_uni_b AS DOUBLE) ELSE 0e0 END"
)
ROUGE_F1 = (
    f"CASE WHEN ({ROUGE_P1}) + ({ROUGE_R1}) > 0e0 THEN "
    f"round(2e0 * ({ROUGE_P1}) * ({ROUGE_R1}) "
    f"/ (({ROUGE_P1}) + ({ROUGE_R1})), 9) ELSE 0e0 END"
)
ROUGE_P2 = (
    "CASE WHEN n_bi_a > 0 THEN CAST(bi_overlap AS DOUBLE) "
    "/ CAST(n_bi_a AS DOUBLE) ELSE 0e0 END"
)
ROUGE_R2 = (
    "CASE WHEN n_bi_b > 0 THEN CAST(bi_overlap AS DOUBLE) "
    "/ CAST(n_bi_b AS DOUBLE) ELSE 0e0 END"
)
ROUGE_F2 = (
    f"CASE WHEN ({ROUGE_P2}) + ({ROUGE_R2}) > 0e0 THEN "
    f"round(2e0 * ({ROUGE_P2}) * ({ROUGE_R2}) "
    f"/ (({ROUGE_P2}) + ({ROUGE_R2})), 9) ELSE 0e0 END"
)


def rouge_pairs(documents: DataFrame, candidates: DataFrame) -> DataFrame:
    """ROUGE-1/2 overlap scores over near-dup CANDIDATE pairs: the
    precision/recall/F1 view of textual overlap that MinHash's
    set-Jaccard compresses to one number — near-dup adjudication UIs
    and dedup-threshold tuning read these (distinct-n-gram variant;
    multiset weighting documented out).

    ``candidates`` is any (doc_a, doc_b) pair table — here the capped
    LSH candidates, so the pair count is bounded by the banding
    discipline, never quadratic.

    Determinism: distinct unigram/bigram hash sets are row-local
    exact arrays (the shared md5-prefix hash); overlaps are exact
    set-intersection sizes; P/R/F1 are fixed divisions rounded to
    9 dp with 0.0 sentinels on empty sides.

    Output: (doc_a, doc_b, n_uni_a, n_uni_b, uni_overlap, rouge1_p,
    rouge1_r, rouge1_f1, bi_overlap, rouge2_f1).

    Plan / 100 TB: two hash-array projections + two pair equi-joins
    on doc ids (the capped candidate list is the small side); no
    explode, no shuffle of raw text beyond the array columns.
    """
    from pennsieve_streaming_spark.llm.curation import (
        shingle_hash_arr_expr,
    )

    def arrs(df):
        return df.select(
            "doc_id",
            F.expr(TOKS).alias("toks"),
        ).select(
            "doc_id",
            F.expr(shingle_hash_arr_expr(1)).alias("uni"),
            F.expr(shingle_hash_arr_expr(2)).alias("bi"),
        )

    a = arrs(documents).select(
        F.col("doc_id").alias("doc_a"),
        F.col("uni").alias("uni_a"),
        F.col("bi").alias("bi_a"),
    )
    b = arrs(documents).select(
        F.col("doc_id").alias("doc_b"),
        F.col("uni").alias("uni_b"),
        F.col("bi").alias("bi_b"),
    )
    j = candidates.select("doc_a", "doc_b").join(a, "doc_a").join(
        b, "doc_b"
    )
    base = j.select(
        "doc_a",
        "doc_b",
        F.expr("size(uni_a)").cast("long").alias("n_uni_a"),
        F.expr("size(uni_b)").cast("long").alias("n_uni_b"),
        F.expr("size(array_intersect(uni_a, uni_b))")
        .cast("long")
        .alias("uni_overlap"),
        F.expr("size(bi_a)").cast("long").alias("n_bi_a"),
        F.expr("size(bi_b)").cast("long").alias("n_bi_b"),
        F.expr("size(array_intersect(bi_a, bi_b))")
        .cast("long")
        .alias("bi_overlap"),
    )
    return base.select(
        "doc_a",
        "doc_b",
        "n_uni_a",
        "n_uni_b",
        "uni_overlap",
        F.expr(f"round({ROUGE_P1}, 9)").alias("rouge1_p"),
        F.expr(f"round({ROUGE_R1}, 9)").alias("rouge1_r"),
        F.expr(ROUGE_F1).alias("rouge1_f1"),
        "bi_overlap",
        F.expr(ROUGE_F2).alias("rouge2_f1"),
    )


def hapax_ratio(documents: DataFrame) -> DataFrame:
    """Per-source hapax-legomena profile: the share of the source's
    vocabulary (and of its token mass) appearing exactly once — the
    corpus-level rarity signal beside doc_lexical_diversity's per-doc
    TTR family and doc_heaps_law's growth exponent (a scraped/
    templated source has few hapaxes; OCR noise has too many).

    Determinism: exact token/type/hapax counts over lowercased
    whitespace tokens; the two shares are single fixed divisions
    rounded to 9 dp (empty sources report 0.0 sentinels).

    Output: (source, n_tokens, n_types, n_hapax, hapax_type_share,
    hapax_token_share).

    Plan / 100 TB: one (source, token) partial-agg rollup + one
    source rollup — the stopword_profile shape.
    """
    toks = "transform(split(trim(text), '\\\\s+'), t -> lower(t))"
    empty = "length(trim(text)) = 0"
    tok_rows = documents.select(
        "source", F.explode(F.expr(f"CASE WHEN {empty} THEN "
                                   f"array() ELSE {toks} END")).alias("t")
    )
    tt = tok_rows.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    g = tt.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.expr("CASE WHEN c = 1 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_hapax"),
    )
    return g.select(
        "source",
        "n_tokens",
        "n_types",
        "n_hapax",
        F.expr(
            "CASE WHEN n_types > 0 THEN round(CAST(n_hapax AS DOUBLE) "
            "/ CAST(n_types AS DOUBLE), 9) ELSE 0e0 END"
        ).alias("hapax_type_share"),
        F.expr(
            "CASE WHEN n_tokens > 0 THEN round(CAST(n_hapax AS DOUBLE) "
            "/ CAST(n_tokens AS DOUBLE), 9) ELSE 0e0 END"
        ).alias("hapax_token_share"),
    )


def mattr(documents: DataFrame, window: int = 50) -> DataFrame:
    """Moving-average type-token ratio per document (Covington &
    McFall 2010): the mean distinct-type count over every
    ``window``-token sliding window — the length-UNBIASED lexical-
    diversity number (plain TTR shrinks with length; MATTR doesn't),
    completing doc_lexical_diversity's panel. Documents shorter than
    the window fall back to the whole-doc TTR by documented contract.

    Determinism: per-window distinct counts are exact integers from
    row-local array slices; the mean is Σ distinct / n_windows — one
    fixed division rounded to 9 dp.

    Output: (doc_id, n_tokens, n_windows, mattr).

    Plan / 100 TB: one narrow per-doc map — the O(n·window) slice
    scan stays row-local (array expressions, no explode, no
    shuffle); window is a literal, so cost is linear in corpus size.
    """
    w = int(window)
    toks = "transform(split(trim(text), '\\\\s+'), t -> lower(t))"
    empty = "length(trim(text)) = 0"
    n_tok = f"CASE WHEN {empty} THEN 0 ELSE size({toks}) END"
    # Σ over windows of |distinct(slice)| as a sequential fold
    dist_sum = (
        f"aggregate(sequence(1, size({toks}) - {w} + 1), "
        f"CAST(0 AS BIGINT), (acc, i) -> "
        f"acc + size(array_distinct(slice({toks}, i, {w}))))"
    )
    whole = f"size(array_distinct({toks}))"
    d = documents.select(
        "doc_id",
        F.expr(n_tok).cast("long").alias("n_tokens"),
        F.expr(
            f"CASE WHEN {empty} THEN CAST(0 AS BIGINT) "
            f"WHEN size({toks}) < {w} THEN CAST({whole} AS BIGINT) "
            f"ELSE {dist_sum} END"
        ).alias("_dsum"),
        F.expr(
            f"CASE WHEN {empty} THEN CAST(0 AS BIGINT) "
            f"WHEN size({toks}) < {w} THEN CAST(1 AS BIGINT) "
            f"ELSE CAST(size({toks}) - {w} + 1 AS BIGINT) END"
        ).alias("n_windows"),
    )
    return d.select(
        "doc_id",
        "n_tokens",
        "n_windows",
        F.expr(
            f"CASE WHEN n_tokens = 0 THEN 0e0 "
            f"WHEN n_tokens < {w} THEN "
            f"round(CAST(_dsum AS DOUBLE) / CAST(n_tokens AS DOUBLE), 9) "
            f"ELSE round(CAST(_dsum AS DOUBLE) "
            f"/ (CAST(n_windows AS DOUBLE) * {w}e0), 9) END"
        ).alias("mattr"),
    )
