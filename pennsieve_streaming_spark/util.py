"""Small engine utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` when the backend supports it (classic JVM
    DataFrames, detected via ``_jdf``); no-op passthrough otherwise
    (e.g. Spark Connect, streaming DataFrames — ``localCheckpoint``
    raises on a stream, and the pin is an optimization, never a
    correctness requirement). Used to truncate iterative lineage or to
    share one materialization across several join legs — in both uses
    the plan stays CORRECT without the pin, just deeper or recomputed,
    so a passthrough is safe. The shared helper keeps the guard
    uniform across operators (ADVICE r7: four round-7 operators called
    localCheckpoint unguarded while their siblings guarded).

    Reserve this for provably SMALL tables (grids, vocabularies,
    per-channel envelopes, capped pair lists): localCheckpoint stores
    to executor-local, non-fault-tolerant blocks with the lineage
    truncated, which is the wrong durability trade for anything
    proportional to the input — use :func:`pin_big` for those
    (ADVICE r11)."""
    if getattr(df, "isStreaming", False):
        return df
    if hasattr(df, "_jdf"):
        return df.localCheckpoint(eager=eager)
    return df


def pin_big(df: DataFrame, eager: bool = True) -> DataFrame:
    """Share one materialization of a DATASET-SCALE intermediate across
    several plan references without truncating lineage:
    ``persist(MEMORY_AND_DISK)`` plus an eager ``count()`` barrier.

    Versus :func:`pin` (localCheckpoint): blocks lost with an executor
    are recomputed from lineage instead of failing the query, and
    storage is the columnar cache (compressed, LRU-evictable) rather
    than raw checkpoint blocks — the right trade for tables
    proportional to the input (ADVICE r11). The eager count matters:
    AQE submits independent downstream subtrees concurrently, and a
    lazily-persisted shared stage races — none of the concurrent
    consumers reuse the in-flight cache fill (measured in r11 §1.2),
    so the barrier is what actually deduplicates the work. A side
    benefit over localCheckpoint: the materialized cache carries real
    size statistics, so the planner/AQE keeps choosing join strategies
    from data size instead of flying blind.

    No-op passthrough for streams and non-JVM backends, like pin()."""
    if getattr(df, "isStreaming", False):
        return df
    if not hasattr(df, "_jdf"):
        return df
    from pyspark import StorageLevel

    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    if eager:
        out.count()
    return out


def live_plan_nodes(df: DataFrame, executed: bool = False) -> list[str]:
    """Node names of the operators that EXECUTE when ``df`` runs —
    the JVM plan tree walked directly, never descending into a cached
    relation (``InMemoryTableScan``: the cache node itself is live,
    its stored lineage ran once at the fill barrier). String-parsing
    the explain output is NOT reliable for this: formatted mode nests
    a cached plan's own AQE dump ("== Final Plan ==" blocks) at the
    same indentation as tree siblings, so any indent-based skip either
    leaks cached operators or swallows live ones (the r12 audit hit
    both). AQE wrapper nodes are traversed through: an
    ``AdaptiveSparkPlan`` contributes its current executed plan, a
    ``*QueryStage`` its wrapped plan.

    ``executed=False`` walks ``sparkPlan`` (pre-AQE, the planning
    shape); ``executed=True`` walks ``executedPlan`` (post-AQE, what
    actually ran — use after an action)."""
    qe = df._jdf.queryExecution()
    root = qe.executedPlan() if executed else qe.sparkPlan()
    names: list[str] = []
    stack = [root]
    while stack:
        node = stack.pop()
        name = str(node.nodeName())
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if "QueryStage" in name and hasattr(node, "plan"):
            stack.append(node.plan())
            continue
        names.append(name)
        if "InMemoryTableScan" in name:
            continue
        children = node.children()
        for i in range(children.length()):
            stack.append(children.apply(i))
    return names


def live_plan_counts(df: DataFrame, patterns: dict, executed: bool = False) -> dict:
    """Count live operators by substring over :func:`live_plan_nodes`
    (substring, to keep the audit's historical grep semantics — e.g.
    the "Exchange" pattern also counts BroadcastExchange)."""
    names = live_plan_nodes(df, executed=executed)
    return {
        key: sum(1 for n in names if pat in n)
        for key, pat in patterns.items()
    }


def ensure_parallelism(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition iff the input is under-partitioned for the cluster.

    CPU-heavy narrow operators (shingling, dot products, pandas UDFs)
    inherit the scan's partitioning; a small single-file input would
    otherwise run on one core. At real scale (inputs with >= cores
    partitions) this is a no-op — no shuffle is added.
    """
    spark = df.sparkSession
    # Streaming DataFrames have _jdf but raise on .rdd — the guard is
    # meaningless for a stream anyway (partition counts are per-batch),
    # so pass it through untouched.
    if getattr(df, "isStreaming", False):
        return df
    # Feature check, not try/except: a classic JVM-backed DataFrame has
    # _jdf; a Spark Connect DataFrame does not. The normal path never
    # touches a Connect-unsupported attribute.
    if hasattr(df, "_jdf"):
        target = spark.sparkContext.defaultParallelism
        # plan→RDD conversion is cheap here (no job runs)
        current = df.rdd.getNumPartitions()
        if current < max(2, target // 2):
            return (
                df.repartition(target, *key_cols)
                if key_cols
                else df.repartition(target)
            )
        return df
    # Connect: the partition count is not observable client-side; size
    # to the session's shuffle-partition target — a safe choice for the
    # small under-partitioned inputs this guard exists for.
    target = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return (
        df.repartition(target, *key_cols) if key_cols else df.repartition(target)
    )


def global_rank(
    df: DataFrame,
    order_cols,
    out_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global ``row_number`` over a TOTAL order without the
    single-task global window.

    ``Window.orderBy(...)`` with no partition key funnels every row
    through ONE task — fine for a 1e5-row vocabulary, fatal for a
    1e9-term one. This is the standard two-phase rank instead:

    1. ``repartitionByRange`` on the order columns (partition i's keys
       all sort before partition i+1's);
    2. ``row_number`` within each partition (parallel);
    3. offset each partition's local ranks by the cumulative counts of
       the partitions before it — a |partitions|-row driver-side fold,
       bounded like a centroid load, NOT a data collect.

    ``order_cols`` must define a total order (include a unique
    tiebreak column) or ranks of ties become partition-placement
    dependent. Result is bit-identical to the single-task window under
    a total order.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = df.sparkSession
    n = num_partitions
    if n is None:
        if hasattr(df, "_jdf"):
            n = spark.sparkContext.defaultParallelism
        else:  # Spark Connect: conf-driven target, no context access
            n = int(spark.conf.get("spark.sql.shuffle.partitions", "64"))
    parted = df.repartitionByRange(n, *order_cols).withColumn(
        "_gr_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_gr_pid").orderBy(*order_cols)
    # Materialize ONCE: repartitionByRange samples its boundaries per
    # job, so letting the sizes job and the caller's job re-execute the
    # exchange independently could place rows in different partitions
    # than the offsets were computed from. localCheckpoint pins one
    # partitioning both reads share (same trick as the
    # connected-components loop in llm/graph.py).
    local = parted.withColumn(
        "_gr_lrank", F.row_number().over(w)
    ).localCheckpoint()
    sizes = sorted(
        (
            (r["_gr_pid"], r["_gr_cnt"])
            for r in local.groupBy("_gr_pid")
            .agg(F.count(F.lit(1)).alias("_gr_cnt"))
            .collect()
        ),
    )
    offsets: dict[int, int] = {}
    acc = 0
    for pid, cnt in sizes:
        offsets[pid] = acc
        acc += cnt
    if not offsets:
        return df.withColumn(out_col, F.lit(None).cast("long"))
    omap = F.create_map(
        *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
    )
    return (
        local.withColumn(
            out_col,
            (F.col("_gr_lrank") + omap[F.col("_gr_pid")]).cast("long"),
        )
        .drop("_gr_pid", "_gr_lrank")
    )


def global_cumsum(
    df: DataFrame,
    order_cols,
    value_col: str,
    out_col: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global running sum over a TOTAL order without the
    single-task global window — the :func:`global_rank` two-phase
    pattern applied to a BIGINT value column:

    1. ``repartitionByRange`` on the order columns;
    2. within-partition cumulative sum (parallel);
    3. offset each partition by the TOTALS of the partitions before
       it (a |partitions|-row driver fold, not a data collect).

    ``order_cols`` must define a total order; ``value_col`` must be
    integral (exact adds — the whole point). Result is bit-identical
    to ``SUM(value) OVER (ORDER BY order_cols ROWS UNBOUNDED
    PRECEDING)``.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = df.sparkSession
    n = num_partitions
    if n is None:
        if hasattr(df, "_jdf"):
            n = spark.sparkContext.defaultParallelism
        else:
            n = int(spark.conf.get("spark.sql.shuffle.partitions", "64"))
    parted = df.repartitionByRange(n, *order_cols).withColumn(
        "_gc_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_gc_pid").orderBy(*order_cols)
    local = parted.withColumn(
        "_gc_lsum",
        F.sum(value_col)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    ).localCheckpoint()
    sizes = sorted(
        (
            (r["_gc_pid"], r["_gc_tot"])
            for r in local.groupBy("_gc_pid")
            .agg(F.sum(value_col).cast("long").alias("_gc_tot"))
            .collect()
        ),
    )
    offsets: dict[int, int] = {}
    acc = 0
    for pid, tot in sizes:
        offsets[pid] = acc
        acc += int(tot)
    if not offsets:
        return df.withColumn(out_col, F.lit(None).cast("long"))
    omap = F.create_map(
        *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
    )
    return (
        local.withColumn(
            out_col,
            (F.col("_gc_lsum") + omap[F.col("_gc_pid")]).cast("long"),
        )
        .drop("_gc_pid", "_gc_lsum")
    )
