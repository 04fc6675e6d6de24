"""Small engine utilities."""

from __future__ import annotations

import contextlib
import contextvars

from pyspark import SparkContext
from pyspark.sql import DataFrame


# RDD ids of the pins made inside the innermost open pin_scope
_PIN_SCOPE: contextvars.ContextVar[list[int] | None] = contextvars.ContextVar(
    "pin_scope", default=None
)


def pin(df: DataFrame) -> DataFrame:
    """Materialize ``df`` once, eagerly, with its lineage cut — the one
    rule for every shared or iterated intermediate: pin wherever a plan
    would otherwise replay a subtree (several join legs or actions read
    it) or grow with each iteration (a loop feeds its output back in).

    The materialization is an eager ``localCheckpoint``. The engine's
    sessions are ``local[N]``, so a lost block means a lost driver and
    lineage recovery would buy nothing; the checkpointed ``LogicalRDD``
    keeps size statistics for the planner as a persisted relation does,
    and wherever the two were A/B'd the checkpoint was faster.

    Inside :func:`pin_scope` the pin is released when the scope exits;
    outside one it lives until the JVM garbage-collects it.

    No-op passthrough for streaming DataFrames (``localCheckpoint``
    raises on a stream) and for backends without a JVM DataFrame
    (``_jdf``, e.g. Spark Connect): the plan is correct without the
    pin, just deeper or recomputed."""
    if getattr(df, "isStreaming", False) or not hasattr(df, "_jdf"):
        return df
    out = df.localCheckpoint()
    scope = _PIN_SCOPE.get()
    if scope is not None:
        scope.append(out._jdf.logicalPlan().rdd().id())
    return out


@contextlib.contextmanager
def pin_scope():
    """Release on exit every :func:`pin` made inside the block, in this
    thread or context (a concurrent thread's pins are its own). Wrap it
    around BOTH building and executing a query: a checkpoint read after
    its release fails.

    Pins are tracked by RDD id, so the earlier rounds of a pinned loop
    stay collectable while the scope is open. Release goes through the
    checkpointed RDD itself — ``DataFrame.unpersist()`` does nothing to
    a checkpoint. A nested scope releases only its own pins."""
    ids: list[int] = []
    token = _PIN_SCOPE.set(ids)
    try:
        yield
    finally:
        _PIN_SCOPE.reset(token)
        sc = SparkContext._active_spark_context
        if ids and sc is not None:
            rdds = sc._jsc.getPersistentRDDs()
            for rid in ids:
                rdd = rdds.get(rid)
                if rdd is not None:
                    rdd.unpersist()


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
    # than the offsets were computed from. The pin fixes one
    # partitioning both reads share.
    local = pin(parted.withColumn("_gr_lrank", F.row_number().over(w)))
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
    local = pin(
        parted.withColumn(
            "_gc_lsum",
            F.sum(value_col)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
    )
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
